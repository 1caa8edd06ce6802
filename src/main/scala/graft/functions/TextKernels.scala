package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static per-row kernels behind the native text expressions
  * ([[graft.plans.Md5Base28L]] and friends) — the DeflateLen convention:
  * the Expression's codegen is one static call into here, so the hot
  * loop is plain Java-shaped Scala inside whole-stage codegen instead of
  * an interpreted higher-order-function lambda (r16 text-HOF profile, NOTES.md: the
  * HOF forms cost 0.9–11 s per 500k docs; see each method's doc).
  *
  * Every method replicates its HOF chain's semantics BIT-EXACTLY,
  * including null-element handling — the DuckDB oracles mirror the HOF
  * forms, so any divergence here is an oracle hash break. Pinned by
  * TextKernelProps (ScalaCheck vs independent references) and the
  * OperatorsSpec parity suites (kernel column == legacy HOF column).
  */
object TextKernels {

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** 28-bit base hash: the first 7 hex nibbles of md5(s) as a base-16
    * number — bit-identical to [[TextFns.md5Base28]]'s string-decode of
    * Spark's `md5` (lowercase hex of the UTF-8 bytes), computed straight
    * from the digest bytes (nibble i of the hex string is the
    * high/low half-byte of digest byte i/2). */
  def md5Base28(u: UTF8String): Long = {
    val d = md5.get(); d.reset()
    val dig = d.digest(u.getBytes)
    ((dig(0) & 0xffL) << 20) | ((dig(1) & 0xffL) << 12) |
      ((dig(2) & 0xffL) << 4) | ((dig(3) & 0xf0L) >>> 4)
  }

  /** [[TextFns.shingleHashes]]: one [[md5Base28]] per element, null
    * elements stay null (transform maps null through md5 to null). */
  def md5Base28Array(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) out(i) = md5Base28(a.getUTF8String(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash minima for universal-hash indices [first, first+count) in
    * ONE pass over the base hashes: out(k) = min over non-null h of
    * (h·a(first+k) + b(first+k)) mod p — exactly
    * `array_min(transform(hs, h => (h*a + b) % p))` per index, including
    * array_min's null-skip (no non-null elements ⇒ null minima) and
    * Java's signed % on overflowed products. */
  def minhashSig(a: ArrayData, first: Int, count: Int): ArrayData = {
    val n = a.numElements()
    val minima = Array.fill(count)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        any = true
        val h = a.getLong(i)
        var k = 0
        while (k < count) {
          val v = (h * TextFns.minhashA(first + k) +
            TextFns.minhashB(first + k)) % TextFns.MinhashPrime
          if (v < minima(k)) minima(k) = v
          k += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](count)
    if (any) { var k = 0; while (k < count) { out(k) = minima(k); k += 1 } }
    new GenericArrayData(out)
  }

  /** [[TextFns.simhash16]]'s nested 16×|hs| aggregate as one pass:
    * per element, bit b of (h div 2^b) votes ±1; bits with positive
    * vote sum set 2^b. A null ELEMENT nulls every bit's vote, which the
    * when/otherwise turns into 0 for every bit — so the whole hash is 0
    * (the HOF's exact behavior, preserved deliberately). Division
    * truncates toward zero and the int cast wraps, matching Spark's
    * non-ANSI long-div + cast for any (even negative) input. */
  def simhash16(a: ArrayData, intElems: Boolean): Int = {
    val n = a.numElements()
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return 0; i += 1 }
    val votes = new Array[Int](16)
    i = 0
    while (i < n) {
      val h = if (intElems) a.getInt(i).toLong else a.getLong(i)
      var b = 0
      var pow2 = 1L
      while (b < 16) {
        val qi = (h / pow2).toInt
        votes(b) += (((qi % 2) + 2) % 2) * 2 - 1
        b += 1; pow2 <<= 1
      }
      i += 1
    }
    var acc = 0
    var b = 0
    while (b < 16) { if (votes(b) > 0) acc |= 1 << b; b += 1 }
    acc
  }

  /** [[graft.operators.TextAnalysis.embedDocuments]]'s token fold in one
    * pass: token t adds sign ±1 (bit 28-ish of its hash) to dimension
    * h mod dim. Null tokens contribute 0 to every dimension (the HOF's
    * struct of null fields fails the when() on every dim). */
  def featEmbed(a: ArrayData, dim: Int): ArrayData = {
    val out = new Array[Long](dim)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val h = md5Base28(a.getUTF8String(i))
        out((h % dim).toInt) += ((h / dim) % 2) * 2 - 1
      }
      i += 1
    }
    // primitive layout; the Expression still DECLARES containsNull=true
    // so the dumped parquet schema matches the HOF chain it replaced
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** [[graft.functions.LangIdModel.trigrams]]: character trigrams of a
    * string in one pass — replaces `transform(sequence(1, n-2),
    * i => substr(i, 3))`, which interprets one Substring per character
    * position (r16 text-HOF profile, NOTES.md: 13.05 s per 500k ~180-char docs — the
    * hottest remaining site). Char = one UTF-8 sequence, exactly
    * `length()` / `substringSQL`'s counting: the byte offsets of all
    * char starts are computed once, each trigram is one byte-range
    * copy. < 3 chars ⇒ empty array. */
  def trigrams(u: UTF8String): ArrayData = {
    val bytes = u.getBytes
    val nb = bytes.length
    // char-start byte offsets (numChars + 1 entries, last = nb)
    val starts = new Array[Int](u.numChars + 1)
    var c = 0
    var off = 0
    while (off < nb) {
      starts(c) = off
      // UTF8String's own first-byte table — keeps char counting (and so
      // trigram boundaries) bit-identical to length()/substringSQL even
      // on malformed byte sequences
      off += UTF8String.numBytesForFirstByte(bytes(off))
      c += 1
    }
    starts(c) = nb
    val n = c
    if (n < 3) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](n - 2)
      var i = 0
      while (i < n - 2) {
        out(i) = UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(bytes, starts(i), starts(i + 3)))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** [[TextFns.shingles]]: word n-grams joined with " ", whole-document
    * shingle below n tokens — concat_ws semantics (null tokens are
    * SKIPPED inside a shingle, not nulled). */
  def shingles(a: ArrayData, n: Int): ArrayData = {
    val sz = a.numElements()
    val sep = UTF8String.fromString(" ")
    def join(start: Int, len: Int): UTF8String = {
      val parts = new Array[UTF8String](len)
      var k = 0
      while (k < len) {
        parts(k) = if (a.isNullAt(start + k)) null
          else a.getUTF8String(start + k)
        k += 1
      }
      UTF8String.concatWs(sep, parts: _*)
    }
    if (sz >= n) {
      val out = new Array[Any](sz - n + 1)
      var i = 0
      while (i <= sz - n) { out(i) = join(i, n); i += 1 }
      new GenericArrayData(out)
    } else new GenericArrayData(Array[Any](join(0, sz)))
  }

  private val HexDigits = "0123456789abcdef".getBytes(
    java.nio.charset.StandardCharsets.US_ASCII)

  /** [[TextFns.spanMd5s]]: for every p in [0, n−k], the md5 hex of
    * `array_join(slice(a, p+1, k), ' ')` — Spark's `md5` of that string,
    * lowercase hex of the digest of its UTF-8 bytes. No string is built per
    * position: the non-null tokens are copied ONCE into one space-joined
    * buffer, and because array_join skips null elements (and their
    * separators), a window's join is exactly the buffer slice from its
    * first to its last non-null token — one digest update per position.
    * A window of only nulls joins to "" (an empty slice). n < k ⇒ empty. */
  def spanMd5s(a: ArrayData, k: Int): ArrayData = {
    val n = a.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](n)
    var len = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        toks(i) = a.getUTF8String(i)
        len += toks(i).numBytes + 1
      }
      i += 1
    }
    // buf = non-null tokens joined by ' '; [start(i), end(i)) is token i's
    // byte range (unset for nulls). first(i) = first non-null index >= i
    // (n if none); last(i) = last non-null index <= i (-1 if none).
    val buf = new Array[Byte](math.max(len - 1, 0))
    val start = new Array[Int](n)
    val end = new Array[Int](n)
    val last = new Array[Int](n)
    var off = 0
    var prev = -1
    i = 0
    while (i < n) {
      val t = toks(i)
      if (t != null) {
        if (prev >= 0) { buf(off) = ' '.toByte; off += 1 }
        start(i) = off
        t.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
        off += t.numBytes
        end(i) = off
        prev = i
      }
      last(i) = prev
      i += 1
    }
    val first = new Array[Int](n)
    var next = n
    i = n - 1
    while (i >= 0) { if (toks(i) != null) next = i; first(i) = next; i -= 1 }
    val d = md5.get()
    val dig = new Array[Byte](16)
    val out = new Array[Any](n - k + 1)
    var p = 0
    while (p <= n - k) {
      val f = first(p)
      val l = last(p + k - 1)
      d.reset()
      if (f <= l) d.update(buf, start(f), end(l) - start(f))
      d.digest(dig, 0, 16)
      val hex = new Array[Byte](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = HexDigits((dig(j) >> 4) & 0xf)
        hex(2 * j + 1) = HexDigits(dig(j) & 0xf)
        j += 1
      }
      out(p) = UTF8String.fromBytes(hex)
      p += 1
    }
    new GenericArrayData(out)
  }

  /** [[TextFns.spanKeep]]: (n_removed, clean_text) of a document whose
    * duplicate spans start at `starts` (each covering tokens [s, s+k)).
    * The coverage bitmap comes from one difference-array pass — +1 at s,
    * −1 at s+k, running sum > 0 ⇒ covered — so overlapping and repeated
    * starts cost O(n + |starts|), not ×k. n_removed counts the covered
    * positions inside the document; clean_text joins the uncovered
    * tokens with ' ', skipping null elements (array_join semantics). Null
    * entries of `starts` cover nothing. */
  def spanKeep(a: ArrayData, starts: ArrayData, k: Int): InternalRow = {
    val n = a.numElements()
    val delta = new Array[Int](n + 1)
    var i = 0
    while (i < starts.numElements()) {
      if (!starts.isNullAt(i)) {
        val s = starts.getInt(i).toLong
        val e = math.min(s + k, n.toLong)
        if (e > 0 && s < n) {
          delta(math.max(s, 0L).toInt) += 1
          delta(e.toInt) -= 1
        }
      }
      i += 1
    }
    val kept = new Array[UTF8String](n)
    var removed = 0L
    var cover = 0
    i = 0
    while (i < n) {
      cover += delta(i)
      if (cover > 0) removed += 1
      else if (!a.isNullAt(i)) kept(i) = a.getUTF8String(i)
      i += 1
    }
    new GenericInternalRow(Array[Any](removed,
      UTF8String.concatWs(UTF8String.fromString(" "), kept: _*)))
  }
}
