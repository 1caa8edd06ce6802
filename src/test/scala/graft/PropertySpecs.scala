package graft

import graft.operators.TopK
import graft.operators.TopK.Scored
import graft.streaming.WagerBook
import graft.streaming.WagerBook.Command
import org.scalacheck.{Arbitrary, Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties over the pure (non-Spark) engine kernels —
  * SURVEY.md §5.3. Pure-JVM, so thousands of cases run in milliseconds.
  */
object TopKProps extends Properties("TopK") {
  private val genScored: Gen[Scored] = for {
    id <- Gen.chooseNum(0L, 50L)
    score <- Gen.chooseNum(0.0, 1.0).map(s => math.rint(s * 100) / 100)
  } yield Scored(id, score)

  private def ordering: Ordering[Scored] =
    Ordering.by((s: Scored) => (-s.score, s.id))

  property("fold equals sort-take-k") = forAll(Gen.listOf(genScored), Gen.choose(1, 8)) {
    (xs, k) =>
      val agg = TopK.topK(k)
      xs.foldLeft(agg.zero)(agg.reduce) == xs.sorted(ordering).take(k)
  }

  property("merge of any split equals single fold") =
    forAll(Gen.listOf(genScored), Gen.choose(1, 8), Gen.choose(0, 100)) { (xs, k, cut) =>
      val agg = TopK.topK(k)
      val (l, r) = xs.splitAt(cut % (xs.length + 1))
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      merged == xs.foldLeft(agg.zero)(agg.reduce)
    }

  property("buffer never exceeds k and stays sorted") =
    forAll(Gen.listOf(genScored), Gen.choose(1, 8)) { (xs, k) =>
      val agg = TopK.topK(k)
      val buf = xs.foldLeft(agg.zero)(agg.reduce)
      buf.length <= k && buf == buf.sorted(ordering)
    }
}

object WagerBookProps extends Properties("WagerBook") {
  private val genCmd: Gen[Command] = for {
    ts <- Gen.chooseNum(1L, 1000L)
    eid <- Gen.chooseNum(1L, 1000L)
    key <- Gen.oneOf("w1", "w2", "w3", "w4")
    op <- Gen.oneOf("PLACE", "CANCEL", "CANCEL_ALL", "NOOP")
    http <- Gen.oneOf(200, 404, 500)
  } yield Command(ts, eid, key, op, http, s"srv$eid", 1.0)

  private def replay(cmds: Seq[Command]): Map[String, WagerBook.Wager] =
    cmds.sortBy(c => (c.tsn, c.eventId))
      .foldLeft(Map.empty[String, WagerBook.Wager])(WagerBook.applyCommand)

  property("successful or 404 cancel with no later place removes the key") =
    forAll(Gen.listOf(genCmd)) { cmds =>
      val book = replay(cmds)
      val sorted = cmds.sortBy(c => (c.tsn, c.eventId))
      sorted.zipWithIndex.forall { case (c, i) =>
        val laterPlace = sorted.drop(i + 1).exists(l =>
          l.op == "PLACE" && l.http == 200 && l.externalId == c.externalId)
        val isEffectiveCancel = c.op == "CANCEL" && (c.http == 200 || c.http == 404)
        !isEffectiveCancel || laterPlace || !book.contains(c.externalId)
      }
    }

  property("cancel-all clears everything placed before it") =
    forAll(Gen.listOf(genCmd)) { cmds =>
      val sorted = cmds.sortBy(c => (c.tsn, c.eventId))
      val lastCa = sorted.lastIndexWhere(c => c.op == "CANCEL_ALL" && c.http == 200)
      lastCa < 0 || {
        val book = replay(cmds)
        book.values.forall { w =>
          val placeIdx = sorted.lastIndexWhere(c =>
            c.op == "PLACE" && c.http == 200 && c.externalId == w.externalId)
          placeIdx > lastCa
        }
      }
    }

  property("failed commands never change the book") =
    forAll(Gen.listOf(genCmd)) { cmds =>
      val failures = cmds.filter(c =>
        c.http == 500 || c.op == "NOOP" ||
          (c.op == "CANCEL_ALL" && c.http == 404))
      val withoutFailures = cmds.filterNot(failures.contains)
      replay(cmds) == replay(withoutFailures)
    }
}

/** The invariant that makes [[graft.operators.RangeJoin]]'s binned
  * equi-join correct: a contained point's (unique) bin always lies within
  * the interval's exploded bin span, for EVERY bin width — including the
  * floor-division edges (interval end on a bin boundary, width larger
  * than the interval, width 1). Pure integer math, so thousands of cases
  * run without Spark.
  */
object RangeBinProps extends Properties("RangeJoinBinning") {
  private val genCase = for {
    s <- Gen.chooseNum(0L, 10000L)
    len <- Gen.chooseNum(1L, 500L)
    p <- Gen.chooseNum(0L, 11000L)
    w <- Gen.oneOf(Gen.chooseNum(1L, 600L), Gen.oneOf(1L, 2L, 10L, 500L, 100000L))
  } yield (s, s + len, p, w)

  property("containment implies bin-span membership (no missed pairs)") =
    forAll(genCase) { case (s, e, p, w) =>
      val contained = p >= s && p < e
      val inSpan = (p / w) >= (s / w) && (p / w) <= ((e - 1) / w)
      !contained || inSpan
    }

  property("interval appears at most once in any single bin (no dup pairs)") =
    forAll(genCase) { case (s, e, _, w) =>
      val bins = (s / w) to ((e - 1) / w)
      bins.distinct.size == bins.size
    }
}

/** The guarantee that makes [[graft.plans.QuantileSketch]] a production
  * quantile shape: the estimated rank of any probe is within the sketch's
  * own published bound of the true rank — for any input, any split point,
  * and any merge order (the distributed-aggregation shapes Spark will
  * actually run it through). Pure JVM, no Spark.
  */
object QuantileSketchProps extends Properties("QuantileSketch") {
  import graft.plans.QuantileSketch

  private val genXs: Gen[List[Double]] = for {
    n <- Gen.choose(0, 3000)
    mode <- Gen.choose(0, 3)
    xs <- Gen.listOfN(n, Gen.chooseNum(-1000.0, 1000.0))
  } yield mode match {
    case 0 => xs
    case 1 => xs.sorted            // ascending feed
    case 2 => xs.sorted.reverse    // descending feed
    case 3 => xs.map(_ => 42.0)    // all-identical (the skew case)
  }

  private def build(xs: Seq[Double], k: Int): QuantileSketch = {
    val sk = new QuantileSketch(k)
    xs.foreach(sk.update)
    sk
  }

  private def maxRankErr(sk: QuantileSketch, xs: List[Double]): Long = {
    val sorted = xs.sorted.toArray
    // probe at every ~decile of the actual data plus both extremes
    val probes = (sorted.indices by math.max(1, sorted.length / 10)).map(sorted) ++
      Seq(sorted.head, sorted.last)
    probes.map { x =>
      val trueRank = sorted.count(_ <= x).toLong
      math.abs(sk.estRank(x) - trueRank)
    }.max
  }

  property("single-stream rank error within the published bound") =
    forAll(genXs, Gen.oneOf(16, 32, 64)) { (xs, k) =>
      xs.isEmpty || maxRankErr(build(xs, k), xs) <= build(xs, k).rankErrorBound
    }

  property("rank error holds under any split + merge") =
    forAll(genXs, Gen.oneOf(16, 32), Gen.choose(0, 3000)) { (xs, k, cutRaw) =>
      xs.isEmpty || {
        val cut = cutRaw % (xs.length + 1)
        val (l, r) = xs.splitAt(cut)
        val merged = build(l, k).merge(build(r, k))
        merged.n == xs.length && maxRankErr(merged, xs) <= merged.rankErrorBound
      }
    }

  property("rank error holds merging MANY sketches of wildly different n") =
    forAll(Gen.choose(3, 6), Gen.oneOf(16, 32), Gen.long) { (parts, k, seed) =>
      // Partition sizes span 4 orders of magnitude (0 to thousands) — the
      // shape a skewed shuffle hands the final merge: most partials tiny,
      // a few huge, merged in arbitrary order.
      val rnd = new scala.util.Random(seed)
      val sizes = Seq.fill(parts)(rnd.nextInt(5) match {
        case 0 => 0
        case 1 => 1 + rnd.nextInt(3)
        case 2 => 50 + rnd.nextInt(50)
        case 3 => 1000 + rnd.nextInt(500)
        case _ => 3000
      })
      val chunks = sizes.map(n => List.fill(n)(rnd.nextDouble() * 2000 - 1000))
      val all = chunks.flatten.toList
      val merged = rnd.shuffle(chunks.map(c => build(c, k))).reduce(_ merge _)
      merged.n == all.length &&
        (all.isEmpty || maxRankErr(merged, all) <= merged.rankErrorBound)
    }

  property("serialize/deserialize round-trips estimates exactly") =
    forAll(genXs, Gen.oneOf(16, 64)) { (xs, k) =>
      val sk = build(xs, k)
      val back = QuantileSketch.deserialize(sk.serialize())
      back.n == sk.n &&
        Seq(0.1, 0.5, 0.9).forall(q => xs.isEmpty ||
          back.quantile(q) == sk.quantile(q))
    }

  property("quantile() lands within bound of the target rank") =
    forAll(genXs.suchThat(_.nonEmpty), Gen.oneOf(16, 32)) { (xs, k) =>
      val sk = build(xs, k)
      val sorted = xs.sorted
      Seq(0.1, 0.5, 0.9).forall { q =>
        val est = sk.quantile(q)
        val target = math.max(1L, math.ceil(q * xs.length).toLong)
        // rank of the returned value in the TRUE data must be within the
        // bound of the target rank (ranks of est span [#(< est), #(<= est)])
        val lo = sorted.count(_ < est).toLong
        val hi = sorted.count(_ <= est).toLong
        target >= lo - sk.rankErrorBound && target <= hi + sk.rankErrorBound
      }
    }
}

/** The codegen-side runtime kernel of [[graft.plans.TopKPlan]]: the buffer
  * the generated drain loop feeds. The property deliberately REUSES one
  * UnsafeProjection output buffer across inserts — exactly what generated
  * code hands `insert` — so a missing row copy shows up as corrupted
  * survivors, the bug class `needCopyResult = false` relies on excluding. */
object TopKBufferProps extends Properties("TopKHeapBuffer") {
  import graft.plans.TopKBufferFactory
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference,
    SortOrder, UnsafeProjection}
  import org.apache.spark.sql.types.IntegerType

  private val key = AttributeReference("k", IntegerType, nullable = false)()
  private val value = AttributeReference("v", IntegerType, nullable = false)()
  private val schema = Seq(key, value)

  property("insert through a REUSED row buffer == brute-force top-k per key") =
    forAll(Gen.listOf(Gen.zip(Gen.choose(0, 5), Gen.choose(-100, 100))),
        Gen.choose(1, 5)) { (rows, k) =>
      val buf = TopKBufferFactory(
        Seq(key), Seq(SortOrder(value, Ascending)), k, schema).create()
      val proj = UnsafeProjection.create(schema, schema) // ONE reused buffer
      rows.foreach { case (g, v) => buf.insert(proj(InternalRow(g, v))) }
      val got = buf.result().map(r => (r.getInt(0), r.getInt(1))).toList
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      val want = rows.groupBy(_._1).view
        .mapValues(_.map(_._2).sorted.take(k)).toMap
      got == want.toMap
    }
}

/** The symmetric-delete (SymSpell) blocking guarantee behind
  * `EntityResolution.fuzzyPairs`: any two strings within Levenshtein
  * distance 1 share at least one depth-1 deletion-neighborhood key. The
  * JVM mirror here matches the Spark expression (bridge case pinned in
  * EntityResolutionSpec's hand tests); these properties pin the MATH for
  * thousands of random edits. */
object SymmetricDeleteProps extends Properties("SymmetricDelete") {

  private def nbhd(s: String): Set[String] =
    (0 to s.length).map {
      case 0 => s
      case i => s.substring(0, i - 1) + s.substring(i)
    }.toSet

  private val genStr: Gen[String] = for {
    n <- Gen.choose(1, 24)
    cs <- Gen.listOfN(n, Gen.oneOf(('a' to 'f') ++ Seq('#', '0', '1')))
  } yield cs.mkString

  private val genEdit: Gen[(String, String)] = for {
    s <- genStr
    i <- Gen.choose(0, s.length - 1)
    c <- Gen.oneOf('a' to 'z')
    kind <- Gen.choose(0, 2)
  } yield kind match {
    case 0 => (s, s.substring(0, i) + s.substring(i + 1))     // delete
    case 1 => (s, s.substring(0, i) + c + s.substring(i))     // insert
    case _ => (s, s.substring(0, i) + c + s.substring(i + 1)) // substitute
  }

  property("any single edit shares a neighborhood key") = forAll(genEdit) {
    case (s, t) => nbhd(s).intersect(nbhd(t)).nonEmpty
  }

  property("neighborhood size is at most len + 1, every key within 1 deletion") =
    forAll(genStr) { s =>
      val n = nbhd(s)
      n.size <= s.length + 1 &&
        n.forall(k => k == s || k.length == s.length - 1)
    }

  property("unrelated strings of the same length rarely collide — keys discriminate") =
    forAll(genStr, Gen.choose(0L, Long.MaxValue)) { (s, seed) =>
      // a string differing in EVERY position shares no key
      val t = s.map(c => if (c == 'z') 'y' else 'z')
      nbhd(s).intersect(nbhd(t)).isEmpty || s.length <= 1
    }
}

object BpeProps extends Properties("BpeKernel") {
  import graft.functions.Bpe
  import graft.plans.BpeKernel

  private val genWord: Gen[String] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))

  /** Random valid merge table: pairs of distinct single letters plus a few
    * chained merges built from earlier results — arbitrary rank order
    * (the kernel's SPEC is rank-order application, so ANY a≠b table is a
    * legal input, not just trained ones). */
  private val genMerges: Gen[List[(String, String)]] = for {
    n <- Gen.chooseNum(0, 10)
    pairs <- Gen.listOfN(n, for {
      a <- Gen.alphaLowerChar
      b <- Gen.alphaLowerChar if a != b
    } yield (a.toString, b.toString))
    chains <- Gen.listOfN(2, Gen.oneOf(pairs :+ (("x", "y"))))
  } yield scala.util.Random.javaRandomToRandom(new java.util.Random(7))
    .shuffle(pairs ++ chains.map { case (a, b) => (a + b, a) }.filter(p => p._1 != p._2))

  private def kernel(merges: Seq[(String, String)]): BpeKernel =
    new BpeKernel(merges.map(m => Array(m._1, m._2)).toArray)

  property("token concat reconstructs the word (no loss, no reorder)") =
    forAll(genWord, genMerges) { (w, merges) =>
      kernel(merges).encodeWord(w).map(_.toString).mkString("") == w
    }

  property("deterministic: fresh kernels on the same table agree (no hidden state)") =
    forAll(genWord, genMerges) { (w, merges) =>
      val once = kernel(merges).encodeWord(w).map(_.toString).toSeq
      val again = kernel(merges).encodeWord(w).map(_.toString).toSeq
      once == again
    }

  property("merging is monotone: more merges never increase token count") =
    forAll(genWord, genMerges) { (w, merges) =>
      val full = kernel(merges).encodeWord(w).length
      val prefix = kernel(merges.dropRight(1)).encodeWord(w).length
      merges.isEmpty || full <= prefix
    }

  private val genNonEmptyWord: Gen[String] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))

  property("train produces only a != b merges and respects nMerges") =
    forAll(Gen.listOf(Gen.zip(genNonEmptyWord, Gen.chooseNum(1L, 9L))),
      Gen.chooseNum(0, 6)) { (wc, n) =>
      val merges = Bpe.train(wc, n)
      merges.size <= n && merges.forall { case (a, b) => a != b }
    }
}

object PrefixSumProps extends Properties("PrefixSumI") {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{ArrayType, IntegerType}

  // interpreted-eval the kernel directly (the codegen path is pinned
  // against it in RetrievalSpec) — pure JVM, thousands of cases
  private def run(a: ArrayData): Any =
    graft.plans.PrefixSumI(
      BoundReference(0, ArrayType(IntegerType, containsNull = true),
        nullable = true))
      .eval(InternalRow(a))

  private def ints(a: Any): Seq[Int] =
    a.asInstanceOf[ArrayData].toIntArray().toSeq

  property("kernel == scanLeft running sum (incl. Int wrap semantics)") =
    forAll(Gen.listOf(Gen.chooseNum(Int.MinValue / 2, Int.MaxValue / 2))) { xs =>
      ints(run(UnsafeArrayData.fromPrimitiveArray(xs.toArray))) ==
        xs.scanLeft(0)(_ + _).drop(1)
    }

  property("decode inverts the first+gaps delta encoding for any sorted " +
      "strictly-increasing position list (the positional-index law)") =
    forAll(Gen.listOf(Gen.chooseNum(0, 1 << 20))) { raw =>
      val xs = raw.distinct.sorted // positions: distinct ascending
      val deltas =
        if (xs.isEmpty) Array.empty[Int]
        else (xs.head +: xs.sliding(2).collect {
          case Seq(a, b) => b - a }.toSeq).toArray
      ints(run(UnsafeArrayData.fromPrimitiveArray(deltas))) == xs
    }

  property("a null element poisons the whole result to NULL, never a " +
      "silently-partial array") =
    forAll(Gen.listOf(Gen.option(Gen.chooseNum(-100, 100)))) { xs =>
      val out = run(new GenericArrayData(
        xs.map(_.map(Integer.valueOf).orNull).toArray[Any]))
      if (xs.contains(None)) out == null
      else ints(out) == xs.flatten.scanLeft(0)(_ + _).drop(1)
    }
}

object HammingProps extends Properties("HammingL") {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{ArrayType, LongType}

  // interpreted-eval the pair kernel directly (the codegen path is pinned
  // against the DataFrame search results in SimilaritySpec)
  private def run(a: ArrayData, b: ArrayData): Any =
    graft.plans.HammingL(
      BoundReference(0, ArrayType(LongType, containsNull = true), nullable = true),
      BoundReference(1, ArrayType(LongType, containsNull = true), nullable = true))
      .eval(InternalRow(a, b))

  private def arr(xs: Seq[Long]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(xs.toArray)

  property("kernel == per-word popcount-of-xor fold") =
    forAll(Gen.listOf(Gen.zip(Gen.long, Gen.long))) { ps =>
      val (as, bs) = ps.unzip
      run(arr(as), arr(bs)) ==
        ps.map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
    }

  property("triangle inequality over word arrays (it IS a metric)") =
    forAll(Gen.chooseNum(0, 4).flatMap(n => Gen.zip(
      Gen.listOfN(n, Gen.long), Gen.listOfN(n, Gen.long),
      Gen.listOfN(n, Gen.long)))) { case (as, bs, cs) =>
      val (ab, bc, ac) = (run(arr(as), arr(bs)).asInstanceOf[Int],
        run(arr(bs), arr(cs)).asInstanceOf[Int],
        run(arr(as), arr(cs)).asInstanceOf[Int])
      ac <= ab + bc
    }

  property("length mismatch and null elements yield NULL, never a " +
      "partial count") =
    forAll(Gen.listOf(Gen.long), Gen.listOf(Gen.long)) { (as, bs) =>
      val mismatched = run(arr(as), arr(bs))
      val withNull = run(
        new GenericArrayData((as.map(java.lang.Long.valueOf) :+ null).toArray[Any]),
        new GenericArrayData((bs.map(java.lang.Long.valueOf) :+ java.lang.Long.valueOf(0L)).toArray[Any]))
      (if (as.length != bs.length) mismatched == null
       else mismatched != null) && (as.length != bs.length || withNull == null)
    }
}

object AdcSumProps extends Properties("AdcSumL") {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

  private def run(codes: ArrayData, lut: ArrayData, ksub: Int): Any =
    graft.plans.AdcSumL(
      BoundReference(0, ArrayType(IntegerType, containsNull = true), nullable = true),
      BoundReference(1, ArrayType(LongType, containsNull = true), nullable = true),
      org.apache.spark.sql.catalyst.expressions.Literal(ksub))
      .eval(InternalRow(codes, lut))

  private val genCase = for {
    m <- Gen.chooseNum(1, 8)
    ksub <- Gen.chooseNum(1, 16)
    codes <- Gen.listOfN(m, Gen.chooseNum(0, ksub - 1))
    lut <- Gen.listOfN(m * ksub, Gen.chooseNum(0L, 1L << 40))
  } yield (ksub, codes, lut)

  property("kernel == sub-major lookup fold Σ lut[sub·ksub + code]") =
    forAll(genCase) { case (ksub, codes, lut) =>
      run(UnsafeArrayData.fromPrimitiveArray(codes.toArray),
        UnsafeArrayData.fromPrimitiveArray(lut.toArray), ksub) ==
        codes.zipWithIndex.map { case (c, s) => lut(s * ksub + c) }.sum
    }

  property("empty codes, mismatched shapes, and out-of-range codes all " +
      "yield NULL — never a garbage distance") =
    forAll(genCase) { case (ksub, codes, lut) =>
      val c = UnsafeArrayData.fromPrimitiveArray(codes.toArray)
      val l = UnsafeArrayData.fromPrimitiveArray(lut.toArray)
      val empty =
        run(UnsafeArrayData.fromPrimitiveArray(Array.empty[Int]), l, ksub) == null
      val outOfRange = run(UnsafeArrayData.fromPrimitiveArray(
        (ksub +: codes.tail).toArray), l, ksub) == null // code == ksub
      // one extra lut entry breaks the m·ksub shape contract
      val wrongShape =
        run(c, UnsafeArrayData.fromPrimitiveArray((lut :+ 0L).toArray), ksub) == null
      val badKsub = run(c, l, 0) == null
      empty && outOfRange && wrongShape && badKsub
    }

  property("ADVICE r13: a wrong-m codes array whose length divides the " +
      "LUT (the old inferred-ksub hole) now yields NULL, not a " +
      "misaligned distance") =
    forAll(genCase) { case (ksub, codes, lut) =>
      codes.size < 2 || {
        // half the codes against the same LUT: length divides whenever
        // m is even, which the inferred-ksub kernel scored as garbage
        val halved = codes.take(codes.size / 2)
        run(UnsafeArrayData.fromPrimitiveArray(halved.toArray),
          UnsafeArrayData.fromPrimitiveArray(lut.toArray), ksub) == null
      }
    }
}

/** Interpreted-eval properties for the r15 encode kernels against plain
  * Scala references — the [[HammingProps]] posture (codegen paths are
  * pinned against DataFrame results in SimilaritySpec's parity tests). */
object EncodeKernelProps extends Properties("EncodeKernels") {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  private def darr(xs: Seq[Double]): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(xs.toArray)
  private def dref(i: Int) =
    BoundReference(i, ArrayType(DoubleType, containsNull = true), nullable = true)
  private def doubles(a: Any): Seq[Double] =
    a.asInstanceOf[ArrayData].toDoubleArray().toSeq
  private def longsOf(a: Any): Seq[Long] =
    a.asInstanceOf[ArrayData].toLongArray().toSeq
  private def intsOf(a: Any): Seq[Int] =
    a.asInstanceOf[ArrayData].toIntArray().toSeq

  private val genD: Gen[Double] = Gen.chooseNum(-64, 64)
    .flatMap(n => Gen.chooseNum(-4, 4).map(e => n * math.pow(2.0, e) / 16.0))

  property("mat_vec_d == row-wise index-order dot reference (incl. " +
      "non-square); row-width mismatch -> NULL") =
    forAll(Gen.chooseNum(1, 5), Gen.chooseNum(1, 6)) { (rows, dim) =>
      forAll(Gen.listOfN(rows * dim, genD), Gen.listOfN(dim, genD)) { (flat, v) =>
        val m = flat.grouped(dim).toSeq
        val mArr = new GenericArrayData(m.map(r => darr(r)).toArray[Any])
        val out = graft.plans.MatVecD(
          BoundReference(0, ArrayType(ArrayType(DoubleType, true), true), true),
          dref(1)).eval(InternalRow(mArr, darr(v)))
        val expect = m.map(r => r.zip(v).foldLeft(0.0) { case (acc, (a, b)) => acc + a * b })
        val ragged = graft.plans.MatVecD(
          BoundReference(0, ArrayType(ArrayType(DoubleType, true), true), true),
          dref(1)).eval(InternalRow(mArr, darr(v :+ 1.0)))
        doubles(out).zip(expect).forall { case (x, y) =>
          java.lang.Double.doubleToRawLongBits(x) ==
            java.lang.Double.doubleToRawLongBits(y) } && ragged == null
      }
    }

  property("vec_sub_d == elementwise reference; mismatch/null-element -> NULL") =
    forAll(Gen.listOf(genD)) { xs =>
      forAll(Gen.listOfN(xs.size, genD)) { ys =>
        val out = graft.plans.VecSubD(dref(0), dref(1))
          .eval(InternalRow(darr(xs), darr(ys)))
        val mism = graft.plans.VecSubD(dref(0), dref(1))
          .eval(InternalRow(darr(xs), darr(ys :+ 0.0)))
        val withNull = graft.plans.VecSubD(dref(0), dref(1))
          .eval(InternalRow(
            new GenericArrayData((xs.map(java.lang.Double.valueOf) :+ null).toArray[Any]),
            darr(ys :+ 0.0)))
        doubles(out) == xs.zip(ys).map { case (a, b) => a - b } &&
          mism == null && withNull == null
      }
    }

  property("sign_pack_l == bit-set reference (strictly positive; null " +
      "element packs as a 0 bit — the when/otherwise parity)") =
    forAll(Gen.listOf(Gen.option(genD))) { xs =>
      val out = graft.plans.SignPackL(dref(0)).eval(InternalRow(
        new GenericArrayData(xs.map(_.map(java.lang.Double.valueOf).orNull).toArray[Any])))
      val expect = Array.fill[Long]((xs.size + 31) / 32)(0L)
      xs.zipWithIndex.foreach { case (x, i) =>
        if (x.exists(_ > 0.0)) expect(i / 32) |= 1L << (i % 32) }
      longsOf(out) == expect.toSeq
    }

  property("pq_encode_i == brute argmin reference with the exact round/" +
      "packed tie-break; wrong vector width -> NULL") =
    forAll(Gen.chooseNum(1, 3), Gen.chooseNum(1, 4), Gen.chooseNum(1, 3)) {
      (m, ksub, dsub) =>
      forAll(Gen.listOfN(m * ksub * dsub, genD), Gen.listOfN(m * dsub, genD)) {
        (flat, v) =>
        val out = graft.plans.PqEncodeI(dref(0), dref(1), m, ksub)
          .eval(InternalRow(darr(v), darr(flat)))
        def d2u(sub: Int, code: Int): Long = {
          val xs = v.slice(sub * dsub, sub * dsub + dsub)
          val cv = flat.slice((sub * ksub + code) * dsub,
            (sub * ksub + code) * dsub + dsub)
          val xx = xs.foldLeft(0.0)((a, x) => a + x * x)
          val xcv = xs.zip(cv).foldLeft(0.0) { case (a, (x, c)) => a + x * c }
          val cc = cv.foldLeft(0.0)((a, c) => a + c * c)
          val d = (xx - 2.0 * xcv) + cc
          val r6 = java.math.BigDecimal.valueOf(d)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          java.math.BigDecimal.valueOf(r6 * 1e6)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
        }
        // pmod semantics of the packed (d2u, code) unpack — pins the
        // kernel's behavior even if a packed min ever goes negative (FP
        // cancellation to a negative micro).
        val expect = (0 until m).map { sub =>
          java.lang.Math.floorMod(
            (0 until ksub).map(code => (d2u(sub, code) * 65536L + code)).min,
            65536L)
        }.map(_.toInt)
        val ragged = graft.plans.PqEncodeI(dref(0), dref(1), m, ksub)
          .eval(InternalRow(darr(v :+ 1.0), darr(flat)))
        intsOf(out) == expect && ragged == null
      }
    }

  property("sq8_codes_i == floor reference incl. exact .5 boundaries; " +
      "abs_max_d == max(|x|) skipping null elements") =
    forAll(Gen.nonEmptyListOf(genD)) { xs =>
      val maxAbs = xs.map(math.abs).max
      val q = graft.plans.Sq8CodesI(dref(0),
          BoundReference(1, DoubleType, nullable = true))
        .eval(InternalRow(darr(xs), maxAbs))
      val expect = xs.map(x =>
        Math.floor(x * 127.0 / maxAbs + 0.5).toLong.toInt)
      val am = graft.plans.AbsMaxD(dref(0)).eval(InternalRow(
        new GenericArrayData((xs.map(java.lang.Double.valueOf) :+ null).toArray[Any])))
      (maxAbs == 0.0 || intsOf(q) == expect) &&
        java.lang.Double.doubleToRawLongBits(am.asInstanceOf[Double]) ==
          java.lang.Double.doubleToRawLongBits(maxAbs)
    }
}

/** Interpreted-eval properties for the r16 text kernels against
  * INDEPENDENT plain-Scala references (hex-string hash decode, fold
  * replications of the HOF chains they replaced) — the EncodeKernelProps
  * posture; the codegen paths are pinned against the legacy HOF columns
  * in TextKernelParitySpec. */
object TextKernelProps extends Properties("TextKernels") {
  import org.apache.spark.sql.catalyst.expressions.BoundReference
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String
  import graft.functions.TextFns

  private def sarr(xs: Seq[Option[String]]): ArrayData =
    new GenericArrayData(xs.map(_.map(UTF8String.fromString).orNull).toArray[Any])
  private def larr(xs: Seq[Option[Long]]): ArrayData =
    new GenericArrayData(xs.map(_.map(java.lang.Long.valueOf).orNull).toArray[Any])
  private val sref =
    BoundReference(0, ArrayType(StringType, containsNull = true), nullable = true)
  private val lref =
    BoundReference(0, ArrayType(LongType, containsNull = true), nullable = true)
  private def anySeq(a: Any): Seq[Any] =
    a.asInstanceOf[ArrayData].toObjectArray(LongType).toSeq

  /** Independent md5-base28 reference: hex STRING + per-nibble strpos
    * decode, the exact arithmetic of [[TextFns.md5Base28]]'s Column form
    * (the kernel decodes digest bytes instead — this pins equivalence). */
  private def refBase28(s: String): Long = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = dig.map(b => f"$b%02x").mkString
    (1 to 7).map(i => ("0123456789abcdef".indexOf(hex(i - 1)).toLong) *
      (1L << (4 * (7 - i)))).sum
  }

  private val genStr: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr, Arbitrary.arbitrary[String])

  property("md5_base28_l == hex-string nibble-decode reference; null " +
      "elements stay null") =
    forAll(Gen.listOf(Gen.option(genStr))) { xs =>
      val out = anySeq(graft.plans.Md5Base28L(sref).eval(InternalRow(sarr(xs))))
      out == xs.map(_.map(s => java.lang.Long.valueOf(refBase28(s))).orNull)
    }

  property("minhash_sig_l == per-index array_min(transform) fold incl. " +
      "null-skip; no non-null elements -> null minima") =
    forAll(Gen.listOf(Gen.option(Arbitrary.arbitrary[Long])),
        Gen.chooseNum(0, 6), Gen.chooseNum(1, 5)) { (xs, first, count) =>
      val out = anySeq(graft.plans.MinhashSigL(lref, first, count)
        .eval(InternalRow(larr(xs))))
      val vals = xs.flatten
      val expect = (0 until count).map { k =>
        if (vals.isEmpty) null
        else java.lang.Long.valueOf(vals.map(h =>
          (h * TextFns.minhashA(first + k) + TextFns.minhashB(first + k)) %
            TextFns.MinhashPrime).min)
      }
      out == expect
    }

  property("simhash16_l == the nested-aggregate fold (div-toward-zero, " +
      "int-cast wrap, pmod bit, ties drop); any null element -> 0") =
    forAll(Gen.listOf(Gen.option(Gen.oneOf(
        Gen.chooseNum(0L, (1L << 28) - 1), Arbitrary.arbitrary[Long])))) { xs =>
      val out = graft.plans.Simhash16L(lref).eval(InternalRow(larr(xs)))
      val expect: Int =
        if (xs.exists(_.isEmpty)) 0
        else (0 until 16).map { b =>
          val pow2 = 1L << b
          val vote = xs.flatten.map { h =>
            val qi = (h / pow2).toInt
            (((qi % 2) + 2) % 2) * 2 - 1
          }.sum
          if (vote > 0) 1 << b else 0
        }.sum
      out == expect
    }

  property("feat_embed_l == hash+bucket+sign fold reference (null tokens " +
      "contribute 0 to every dimension)") =
    forAll(Gen.listOf(Gen.option(genStr)), Gen.chooseNum(1, 24)) { (xs, dim) =>
      val out = graft.plans.FeatEmbedL(sref, dim).eval(InternalRow(sarr(xs)))
      val expect = new Array[Long](dim)
      xs.flatten.foreach { t =>
        val h = refBase28(t)
        expect((h % dim).toInt) += ((h / dim) % 2) * 2 - 1
      }
      out.asInstanceOf[ArrayData].toLongArray().toSeq == expect.toSeq
    }

  property("shingles_s == sliding mkString reference (concat_ws null-" +
      "skip); below n -> one whole-document shingle incl. empty input") =
    forAll(Gen.listOf(Gen.option(genStr)), Gen.chooseNum(1, 4)) { (xs, n) =>
      val out = graft.plans.ShinglesS(sref, n).eval(InternalRow(sarr(xs)))
        .asInstanceOf[ArrayData].toObjectArray(StringType)
        .map(_.asInstanceOf[UTF8String].toString).toSeq
      val expect =
        if (xs.size >= n) xs.sliding(n).map(_.flatten.mkString(" ")).toSeq
        else Seq(xs.flatten.mkString(" "))
      out == expect
    }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  property("span_md5s == per-window md5 hex of the null-skipping ' ' join; " +
      "n < k -> empty") =
    forAll(Gen.listOf(Gen.option(genStr)), Gen.oneOf(1, 2, 3, 4, 10)) { (xs, k) =>
      val out = graft.plans.SpanMd5s(sref, k).eval(InternalRow(sarr(xs)))
        .asInstanceOf[ArrayData].toObjectArray(StringType)
        .map(_.asInstanceOf[UTF8String].toString).toSeq
      val expect =
        if (xs.size < k) Seq.empty[String]
        else xs.sliding(k).map(win => md5Hex(win.flatten.mkString(" "))).toSeq
      out == expect
    }

  property("span_keep == set-coverage reference: n_removed = covered " +
      "positions in the document, clean_text = uncovered non-null tokens; " +
      "repeated, overlapping and out-of-range starts") =
    forAll(Gen.listOf(Gen.option(genStr)), Gen.chooseNum(1, 5)) { (xs, k) =>
      forAll(Gen.listOf(Gen.option(Gen.chooseNum(-k - 1, xs.size + 1)))) { starts =>
        val startsRef = BoundReference(1, ArrayType(
          org.apache.spark.sql.types.IntegerType, containsNull = true), nullable = true)
        val row = graft.plans.SpanKeep(sref, startsRef, k).eval(InternalRow(sarr(xs),
          new GenericArrayData(starts.map(_.map(Integer.valueOf).orNull).toArray[Any])))
          .asInstanceOf[InternalRow]
        val covered = starts.flatten.flatMap(s => s until s + k)
          .filter(i => i >= 0 && i < xs.size).toSet
        val clean = xs.zipWithIndex.collect {
          case (Some(t), i) if !covered(i) => t
        }.mkString(" ")
        row.getLong(0) == covered.size.toLong && row.getUTF8String(1).toString == clean
      }
    }
}

/** Interpreted-eval property for the r16 trigram kernel. */
object TrigramProps extends Properties("TrigramsS") {
  import org.apache.spark.sql.catalyst.expressions.BoundReference
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  property("trigrams_s == code-point sliding-window reference (incl. " +
      "multi-byte chars); < 3 chars -> empty") =
    forAll(Gen.oneOf(Gen.alphaNumStr, Arbitrary.arbitrary[String],
        Gen.listOf(Gen.oneOf("a", "é", "汉", "𐍈", " ")).map(_.mkString))) { raw =>
      // round-trip through UTF-8 first: UTF8String.fromString replaces
      // lone surrogates with '?', and the reference must see what the
      // engine sees (an encoding artifact of the TEST input, not kernel
      // behavior)
      val s = new String(raw.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.StandardCharsets.UTF_8)
      val out = graft.plans.TrigramsS(
          BoundReference(0, StringType, nullable = true))
        .eval(InternalRow(UTF8String.fromString(s)))
        .asInstanceOf[ArrayData].toObjectArray(StringType)
        .map(_.asInstanceOf[UTF8String].toString).toSeq
      val cps = s.codePoints().toArray
      val expect =
        if (cps.length < 3) Seq.empty[String]
        else (0 to cps.length - 3).map(i => new String(cps, i, 3))
      out == expect
    }
}
