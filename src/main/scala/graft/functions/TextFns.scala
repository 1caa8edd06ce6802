package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis vocabulary for the LLM-data-pipeline extension operators
  * (SURVEY.md §2.10): tokenization, portable hashing, shingling, language-ID
  * heuristics, quality scoring, fingerprinting. Everything is built from
  * codegen'd built-ins (no UDFs) and — deliberately — from primitives that
  * have *bit-identical* DuckDB equivalents (`md5`, `instr`, `split`), so the
  * same logic is expressible as an oracle query.
  */
object TextFns {

  /** Normalize + whitespace-tokenize. Empty/blank text ⇒ empty array (both
    * Spark and DuckDB return `[""]` when splitting an empty string — the
    * guard keeps the two engines, and common sense, in agreement). */
  def tokens(text: Column): Column = {
    val t = trim(lower(text))
    when(t === "", array().cast("array<string>")).otherwise(split(t, "\\s+"))
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Portable 16-bit hash: first 4 hex nibbles of md5, decoded via a hex
    * lookup string. `instr` and `md5` behave identically in DuckDB, which a
    * 64-bit `xxhash64` would not. 16 bits is plenty for SimHash banding. */
  def hash16(s: Column): Column = {
    val hex = md5(s)
    def nib(i: Int): Column =
      instr(lit("0123456789abcdef"), substring(hex, i, 1)) - 1
    nib(1) * 4096 + nib(2) * 256 + nib(3) * 16 + nib(4)
  }

  private def bridge(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(e)
  private def expr0(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graftbridge.GraftBridge.expression(c)

  /** Word n-gram shingles over a token array; documents shorter than n
    * collapse to a single whole-document shingle. Native kernel
    * ([[graft.plans.ShinglesS]], r16) — bit-identical to the
    * transform/concat_ws HOF it replaced ([[shinglesHof]], kept for the
    * parity suite). */
  def shingles(toks: Column, n: Int): Column =
    bridge(graft.plans.ShinglesS(expr0(toks), n))

  /** The pre-r16 HOF form of [[shingles]] — parity-spec reference only. */
  private[graft] def shinglesHof(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(array(concat_ws(" ", toks)))

  /** ExactSubstr span anchors: the md5 hex of every k-token window of a
    * token array, position p at index p ([[graft.plans.SpanMd5s]]) —
    * bit-identical to `md5(array_join(slice(toks, p+1, k), ' '))` per
    * position ([[spanMd5Hof]], kept for the parity suite). */
  def spanMd5s(toks: Column, k: Int): Column =
    bridge(graft.plans.SpanMd5s(expr0(toks), k))

  /** The per-position anchor form [[spanMd5s]] replaced — parity-spec
    * reference only. */
  private[graft] def spanMd5Hof(toks: Column, pos: Column, k: Int): Column =
    md5(array_join(slice(toks, pos + 1, lit(k)), " "))

  /** ExactSubstr rebuild: `struct(n_removed, clean_text)` of a document
    * after removing the k-token spans starting at `starts`
    * ([[graft.plans.SpanKeep]]) — bit-identical to [[spanKeepHof]] over
    * the sorted distinct coverage of those spans. */
  def spanKeep(toks: Column, starts: Column, k: Int): Column =
    bridge(graft.plans.SpanKeep(expr0(toks), expr0(starts), k))

  /** The coverage-array rebuild [[spanKeep]] replaced, over the covered
    * positions `cov` — parity-spec reference only. */
  private[graft] def spanKeepHof(toks: Column, cov: Column): Column =
    struct(size(cov).cast("long").as("n_removed"),
      array_join(transform(
        filter(sequence(lit(0), size(toks) - 1), i => !array_contains(cov, i)),
        i => element_at(toks, i + 1)), " ").as("clean_text"))

  // ── single-hash MinHash family: md5 once per shingle, then universal
  //    (a·h + b) mod p mixing per hash function — ~8× cheaper than salted
  //    md5 per band, bit-identical in DuckDB (no 63-bit overflow: h < 2²⁸,
  //    a < 2³¹ ⇒ a·h + b < 2⁶⁰). ──

  /** Prime modulus for the universal-hash family (largest prime < 2³⁰). */
  val MinhashPrime = 1073741789L
  def minhashA(i: Int): Long = 1000003L * (i + 1) + 12345L
  def minhashB(i: Int): Long = 7919L * (i + 1) + 31337L

  /** 28-bit base hash from the first 7 md5 nibbles (portable: strpos-based
    * nibble decode matches DuckDB exactly). `m` must be an md5 hex string. */
  def md5Base28(m: Column): Column =
    (1 to 7).map { i =>
      (instr(lit("0123456789abcdef"), substring(m, i, 1)) - 1).cast("long") *
        lit(1L << (4 * (7 - i)))
    }.reduce(_ + _)

  /** Per-shingle base hashes: ONE md5 per shingle. Native kernel
    * ([[graft.plans.Md5Base28L]], r16) — the digest-byte decode is
    * bit-identical to md5-hex + [[md5Base28]] ([[shingleHashesHof]]
    * kept for the parity suite). */
  def shingleHashes(shingleCol: Column): Column =
    bridge(graft.plans.Md5Base28L(expr0(shingleCol)))

  /** The pre-r16 double-transform form — parity-spec reference only. */
  private[graft] def shingleHashesHof(shingleCol: Column): Column =
    transform(transform(shingleCol, s => md5(s)), m => md5Base28(m))

  /** MinHash minima for hash indices [first, first+count) in one native
    * pass ([[graft.plans.MinhashSigL]], r16). */
  def minhashSig(hashes: Column, first: Int, count: Int): Column =
    bridge(graft.plans.MinhashSigL(expr0(hashes), first, count))

  /** i-th minhash over precomputed base hashes. */
  def minhashNum(hashes: Column, i: Int): Column =
    element_at(minhashSig(hashes, i, 1), 1)

  /** The pre-r16 HOF form of [[minhashNum]] — parity-spec reference. */
  private[graft] def minhashNumHof(hashes: Column, i: Int): Column =
    array_min(transform(hashes,
      h => (h * lit(minhashA(i)) + lit(minhashB(i))) % lit(MinhashPrime)))

  /** LSH band key (r=2) over precomputed base hashes: BOTH minima from
    * one [[minhashSig]] pass (the HOF form ran 2 array_min passes). */
  def minhashBandNum(hashes: Column, band: Int): Column = {
    val sig = minhashSig(hashes, 2 * band, 2)
    concat(element_at(sig, 1).cast("string"), lit(":"),
      element_at(sig, 2).cast("string"))
  }

  /** DuckDB SQL fragments mirroring the numeric MinHash family — kept next
    * to the Column versions so the two stay in lock-step. `hsCol` must be a
    * BIGINT[] of [[md5Base28]]-style base hashes. */
  def md5Base28Sql(m: String): String =
    (1 to 7).map { i =>
      s"(strpos('0123456789abcdef', substr($m, $i, 1)) - 1) * ${1L << (4 * (7 - i))}"
    }.mkString(" + ")
  def minhashNumSql(hsCol: String, i: Int): String =
    s"list_min(list_transform($hsCol, h -> (h * ${minhashA(i)} + ${minhashB(i)}) % $MinhashPrime))"
  def minhashBandNumSql(hsCol: String, band: Int): String =
    s"CAST(${minhashNumSql(hsCol, 2 * band)} AS VARCHAR) || ':' || " +
      s"CAST(${minhashNumSql(hsCol, 2 * band + 1)} AS VARCHAR)"

  /** 16-bit SimHash over a pre-hashed token array (bit-vote majority).
    * Native one-pass kernel ([[graft.plans.Simhash16L]], r16) —
    * bit-identical to the nested 16×|hs| aggregate it replaced
    * ([[simhash16Hof]], kept for the parity suite; the DuckDB oracles
    * still mirror that form's div/pmod arithmetic). */
  def simhash16(hashedTokens: Column): Column =
    bridge(graft.plans.Simhash16L(expr0(hashedTokens)))

  /** The pre-r16 nested-aggregate form — parity-spec reference only. */
  private[graft] def simhash16Hof(hashedTokens: Column): Column =
    aggregate(sequence(lit(0), lit(15)), lit(0), (acc, b) => {
      val pow2 = pow(lit(2.0), b).cast("int")
      val vote = aggregate(hashedTokens, lit(0),
        (a, h) => a + (pmod((h / pow2).cast("int"), lit(2)) * 2 - 1))
      acc + when(vote > 0, pow2).otherwise(lit(0))
    })

  /** Feature-hashing document embedding over a token array, fused into
    * one native pass ([[graft.plans.FeatEmbedL]], r16) — see
    * [[graft.operators.TextAnalysis.embedDocuments]] for the algorithm
    * and oracle posture. */
  def featEmbed(tokens: Column, dim: Int): Column =
    bridge(graft.plans.FeatEmbedL(expr0(tokens), dim))

  /** Exact Jaccard similarity of two shingle arrays (dedup re-rank stage). */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a); val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    inter / (size(da) + size(db) - inter)
  }

  /** Language-ID marker words (tiny per-language stopword sets). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une"),
    "es" -> Seq("el", "los", "las", "y", "por", "con"))

  def markerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(x => x: Any): _*)))

  /** Heuristic language ID: argmax of marker hits, priority order en > de >
    * fr > es, `und` when nothing matches. Prefer [[langIdFromTokens]] over a
    * staged token column in pipelines — this convenience form re-tokenizes
    * per marker-set reference. */
  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** [[langId]] over a (preferably materialized) token array column. */
  def langIdFromTokens(toks: Column): Column = {
    val scores = LangMarkers.map { case (lang, ms) => lang -> markerHits(toks, ms) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), els) =>
      when(s === best && s > 0, lit(lang)).otherwise(els)
    }
  }

  def punctCount(text: Column): Column =
    regexp_count(text, lit("[.,!?;:]"))

  def alphaRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      regexp_count(text, lit("[A-Za-z]")).cast("double") / length(text))

  /** Composite quality score ∈ [0,1]: length, punctuation density, and
    * alphabetic-character ratio (the classic cheap pre-filters a training
    * corpus applies before anything expensive). Unrounded — for
    * oracle-compared outputs use `floor(score*10000)` basis points:
    * `round(x, 4)` is NOT portable on values like these (Spark rounds the
    * double's exact decimal expansion, DuckDB rounds x·10⁴, and they split
    * when the value sits one ulp below a half), while floor of the same
    * IEEE product is bit-identical everywhere. */
  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(text, tokens(text))

  /** [[qualityScore]] over a (preferably materialized) token array —
    * bit-identical math, one tokenizer run instead of one per reference
    * when the token column is staged. */
  def qualityScoreFromTokens(text: Column, toks: Column): Column = {
    val nTok = size(toks).cast("double")
    val lenScore = least(nTok / 100.0, lit(1.0))
    val punctRatio = when(nTok === 0, lit(0.0))
      .otherwise(least(punctCount(text).cast("double") / nTok, lit(1.0)))
    lenScore * 0.4 + (lit(1.0) - punctRatio) * 0.3 + alphaRatio(text) * 0.3
  }

  /** Portable 4-decimal fixed-point encoding (basis points). */
  def basisPoints(c: Column): Column = floor(c * 10000).cast("long")

  /** "BPE-ish" subword-count estimate: letter runs, single digits, and
    * punctuation marks each count as one token. */
  def bpeTokenEstimate(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))

  /** PII scrub patterns — (label, regex, replacement). Written in the
    * syntax subset shared by Java regex (Spark executes these) and RE2
    * (the DuckDB oracle re-executes them): no lookaround, no
    * backreferences, ASCII classes only, so both engines match the exact
    * same spans. Order matters and is the order applied: emails first
    * (their host part would otherwise feed the dotted-quad pattern),
    * then dotted-quad IPs, then NANP-shaped phone numbers. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}", "<PHONE>"))

  /** Replace every [[PiiPatterns]] match with its placeholder — three
    * chained codegen'd regexp_replace calls, narrow per-row work. */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (_, pat, repl)) =>
      regexp_replace(c, lit(pat), lit(repl))
    }

  /** Match count for one PII pattern (audit column next to the scrub). */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** Document fingerprint (winnowing-lite): md5 of the normalized text plus
    * the min/max salted-md5 over word 5-gram shingles. */
  def fingerprint(text: Column): Column = {
    val sh = shingles(tokens(text), 5)
    struct(
      md5(concat_ws(" ", tokens(text))).as("full_md5"),
      array_min(transform(sh, s => md5(s))).as("min_shingle"),
      array_max(transform(sh, s => md5(s))).as("max_shingle"))
  }
}
