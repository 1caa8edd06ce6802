package graft.operators

import graft.functions.TextFns
import graft.plans.Stage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

/** Deduplication family for the training-data pipeline extensions
  * (SURVEY.md §2.10): exact, MinHash-LSH near-dup, SimHash, n-gram Jaccard
  * re-rank, and embedding-cosine near-dup. All pure DataFrame — no MLlib,
  * no UDFs, no driver-side loops.
  *
  * 100 TB posture: near-dup candidate generation is LSH-banded — the only
  * shuffles are `groupBy(band_key)` / self-join on band buckets, never an
  * all-pairs cross join. Note that md5-derived band keys randomize only
  * *distinct* signatures: identical or near-identical documents collide on
  * the same bucket BY DESIGN, so a duplicated boilerplate page can create a
  * quadratic bucket at corpus scale. [[minhashCandidates]] therefore caps
  * every (band, key) bucket at `maxBucket` members (deterministic min-doc_id
  * truncation) — run [[exact]] as a pre-pass (as `pipeline_docs_prep` does)
  * so identical texts never reach the LSH stage, and use
  * [[oversizedBuckets]] to audit what the cap touched.
  */
object Dedup {

  /** Prefix of the bucket-cap observed metric (see [[minhashCandidates]]);
    * match `observedMetrics` keys with `startsWith(this)`. */
  val BucketCapMetricPrefix = "minhash_bucket_cap"
  private val bucketCapCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private def nextBucketCapMetricName(): String = {
    val n = bucketCapCounter.getAndIncrement()
    if (n == 0) BucketCapMetricPrefix else s"${BucketCapMetricPrefix}_$n"
  }

  /** Prefix of the embedding block-cap observed metric (see
    * [[embeddingNearDups]]); same prefix-matching contract as
    * [[BucketCapMetricPrefix]]. */
  val EmbedBlockCapMetricPrefix = "embed_block_cap"
  private val embedCapCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private def nextEmbedCapMetricName(): String = {
    val n = embedCapCounter.getAndIncrement()
    if (n == 0) EmbedBlockCapMetricPrefix else s"${EmbedBlockCapMetricPrefix}_$n"
  }

  /** Block-membership cap for the embedding pair ops — the same quadratic
    * guard (and the same observable-truncation invariant) as
    * [[minhashCandidates]]'s band buckets: every `_block` keeps its
    * `maxBlock` smallest vec_ids, truncation is reported through an
    * `embed_block_cap*` observed metric, and blocks under the cap are
    * bit-identical to the unguarded result. */
  private def capBlocks(blocked: DataFrame, maxBlock: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_block")).orderBy(col("vec_id"))
    blocked
      .withColumn("_brn", row_number().over(w))
      .observe(nextEmbedCapMetricName(),
        coalesce(sum(when(col("_brn") > maxBlock, 1L).otherwise(0L)),
          lit(0L)).as("truncated_members"),
        coalesce(max(col("_brn")), lit(0)).as("largest_block"))
      .where(col("_brn") <= maxBlock)
      .drop("_brn")
  }

  /** The canonical HOST of a URL — same normalization [[canonicalUrl]]
    * applies (userinfo stripped FIRST, case-fold, www-strip, default
    * port removal), exposed for host-keyed crawl ops ([[robotsFilter]],
    * per-host profiles). */
  def urlHost(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    // Userinfo is stripped BEFORE the host normalization (ADVICE r9:
    // lowercasing the whole authority first mangled 'WWW.user@host' —
    // the www-strip and case-fold must only ever see the host).
    val auth = lower(regexp_replace(
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1), "^[^@]*@", ""))
    val noWww = regexp_replace(auth, "^www\\.", "")
    when(scheme === "http", regexp_replace(noWww, ":80\\z", ""))
      .when(scheme === "https", regexp_replace(noWww, ":443\\z", ""))
      .otherwise(noWww)
  }

  /** The canonical PATH of a URL — trailing slashes stripped, empty path
    * is "/" (same rule [[canonicalUrl]] applies). */
  def urlPath(url: Column): Column = {
    val pStrip = regexp_replace(
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1), "/+\\z", "")
    when(pStrip === "", lit("/")).otherwise(pStrip)
  }

  /** URL canonicalization — the normalize step of the cheapest dedup tier
    * a crawl corpus runs BEFORE any content hashing (VERDICT r8 #8):
    * lowercase scheme+host, strip userinfo (everything through `@` in the
    * authority — credentials never belong in a dedup key), strip a
    * leading `www.`, strip the scheme's default port (`:80` http / `:443`
    * https), strip trailing path slashes (bare host ⇒ `/`), drop the
    * fragment, drop tracking params (`utm_*`, `fbclid`, `gclid` — bare or
    * `key=value` form) and SORT the remaining query params. Path case is
    * preserved (case-sensitive per RFC 3986). Built from regex/array ops
    * in the Java∩RE2 syntax subset so the DuckDB oracle replays the exact
    * same spans — note every end anchor is `\z`, not `$`: Java's `$`
    * matches BEFORE a trailing newline while RE2's is end-of-text, so on
    * crawl junk like "?fbclid\n" the engines would diverge (round-10
    * review). Narrow per-row work, no shuffle. */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = urlHost(url)
    val path = urlPath(url)
    // Tracking keys match with an optional '=' boundary, so a bare
    // '?fbclid' (no value) is dropped like '?fbclid=x' (ADVICE r9).
    // the lazy pre-fragment prefix ([^#]*?) pins the '?' BEFORE any '#':
    // an SPA-style '?' living inside the fragment ("/page#/route?tab=1")
    // must not leak fragment content into the canonical query (review
    // r12 — both engines shared the unanchored bug, so oracles could
    // never catch it)
    val params = array_sort(filter(split(regexp_extract(url, "^[^#]*?\\?([^#]*)", 1), "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid)(=.*)?\\z")))
    // A row with no scheme://  prefix (relative reference, malformed crawl
    // junk) is its OWN canonical key — normalizing it would collapse every
    // schemeless row to one key and merge unrelated documents (round-9
    // review).
    when(scheme === "", url).otherwise(
      concat(scheme, lit("://"), host, path,
        when(size(params) > 0, concat(lit("?"), concat_ws("&", params)))
          .otherwise(lit(""))))
  }

  /** SQL twin of [[urlHost]]. */
  def urlHostSql(u: String): String = {
    val scheme = s"lower(regexp_extract($u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    val noWww = s"regexp_replace(lower(regexp_replace(regexp_extract($u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^[^@]*@', '')), '^www\\.', '')"
    s"""CASE WHEN $scheme = 'http' THEN regexp_replace($noWww, ':80\\z', '')
       | WHEN $scheme = 'https' THEN regexp_replace($noWww, ':443\\z', '')
       | ELSE $noWww END""".stripMargin
  }

  /** SQL twin of [[urlPath]]. */
  def urlPathSql(u: String): String = {
    val pStrip = s"regexp_replace(regexp_extract($u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+\\z', '')"
    s"CASE WHEN $pStrip = '' THEN '/' ELSE $pStrip END"
  }

  /** DuckDB expression mirroring [[canonicalUrl]] over variable `u` —
    * kept adjacent so the two normalizations stay in lock-step (the
    * TextFns `minhashNumSql` convention). */
  def canonicalUrlSql(u: String): String = {
    val scheme = s"lower(regexp_extract($u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    val host = urlHostSql(u)
    val path = urlPathSql(u)
    val params = s"""list_sort(list_filter(string_split(regexp_extract($u, '^[^#]*?\\?([^#]*)', 1), '&'),
       | p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=.*)?\\z')))""".stripMargin
    s"""(CASE WHEN $scheme = '' THEN $u ELSE
       | $scheme || '://' || $host || $path ||
       | CASE WHEN len($params) > 0
       |   THEN '?' || array_to_string($params, '&') ELSE '' END END)""".stripMargin
  }

  /** robots.txt-style frontier filter (RFC 9309 matching): the longest
    * matching prefix decides, allow wins exact ties, and a URL with no
    * matching rule is allowed. The rule table collapses to ONE row per
    * host (rule array) and broadcasts, so the URL side is a pure NARROW
    * pass — no doc-side shuffle at any corpus size, and the same
    * operator filters a streaming frontier against a static rule table
    * unchanged (the [[LineOps.applyBoilerplate]] posture). The verdict
    * is an in-row HOF argmax over the (tiny) matching-rule array.
    * Output: (doc_id, host, path, allowed). */
  def robotsFilter(docs: DataFrame, rules: DataFrame,
      urlCol: String = "url"): DataFrame = {
    val hostRules = rules.groupBy(col("host"))
      .agg(collect_list(struct(col("prefix"), col("allow"))).as("rs"))
    val emptyRules = array().cast("array<struct<prefix:string,allow:int>>")
    val withRules = docs.select(col("doc_id"),
        urlHost(col(urlCol)).as("host"), urlPath(col(urlCol)).as("path"))
      .join(broadcast(hostRules), Seq("host"), "left")
    val matches = filter(coalesce(col("rs"), emptyRules),
      r => col("path").startsWith(r.getField("prefix")))
    // fold to the winning rule: longer prefix beats shorter, allow beats
    // disallow at equal length; init (-1, allow) doubles as the default
    val best = aggregate(matches,
      struct(lit(-1).as("l"), lit(1).as("a")),
      (acc, r) => {
        val rl = length(r.getField("prefix"))
        val ra = r.getField("allow")
        when(rl > acc.getField("l") ||
            (rl === acc.getField("l") && ra > acc.getField("a")),
          struct(rl.as("l"), ra.as("a"))).otherwise(acc)
      })
    withRules.select(col("doc_id"), col("host"), col("path"),
      best.getField("a").cast("int").as("allowed"))
  }

  /** Canonical-URL dedup: every row keyed by its [[canonicalUrl]], the
    * survivor being the min doc_id per canonical key. ONE shuffle (the
    * min-over-key window — no sort, no join-back); at crawl scale this
    * tier removes the bulk of duplicates for the price of a string
    * normalize + one exchange, before MinHash ever runs. */
  /** The canonical key with a per-doc fallback for a NULL url: a missing
    * URL asserts no equality with anything, so the doc must be its OWN
    * cluster — without this, every null-URL doc lands in ONE null
    * partition and all but one are discarded (review r12). NUL-prefixed
    * so no real canonical can collide (the groupSplit sentinel). */
  private def canonicalKey(url: Column, docId: Column): Column =
    coalesce(canonicalUrl(url),
      concat(lit("\u0000doc:"), docId.cast("string")))

  def urlDedup(df: DataFrame, urlCol: String = "url"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("canonical_url"))
    df.select(col("doc_id"), col(urlCol).as("url"))
      .withColumn("canonical_url", canonicalKey(col("url"), col("doc_id")))
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("canonical_url"), col("keep_id"),
        (col("doc_id") === col("keep_id")).cast("int").as("is_canonical"))
  }

  /** Persisted artifact for incremental URL dedup: the DISTINCT canonical
    * keys of an already-deduped history — what a crawl pipeline stores
    * next to its frontier (one short key per known page; history URLs are
    * never re-normalized on later days). */
  def urlIndex(df: DataFrame, urlCol: String = "url"): DataFrame =
    df.select(canonicalUrl(col(urlCol)).as("canonical_url")).distinct()

  /** Canonical-URL dedup of a NEW crawl batch against a [[urlIndex]]
    * history — the recrawl shape: normalize the batch, one left-anti
    * equi-join on the persisted key set (history is never rescanned
    * beyond its key column), then the standard within-batch min-id
    * selection. Completes the incremental-index family for the cheapest
    * dedup tier (hash / band / span / centroid / signature / URL key). */
  def urlDedupIncremental(newDocs: DataFrame, historyKeys: DataFrame,
      urlCol: String = "url"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("canonical_url"))
    newDocs.select(col("doc_id"), col(urlCol).as("url"))
      .withColumn("canonical_url", canonicalKey(col("url"), col("doc_id")))
      // no distinct() on the history side: a left-anti join is
      // duplicate-insensitive, so deduplicating the key set here would
      // only add an exchange + aggregate over the full history for zero
      // semantic effect ([[urlIndex]] already emits distinct keys anyway)
      .join(historyKeys.select(col("canonical_url")),
        Seq("canonical_url"), "left_anti")
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("canonical_url"), col("keep_id"),
        (col("doc_id") === col("keep_id")).cast("int").as("is_canonical"))
  }

  /** Exact dedup: canonical survivor (min doc_id) per identical text, with
    * the md5 fingerprint and copy count. Hash-groupBy, map-side partial. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Shingle table, staged twice ([[graft.plans.Stage]]): tokens materialize
    * before the shingle lambda (else `element_at(tokens(text), i)` re-runs
    * the regex tokenizer per shingle element), and shingles materialize
    * before the 8 minhash transforms. */
  private def withShingles(documents: DataFrame, n: Int = 3,
      carry: Seq[String] = Nil): DataFrame = {
    val keep = (Seq("doc_id") ++ carry).map(col)
    val toks = Stage(documents.select(keep :+ col("text"): _*),
      "w", TextFns.tokens(col("text"))).select(keep :+ col("w"): _*)
    Stage(toks, "sh", TextFns.shingles(col("w"), n)).select(keep :+ col("sh"): _*)
  }

  /** Shingles + per-shingle 28-bit base hashes (one md5 per shingle; the
    * 8 minhashes derive from these by cheap universal mixing). */
  private def withShingleHashes(documents: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val keep = (Seq("doc_id") ++ carry).map(col)
    Stage(withShingles(documents, carry = carry), "hs",
      TextFns.shingleHashes(col("sh")))
      .select(keep ++ Seq(col("sh"), col("hs")): _*)
  }

  /** The banded (doc_id[, carry…], band, key) table behind
    * [[minhashCandidates]]; `carry` columns (e.g. an event-time column for
    * the streaming paths) ride along unchanged. */
  private def bandedKeys(documents: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val keep = (Seq("doc_id") ++ carry).map(col)
    val sh = withShingleHashes(documents, carry)
    // All 8 minhashes in ONE projection over the materialized base hashes,
    // then a cheap posexplode of the 4 precomputed keys.
    val sigs = sh.select(keep :+
      array((0 until 4).map(b => TextFns.minhashBandNum(col("hs"), b)): _*).as("keys"): _*)
    sigs.select(keep :+ posexplode(col("keys")): _*)
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "key"))
  }

  /** Exact dedup of a NEW batch against an already-deduped history — the
    * daily-crawl shape: the history side ships only its md5 column (the
    * thing a production pipeline persists), never its texts. One left-anti
    * equi-join on the hash, then the standard within-batch exact dedup.
    * `historyHashes` needs a `text_md5` column. */
  def exactIncremental(newDocs: DataFrame, historyHashes: DataFrame): DataFrame =
    newDocs.select(col("doc_id"), md5(col("text")).as("text_md5"))
      // no distinct() on the history side — a left-anti join is
      // duplicate-insensitive, so deduplicating the key set would only
      // add an exchange + aggregate over the FULL history for zero
      // semantic effect (the urlDedupIncremental rule; review r12)
      .join(historyHashes.select(col("text_md5")),
        Seq("text_md5"), "left_anti")
      .groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Serialized Bloom filter over xxhash64 of `column` — the OTHER artifact
    * an incremental pipeline persists next to its history hash table: a few
    * MB that answer "definitely not in history" without touching history.
    *
    * EXPLICITLY EAGER (runs one aggregation job over `df`) — build once per
    * history snapshot and persist the bytes, exactly like [[bandIndex]]; do
    * not call inside a lazily-composed plan (the RangeJoin auto-binwidth
    * lesson). The aggregate is Spark's own `BloomFilterAggregate` (the
    * engine's runtime-join-filter sketch, reused as a first-class artifact):
    * map-side partial blooms OR-merge through the shuffle, so the pass over
    * 100 TB of hashes ships only fixed-size bitmaps. `fpp` trades bloom size
    * against confirm-join traffic in [[exactIncrementalBloom]]. */
  def buildHashBloom(df: DataFrame, column: String, expectedItems: Long,
      fpp: Double = 0.03): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.GraftBridge
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val agg = new BloomFilterAggregate(
      GraftBridge.expression(xxhash64(col(column))),
      Literal(expectedItems), Literal(numBits))
    val bloomCol = GraftBridge.column(agg.toAggregateExpression())
    // BloomFilterAggregate SILENTLY clamps both sizes to the runtime-filter
    // conf caps (defaults: 4M items / 8M bytes — sized for injected join
    // filters, not a billion-key history artifact). A clamped bloom stays
    // correct but saturates: ~every probe answers "maybe" and the prefilter
    // stops paying for itself. Lift the caps in a CLONED session and run
    // the one eager job there — the caller's session never sees the lifted
    // caps, so no concurrently planned query can have an oversized runtime
    // join bloom injected, and there is nothing to lock or restore. The
    // clone shares the SparkContext; the aggregate's logical plan rebinds
    // to it via the graftbridge.
    val clone = GraftBridge.cloneSession(df.sparkSession)
    val items = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bits = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    clone.conf.set(items,
      math.max(expectedItems, clone.conf.get(items, "4000000").toLong))
    clone.conf.set(bits,
      math.max(numBits, clone.conf.get(bits, "67108864").toLong))
    val aggPlan = GraftBridge.logicalPlan(df.agg(bloomCol.as("bloom")))
    val bytes = GraftBridge.ofRows(clone, aggPlan).head().getAs[Array[Byte]](0)
    if (bytes != null) bytes
    else {
      // Zero input rows (day one of an incremental pipeline: empty history)
      // → the aggregate yields null. Returning null would poison every
      // downstream probe (mightContain(null) is null, so BOTH the positive
      // and negative branches of exactIncrementalBloom filter to empty and
      // the batch silently vanishes). The correct artifact is an EMPTY
      // bloom: every probe answers false — nothing is in the history.
      val bf = org.apache.spark.util.sketch.BloomFilter.create(1, fpp)
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray
    }
  }

  /** Codegen membership probe against a [[buildHashBloom]] artifact: true ⇒
    * maybe present (fpp false positives), false ⇒ DEFINITELY absent. The
    * bloom bytes ride into the plan as a literal (broadcast with the task
    * binary, deserialized once per task by `BloomFilterMightContain`). */
  def mightContainHash(bloomBytes: Array[Byte], c: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.GraftBridge
    GraftBridge.column(BloomFilterMightContain(
      Literal(bloomBytes), GraftBridge.expression(xxhash64(c))))
  }

  /** [[exactIncremental]] with the history side behind its persisted
    * [[buildHashBloom]]: bit-identical output, but history is only consulted
    * for the batch rows the bloom flags as possible dups.
    *
    * Plan shape at 100 TB history / GB batch (the asymmetry the operator
    * exists for):
    *  1. bloom-positive rows (true dups + ~fpp of the batch) broadcast into
    *     a semi-join that filters history MAP-SIDE — history is scanned
    *     once, never shuffled, and only its ∩-with-positives keys (≤ the
    *     tiny positive set) come back;
    *  2. ONE broadcast anti-join against those confirmed keys keeps every
    *     genuinely-new batch row, restoring exactness.
    * The bloom-negative branch needs no separate plan leg (r16): confirmed
    * keys are a subset of history, every history key is bloom-POSITIVE (no
    * false negatives), so a bloom-negative row can never match the anti
    * build side — `hashed ANTI confirmed` ≡ `(¬maybe) ∪ (maybe ANTI
    * confirmed)` row-for-row. The batch side is scanned twice (positives
    * probe + anti stream) instead of the union shape's three times, and
    * the union plus its third hash pass disappear from the plan; the
    * 100 TB side is still read once, narrowly. Result equals [[exactIncremental]] bit-for-bit
    * and shares its oracle. */
  def exactIncrementalBloom(newDocs: DataFrame, historyHashes: DataFrame,
      historyBloom: Array[Byte]): DataFrame = {
    val hashed = newDocs.select(col("doc_id"), md5(col("text")).as("text_md5"))
    val maybe = mightContainHash(historyBloom, col("text_md5"))
    val positives = hashed.where(maybe)
    val confirmedDupKeys = historyHashes.select(col("text_md5"))
      .join(broadcast(positives.select(col("text_md5")).distinct()),
        Seq("text_md5"), "left_semi")
      .distinct()
    hashed.join(broadcast(confirmedDupKeys), Seq("text_md5"), "left_anti")
      .groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** The persistable LSH band index of a corpus: (doc_id, band, key) — what
    * an incremental pipeline stores so tomorrow's batch can find near-dups
    * against ALL of history without rescanning a single historical text. */
  def bandIndex(documents: DataFrame): DataFrame =
    bandedKeys(documents).select(col("doc_id"), col("band"), col("key"))

  /** Serialized bloom over the history [[bandIndex]]'s (band, key) space —
    * the prefilter artifact for [[minhashCandidatesIncremental]]. Same
    * explicitly-eager build-and-persist contract as [[buildHashBloom]].
    * Size by DISTINCT (band, key) count (≈ 4× distinct docs at these band
    * parameters), not index rows. */
  def buildBandBloom(historyIndex: DataFrame, expectedItems: Long,
      fpp: Double = 0.03): Array[Byte] =
    buildHashBloom(
      historyIndex.select(concat_ws(":", col("band"), col("key")).as("bk")),
      "bk", expectedItems, fpp)

  /** Near-dup CANDIDATES of a new batch, incrementally: new-vs-history
    * pairs come from an equi-join of the batch's band keys against the
    * stored [[bandIndex]] (origin `history`, doc_a = new, doc_b =
    * historical); new-vs-new pairs from the standard banded self-join
    * (origin `batch`, doc_a < doc_b). Both sides are truncated to the
    * `maxBucket` smallest doc_ids per (band, key) before joining — the same
    * quadratic-blowup bound as [[minhashCandidates]], bit-identical to the
    * uncapped result while every bucket stays under the cap, and — like
    * there — OBSERVABLE: each capped side registers a
    * [[BucketCapMetricPrefix]]-prefixed observed metric (truncated_members,
    * largest_bucket), so production truncation never passes silently.
    * Re-ranking (exact Jaccard) stays with the caller, who owns the
    * historical texts.
    *
    * `historyBandBloom` (a persisted [[buildBandBloom]]) prefilters the
    * BATCH side of the history join map-side: a genuinely-new document's
    * band keys mostly don't exist in history, and an inner join drops
    * bloom-negative rows anyway, so the filter is exact — false positives
    * just proceed to the join and match nothing. Only the new-vs-history
    * leg is filtered; the within-batch self-join still sees every key. */
  def minhashCandidatesIncremental(newDocs: DataFrame, historyIndex: DataFrame,
      maxBucket: Int = 1000,
      historyBandBloom: Option[Array[Byte]] = None): DataFrame = {
    def cap(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("key")).orderBy(col("doc_id"))
      df.withColumn("_rn", row_number().over(w))
        .observe(nextBucketCapMetricName(),
          coalesce(sum(when(col("_rn") > maxBucket, 1L).otherwise(0L)),
            lit(0L)).as("truncated_members"),
          coalesce(max(col("_rn")), lit(0)).as("largest_bucket"))
        .where(col("_rn") <= maxBucket).drop("_rn")
    }
    val newBands = cap(bandIndex(newDocs))
    val histBands = cap(historyIndex.select(col("doc_id"), col("band"), col("key")))
    val newForHistory = historyBandBloom.fold(newBands)(bloom =>
      newBands.where(mightContainHash(bloom,
        concat_ws(":", col("band"), col("key")))))
    val vsHistory = newForHistory.as("n")
      .join(histBands.as("h"), Seq("band", "key"))
      .select(col("n.doc_id").as("doc_a"), col("h.doc_id").as("doc_b"))
      .distinct()
      .withColumn("origin", lit("history"))
    val vsBatch = newBands.as("a")
      .join(newBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .withColumn("origin", lit("batch"))
    vsHistory.unionByName(vsBatch)
  }

  /** MinHash-LSH candidate pairs: 4 bands × r=2 minhashes from the
    * single-md5 universal family. Two docs become a candidate pair iff they
    * collide on ≥1 band (probability 1−(1−J²)⁴ for Jaccard J). Self-join is
    * per-band-bucket only.
    *
    * Bucket-size guard: the band-bucket self-join is quadratic in bucket
    * size, and identical/boilerplate documents share a bucket by design —
    * 1M copies of one page would otherwise mean ~10¹² candidate pairs. Each
    * (band, key) bucket is therefore truncated to its `maxBucket` smallest
    * doc_ids before the self-join, bounding any bucket's contribution at
    * C(maxBucket, 2) pairs. Buckets below the cap (the normal case — run
    * [[exact]] dedup first so identical texts never get here) are
    * bit-identical to the unguarded result. */
  def minhashCandidates(documents: DataFrame, maxBucket: Int = 1000): DataFrame =
    minhashCandidatesNamed(documents, maxBucket)._2

  /** [[minhashCandidates]] plus the exact observed-metric name this
    * invocation registered — use it when one plan composes several
    * `minhashCandidates` calls and a prefix match over `observedMetrics`
    * could not tell their metrics apart. */
  def minhashCandidatesNamed(documents: DataFrame,
      maxBucket: Int = 1000): (String, DataFrame) = {
    val metricName = Dedup.nextBucketCapMetricName()
    val banded = bandedKeys(documents)
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("key")).orderBy(col("doc_id"))
    val bounded = banded
      .withColumn("bucket_rn", row_number().over(wB))
      // Both sides of the candidate self-join reference this frame, and
      // AQE does NOT reuse the band shuffle stage across them (the final
      // adaptive plan shows two full tokenize→minhash→band pipelines), so
      // without a persist the corpus is scanned and hashed twice. The
      // cached frame is (doc_id, band, key, bucket_rn) — a few short rows
      // per doc, no text — which at any scale is far cheaper than a second
      // full read+hash pass. Wall-clock at sf1 is unchanged (the pair join
      // dominates there); the 2×→1× scan is the 100 TB argument. Rows past
      // the cap are cached too: the cap bounds the join, and the cache
      // stays 4 rows per doc, linear in the corpus. The persist sits BELOW
      // the observe(): the cached plan carries no per-call metric name, so
      // CacheManager canonicalization matches repeated calls on one input
      // to ONE entry (as in curateSurvivorsFrom) instead of adding an
      // entry per call.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // Truncation is observable, never silent: any action over this plan
      // reports how many band-bucket members the cap dropped (0 in the
      // normal, post-[[exact]]-dedup case) through an observed metric
      // named "minhash_bucket_cap*" — read `queryExecution.observedMetrics`
      // (match by prefix) after executing THIS plan (collect/write; a
      // derived count() runs its own QueryExecution) or use a
      // QueryExecutionListener, which sees every execution. No extra pass,
      // no eager job; it fires on every execution over the cached frame
      // (DedupSpec's cap-headroom cases pin it). Non-zero
      // `truncated_members` means recall loss: run [[oversizedBuckets]] to
      // see which buckets, and [[exact]] dedup upstream to fix. The name
      // carries a per-invocation suffix because Spark rejects one plan
      // holding two same-named CollectMetrics over DIFFERENT datasets — a
      // fixed name would break any query composing two minhashCandidates
      // calls (the internal self-join of ONE call is the allowed
      // same-dataset form). The suffix depends on invocation ORDER within
      // the JVM (a plan snapshot may show _1/_2/...): match by prefix, or
      // use [[minhashCandidatesNamed]] for the exact name. Both metrics are
      // coalesced so a zero-row plan reports 0, not null (an unguarded
      // getAs[Long] would NPE on unboxing).
      .observe(metricName,
        coalesce(sum(when(col("bucket_rn") > maxBucket, 1L).otherwise(0L)),
          lit(0L)).as("truncated_members"),
        coalesce(max(col("bucket_rn")), lit(0)).as("largest_bucket"))
      .where(col("bucket_rn") <= maxBucket)
      .drop("bucket_rn")
    val a = bounded.alias("a"); val b = bounded.alias("b")
    metricName -> a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Audit view for the [[minhashCandidates]] bucket cap: every (band, key)
    * bucket whose membership exceeds `maxBucket`, with its size. Non-empty
    * output means the cap truncated candidates there — usually a sign the
    * corpus still contains exact duplicates that [[exact]] should remove. */
  def oversizedBuckets(documents: DataFrame, maxBucket: Int = 1000): DataFrame =
    bandedKeys(documents)
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucket)

  /** Candidate pairs re-ranked by exact 3-gram Jaccard (rounded for stable
    * cross-engine comparison), thresholded.
    *
    * FUSED shape (r16 session 2, guide §8/§2.4): the shingle sets ride on
    * the band rows and the Jaccard verify runs INSIDE the banded
    * self-join, so the two verify re-joins of the shingle frame (and
    * their broadcast/shuffle of `sh` per side) disappear; the join itself
    * stays colocated on the cap window's (band, key) partitioning, so the
    * whole verify path is one exchange of the band frame plus the final
    * pair distinct. Cost of the ride: the shingle array is duplicated
    * once per band (4×) through that one exchange; benefit: `sh` is never
    * shuffled or broadcast again, and Jaccard evaluates in whole-stage
    * codegen next to the join instead of after two more hops of the
    * candidate table. A pair colliding on several bands evaluates Jaccard
    * once per collision (rare for minhash keys — buckets are
    * near-unique); the trailing distinct still emits each pair once, and
    * jaccard is a pure function of the pair, so filter-then-distinct
    * equals the old distinct-then-verify row-for-row. Same bucket-cap +
    * observed-metric contract as [[minhashCandidates]]. */
  def nearDupPairs(documents: DataFrame, minJaccard: Double,
      maxBucket: Int = 1000): DataFrame = {
    val metricName = nextBucketCapMetricName()
    val base = withShingleHashes(documents)
    val sigs = base.select(col("doc_id"), col("sh"),
      array((0 until 4).map(b => TextFns.minhashBandNum(col("hs"), b)): _*).as("keys"))
    val banded = sigs.select(col("doc_id"), col("sh"), posexplode(col("keys")))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "key"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("key")).orderBy(col("doc_id"))
    // same persist rationale and placement as minhashCandidatesNamed: both
    // self-join sides reference this frame, AQE does not reuse the band
    // shuffle stage across them, and the persist sits below the per-call
    // observe() so repeated calls on one input share one cache entry.
    // Cache-ownership contract as in Retrieval: never unpersisted here,
    // reclaim with clearCache between corpora.
    val bounded = banded
      .withColumn("bucket_rn", row_number().over(wB))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .observe(metricName,
        coalesce(sum(when(col("bucket_rn") > maxBucket, 1L).otherwise(0L)),
          lit(0L)).as("truncated_members"),
        coalesce(max(col("bucket_rn")), lit(0)).as("largest_bucket"))
      .where(col("bucket_rn") <= maxBucket)
      .drop("bucket_rn")
    val a = bounded.alias("a"); val b = bounded.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(TextFns.jaccard(col("a.sh"), col("b.sh")), 4).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
      .distinct()
  }

  /** 16-bit SimHash per document (portable md5-nibble token hashes). The
    * hashed-token array is staged first — historically so the nested
    * aggregate didn't md5 every token once per bit; since r16 the md5
    * runs in the native `md5_base28_l` kernel (hash16(t) ≡ the top 4 of
    * base28's 7 nibbles, i.e. base28 >> 12 — bit-equal,
    * TextKernelParitySpec pins it) and only the trivial shift remains a
    * per-element lambda. */
  def simhash(documents: DataFrame): DataFrame =
    Stage(documents.select(col("doc_id"), col("text")), "hs",
      transform(TextFns.shingleHashes(TextFns.tokens(col("text"))),
        h => shiftright(h, 12)))
      .select(col("doc_id"), TextFns.simhash16(col("hs")).as("simhash"))

  /** Near-dup clusters: connected components over the candidate-pair graph
    * by iterative min-label propagation (the GraphX-free version of the
    * canonical-document-selection step). Output: (doc_id, cluster) where
    * cluster = min doc_id of the component; only clustered docs appear.
    *
    * The loop is driver-side *control flow* only — labels and edges stay
    * distributed; each round is a join + min-aggregate over the (tiny
    * relative to the corpus) pair graph, converging in ≤ diameter rounds.
    * Label frames are local checkpoints, each freed once superseded, so
    * a call leaves only the returned frame's RDD cached. */
  def nearDupClusters(documents: DataFrame, minJaccard: Double,
      maxIters: Int = 50): DataFrame =
    connectedComponents(
      nearDupPairs(documents, minJaccard).select(col("doc_a"), col("doc_b")),
      maxIters)

  /** Quality-argmax survivor selection within near-dup clusters — the
    * curation refinement over [[nearDupClusters]]' min-id convention: when
    * a cluster of near-duplicates collapses to one training document, keep
    * the BEST copy (highest quality score), not the accidentally-lowest
    * id. Survivor = argmax `quality_bp` per cluster, ties broken by min
    * doc_id (a total order, so the pick is deterministic cross-engine).
    * Output (clustered docs only, the [[nearDupClusters]] contract):
    * (doc_id, cluster, quality_bp, keep_id, is_survivor).
    *
    * Scale shape: the cluster frame is pairs-sized (tiny vs the corpus);
    * quality is one staged-tokenize scan; the argmax is a first_value
    * window over clusters — one exchange on a small frame, and the
    * doc_id equi-join broadcasts under AQE. */
  def qualitySurvivors(documents: DataFrame, minJaccard: Double): DataFrame = {
    val clusters = nearDupClusters(documents, minJaccard)
    val quality = Stage(documents.select(col("doc_id"), col("text")),
        "w", TextFns.tokens(col("text")))
      .select(col("doc_id"), TextFns.basisPoints(
        TextFns.qualityScoreFromTokens(col("text"), col("w"))).as("quality_bp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("quality_bp").desc, col("doc_id").asc)
    clusters.join(quality, "doc_id")
      .withColumn("keep_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster"), col("quality_bp"), col("keep_id"),
        (col("doc_id") === col("keep_id")).cast("int").as("is_survivor"))
  }

  /** Label-free embedding near-dup CLUSTERS: connected components over the
    * multi-probe LSH pair graph ([[embeddingNearDupsLshMultiProbe]]) — the
    * end of the label-free dedup pipeline (pairs → components → keep the
    * min-id representative per cluster). Output: (vec_id, cluster). */
  def embeddingNearDupClusters(embeddings: DataFrame, minCosine: Double,
      nPlanes: Int = 6, maxIters: Int = 50): DataFrame =
    connectedComponents(
      embeddingNearDupsLshMultiProbe(embeddings, minCosine, nPlanes)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")),
      maxIters)
      .withColumnRenamed("doc_id", "vec_id")

  /** The shared min-label-propagation loop over a (doc_a, doc_b) pair
    * graph; see [[nearDupClusters]] for the contract and scale notes.
    *
    * Lineage is TRUNCATED every round (`localCheckpoint`), not merely
    * persisted: `next` references `labels` twice (directly and through
    * `neighborMin`), so with caching alone the analyzed plan tree DOUBLES
    * per round — a high-diameter graph (long near-dup chains) OOMs the
    * driver on pure plan bookkeeping long before any executor works hard
    * (found the hard way: 500 vectors, 1.4k edges, exponential plan).
    * Checkpointing pins each round's frame as a leaf, keeping every
    * round's plan O(1). The loop is already eager (per-round convergence
    * count), so eager checkpoints change no semantics; a long-lived
    * production job on a real cluster should prefer `checkpoint()` with a
    * reliable checkpoint dir (localCheckpoint state dies with executors). */
  /** [[connectedComponents]] for composed pipelines (docs-prep's
    * quality-argmax survivor stage builds its clusters from an
    * already-computed pair frame instead of re-deriving pairs from text). */
  private[graft] def components(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    connectedComponents(pairs, maxIters)

  private def connectedComponents(pairs: DataFrame, maxIters: Int): DataFrame = {
    // LAZY lineage cuts throughout (r16 second pass): every checkpointed
    // frame here is forced by an action in the SAME iteration (the init
    // aggregate by the first neighbor-min join, `next` by the convergence
    // count), so eager=false materializes it inside that action's job
    // instead of a dedicated job per cut — one scheduled job per
    // iteration instead of two, same lineage truncation, same caching.
    // Cut the pair lineage BEFORE the symmetrizing union (r17): the union
    // references `pairs` twice, and when pairs is a composed near-dup
    // pipeline (banded join + in-join verify + distinct) the second branch
    // re-executes everything above the band frame's persist — ReusedExchange
    // does not reliably dedupe across the union branches (the swap
    // projection sits between the branch root and the shared exchange).
    // The pair frame is tiny by contract, so the cut is one cached
    // RDD materialized inside the first consumer's job (eager=false).
    val p0 = pairs.localCheckpoint(eager = false)
    val edges = p0
      .union(p0.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint(eager = false)
    // Iteration 1 folded into the init (r16 optimization): with label =
    // node, the first round's neighbor-min is just min(neighbor), so
    // label₁(x) = least(x, min nbr(x)) comes straight off the edge list —
    // one aggregate instead of a label init + join + aggregate round.
    var labels = edges
      .groupBy(col("doc_a").as("node"))
      .agg(min(col("doc_b")).as("mn"))
      .select(col("node"), least(col("node"), col("mn")).as("label"))
      .localCheckpoint(eager = false)
    var iter = 1
    var converged = false
    while (iter < maxIters && !converged) {
      val cur = labels.select(col("node"), col("label"))
      val neighborMin = edges
        .join(cur.withColumnRenamed("node", "doc_b"), "doc_b")
        .groupBy(col("doc_a").as("node"))
        .agg(min(col("label")).as("nbr_label"))
      // prev label CARRIED through the checkpoint (r16): convergence is
      // then a filter+count over the checkpointed frame instead of a
      // join-against-previous job per iteration — labels only decrease,
      // so label ≠ prev ⟺ label < prev ⟺ not yet converged.
      val next = cur.withColumnRenamed("label", "prev")
        .join(neighborMin, Seq("node"), "left")
        .select(col("node"), col("prev"),
          least(col("prev"), coalesce(col("nbr_label"), col("prev"))).as("label"))
        .localCheckpoint(eager = false)
      val changed = next.where(col("label") =!= col("prev")).count()
      // Dataset.unpersist misses a localCheckpoint's RDD; this frees it
      GraftBridge.freeCheckpointBlocks(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    Seq(p0, edges).foreach(GraftBridge.freeCheckpointBlocks)
    // A component with diameter > maxIters would return labels that are not
    // the component minimum — refuse to emit a silently-wrong clustering.
    if (!converged) throw new IllegalStateException(
      s"nearDupClusters: label propagation did not converge in $maxIters rounds; " +
        "a candidate-pair component has diameter > maxIters (raise maxIters)")
    labels.select(col("node").as("doc_id"), col("label").as("cluster"))
  }

  /** Streaming exact dedup at ingest: watermark-bounded state keyed on the
    * content hash — duplicates arriving within the watermark horizon are
    * dropped, state older than the horizon is evicted (the only way exact
    * dedup state stays bounded on an unbounded 100 TB stream). `eventTime`
    * must be a timestamp column of the stream. */
  /** Stamp a watermark ONCE per chain: if `eventTime` already carries
    * watermark metadata from an upstream stage, reuse it. Spark 4's
    * multiple-stateful-operator semantics DISALLOW redefining a watermark
    * downstream of a stateful operator — and the failure is data-dependent
    * (the AnalysisException fires only once the watermark has actually
    * advanced past 0, so a short-horizon test corpus never sees it; the
    * sf0.1 RocksDB profiling run did). */
  private def stampWatermark(df: DataFrame, eventTime: String,
      delay: String): DataFrame =
    if (df.schema(eventTime).metadata.contains("spark.watermarkDelayMs")) df
    else df.withWatermark(eventTime, delay)

  def streamingExactDedup(docs: DataFrame, eventTime: String, delay: String): DataFrame =
    stampWatermark(docs.withColumn("text_md5", md5(col("text"))), eventTime, delay)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Streaming canonical-URL dedup at ingest — the cheapest tier's
    * streaming leg ([[urlDedup]]'s semantics, first-arrival survivor):
    * rows are keyed by [[canonicalUrl]] and deduplicated within the
    * watermark horizon, so a recrawled variant ('?utm_...' reshuffles,
    * userinfo, case) of a recently-seen page never reaches content
    * hashing. State = one short key per distinct canonical URL per
    * horizon — bounded like [[streamingExactDedup]], and the key is the
    * SAME normalization the batch tier and [[urlIndex]] persist, so batch
    * and stream agree on what "the same page" means. */
  def streamingUrlDedup(docs: DataFrame, eventTime: String, delay: String,
      urlCol: String = "url"): DataFrame =
    stampWatermark(
      // doc-keyed fallback for NULL urls (docs must carry the engine-wide
      // doc_id key): without it every null-URL arrival after the first
      // would be silently dropped as a "recrawl" of NULL (review r12)
      docs.withColumn("canonical_url",
        canonicalKey(col(urlCol), col("doc_id"))),
      eventTime, delay)
      .dropDuplicatesWithinWatermark("canonical_url")

  /** Streaming near-dup filter at ingest: documents are keyed by their
    * FULL MinHash signature (all 4 band keys) and deduplicated within the
    * watermark horizon — a doc is dropped iff a doc with an identical
    * signature arrived recently. Precision-first by construction: an
    * 8-minhash signature match implies very high Jaccard (P[all 8 match]
    * = J⁸), so false drops are rare, while weaker near-dups pass through
    * to the batch LSH pass ([[minhashCandidates]]) — the right division of
    * labor for an ingest path that must never block and a nightly pass
    * that can afford candidate verification. State is one row per distinct
    * signature per horizon — bounded, like [[streamingExactDedup]]. */
  def streamingNearDupDedup(docs: DataFrame, eventTime: String, delay: String): DataFrame = {
    val toks = Stage(docs, "w", TextFns.tokens(col("text")))
    val sh = Stage(toks, "sh", TextFns.shingles(col("w"), 3))
    val hs = Stage(sh, "hs", TextFns.shingleHashes(col("sh")))
    stampWatermark(
        hs.withColumn("minhash_sig",
          concat_ws("|", (0 until 4).map(b => TextFns.minhashBandNum(col("hs"), b)): _*)),
        eventTime, delay)
      .dropDuplicatesWithinWatermark("minhash_sig")
      .drop("w", "sh", "hs")
  }

  /** Streaming LSH candidate PAIRS at ingest — the cross-batch
    * generalization of [[minhashCandidates]], and the recall-side
    * complement to [[streamingNearDupDedup]] (which requires a FULL
    * signature match): an arriving document is paired against every
    * previously-ingested document sharing ≥ 1 MinHash band bucket, however
    * long ago it arrived, without rescanning history.
    *
    * Mechanics: keyed state per (band, key) bucket holds the doc_ids of
    * the first `maxBucket` arrivals (arrival-order retention — the batch
    * cap keeps min-ids instead, the one documented divergence; history
    * can't be re-ranked after its pairs were emitted). A document landing
    * in a full bucket is truncated: it emits no pairs and is not
    * retained, exactly bounding state at maxBucket ids per bucket and
    * per-doc fanout at 4×maxBucket pairs. The same pair can surface from
    * several bands (batch mode ends with `distinct()`; a streaming global
    * distinct would be unbounded state) — output carries `band` so
    * consumers can dedupe within their own horizon.
    *
    * Output (append mode): (doc_a, doc_b, band), doc_a < doc_b, emitted
    * in the micro-batch where the LATER member arrives.
    *
    * Truncation is observable here too (the module invariant): pass a
    * `truncated` LongAccumulator and every dropped (doc, band) arrival
    * increments it — readable live from the accumulator / Spark UI while
    * the stream runs. Caveat vs the batch path's exactly-once observed
    * metric: the increment happens inside a TRANSFORMATION, so task
    * retries / speculative re-execution re-apply it — treat the value as
    * at-least-once (a zero/non-zero truncation DETECTOR and order-of-
    * magnitude gauge, not an exact count). */
  def streamingNearDupCandidates(docs: DataFrame, maxBucket: Int = 1000,
      truncated: Option[org.apache.spark.util.LongAccumulator] = None,
      eventTimeCol: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    // With an event-time column, every emitted pair carries the LATER
    // member's event time (the arrival that created it) so downstream
    // watermarked consumers — [[streamingNearDupCandidatesDeduped]] — can
    // bound their own state; without one, a constant epoch rides along and
    // is dropped from the output (schema unchanged for existing callers).
    val ets = eventTimeCol.map(c => col(c).cast("timestamp"))
      .getOrElse(lit(new java.sql.Timestamp(0L)))
    val paired = bandedKeys(docs, carry = eventTimeCol.toSeq)
      .select(col("doc_id").cast("long"), col("band").cast("int"),
        col("key").cast("string"), ets.as("ets"))
      .as[(Long, Int, String, java.sql.Timestamp)]
      .groupByKey { case (_, band, key, _) => (band, key) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (bk: (Int, String), rows: Iterator[(Long, Int, String, java.sql.Timestamp)],
         state: org.apache.spark.sql.streaming.GroupState[Seq[Long]]) => {
          var members = state.getOption.getOrElse(Seq.empty)
          val seen = scala.collection.mutable.Set(members: _*)
          val out = Seq.newBuilder[(Long, Long, Int, java.sql.Timestamp)]
          rows.toSeq.groupBy(_._1).view
            .mapValues(_.map(_._4).minBy(_.getTime)).toSeq.sortBy(_._1)
            .foreach { case (d, t) =>
              if (!seen.contains(d)) {
                if (members.size < maxBucket) {
                  members.foreach { m =>
                    out += ((math.min(d, m), math.max(d, m), bk._1, t))
                  }
                  members :+= d
                  seen += d
                } else truncated.foreach(_.add(1))
              }
            }
          state.update(members)
          out.result().iterator
        })
      .toDF("doc_a", "doc_b", "band", "event_time")
    if (eventTimeCol.isDefined) paired else paired.drop("event_time")
  }

  /** Safe-by-default wrapper over [[streamingNearDupCandidates]]: the
    * documented per-band duplicate pairs (the same (doc_a, doc_b) can
    * surface from up to 4 bands, and a streaming global distinct would be
    * unbounded state) are collapsed to ONE emission per pair within the
    * watermark horizon via `dropDuplicatesWithinWatermark` on the pair key.
    * State for the dedup stage is bounded by the horizon, exactly like
    * [[streamingExactDedup]]; pairs re-surfacing AFTER the horizon can
    * repeat — the documented contract, now enforced instead of delegated
    * to every consumer. SECOND deviation from the raw stream (review
    * r12): a pair whose event time is already BELOW the watermark when
    * it reaches the dedup stage (a very late doc) is DROPPED by
    * `dropDuplicatesWithinWatermark`, not deduplicated — late-arrival
    * recall is bounded by `delay`, the standard watermark trade; size
    * `delay` for the source's real lateness, or consume the raw
    * [[streamingNearDupCandidates]] and dedup downstream where the full
    * horizon is known. Output: (doc_a, doc_b, band, event_time) where
    * band is the first-seen band of the pair inside the horizon. */
  def streamingNearDupCandidatesDeduped(docs: DataFrame, eventTime: String,
      delay: String, maxBucket: Int = 1000,
      truncated: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    streamingNearDupCandidates(docs, maxBucket, truncated, Some(eventTime))
      .withWatermark("event_time", delay)
      .dropDuplicatesWithinWatermark("doc_a", "doc_b")

  /** Embedding-cosine near-dup candidates, blocked by `label` (the cheap
    * cluster key): within-block pairs with cosine ≥ threshold. At scale the
    * blocking key bounds each bucket's pair count; no global cross join.
    * Requires a pre-existing label column — on the (typical) unlabeled
    * 100 TB corpus use [[embeddingNearDupsLsh]], which derives its own
    * blocking key. */
  def embeddingNearDups(embeddings: DataFrame, minCosine: Double,
      maxBlock: Int = 10000): DataFrame =
    embeddingPairs(
      embeddings.select(col("vec_id"), col("label").as("_block"), col("embedding")),
      minCosine, maxBlock)

  /** Label-free embedding near-dup: blocks by the sign-LSH bucket
    * ([[Similarity.lshCorpus]] — the sign pattern of `nPlanes` fixed random
    * hyperplane projections), so it runs on corpora with no label column —
    * the realistic 100 TB case. A true near-dup pair (cosine → 1) projects
    * to the same side of each hyperplane with high probability
    * (P[bucket match] ≈ (1 − θ/π)^nPlanes), so recall loss at a 0.9+
    * threshold is small and tunable via `nPlanes`; each bucket holds
    * ~N/2^nPlanes vectors, bounding the quadratic self-join per bucket.
    * Deterministic (fixed planes) ⇒ fully oracle-checkable. */
  def embeddingNearDupsLsh(embeddings: DataFrame, minCosine: Double,
      nPlanes: Int = 6, maxBlock: Int = 10000): DataFrame =
    embeddingPairs(
      Similarity.lshCorpus(embeddings, nPlanes)
        .select(col("vec_id"), col("bucket").as("_block"), col("v")),
      minCosine, maxBlock)

  /** Multi-probe variant of [[embeddingNearDupsLsh]]: pairs are also found
    * across buckets at Hamming distance 1 (one flipped hyperplane sign) —
    * the buckets a true near-dup most likely straddles, since a cosine→1
    * pair disagrees on a plane only when the plane nearly bisects it.
    * Candidate volume grows ×(nPlanes+1) (each of side A's rows probes its
    * own bucket plus nPlanes flips); a pair (a,b) has ONE fixed bucket-XOR
    * pattern, so it matches at most one probe and needs no dedup — same
    * argument as [[Similarity.lshTopKMultiProbe]], and equally
    * deterministic ⇒ fully oracle-checkable. */
  def embeddingNearDupsLshMultiProbe(embeddings: DataFrame, minCosine: Double,
      nPlanes: Int = 6, maxBlock: Int = 10000): DataFrame = {
    // Cap bucket membership ONCE on the corpus; both sides (and therefore
    // the pair set) derive from the retained members, like the batch
    // minhash path.
    val corpus = capBlocks(
      Similarity.lshCorpus(embeddings, nPlanes)
        .withColumnRenamed("bucket", "_block"), maxBlock)
    val probeArr = array(
      (col("_block") +: (0 until nPlanes).map(p =>
        col("_block").bitwiseXOR(lit(1 << p)))): _*)
    val a = corpus
      .select(col("vec_id"), col("v"), col("nrm"), explode(probeArr).as("_block"))
      .alias("a")
    val b = corpus.alias("b")
    import graft.functions.SimFns._
    a.join(b, col("a._block") === col("b._block") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cosinePrenormed(dot(col("a.v"), col("b.v")), col("a.nrm"), col("b.nrm")), 4)
          .as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** Shared block-and-score body: within-`_block` pairs (vec_a < vec_b)
    * with round-4 cosine ≥ threshold, each block capped at its `maxBlock`
    * smallest vec_ids ([[capBlocks]] — observable truncation). Input:
    * (vec_id, _block, embedding) or (vec_id, _block, v) with v already
    * array<double>. */
  private def embeddingPairs(blocked: DataFrame, minCosine: Double,
      maxBlock: Int): DataFrame = {
    import graft.functions.SimFns._
    val e =
      if (blocked.columns.contains("v")) blocked
      else blocked.withColumn("v", toDouble(col("embedding"))).drop("embedding")
    val withNorm = capBlocks(e, maxBlock)
      .select(col("vec_id"), col("_block"), col("v"), l2Norm(col("v")).as("nrm"))
    val a = withNorm.alias("a"); val b = withNorm.alias("b")
    a.join(b, col("a._block") === col("b._block") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cosinePrenormed(dot(col("a.v"), col("b.v")), col("a.nrm"), col("b.nrm")), 4)
          .as("cosine"))
      .where(col("cosine") >= minCosine)
  }
}
