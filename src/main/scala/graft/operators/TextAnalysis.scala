package graft.operators

import graft.functions.{Bpe, TextFns}
import graft.plans.Stage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (SURVEY.md §2.10):
  * per-document statistics, heuristic language ID, token counting, and
  * corpus-level term frequencies. Single narrow pass per document for the
  * per-doc operators; the corpus term-frequency op is one explode +
  * hash-aggregate (map-side partial combine keeps the shuffle at
  * |vocabulary|, not |tokens|).
  */
object TextAnalysis {

  /** Per-document stats: word count, punctuation, alpha ratio, REAL BPE
    * subword-token count ([[Bpe]] encode under the pinned default vocab),
    * composite quality score. Ratio columns are emitted as basis-point
    * floors — see [[TextFns.qualityScore]] on why `round(x,4)` is not
    * portable cross-engine for rational-valued ratios. */
  def docStats(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      length(col("text")).as("n_chars_measured"),
      TextFns.tokenCount(col("text")).as("n_tokens"),
      TextFns.punctCount(col("text")).as("n_punct"),
      TextFns.basisPoints(TextFns.alphaRatio(col("text"))).as("alpha_bp"),
      Bpe.tokenCount(col("text")).as("n_bpe_tokens"),
      TextFns.basisPoints(TextFns.qualityScore(col("text"))).as("quality_bp"))

  /** Heuristic language ID next to the labeled lang. Tokens are staged —
    * the marker-hit scores reference them ~12× per document. */
  def langId(documents: DataFrame): DataFrame =
    Stage(documents.select(col("doc_id"), col("lang"), col("text")),
      "w", TextFns.tokens(col("text")))
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        TextFns.langIdFromTokens(col("w")).as("predicted_lang"))

  /** Model-grade language ID ([[LangIdModel]] — hashed char-trigram
    * integer linear classifier, fastText architecture, pinned offline
    * weights): per document the four per-language integer scores and the
    * argmax prediction ([[LangIdModel.Langs]] priority on ties, `und`
    * below 3 chars). Narrow per-row pipeline, zero shuffles; every HOF
    * input (trigram array, bucket array, weight table, score struct) is
    * staged so interpreted lambdas only ever capture attributes. */
  def langIdModel(documents: DataFrame): DataFrame = {
    import graft.functions.LangIdModel
    val base = documents.select(col("doc_id"), col("lang").as("labeled_lang"),
      lower(col("text")).as("t"))
    val tg = Stage(base, "tg", LangIdModel.trigrams(col("t")))
    val bk = Stage(tg, "bk", LangIdModel.buckets(col("tg")))
    val wl = Stage(bk, "wall", LangIdModel.weightArray)
    val sc = Stage(wl, "sc", struct(LangIdModel.Langs.zipWithIndex.map {
      case (l, i) => LangIdModel.score(col("bk"), col("wall"), i).as(s"s_$l")
    }: _*))
    val scores = LangIdModel.Langs.map(l => col(s"sc.s_$l"))
    sc.select(Seq(col("doc_id"), col("labeled_lang")) ++
      LangIdModel.Langs.map(l => col(s"sc.s_$l").as(s"s_$l")) :+
      LangIdModel.predict(size(col("tg")), scores).as("predicted_lang"): _*)
  }

  /** Append `predicted_lang` (the [[LangIdModel]] argmax — same staged
    * trigram→bucket→score pipeline as [[langIdModel]], scores not kept)
    * to any frame with a `text` column, preserving every existing column.
    * This is the MODEL-grade language gate the curation pipelines filter
    * on (round-10 rebase off the marker-stopword heuristic); underscore
    * intermediates so callers' columns can't collide. Narrow per-row
    * expressions only — streaming-safe, no shuffle. */
  private[graft] def withModelLang(df: DataFrame): DataFrame = {
    import graft.functions.LangIdModel
    val base = df.withColumn("_t", lower(col("text")))
    val tg = Stage(base, "_tg", LangIdModel.trigrams(col("_t")))
    val bk = Stage(tg, "_bk", LangIdModel.buckets(col("_tg")))
    val wl = Stage(bk, "_wall", LangIdModel.weightArray)
    val sc = Stage(wl, "_sc", struct(LangIdModel.Langs.zipWithIndex.map {
      case (l, i) => LangIdModel.score(col("_bk"), col("_wall"), i).as(s"s_$l")
    }: _*))
    val scores = LangIdModel.Langs.map(l => col(s"_sc.s_$l"))
    sc.withColumn("predicted_lang",
        LangIdModel.predict(size(col("_tg")), scores))
      .drop("_t", "_tg", "_bk", "_wall", "_sc")
  }

  /** Document fingerprints (md5 + min/max shingle hash); tokens and
    * shingles staged once each ([[graft.plans.Stage]]). */
  def fingerprints(documents: DataFrame): DataFrame = {
    val toks = Stage(documents.select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text")))
    val sh = Stage(toks.select(col("doc_id"), col("w")),
      "sh", TextFns.shingles(col("w"), 5))
    sh.select(col("doc_id"),
      md5(concat_ws(" ", col("w"))).as("full_md5"),
      array_min(transform(col("sh"), s => md5(s))).as("min_shingle"),
      array_max(transform(col("sh"), s => md5(s))).as("max_shingle"))
  }

  /** Corpus term frequency: top-`k` tokens by count (ties broken by token
    * text, for determinism). */
  def topTerms(documents: DataFrame, k: Int): DataFrame =
    documents
      .select(explode(TextFns.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Collocation mining: top-k adjacent-token bigrams by integer LIFT —
    * `lift_x1000 = (pair_n · total_tokens · 1000) div (n_a · n_b)`, the
    * log-free PMI surrogate (same ranking as PMI for a fixed corpus since
    * log is monotone), so the association score is exact integer math and
    * hash-orderable cross-engine. `minPairN` filters the unstable tail
    * (lift explodes for hapax pairs). Bigrams come from the shared
    * [[TextFns.shingles]] stage — adjacent pairs only, LINEAR in corpus
    * length, never token-pair-quadratic; one aggregate per side plus two
    * small joins (unigram frame broadcast by AQE when small). */
  def collocations(documents: DataFrame, k: Int, minPairN: Long = 5): DataFrame = {
    // the unigram and bigram branches both consume the tokenize stage —
    // checkpoint it once (`graft.Dev final-plan` showed 4 scans / 12 scan+generate
    // nodes without it; ContextCleaner frees the blocks on GC)
    val toks = Stage(documents.select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text"))).drop("text").localCheckpoint(false)
    val uni = toks.select(explode(col("w")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val total = uni.agg(sum(col("n")).as("total"))
    val pairs = toks
      .where(size(col("w")) >= 2)
      .select(explode(TextFns.shingles(col("w"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("pair_n"))
      .where(col("pair_n") >= minPairN)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    pairs
      .join(uni.select(col("token").as("w1"), col("n").as("n_a")), "w1")
      .join(uni.select(col("token").as("w2"), col("n").as("n_b")), "w2")
      .crossJoin(broadcast(total)) // 1-row global aggregate (benign)
      // intermediates widened to DECIMAL: still exact integer math, but
      // pair_n·total·1000 at the 100 TB corpus this targets (total ~1e13,
      // frequent pair_n ~1e10) exceeds Long and non-ANSI Spark would wrap
      // silently (ADVICE r8). The ~1e26 product fits decimal(38,0) with
      // >10 digits of headroom; the quotient (≤ ~1000·total/max(n_a,n_b))
      // is back in Long range, which `div` returns.
      .select(col("bigram"), col("pair_n"),
        expr("""cast(pair_n as decimal(20,0)) * cast(total as decimal(20,0)) * 1000
          div (cast(n_a as decimal(20,0)) * cast(n_b as decimal(20,0)))""")
          .as("lift_x1000"))
      .orderBy(col("lift_x1000").desc, col("bigram"))
      .limit(k)
  }

  /** Corpus-familiarity score: per-document MEAN corpus frequency of its
    * adjacent bigrams (integer floor-div) — the LM-free fluency proxy (a
    * KenLM-perplexity stand-in that needs no model): fluent text reuses
    * the corpus's common transitions, gibberish and mojibake sit on rare
    * ones and score low. `keep = score ≥ minScore` gates the tail.
    * Scale shape: the bigram-count frame is O(vocab²-observed) rows,
    * joined back to the per-doc bigram explode on the bigram key (AQE
    * broadcasts it when small); everything is one shared tokenize stage +
    * two aggregates — linear in corpus length. */
  def familiarityScore(documents: DataFrame, minScore: Long = 2): DataFrame = {
    val toks = Stage(documents.select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text")))
    // consumed by the count aggregate AND the join-back — checkpoint so
    // the scan+tokenize+shingle subtree runs once (same rationale as
    // collocations/madOutliers; blocks freed on GC)
    val docBigrams = toks.where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(TextFns.shingles(col("w"), 2)).as("bigram"))
      .localCheckpoint(false)
    val counts = docBigrams.groupBy("bigram").agg(count(lit(1)).as("bg_n"))
    val scored = docBigrams.join(counts, "bigram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bg_n")).as("sum_bg"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_bg div n_bigrams").as("familiarity"))
    // zero/one-token docs have no bigram and are exactly what a fluency
    // gate must REJECT — emit them with keep = 0 rather than dropping
    // them, so keep-joins and keep-anti-joins see the same doc set
    // (ADVICE r8). The doc-id side reads the documents frame directly
    // (no second tokenize pass), and the explicit n_bigrams > 0 guard
    // keeps the rejection true even at minScore ≤ 0 (round-9 review).
    documents.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("familiarity"), lit(0L)).as("familiarity"))
      .withColumn("keep",
        (col("n_bigrams") > 0 && col("familiarity") >= minScore).cast("int"))
  }

  /** Bigram language-model TRAIN — the persistable LM artifact (the
    * KenLM-file equivalent of this engine's integer-exact posture):
    * unigram counts, bigram counts, and the 1-row total-token frame, each
    * a plain DataFrame a production run writes once and every later
    * scoring job loads — the LM leg of the persisted-index family (hash /
    * band / span / centroid / signature / name indexes). Two aggregates,
    * map-side partial, shuffle width = |vocab| and |observed bigrams|. */
  def lmTrain(trainDocs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val toks = Stage(trainDocs.select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text"))).localCheckpoint(false)
    val uni = toks.select(explode(col("w")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_uni"))
    val bg = toks.where(size(col("w")) >= 2)
      .select(explode(TextFns.shingles(col("w"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_bg"))
    val tot = uni.agg(sum(col("n_uni")).as("lm_total"))
    (uni, bg, tot)
  }

  /** Incremental LM maintenance — fold a new document batch into a
    * persisted [[lmTrain]] artifact WITHOUT rescanning history: n-gram
    * counts are sum-mergeable (the property that makes count-based LMs
    * incrementally maintainable at all), so the update is one aggregate
    * over the batch plus a union + re-aggregate per count frame (map-side
    * combine; shuffle width = |touched vocab|, not |history|). The
    * returned frames are the same shapes [[lmScoreFrom]] consumes —
    * `TextAnalysisSpec` pins update(A)+B ≡ train(A ∪ B). */
  def lmUpdate(uni: DataFrame, bg: DataFrame, tot: DataFrame,
      newDocs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val (u2, b2, t2) = lmTrain(newDocs)
    def merge(a: DataFrame, b: DataFrame, key: String, cnt: String): DataFrame =
      a.select(col(key), col(cnt)).unionByName(b.select(col(key), col(cnt)))
        .groupBy(col(key)).agg(sum(col(cnt)).as(cnt))
    (merge(uni, u2, "token", "n_uni"), merge(bg, b2, "bigram", "n_bg"),
      tot.unionByName(t2).agg(sum(col("lm_total")).as("lm_total")))
  }

  /** KenLM-style n-gram LM scoring with backoff (VERDICT r8 missing #4 —
    * the production tier above [[familiarityScore]]'s frequency proxy),
    * in EXACT integer math so the whole model is oracle-checkable: all
    * logs are floored log₂ via `length(bin(n)) − 1` (bit-identical in
    * Spark and DuckDB — no libm in sight). Per eval-doc bigram (w1, w2):
    *
    *   seen:   surprise = ⌊log₂ n(w1)⌋ − ⌊log₂ n(w1,w2)⌋    (≈ −log₂ P̂)
    *   unseen: surprise = penalty + ⌊log₂ T⌋ − ⌊log₂ (n(w2)+1)⌋
    *
    * — the stupid-backoff shape (Brants et al. 2007: score backs off to
    * the unigram with a fixed penalty; no discount renormalization, which
    * is exactly what large-corpus LM filtering uses). Per doc: bigram
    * count, total/mean surprise in bits, and `keep = mean ≤ maxMeanBits`
    * (fluent text reuses seen transitions ⇒ low bits; gibberish backs off
    * constantly ⇒ high bits). Zero/one-token docs emit keep = 0 (same
    * contract as familiarityScore). Scale shape: the LM frames join the
    * eval explode on their keys (AQE broadcasts them when small);
    * everything else is one explode + one per-doc aggregate. */
  def lmScoreFrom(uni: DataFrame, bg: DataFrame, tot: DataFrame,
      evalDocs: DataFrame, backoffPenaltyBits: Int = 4,
      maxMeanBits: Long = 6): DataFrame = {
    def log2f(c: Column): Column = (length(bin(c)) - 1).cast("long")
    val toks = Stage(evalDocs.select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text"))).localCheckpoint(false)
    val evalBg = toks.where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(TextFns.shingles(col("w"), 2)).as("bigram"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    val surprise =
      when(col("n_bg").isNotNull,
        log2f(col("n_w1")) - log2f(col("n_bg")))
      // an EMPTY training artifact (lm_total NULL — sum over zero rows)
      // must RAISE: every surprise would be NULL, sum_bits NULL, the
      // final coalesce would turn mean_bits into 0 and the gate would
      // ADMIT every doc — the exact inversion of a quality filter's job
      // (review r12)
      .when(col("lm_total").isNull, raise_error(lit(
        "lmScoreFrom: empty LM artifact (lm_total is NULL) — train before gating")))
      .otherwise(lit(backoffPenaltyBits.toLong) + log2f(col("lm_total"))
        - log2f(coalesce(col("n_w2"), lit(0L)) + 1))
    val scored = evalBg
      .join(bg, Seq("bigram"), "left")
      .join(uni.select(col("token").as("w1"), col("n_uni").as("n_w1")), Seq("w1"), "left")
      .join(uni.select(col("token").as("w2"), col("n_uni").as("n_w2")), Seq("w2"), "left")
      .crossJoin(broadcast(tot)) // 1-row total frame (benign)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(surprise).as("sum_bits"))
      .select(col("doc_id"), col("n_bigrams"),
        col("sum_bits"), expr("sum_bits div n_bigrams").as("mean_bits"))
    toks.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        coalesce(col("mean_bits"), lit(0L)).as("mean_bits"))
      .withColumn("keep",
        (col("n_bigrams") > 0 && col("mean_bits") <= maxMeanBits).cast("int"))
  }

  /** [[lmTrain]] + [[lmScoreFrom]] in one call (train and eval corpora
    * may differ — the held-out shape that makes backoff actually fire). */
  def lmScore(trainDocs: DataFrame, evalDocs: DataFrame,
      backoffPenaltyBits: Int = 4, maxMeanBits: Long = 6): DataFrame = {
    val (uni, bg, tot) = lmTrain(trainDocs)
    lmScoreFrom(uni, bg, tot, evalDocs, backoffPenaltyBits, maxMeanBits)
  }

  /** Corpus drift between two snapshots: per-token symmetric divergence in
    * basis points over the combined top-`k` tokens —
    * `drift_bp = |nA·totB − nB·totA| · 10000 div (nA·totB + nB·totA)`
    * (0 = identical rates, 10000 = token exclusive to one side; the
    * cross-products normalize away corpus-size difference without a
    * single float). The monitor that catches a crawler or filter
    * regression by comparing this batch's token distribution against the
    * previous snapshot's PERSISTED counts — at scale side B is a stored
    * (token, n) artifact, never a rescan. One aggregate per side, a
    * top-k on the union, two joins; missing-on-one-side tokens count 0.
    * Integer end-to-end ⇒ hash-exact cross-engine. */
  def corpusDrift(snapshotA: DataFrame, snapshotB: DataFrame,
      k: Int): DataFrame = {
    def counts(df: DataFrame): DataFrame =
      Stage(df.select(col("doc_id"), col("text")), "w", TextFns.tokens(col("text")))
        .select(explode(col("w")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
    // each count frame feeds THREE consumers (top-k union, per-token
    // join, totals) — checkpoint so each snapshot is scanned+tokenized
    // once, not three times (the collocations localCheckpoint rationale;
    // review r12)
    val ca = counts(snapshotA).localCheckpoint(false)
    val cb = counts(snapshotB).localCheckpoint(false)
    val top = ca.select(col("token"), col("n"))
      .unionByName(cb.select(col("token"), col("n")))
      .groupBy("token").agg(sum(col("n")).as("n_both"))
      .orderBy(col("n_both").desc, col("token")).limit(k)
    val tots = ca.agg(sum(col("n")).as("tot_a"))
      .crossJoin(cb.agg(sum(col("n")).as("tot_b"))) // 1-row × 1-row
    top
      .join(ca.withColumnRenamed("n", "n_a"), Seq("token"), "left")
      .join(cb.withColumnRenamed("n", "n_b"), Seq("token"), "left")
      .crossJoin(broadcast(tots)) // 1-row global aggregate (benign)
      // DECIMAL-widened cross-products (exact integer math): n·tot at the
      // target scale (~1e10 · ~1e13 · 10⁴ ≈ 1e27) overflows Long silently
      // in non-ANSI Spark (ADVICE r8); decimal(38,0) holds it exactly and
      // the basis-point quotient is Long again.
      .select(col("token"), col("n_both"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        expr("""abs(cast(coalesce(n_a, 0) as decimal(19,0)) * tot_b
             - cast(coalesce(n_b, 0) as decimal(19,0)) * tot_a) * 10000
          div greatest(cast(coalesce(n_a, 0) as decimal(19,0)) * tot_b
             + cast(coalesce(n_b, 0) as decimal(19,0)) * tot_a, 1)""")
          .as("drift_bp"))
  }

  /** Balanced per-class sample: exactly `k` documents per `byCol` class,
    * picked by md5 rank of doc_id — deterministic, uniform-within-class
    * (md5 is the seeded-PRNG stand-in, same rationale as f_hash_sample),
    * and executed by [[graft.plans.TopKPlan]]'s bounded heaps: the map
    * side ships ≤ k rows per class per partition, never a full sort —
    * the class-balancing shape for training-set construction at corpus
    * scale. */
  def classSample(documents: DataFrame, byCol: String, k: Int): DataFrame =
    graft.plans.TopKPlan.topKPerGroup(
      documents.select(col("doc_id"), col(byCol),
        md5(col("doc_id").cast("string")).as("h")),
      Seq(byCol), Seq(("h", false), ("doc_id", false)), k)
      .select(col(byCol), col("rank"), col("doc_id"))

  /** Deterministic train/val/test assignment: md5-percentile of doc_id
    * buckets into [0,trainPct) → train, [trainPct,trainPct+valPct) → val,
    * rest → test. A pure projection — stable across runs, partitionings,
    * retries, and engines; adding documents never reassigns existing ones
    * (the property a random split lacks). */
  def trainSplit(documents: DataFrame, trainPct: Int, valPct: Int): DataFrame =
    documents.withColumn("split",
      splitByKey(col("doc_id").cast("string"), trainPct, valPct))

  /** The one md5-percentile split assignment both split forms share
    * (review r12 — [[trainSplit]] and [[groupSplit]] must never drift):
    * bucket = first 16 md5 bits of `key` mod 100. A NULL key RAISES —
    * md5(NULL) is NULL and every NULL-keyed row would otherwise silently
    * pool in 'test', the exact failure the split exists to avoid. */
  private def splitByKey(key: Column, trainPct: Int, valPct: Int): Column = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"need train + val < 100, got $trainPct + $valPct")
    val u = conv(substring(md5(key), 1, 4), 16, 10).cast("int") % 100
    when(key.isNull, raise_error(
        lit("split key is NULL — NULL-keyed rows would silently pool")))
      .when(u < trainPct, lit("train"))
      .when(u < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** LEAKAGE-SAFE grouped split: the split is assigned by md5-percentile
    * of `groupCol` (host, source, dedup-cluster id, …), so EVERY
    * document of a group lands in the SAME split — the GroupShuffleSplit
    * construction. This is what [[trainSplit]] cannot give you when
    * near-duplicates cluster within a group (a crawl host's boilerplate
    * twins, a dedup cluster's survivors + variants): a doc-keyed split
    * puts twins on both sides of the train/test fence and inflates eval
    * scores with memorized near-copies. Same determinism contract as
    * trainSplit (pure projection — stable across runs, partitionings and
    * engines; adding documents never reassigns existing groups). A NULL
    * group falls back to the doc's own key under a reserved prefix, so
    * ungrouped docs spread uniformly instead of all landing in one
    * split. No shuffle — the group key is hashed in place per row. */
  def groupSplit(documents: DataFrame, groupCol: String,
      trainPct: Int, valPct: Int): DataFrame =
    documents.withColumn("split",
      splitByKey(coalesce(col(groupCol).cast("string"),
          // NUL-prefixed fallback key: no real group value can collide
          // with it (the LineOps sentinel discipline); a row NULL in
          // BOTH keys raises via splitByKey's guard
          concat(lit("\u0000doc:"), col("doc_id").cast("string"))),
        trainPct, valPct))

  /** Sequence packing — the LLM-pretraining "concat-and-chunk" layout:
    * documents are (logically) concatenated in doc_id order within each of
    * `nShards` hash shards, and `bin_id` is which `capacityTokens`-sized
    * block a document STARTS in after that concatenation. This is the
    * planner's packing table: (shard, bin_id) groups are the training
    * sequences to assemble, `start_tok` the intra-shard offset.
    *
    * Scale shape: packing is inherently sequential, so the sequential unit
    * is the SHARD — one running-sum window per shard key, nShards-way
    * parallel, one shuffle on (shard). Raise `nShards` with cluster size;
    * rows per window partition = |docs|/nShards. No global window, no
    * driver loop. Deterministic (doc_id total order) ⇒ oracle-checkable. */
  def packDocuments(documents: DataFrame, capacityTokens: Int,
      nShards: Int = 32): DataFrame = {
    require(capacityTokens > 0, s"capacityTokens must be positive: $capacityTokens")
    require(nShards > 0, s"nShards must be positive: $nShards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
    documents
      // n_tokens = REAL BPE subword count (Bpe encode, pinned vocab) —
      // packing capacity is a model context window, which is measured in
      // model tokens, not whitespace words.
      .select(col("doc_id"), Bpe.tokenCount(col("text")).as("n_tokens"))
      .withColumn("shard", pmod(col("doc_id"), lit(nShards)))
      .withColumn("start_tok",
        (sum(col("n_tokens")).over(w) - col("n_tokens")).cast("long"))
      // integral floor-div (start_tok ≥ 0): no double quotients near bin
      // boundaries, same bins in any engine.
      .withColumn("bin_id",
        ((col("start_tok") - pmod(col("start_tok"), lit(capacityTokens)))
          / lit(capacityTokens)).cast("long"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("start_tok"), col("bin_id"))
  }

  /** Sequence ASSEMBLY — the step after [[packDocuments]]'s layout table:
    * materialize the fixed-length training sequences themselves. Within
    * each shard the documents' BPE token streams are (logically)
    * concatenated in doc_id order and cut every `capacityTokens` tokens;
    * a document straddling a cut contributes a slice to BOTH sequences
    * (the standard pretraining concat-and-chunk — nothing is padded or
    * dropped except the ragged tail sequence, which is emitted short).
    * Output: one row per (shard, seq_id) with contributing-doc count,
    * sequence length (== capacity except each shard's tail) and the md5
    * of the space-joined token stream (the content witness the oracle
    * checks — token IDENTITY and ORDER, not just counts).
    *
    * Scale shape: the per-shard running sum is the [[packDocuments]]
    * window (nShards-way parallel); the straddle explode emits
    * 1 + ⌈n/cap⌉-ish rows per doc; assembly is one aggregate keyed on
    * (shard, seq) — rows per group ≤ docs-per-capacity, bounded by the
    * capacity itself. No global sort, no driver loop. */
  def packSequences(documents: DataFrame, capacityTokens: Int,
      nShards: Int = 32): DataFrame =
    packCore(
      Stage(documents.select(col("doc_id"), col("text")),
        "bpe", graft.functions.Bpe.encode(TextFns.tokens(col("text"))))
        .select(col("doc_id"), col("bpe").as("arr")),
      capacityTokens, nShards)
      .select(col("shard"), col("seq_id"), col("n_docs"),
        size(col("seq")).cast("long").as("seq_len"),
        md5(concat_ws(" ", col("seq"))).as("seq_md5"))

  /** The shared concat-and-chunk core over any per-doc token-stream frame
    * `(doc_id, arr: array<string>)` — per-shard doc_id-order concat, cut
    * every `capacityTokens`, straddling docs contribute a slice to both
    * neighbours, ragged tail emitted short. Returns one row per
    * (shard, seq_id) with `n_docs` and the assembled `seq` array; callers
    * pick the witness columns ([[packSequences]] hashes subwords,
    * [[packSequenceIds]] hashes vocab ids). Scale shape documented at
    * [[packSequences]]. */
  private def packCore(perDoc: DataFrame, capacityTokens: Int,
      nShards: Int): DataFrame = {
    require(capacityTokens > 0, s"capacityTokens must be positive: $capacityTokens")
    require(nShards > 0, s"nShards must be positive: $nShards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
    val cap = lit(capacityTokens.toLong)
    val toks = perDoc
      .withColumn("n", size(col("arr")).cast("long"))
      .where(col("n") > 0)
      .withColumn("shard", pmod(col("doc_id"), lit(nShards)))
      .withColumn("start",
        (sum(col("n")).over(w) - col("n")).cast("long"))
    val exploded = toks
      // integral div (start ≥ 0): no double quotients — packDocuments' rule
      .withColumn("seq_id", explode(sequence(
        expr(s"start div $capacityTokens"),
        expr(s"(start + n - 1) div $capacityTokens"))))
      .withColumn("lo", greatest(col("seq_id") * cap, col("start")))
      .withColumn("hi", least((col("seq_id") + 1) * cap, col("start") + col("n")))
      .select(col("shard"), col("seq_id").cast("long").as("seq_id"), col("start"),
        slice(col("arr"), (col("lo") - col("start") + 1).cast("int"),
          (col("hi") - col("lo")).cast("int")).as("sl"))
    exploded
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        flatten(transform(
          array_sort(collect_list(struct(col("start"), col("sl")))),
          s => s.getField("sl"))).as("seq"))
  }

  /** Vocab-ID sequence packing — [[packSequences]] composed with
    * [[tokenIds]]' frequency-rank vocab: the fixed-length sequences a
    * trainer actually consumes are INTEGER id streams, not subword
    * strings. Subword occurrences are checkpointed once (vocab count +
    * id join both read them), ids reassemble per doc in position order,
    * then the shared [[packCore]] cuts the per-shard concat. Witness:
    * first-8 ids + md5 over the space-joined decimal ids (content AND
    * order). The vocab join is dimension-sized (AQE broadcasts it); the
    * pack is the same nShards-parallel window as [[packSequences]]. */
  def packSequenceIds(documents: DataFrame, capacityTokens: Int,
      nShards: Int = 32): DataFrame = {
    val occ = bpeOccurrences(documents)
    val perDoc = occ.join(vocabIds(occ), "subword")
      .groupBy(col("doc_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("token_id")))),
        s => s.getField("token_id").cast("string")).as("arr"))
    packCore(perDoc, capacityTokens, nShards)
      .select(col("shard"), col("seq_id"), col("n_docs"),
        size(col("seq")).cast("long").as("seq_len"),
        concat_ws(" ", slice(col("seq"), 1, 8)).as("ids_head"),
        md5(concat_ws(" ", col("seq"))).as("ids_md5"))
  }

  /** Positional BPE subword occurrences `(doc_id, pos, subword)`,
    * checkpointed once — consumed by the vocab count AND the id join in
    * [[tokenIds]] / [[packSequenceIds]]. */
  private def bpeOccurrences(documents: DataFrame): DataFrame =
    Stage(documents.select(col("doc_id"), col("text")),
      "bpe", graft.functions.Bpe.encode(TextFns.tokens(col("text"))))
      .select(col("doc_id"), posexplode(col("bpe")))
      .toDF("doc_id", "pos", "subword")
      .localCheckpoint(false)

  /** Frequency-rank vocab `(subword, token_id)` — count desc then subword
    * (id 0 = most frequent). Single-partition sort over |vocab| rows:
    * dimension-sized by construction, see [[tokenIds]]. */
  private def vocabIds(occ: DataFrame): DataFrame =
    occ.groupBy(col("subword")).agg(count(lit(1)).as("n"))
      .withColumn("token_id",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("subword"))) - 1).cast("long"))
      .select(col("subword"), col("token_id"))

  /** Dictionary encoding to dense token IDs — the final tokenize step a
    * trainer actually consumes: subwords (BPE, pinned vocab) mapped to
    * ids by corpus frequency rank (count desc, then subword — the
    * conventional "id 0 = most frequent" layout), each document emitted
    * as its ordered id sequence (witnessed by an md5 over the joined ids,
    * plus the head for inspection). Completes tokenize → ids → pack.
    *
    * Scale shape: the subword occurrence frame is checkpointed once
    * (consumed by the vocab count AND the id join); the id join is an
    * equi-join on subword (AQE broadcasts the dimension-sized vocab);
    * reassembly is one per-doc aggregate. The id-assignment window is a
    * single-partition sort over |vocab| rows — dimension-sized by
    * construction (≤ a few hundred k for any real tokenizer), not corpus
    * data; at an extreme vocab switch to a two-phase range-rank. */
  def tokenIds(documents: DataFrame): DataFrame = {
    val occ = bpeOccurrences(documents)
    occ.join(vocabIds(occ), "subword")
      .groupBy(col("doc_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("token_id")))),
        s => s.getField("token_id").cast("string")).as("ids"))
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("ids"), 1, 8)).as("ids_head"),
        md5(concat_ws(" ", col("ids"))).as("ids_md5"))
  }

  /** Overlapping token-window chunking — the RAG/context-window splitter:
    * each document becomes ⌈(n−overlap)/(chunk−overlap)⌉ windows of
    * `chunkTokens` REAL BPE tokens ([[Bpe]] encode, pinned vocab —
    * context budgets are model tokens), consecutive windows sharing
    * `overlap` tokens; `chunk_tokens` is the window's exact token count
    * (capacity except the ragged tail). `chunk_text` is rebuilt from the
    * ORIGINAL words whose token spans intersect the window — never from
    * subword pieces (a space-joined subword window is not a substring of
    * the document and cannot be re-indexed; round-9 review) — so a word
    * straddling a window edge appears whole in BOTH neighbouring chunks.
    * For a corpus where every word is one token the windows reduce to
    * exact word slices. Empty documents emit no chunks. All-integral
    * arithmetic.
    *
    * Scale shape: per-word token spans come from one posexplode + a
    * doc-keyed running-sum window, membership is a tiny integer-range
    * explode, and reassembly is one aggregate on the SAME (doc_id) key —
    * near-uniform, co-partitioned exchanges. */
  def chunkDocuments(documents: DataFrame, chunkTokens: Int,
      overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got overlap=$overlap chunk=$chunkTokens")
    val stride = chunkTokens - overlap
    val cap = lit(chunkTokens.toLong)
    val toks = Stage(documents.select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text"))).where(size(col("w")) > 0)
    val words = toks.select(col("doc_id"), posexplode(col("w")))
      .toDF("doc_id", "pos", "word")
    // per-word BPE token count (kernel-memoized; Zipf words hit the cache)
    val wl = Stage(words, "bl",
      size(graft.functions.Bpe.encode(array(col("word")))).cast("long"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val spans = wl
      .withColumn("e", sum(col("bl")).over(byDoc.orderBy(col("pos"))))
      .withColumn("s", col("e") - col("bl"))
      .withColumn("n", sum(col("bl")).over(byDoc))
    // token-space window count: 1 window when n ≤ cap, else 1 + ⌈(n−cap)/stride⌉
    val nChunks = when(col("n") <= cap, lit(1L))
      .otherwise(lit(1L) + expr(s"(n - $chunkTokens + ${stride - 1}) div $stride"))
    // word [s, e) intersects window [k·stride, k·stride+cap):
    //   k·stride ≤ e−1  ∧  k·stride+cap ≥ s+1, clamped to the window count
    val kMin = when(col("s") + 1 > cap,
      expr(s"(s - $chunkTokens + $stride) div $stride")).otherwise(lit(0L))
    val kMax = least(expr(s"(e - 1) div $stride"), nChunks - 1)
    spans
      .withColumn("chunk_idx", explode(sequence(kMin, kMax)))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          p => p.getField("word"))).as("chunk_text"),
        least(first(col("n")) - col("chunk_idx") * lit(stride.toLong), cap)
          .cast("int").as("chunk_tokens"))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        col("chunk_text"), col("chunk_tokens"))
  }

  /** Paragraph-level exact dedup — the ExactSubstr-lite pass a training
    * corpus runs AFTER document-level dedup: split every document into
    * fixed-size token "paragraphs", keep only the globally-first occurrence
    * of each distinct paragraph (first = lowest (doc_id, pos)), and
    * reassemble the survivors per document in order. Documents whose every
    * paragraph already appeared elsewhere vanish from the output (they are
    * exact-duplicate content by construction).
    *
    * Plan at scale: one narrow explode; ONE shuffle keyed on the paragraph
    * text for the first-occurrence window (rank-limit ⇒ WindowGroupLimit
    * prunes each group map-side to 1 row before the exchange); one shuffle
    * back on doc_id for ordered reassembly. Both keys are near-uniform
    * (paragraph text, doc id) — no broadcast, no skew. */
  def paragraphDedup(documents: DataFrame, paraTokens: Int = 20): DataFrame = {
    require(paraTokens > 0, s"need paraTokens > 0, got $paraTokens")
    val toks = Stage(documents.select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text")))
      .withColumn("n", size(col("w")))
      .where(col("n") > 0)
    val padded = col("n") + lit(paraTokens - 1)
    val nParas = ((padded - pmod(padded, lit(paraTokens))) / lit(paraTokens))
      .cast("int")
    val paras = toks
      .withColumn("n_paras", nParas)
      .withColumn("pos", explode(sequence(lit(0), col("n_paras") - 1)))
      .select(col("doc_id"), col("n_paras"), col("pos"),
        array_join(slice(col("w"), col("pos") * paraTokens + 1, lit(paraTokens)), " ")
          .as("para"))
    val first = paras.withColumn("rn", row_number().over(
      Window.partitionBy(col("para")).orderBy(col("doc_id"), col("pos"))))
      .where(col("rn") === 1)
    first.groupBy(col("doc_id"))
      .agg(max(col("n_paras")).as("n_paras"),
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          s => s.getField("para")), " ").as("clean_text"))
  }

  /** ExactSubstr-style cross-document duplicate-SPAN removal (the Lee et
    * al. 2021 "Deduplicating Training Data Makes Language Models Better"
    * tier, re-expressed at fixed granularity): any run of ≥ `spanTokens`
    * tokens that appears more than once in the corpus — across documents
    * OR repeated within one — is removed everywhere except its globally
    * first occurrence (first = lowest (doc_id, pos)). Unlike
    * [[paragraphDedup]]'s fixed paragraph grid, the anchors here OVERLAP
    * (one per token position), so a duplicated span is caught at ANY
    * alignment, which is what makes it ExactSubstr rather than
    * paragraph-exact: a copied sentence straddling a paragraph boundary
    * still dedups.
    *
    * Algorithm (suffix-array-free, shuffle-bucketed, never all-pairs):
    *   1. anchor every position p ∈ [0, n−k] with the md5 of its k-token
    *      shingle (hashing first keeps the shuffle key at 32 bytes no
    *      matter how long the span text is). One native
    *      [[TextFns.spanMd5s]] pass per document emits all of them from a
    *      single joined token buffer — one digest per position, no
    *      per-position string — and a posexplode turns them into rows;
    *   2. a hash AGGREGATE per shingle hash — occurrence count plus the
    *      global first occurrence as a packed-long min (see
    *      [[packedFirst]]; BIGINT buffer ⇒ HashAggregate) — filtered
    *      to duplicated shingles and equi-joined back marks every non-first
    *      occurrence. Deliberately NOT a row_number window: the aggregate
    *      combines map-side (the shuffle carries one partial per hash per
    *      partition, not every anchor), and a megahit boilerplate shingle
    *      (1M copies of a cookie banner) costs a skewed-but-sortless join
    *      probe that AQE skew-split handles, instead of a 1M-row sort
    *      buffer in a single window partition;
    *   3. those occurrences' start positions collect per document
    *      (`collect_list(pos)` — one int per DUPLICATED anchor, never
    *      expanded to the k positions each one covers);
    *   4. one broadcast-free left join back to the tokenized docs and one
    *      native [[TextFns.spanKeep]] pass per document: a difference-array
    *      coverage bitmap over the starts, then the uncovered tokens
    *      joined — exactly the tokens no duplicate span covers.
    *
    * Scale notes: the duplicated-shingle side of step 2's join is tiny in
    * a healthy corpus (dup shingles are the exception), so AQE turns it
    * into a broadcast; the rebuild is O(n + |starts|) per document —
    * linear in document length however many duplicate spans overlap it.
    * Documents whose every token is covered survive with empty
    * `clean_text` (the caller's drop policy, not ours).
    * Output: (doc_id, n_tokens, n_removed, clean_text). */
  def exactSubstrDedup(documents: DataFrame, spanTokens: Int = 10): DataFrame = {
    require(spanTokens > 0, s"need spanTokens > 0, got $spanTokens")
    val toks = substrToks(documents)
    substrRebuild(toks, substrBatchDups(substrAnchors(toks, spanTokens)),
      spanTokens)
  }

  /** Tokenized (doc_id, w, n) frame shared by the span-dedup family. */
  private def substrToks(documents: DataFrame): DataFrame =
    Stage(documents.select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text")))
      .withColumn("n", size(col("w")))
      .where(col("n") > 0)

  /** Every k-token span anchor: (doc_id, pos, h = md5 of the span). */
  private def substrAnchors(toks: DataFrame, spanTokens: Int): DataFrame =
    toks.select(col("doc_id"),
      posexplode(TextFns.spanMd5s(col("w"), spanTokens)).as(Seq("pos", "h")))

  /** Packed-long global-first encoding: min(doc_id·2^24 + pos) is the
    * lexicographic (doc_id, pos) min whenever 0 ≤ pos < 2^24 and doc_id
    * fits the remaining 39 bits. The payoff is the aggregation BUFFER
    * type: a BIGINT min hash-aggregates (partial HashAggregate, no
    * per-task sort), where the former min(struct(...)) planned as
    * SortAggregate — the round-8 NOTES residual, now taken because the
    * range assumption is GUARDED, not assumed: an out-of-range row
    * raises with a clear message instead of silently mis-ranking. 2^24
    * tokens per document is ~64 MB of text — far past any sane document
    * splitter; chunk upstream (chunkDocuments) if a corpus violates it. */
  private val PosBits = 24
  private val PosCap: Long = 1L << PosBits
  private val DocCap: Long = Long.MaxValue >> PosBits

  private def packedFirst: Column =
    when(col("pos") >= PosCap || col("doc_id") < 0 || col("doc_id") >= DocCap,
      raise_error(concat(
        lit(s"span packing needs 0 <= pos < $PosCap and 0 <= doc_id < $DocCap, got ("),
        col("doc_id"), lit(", "), col("pos"), lit(")"))).cast("long"))
      .otherwise(col("doc_id") * PosCap + col("pos"))

  /** Non-first occurrences of duplicated spans within one corpus (the
    * sortless aggregate dup-marking — see [[exactSubstrDedup]] step 2).
    *
    * The anchor subtree is deliberately NOT persisted even though both the
    * aggregate build side and the join probe side recompute it (the final
    * adaptive plan shows two tokenize→span_md5s→posexplode pipelines).
    * Unlike the minhash bands / multimodal signature caches — a few short
    * rows per doc — the anchor set is one 32-byte hash PER TOKEN POSITION,
    * i.e. several times the corpus itself, while the recompute is one
    * narrow scan, one tokenize and one span_md5s pass (one digest per
    * position, no per-position string). At 100 TB caching it costs far
    * more than the second pass it would save; recompute is the
    * scale-correct trade here. */
  private def substrBatchDups(anchors: DataFrame): DataFrame = {
    val dupFirsts = anchors
      .groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"), min(packedFirst).as("first_packed"))
      .where(col("cnt") > 1)
    // Probe side re-packs without the guard arm: any out-of-range row is
    // in BOTH subtrees (anchors is recomputed, not persisted), so the
    // aggregate build is guaranteed to raise before a result can commit.
    anchors.join(dupFirsts, "h")
      .where(col("doc_id") * PosCap + col("pos") =!= col("first_packed"))
  }

  /** Rebuild each document keeping exactly the tokens no duplicate span
    * covers: the (doc_id, pos) duplicate starts collect per document and
    * one [[TextFns.spanKeep]] pass turns them into (n_removed,
    * clean_text). A document with no duplicate span misses the left join
    * and keeps every token. */
  private def substrRebuild(toks: DataFrame, dups: DataFrame,
      spanTokens: Int): DataFrame = {
    val starts = dups.groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("starts"))
    // Staged, not a plain projection: the kernel then runs once per row
    // for both fields, and the rebuild stays in every plan of this frame.
    // As a projection a bare count() prunes it, and with it the whole
    // dup-marking join (starts is unique per doc_id), so a count would
    // no longer measure the dedup.
    Stage(toks.join(starts, Seq("doc_id"), "left"), "kept",
      TextFns.spanKeep(col("w"),
        coalesce(col("starts"), array().cast("array<int>")), spanTokens))
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        col("kept.n_removed"), col("kept.clean_text"))
  }

  /** The persistable SPAN INDEX of a corpus: its distinct k-token shingle
    * hashes — what a daily pipeline stores (one 32-byte value per distinct
    * span) so tomorrow's batch can excise spans already seen in ALL of
    * history without rescanning a single historical text. The hash alone
    * suffices: every historical occurrence precedes every new one, so a
    * history hit means "not the global first" for EVERY new occurrence. */
  def spanIndex(documents: DataFrame, spanTokens: Int = 10): DataFrame = {
    require(spanTokens > 0, s"need spanTokens > 0, got $spanTokens")
    substrAnchors(substrToks(documents), spanTokens).select(col("h")).distinct()
  }

  /** [[exactSubstrDedup]] of a NEW batch, incrementally: a span is excised
    * when it already exists in the persisted history [[spanIndex]] (ANY
    * new occurrence — history always wins) or is a non-first duplicate
    * within the batch itself. The asymmetric daily-crawl shape: the batch
    * (small) anchors semi-join the index (huge) on the 32-byte hash — one
    * equi-join, history texts never rescanned, index never rewritten; after
    * the run, append `spanIndex(newDocs)` to the store (idempotent — the
    * index is a distinct set). */
  def exactSubstrDedupIncremental(newDocs: DataFrame, historyIndex: DataFrame,
      spanTokens: Int = 10,
      historySpanBloom: Option[Array[Byte]] = None): DataFrame = {
    require(spanTokens > 0, s"need spanTokens > 0, got $spanTokens")
    val toks = substrToks(newDocs)
    val anchors = substrAnchors(toks, spanTokens)
    // A persisted bloom over the index (Dedup.buildHashBloom on `h`)
    // prefilters the batch side MAP-SIDE: most of a genuinely-novel
    // batch's spans don't exist in history, and the semi-join would drop
    // bloom-negative anchors anyway, so the filter is exact — false
    // positives just proceed to the join and match nothing. Same contract
    // as minhashCandidatesIncremental's band bloom.
    val probed = historySpanBloom.fold(anchors)(bloom =>
      anchors.where(Dedup.mightContainHash(bloom, col("h"))))
    val histHits = probed.join(
      historyIndex.select(col("h")), Seq("h"), "left_semi")
    val dups = substrBatchDups(anchors).select(col("doc_id"), col("pos"))
      .unionByName(histHits.select(col("doc_id"), col("pos")))
    substrRebuild(toks, dups, spanTokens)
  }

  /** Per-document TF-IDF top-k terms. The rank key is
    * `score_ppm = (tf * 1e6) div (df + 1)` — an exact integer encoding of
    * the tf/(df+1) order (the corpus-size factor of idf is a per-corpus
    * constant and cannot reorder terms within a document), so ranking is
    * bit-identical cross-engine with no float log anywhere. Plan: explode →
    * two hash aggregates (map-side partials shrink the shuffle to
    * |doc×vocab| then |vocab|) → join on term (vocab side is small after
    * aggregation — AQE broadcasts it) → per-doc rank-limit window
    * (WindowGroupLimit). */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    val toks = Stage(documents.select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text")))
    val tf = toks.select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(docFreq, "term")
      .withColumn("score_ppm", expr("(tf * 1000000) div (df + 1)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score_ppm").desc, col("term"))))
      .where(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score_ppm"), col("rnk").cast("long").as("rnk"))
  }

  /** Deterministic output sharding for training-data writes: shard =
    * md5-uniform(doc_id) mod nShards — the same portable-hash idiom as
    * mixtureSample / f_hash_sample, so growing the corpus never moves an
    * already-written document between shards. The write path repartitions
    * on `shard`; [[shardStats]] is the balance audit. */
  def assignShards(documents: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, s"need nShards > 0, got $nShards")
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("long")
    documents.withColumn("shard", pmod(u, lit(nShards.toLong)))
  }

  /** Per-shard balance audit over [[assignShards]]: doc count, token
    * budget, and source spread per shard. One hash aggregate with map-side
    * partials — output cardinality is nShards. */
  /** Compressibility quality signal — the DEFLATE entropy proxy (see
    * [[graft.functions.CompressFns]]): `compress_bp` = deflated bytes per
    * 10000 raw bytes. Natural prose lands ~4000–6000, pathological
    * repetition a few hundred, random noise ~10000+ — the gate that
    * catches keyword-stuffed/boilerplate junk length heuristics miss.
    * Narrow per-row codegen work (native [[graft.plans.DeflateLen]]), no
    * shuffle; thresholding is the caller's policy. Exact deflate lengths
    * are run-deterministic but not cross-engine constants, so the
    * registered query (`text_compress`) oracles INVARIANTS and
    * `CompressFnsSpec` pins the real orderings. */
  def compressionSignal(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftBridge
    def dl(c: Column): Column =
      GraftBridge.column(graft.plans.DeflateLen(GraftBridge.expression(c)))
    documents.select(col("doc_id"),
        octet_length(col("text")).cast("long").as("raw_bytes"),
        dl(col("text")).cast("long").as("deflate_bytes"))
      .withColumn("compress_bp",
        expr("deflate_bytes * 10000 div greatest(raw_bytes, 1)"))
  }

  /** The card's doc-level measurement chain (staged tokenize → BPE →
    * model-lang, all narrow), shared by [[datasetCard]] and
    * [[datasetCardState]]. Persisted because it feeds TWO aggregates
    * (per-source and per-(source, lang)) — without it the tokenize/BPE/
    * model work runs per branch (round-10 review; the
    * curateSurvivorsFrom CacheManager rationale: one keyed entry per
    * input plan, LRU-evictable, no text beyond the projected columns). */
  private def cardPerDoc(documents: DataFrame, cache: Boolean = true): DataFrame = {
    val toks = Stage(documents.select(col("doc_id"), col("source"), col("text")),
      "w", TextFns.tokens(col("text")))
    val bpe = Stage(toks, "bpe", graft.functions.Bpe.encode(col("w")))
      .select(col("doc_id"), col("source"), col("text"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text")).as("tmd5"),
        TextFns.basisPoints(
          TextFns.qualityScoreFromTokens(col("text"), col("w"))).as("quality_bp"),
        size(col("bpe")).cast("long").as("n_bpe"))
    val perDoc = withModelLang(bpe).drop("text")
    // cache=false for per-micro-batch callers (the streaming card sink):
    // CacheManager keys on the plan, and every micro-batch is a fresh
    // LogicalRDD — caching there would pin one dead entry per batch
    // forever; recomputing the narrow chain twice per bounded batch is
    // the cheaper side of that trade.
    if (cache) perDoc.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else perDoc
  }

  /** Dataset card — the per-source datasheet a corpus release ships
    * (datasheets-for-datasets shape): doc/char counts, REAL BPE token
    * totals, integer mean quality, exact-dup rate, and the model-language
    * mode with its share. Everything integral (div / basis points) ⇒
    * hash-exact cross-engine. One doc-level pass (staged tokenize → BPE →
    * model-lang chain, all narrow), then two dimension-sized aggregates
    * (per source, per (source, lang)) and a broadcast-sized join — output
    * is #sources rows however big the corpus. */
  def datasetCard(documents: DataFrame): DataFrame = {
    val perDoc = cardPerDoc(documents)
    val agg = perDoc.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_bpe")).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"),
      sum(col("quality_bp")).as("sum_q"),
      countDistinct(col("tmd5")).as("n_distinct"))
    val topLang = perDoc.groupBy(col("source"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("n").desc, col("predicted_lang"))))
      .where(col("rn") === 1)
      .select(col("source"), col("predicted_lang").as("top_lang"), col("n"))
    agg.join(topLang, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("sum_q div n_docs").as("mean_quality_bp"),
        expr("(n_docs - n_distinct) * 10000 div n_docs").as("dup_bp"),
        col("top_lang"),
        expr("n * 10000 div n_docs").as("top_lang_share_bp"))
  }

  /** HLL precision for the card's mergeable distinct-text sketch
    * (datasketches lgConfigK; rsd = 1.04/√2^K ≈ 1.6%). */
  private[graft] val CardHllLgK = 12

  /** The documented estimate envelope vs exact distinct, DERIVED from the
    * configured precision (3σ, ceil'd to whole percent — the round-8
    * advice pattern: never hard-code a bound the rsd doesn't justify). */
  private[graft] val CardHllBoundPct: Int =
    math.ceil(3 * 104.0 / math.sqrt((1 << CardHllLgK).toDouble)).toInt

  /** Mergeable dataset-card STATE, one row per source: every component is
    * a monoid — doc/char/token/quality counts (sums), distinct texts as a
    * datasketches HLL sketch (binary, union-mergeable, [[CardHllLgK]]),
    * and the language histogram as a sorted-entry map (merged by entry
    * sum). This is the 100 TB card shape: each shard/day/stream-batch
    * writes its own tiny state (#sources rows), and the corpus-wide card
    * is [[mergeCardStates]] + [[cardFromState]] over states — the corpus
    * is never rescanned. Exact-dup rate is the one field that degrades to
    * an estimate (±[[CardHllBoundPct]]% of exact, 3σ): a mergeable exact
    * distinct would mean shipping every text hash. */
  def datasetCardState(documents: DataFrame,
      cache: Boolean = true): DataFrame = {
    val perDoc = cardPerDoc(documents, cache)
    val scalars = perDoc.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_bpe")).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"),
      sum(col("quality_bp")).as("sum_q"),
      hll_sketch_agg(col("tmd5"), CardHllLgK).as("distinct_hll"))
    val langs = perDoc.groupBy(col("source"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("predicted_lang"), col("n"))))).as("langs"))
    scalars.join(langs, "source")
  }

  /** n-way state merge: union the state rows, re-reduce per source. Each
    * component merges by its own monoid (sum / HLL union / histogram
    * entry sum); associative and commutative, so any merge tree — two
    * batches, a day of stream micro-batches, a thousand shards — yields
    * the same scalar fields, and HLL-identical registers for the same
    * input multiset. */
  def mergeCardStates(states: DataFrame): DataFrame = {
    val scalars = states.groupBy(col("source")).agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"),
      sum(col("sum_q")).as("sum_q"),
      hll_union_agg(col("distinct_hll"), lit(false)).as("distinct_hll"))
    val langs = states
      .select(col("source"), explode(col("langs")).as(Seq("lang", "n")))
      .groupBy(col("source"), col("lang")).agg(sum(col("n")).as("n"))
      .groupBy(col("source"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("lang"), col("n"))))).as("langs"))
    scalars.join(langs, "source")
  }

  def mergeCardStates(a: DataFrame, b: DataFrame): DataFrame =
    mergeCardStates(a.unionByName(b))

  /** Derive the publishable card from a (merged) state. Scalar fields are
    * EXACTLY the [[datasetCard]] values; the dup rate is the HLL estimate
    * (`n_distinct_est`, `dup_est_bp`) with the [[CardHllBoundPct]]%
    * envelope vs exact. */
  def cardFromState(state: DataFrame): DataFrame = {
    val top = state
      .select(col("source"), explode(col("langs")).as(Seq("lang", "n")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("n").desc, col("lang"))))
      .where(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("n"))
    state.join(top, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("sum_q div n_docs").as("mean_quality_bp"),
        round(hll_sketch_estimate(col("distinct_hll"))).cast("long")
          .as("n_distinct_est"),
        col("top_lang"),
        expr("n * 10000 div n_docs").as("top_lang_share_bp"))
      .withColumn("dup_est_bp",
        expr("greatest(n_docs - n_distinct_est, 0L) * 10000 div n_docs"))
  }

  def shardStats(documents: DataFrame, nShards: Int = 8): DataFrame =
    assignShards(documents, nShards)
      .select(col("shard"), col("source"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        countDistinct(col("source")).as("n_sources"))

  /** Deterministic feature-hashing document embedder (the hashing trick,
    * Weinberger et al. 2009 — public algorithm): token t adds
    * sign(t) ∈ {−1, +1} to dimension h(t) mod dim, giving an integer
    * vector whose cosine geometry approximates token-multiset similarity.
    * This is the stand-in for a MODEL embedder, wired like production
    * (output schema matches the embeddings table modulo element type): the
    * Spark-side plumbing — staged tokenize, per-token hash materialized
    * once, one narrow fold, zero shuffle — is the real part; only the
    * per-token vector is a hash instead of a learned row. All-md5 hashing
    * keeps it bit-identical cross-engine, so the WHOLE embed step is
    * oracle-checkable (unlike a float model). */
  def embedDocuments(documents: DataFrame, dim: Int = 16): DataFrame = {
    require(dim > 0, s"need dim > 0, got $dim")
    val toks = Stage(documents.select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text")))
    // fused native kernel (r16): hash + bucket + sign + fold in ONE pass
    // over the tokens — the per-token hash-struct transform plus the
    // dim×|tokens| fold it replaced was the hottest text HOF site
    // (11.25 s in the r16 text-HOF profile, NOTES.md r16). Bit-identical
    // ([[embedDocumentsHof]] kept for the parity suite).
    toks.select(col("doc_id"), TextFns.featEmbed(col("w"), dim).as("embedding"))
  }

  /** The pre-r16 HOF form of [[embedDocuments]] — parity-spec reference
    * only (the DuckDB oracles mirror this form's arithmetic). */
  private[graft] def embedDocumentsHof(documents: DataFrame, dim: Int = 16): DataFrame = {
    require(dim > 0, s"need dim > 0, got $dim")
    val toks = Stage(documents.select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text")))
    val hashed = Stage(toks, "th", transform(col("w"), t => {
      val h = TextFns.md5Base28(md5(t))
      struct(pmod(h, lit(dim)).cast("int").as("b"),
        (pmod((h / dim).cast("long"), lit(2)) * 2 - 1).as("s"))
    }))
    hashed.select(col("doc_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        aggregate(col("th"), lit(0L), (acc, p) =>
          acc + when(p.getField("b") === i, p.getField("s")).otherwise(0L)))
        .as("embedding"))
  }

  /** Intra-document repetition stats — the classic repetition quality
    * filters (duplicate n-gram fraction, most-frequent-n-gram fraction; cf.
    * the Gopher/MassiveText repetition rules): per document, the total /
    * distinct / most-frequent n-gram shingle counts, with the two fractions
    * as basis-point floors (the portable cross-engine form for rational
    * ratios — see [[docStats]]). One explode + two hash aggregates, both
    * with map-side partials; every document appears ([[TextFns.shingles]]
    * falls back to a single whole-text shingle below n tokens). */
  def repetitionStats(documents: DataFrame, n: Int = 3): DataFrame = {
    val toks = Stage(documents.select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text")))
    val sh = Stage(toks.select(col("doc_id"), col("w")),
      "sh", TextFns.shingles(col("w"), n))
    sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .groupBy(col("doc_id"), col("s")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_shingles"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_n"))
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"), col("top_n"),
        TextFns.basisPoints(lit(1.0) - col("n_distinct") / col("n_shingles"))
          .as("dup_bp"),
        TextFns.basisPoints(col("top_n") / col("n_shingles"))
          .as("top_frac_bp"))
  }

  /** Benchmark decontamination — flag training documents that share at
    * least `minShared` DISTINCT n-gram shingles with any benchmark/eval
    * document (the standard leakage check before training). The benchmark
    * side is an eval set — small by nature — so its (shingle, bench_id)
    * table is broadcast and the whole check is one broadcast hash join +
    * hash aggregate, linear in corpus size with no shuffle of the corpus
    * shingles. Output: (doc_id, bench_id, shared_shingles), one row per
    * contaminated (train, bench) pair. */
  def contamination(documents: DataFrame, benchmark: DataFrame, n: Int = 3,
      minShared: Int = 2): DataFrame = {
    def distinctShingles(df: DataFrame, idAs: String): DataFrame = {
      val toks = Stage(df.select(col("doc_id"), col("text")),
        "w", TextFns.tokens(col("text")))
      Stage(toks.select(col("doc_id"), col("w")),
        "sh", TextFns.shingles(col("w"), n))
        .select(col("doc_id").as(idAs),
          explode(array_distinct(col("sh"))).as("s"))
    }
    distinctShingles(documents, "doc_id")
      .join(broadcast(distinctShingles(benchmark, "bench_id")), "s")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .where(col("shared_shingles") >= minShared)
  }

  /** Deterministic mixture sampling — per-source keep rates (the
    * source-weighting step of training-mix construction): a document
    * survives iff its md5-uniform (24 bits of md5(doc_id), the same
    * seeded-PRNG stand-in as f_hash_sample / trainSplit) falls below its
    * source's rate. Pure projection + filter: reproducible across runs,
    * partitionings and engines, and growing the corpus never resamples
    * existing documents. Sources absent from `rates` get `defaultRate`. */
  /** PII scrub (training-corpus hygiene): redact every
    * [[TextFns.PiiPatterns]] match in `textCol` and emit per-pattern match
    * counts next to the scrubbed text. Purely narrow per-row regex work —
    * three codegen'd regexp_replace + three regexp_extract_all — so the
    * scrub streams over a 100 TB scan with no shuffle and composes with
    * predicate pushdown on the other columns. */
  def piiRedact(documents: DataFrame, textCol: String = "text"): DataFrame = {
    val counts = TextFns.PiiPatterns.map { case (label, pat, _) =>
      TextFns.piiCount(col(textCol), pat).as(s"n_${label}s")
    }
    documents.select(
      (col("doc_id") +: counts :+ TextFns.redactPii(col(textCol)).as("redacted")): _*)
  }

  /** Gopher-style cheap quality gate (Rae et al. 2021, appendix A —
    * adapted to the whitespace tokenizer): per-rule integer flags plus the
    * composite `keep`, all narrow per-row expressions (no shuffle) so the
    * gate runs inside the scan stage of a 100 TB pipeline. Rules:
    *   ok_len       — token count within [minTokens, maxTokens];
    *   ok_word_len  — mean word length within [3, 10] chars, tested as
    *                  exact integer cross-multiplication (3·n ≤ Σlen ≤
    *                  10·n) so no float division can split the engines;
    *   ok_stopword  — at least one English stop/marker word present;
    *   ok_alpha     — alphabetic chars ≥ 70% of characters (10·alpha ≥
    *                  7·chars, same exact-rational trick).
    * Flags are INT 0/1 (portable hashing) and `keep` is their conjunction. */
  def qualityRules(documents: DataFrame, minTokens: Int = 10,
      maxTokens: Int = 100000, carry: Seq[String] = Nil): DataFrame = {
    val keep = carry.map(col)
    val m = qualityMetrics(documents, keep)
    val okLen = col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens
    val okWordLen = col("n_tokens") > 0 &&
      col("sum_wlen") >= col("n_tokens") * 3 &&
      col("sum_wlen") <= col("n_tokens") * 10
    val okStopword = col("stop_hits") >= 1
    val okAlpha = col("n_alpha") * 10 >= col("n_chars") * 7
    m.select(keep ++ Seq(col("doc_id"), col("n_tokens"),
      okLen.cast("int").as("ok_len"),
      okWordLen.cast("int").as("ok_word_len"),
      okStopword.cast("int").as("ok_stopword"),
      okAlpha.cast("int").as("ok_alpha"),
      (okLen && okWordLen && okStopword && okAlpha).cast("int").as("keep")): _*)
  }

  /** Shared per-document metric extraction for the rule- and model-based
    * quality gates: token count, summed word length, English stop-hits,
    * alphabetic char count, char count — all integral, all narrow. */
  private def qualityMetrics(documents: DataFrame, keep: Seq[Column]): DataFrame = {
    val toks = Stage(documents.select(Seq(col("doc_id"), col("text")) ++ keep: _*),
      "w", TextFns.tokens(col("text")))
    toks.select(keep ++ Seq(col("doc_id"),
      size(col("w")).cast("long").as("n_tokens"),
      length(array_join(col("w"), "")).cast("long").as("sum_wlen"),
      TextFns.markerHits(col("w"), TextFns.LangMarkers.head._2)
        .cast("long").as("stop_hits"),
      regexp_count(col("text"), lit("[A-Za-z]")).cast("long").as("n_alpha"),
      length(col("text")).cast("long").as("n_chars")): _*)
  }

  /** Model-based quality gate: a fixed-weight linear classifier over the
    * [[qualityRules]] metrics — the engine-side half of the
    * quality-classifier stage modern pretraining pipelines run after the
    * hard rules (fastText/logreg-style; weights come from offline training,
    * scoring is what has to scale). Features are integral scaled ratios
    * (floor-div with guarded denominators) and the logit is pure integer
    * arithmetic, so the score is bit-identical cross-engine; the gate is
    * `logit > 0` ⇔ sigmoid(logit) > ½ — no exp(), hence no float
    * divergence between engines. Narrow per-row math inside whole-stage
    * codegen; no shuffle — composes with [[qualityRules]] in the scan
    * stage of a 100 TB pipeline. */
  def qualityModelScore(documents: DataFrame,
      carry: Seq[String] = Nil): DataFrame =
    qualityMetrics(documents, carry.map(col))
      .select(carry.map(col) ++ Seq(col("doc_id"), col("n_tokens"),
        expr("sum_wlen * 100 div greatest(n_tokens, 1)").as("wlen_x100"),
        expr("stop_hits * 1000 div greatest(n_tokens, 1)").as("stop_x1000"),
        expr("n_alpha * 1000 div greatest(n_chars, 1)").as("alpha_x1000")): _*)
      .withColumn("logit",
        lit(-2600L) + lit(6L) * col("stop_x1000") + lit(3L) * col("alpha_x1000")
          - lit(4L) * abs(col("wlen_x100") - 450) - lit(5L) * abs(col("n_tokens") - 55))
      .withColumn("keep", (col("logit") > 0).cast("int"))

  /** Curriculum bucketing: per-source quality-ordered n-tiles over the
    * [[qualityModelScore]] logit (bucket 1 = the source's highest-quality
    * slice) — the training-order construction step (quality-first
    * curricula, or bucket-stratified shuffling). Per-SOURCE windows keep
    * the sort parallel across sources; a single giant source degenerates
    * to one globally-sorted partition — at that shape use a range
    * partitioner (`Layout.compactShape` territory) or threshold-based
    * assignment instead. Total ordering (logit desc, doc_id) makes every
    * bucket assignment deterministic and cross-engine exact. */
  def curriculumBuckets(documents: DataFrame, nBuckets: Int = 10): DataFrame =
    qualityModelScore(documents, carry = Seq("source"))
      .withColumn("bucket", ntile(nBuckets).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("logit").desc, col("doc_id"))))
      .select(col("doc_id"), col("source"), col("logit"), col("bucket"))

  /** Windowed corpus-quality drift monitor: per (event-time window, source),
    * document volume, keep rate in basis points, and per-rule failure
    * counts — the dashboard feed that catches an upstream crawler change
    * (or a single source going bad) while the batch is still landing.
    *
    * Pure composition of [[qualityRules]] (narrow, runs unchanged on a
    * stream) with a watermarked window aggregate, so the SAME code serves
    * batch backfill and `readStream` monitoring; StreamingSpec pins
    * stream == batch. keep_bp is integral (sum·10000 div count). State at
    * scale: one row per (window, source) within the watermark horizon —
    * independent of document volume. */
  def qualityDrift(documents: DataFrame, eventTime: String, delay: String,
      windowDur: String, minTokens: Int = 10,
      maxTokens: Int = 100000, sourceCol: String = "source"): DataFrame = {
    val flagged = qualityRules(documents, minTokens, maxTokens,
      carry = Seq(eventTime, sourceCol))
    flagged
      .withWatermark(eventTime, delay)
      .groupBy(window(col(eventTime), windowDur).as("w"), col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep")).as("n_keep"),
        sum(lit(1) - col("ok_len")).as("n_fail_len"),
        sum(lit(1) - col("ok_word_len")).as("n_fail_word_len"),
        sum(lit(1) - col("ok_stopword")).as("n_fail_stopword"),
        sum(lit(1) - col("ok_alpha")).as("n_fail_alpha"),
        sum(col("n_tokens")).as("n_tokens"))
      .select(col("w.start").as("window_start"), col(sourceCol),
        col("n_docs"), col("n_keep"),
        expr("n_keep * 10000 div n_docs").as("keep_bp"),
        col("n_fail_len"), col("n_fail_word_len"),
        col("n_fail_stopword"), col("n_fail_alpha"), col("n_tokens"))
  }

  /** Token-budget mixture: per source, keep documents in portable
    * md5-uniform order until the source's TOKEN budget is exhausted (greedy
    * prefix, no overshoot: a doc is kept iff the running total INCLUDING it
    * stays ≤ budget). The deterministic hash order makes re-runs bit-stable;
    * unlike [[mixtureSample]]'s rate form, growing the corpus can change
    * the kept set (new docs land anywhere in hash order) — that is inherent
    * to budget semantics, not an implementation artifact.
    *
    * Scale design: a naive per-source running sum is a window partitioned
    * by `source` — at 5 sources that is 5 active partitions no matter how
    * many executors exist. Instead: bucket each doc by its first md5 byte
    * (bucket is a PREFIX of the order key, so (bucket, u) order ≡ u order),
    * aggregate per-(source, bucket) token totals (tiny: |sources|·256
    * rows), prefix-sum those on the tiny side, broadcast back, and run the
    * exact running sum only WITHIN each (source, bucket) — 256-way
    * parallelism, bit-identical result to the naive global window.
    *
    * The totals pre-pass and the main pass each scan (and tokenize) the
    * input once; at cluster scale persist the projected input, or feed the
    * pre-pass from an existing per-source stats table, to pay the scan
    * once. (Locally the second scan is the cold-JIT cost of the md5/conv
    * codegen, not I/O — 7.4 s cold vs 1.3 s warm at sf0.1.) */
  def tokenBudgetSample(documents: DataFrame, budgets: Map[String, Long],
      defaultBudget: Long = 0L): DataFrame = {
    require((budgets.values ++ Seq(defaultBudget)).forall(_ >= 0),
      "budgets must be >= 0")
    val budget = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
      case (acc, (src, b)) => when(col("source") === src, lit(b)).otherwise(acc)
    }
    val base = documents.select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("u"),
        // budgets are model-token budgets → count REAL BPE tokens.
        Bpe.tokenCount(col("text")).cast("long").as("n_tokens"),
        budget.as("budget"))
      .withColumn("bucket", conv(substring(col("u"), 1, 2), 16, 10).cast("int"))
    val prefixes = base.groupBy(col("source").as("p_source"), col("bucket").as("p_bucket"))
      .agg(sum(col("n_tokens")).as("btot"))
      .withColumn("prefix_toks", coalesce(
        sum(col("btot")).over(Window.partitionBy(col("p_source"))
          .orderBy(col("p_bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("btot")
    val cumIn = sum(col("n_tokens")).over(
      Window.partitionBy(col("source"), col("bucket"))
        .orderBy(col("u"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    base.join(broadcast(prefixes),
        col("source") === col("p_source") && col("bucket") === col("p_bucket"))
      .withColumn("cum_toks", col("prefix_toks") + cumIn)
      .where(col("cum_toks") <= col("budget"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_toks"))
  }

  /** Training-mixture epoch upsampling: per-source FRACTIONAL epoch counts
    * (the data-recipe knob — e.g. 2.5 epochs of a high-quality source =
    * every doc twice plus a deterministic 50% of docs a third time). Full
    * copies come from `explode(sequence(1, n))`; the fractional copy keeps
    * docs by the same md5-uniform membership idiom as [[mixtureSample]], so
    * growth never resamples and reruns are bit-identical. Narrow per-row
    * explode — upsampling happens in the scan stage, no shuffle; the
    * `epoch` column lets the trainer interleave copies instead of
    * replaying a source back-to-back. */
  def epochUpsample(documents: DataFrame, epochs: Map[String, Double],
      defaultEpochs: Double = 1.0): DataFrame = {
    require((epochs.values ++ Seq(defaultEpochs)).forall(e => e >= 0 && e <= 100),
      "epoch counts must be in [0, 100]")
    val e = epochs.toSeq.sortBy(_._1).foldLeft(lit(defaultEpochs)) {
      case (acc, (src, v)) => when(col("source") === src, lit(v)).otherwise(acc)
    }
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("double") / lit(16777216.0)
    val n = (floor(e).cast("int") +
      when(u < e - floor(e), lit(1)).otherwise(lit(0))).as("n_copies")
    documents.withColumn("n_copies", n)
      .where(col("n_copies") > 0)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), col("n_copies"))).as("epoch"))
  }

  def mixtureSample(documents: DataFrame, rates: Map[String, Double],
      defaultRate: Double = 0.0): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "rates must be in [0, 1]")
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("double") / lit(16777216.0)
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (src, r)) => when(col("source") === src, lit(r)).otherwise(acc)
    }
    documents.where(u < rate)
  }

  /** Temperature (inverse-√) source rebalancing — the multilingual /
    * multi-source mixture standard (α = ½ exponent-smoothed source
    * distribution, the XLM/mT5 family of temperature sampling): source s
    * keeps each doc with rate k/√T_s where T_s is its REAL BPE token
    * total, so oversized sources downsample ∝ 1/√size and the
    * post-sample token mass follows √T_s — flattened without discarding
    * small sources (rates ≥ 1 keep everything). Unlike [[mixtureSample]]
    * (fixed rates: growth-stable), a source's own growth legitimately
    * lowers its rate — that is the semantics of size-based temperature.
    *
    * Cross-engine exactness without integers: √ and ÷ are
    * correctly-rounded IEEE-754 ops, and the operands are exact (integer
    * token totals < 2⁵³, the md5 coin an exact dyadic rational), so the
    * keep decision is bit-identical in Spark and DuckDB — the same
    * argument as `qualityScore`'s float products. One token-count
    * aggregate (dimension-sized, broadcast back), then a narrow per-row
    * gate. */
  def temperedSample(documents: DataFrame, k: Double): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val totals = documents
      .select(col("source"), Bpe.tokenCount(col("text")).cast("long").as("nb"))
      .groupBy(col("source")).agg(sum(col("nb")).as("tok_source"))
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
      .cast("double") / lit(16777216.0)
    documents.join(broadcast(totals), "source")
      .select(col("doc_id"), col("source"), col("tok_source"),
        (u < lit(k) / sqrt(col("tok_source").cast("double")))
          .cast("int").as("keep"))
  }
}
