package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.plans.Stage

/** Sparse lexical retrieval — the inverted-index/BM25 tier of a training
  * -data pipeline (benchmark-contamination lookup, RAG corpus probes,
  * quality-by-query auditing). The reference has no retrieval surface;
  * this is an engine extension in the TextAnalysis charter (SURVEY.md
  * §2.10), complementing the dense ANN family in [[Similarity]].
  *
  * Scoring is INTEGER BM25 (Robertson-Spärck Jones k1/b in basis points,
  * floor division at every step) so results are bit-exact across engines
  * — the same no-float discipline as qualityModelScore / LangIdModel.
  * The idf is the rational surrogate `(N − df) · 10⁴ // (df + 1)` —
  * monotone in df like the log idf, but exactly representable; document
  * the constant when comparing scores across corpora.
  *
  * Scale posture: postings and df are ONE map-side-combinable aggregation
  * each over the exploded corpus (the index build — at 100 TB these are
  * the persisted index tables, built once); a query batch touches only
  * the postings of its own terms (query terms broadcast onto the
  * postings shuffle), so query cost is candidate-sized, never
  * corpus-sized. No driver-side collect anywhere.
  *
  * CACHE-OWNERSHIP CONTRACT: the multi-consumer operators in this family
  * — [[bm25TopK]], [[bm25FieldedTopK]], [[bm25PrfTopK]] (postings AND
  * its 1-row stats frame), [[bm25TopKIndexed]] (its candidate frame —
  * keyed per query batch, see its note), [[contrastiveTriplets]] (its
  * ranked input), [[proximitySearch]] /
  * [[proximitySearchIndexed]], and [[graft.operators.Similarity]]'s
  * semanticDedup* siblings — `persist(MEMORY_AND_DISK)` an internal
  * index/candidate frame that their result plan consumes more than once
  * (a shared LAZY subtree does not dedupe — column pruning diverges the
  * consumers and ReusedExchange never fires, re-exploding the corpus;
  * measured round 10). The entries are keyed by canonicalized plan, so
  * repeated calls on the same input reuse ONE entry, and the cached
  * postings ARE the production index artifact. But they are never
  * unpersisted here: the operator cannot know when the caller has
  * finished consuming the (lazy) result. A LONG-LIVED session cycling
  * through many distinct corpora therefore accumulates one LRU-evictable
  * entry per distinct input plan; reclaim eagerly with
  * `spark.catalog.clearCache()` between corpora, or persist the index
  * frames yourself ([[termIndex]] / [[positionalIndex]] / [[postings]])
  * and manage their lifecycle — the `*Indexed` entry points take any
  * pre-built index frame.
  */
object Retrieval {

  /** BM25 k1 = 1.2 in basis points. */
  val K1Bp = 12000L
  /** BM25 b = 0.75 in basis points. */
  val BBp = 7500L

  /** Inverted-index postings: one row per (term, doc) with term frequency
    * and document length — `(term, doc_id, tf, dl)`. One explode + one
    * partial-aggregated shuffle; `dl` rides in the grouping key (constant
    * per doc) so no second pass joins it back. */
  def postings(docs: DataFrame): DataFrame =
    // null text ≡ empty text (coalesce BEFORE tokenizing): tokens(null)
    // is null, and while explode(null) happens to drop the row anyway,
    // the stats side would count size(null) = -1 under Spark's legacy
    // sizeOfNull — the one null-text doc per million that silently skews
    // every other doc's length norm (review r12). One convention, both
    // sides: a null-text doc contributes zero postings and zero tokens
    // but still counts in n_docs.
    Stage(docs.select(col("doc_id"), col("text")),
        "w", TextFns.tokens(coalesce(col("text"), lit(""))))
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** Document-frequency + term-frequency index per term — the mergeable
    * index table `(term, df, tf_sum)`. Additive across DISJOINT document
    * batches (df counts docs, so batches must partition the corpus). */
  def termIndex(docs: DataFrame): DataFrame =
    postings(docs).groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_sum"))

  /** Monoid merge of [[termIndex]] frames from disjoint doc batches.
    * Also merges [[fieldedTermIndex]] frames — same (term, df, tf_sum)
    * shape, same additivity. */
  def mergeTermIndex(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("term"))
      .agg(sum(col("df")).as("df"), sum(col("tf_sum")).as("tf_sum"))

  /** The token-occurrence relation (doc_id, pos, term), pos 0-based —
    * the shared explode feeding the positional tier. */
  private def tokenOccurrences(docs: DataFrame): DataFrame =
    Stage(docs.select(col("doc_id"), col("text")),
        "w", TextFns.tokens(coalesce(col("text"), lit(""))))
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "term")))

  /** POSITIONAL index: one row per (term, doc_id) with the sorted
    * 0-based position array — the persisted artifact for the phrase/
    * proximity tier (at 100 TB this is the index table, built once per
    * corpus; query batches read it instead of re-exploding documents).
    * One explode + one map-combinable aggregate, like [[postings]]. */
  def positionalIndex(docs: DataFrame): DataFrame =
    tokenOccurrences(docs)
      .groupBy(col("term"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))

  /** Monoid merge of [[positionalIndex]] frames. Disjoint doc batches
    * union trivially (no key collides); the regroup + flatten + sort
    * also absorbs a doc whose occurrences were split across states, so
    * the merge is associative and commutative unconditionally. Positions
    * are absolute within the doc, so no rebasing is ever needed. */
  def mergePositionalIndex(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("term"), col("doc_id"))
      .agg(sort_array(flatten(collect_list(col("positions"))))
        .as("positions"))

  /** DELTA-encoded positional index: each (term, doc_id) row's sorted
    * positions stored as first-position + gaps — the classic postings
    * compression step (Manning, Raghavan & Schütze, IIR §5): gaps are
    * small near-constant ints that parquet's bit-packed/RLE encodings
    * store far tighter than raising absolute positions, which is what
    * the artifact's storage bill is made of at 100 TB. Pure per-row
    * expressions, zero exchanges over an existing index. */
  def positionalIndexDelta(index: DataFrame): DataFrame =
    index.select(col("term"), col("doc_id"),
      transform(col("positions"), (p, i) =>
        // i is 0-based; element_at is 1-based, so element_at(ps, i) IS
        // the previous element — gap = p − prev, first kept absolute
        when(i === 0, p)
          .otherwise(p - element_at(col("positions"), i))).as("deltas"))

  /** Inclusive prefix sum over an `array<int>` column — the delta-decode
    * kernel, a native codegen loop ([[graft.plans.PrefixSumI]]): linear in
    * the array length (the HOF fold it replaced copied the accumulator
    * array per element — O(n²) per posting row; ADVICE r11). */
  private def prefixSumI(c: Column): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      graft.plans.PrefixSumI(
        org.apache.spark.sql.graftbridge.GraftBridge.expression(c)))

  /** Inverse of [[positionalIndexDelta]]: running prefix sums restore the
    * absolute positions (narrow, per-row, linear — [[prefixSumI]]). */
  def positionalIndexFromDelta(delta: DataFrame): DataFrame =
    delta.select(col("term"), col("doc_id"),
      prefixSumI(col("deltas")).as("positions"))

  /** A [[positionalIndex]] restricted to a term set and re-exploded to
    * the (doc_id, term, pos) occurrence shape the positional cores
    * consume — the read path of the persisted artifact: the broadcast
    * term filter lands on the INDEX rows, so only matching posting rows
    * ever explode their position arrays. */
  private def indexOccurrences(index: DataFrame,
      terms: DataFrame): DataFrame =
    index.join(broadcast(terms.select(col("term")).distinct()), "term")
      .select(col("doc_id"), col("term"),
        explode(col("positions")).as("pos"))

  /** [[indexOccurrences]] over a DELTA-encoded index — the direct read
    * path of the compressed artifact: the broadcast term filter lands on
    * the ENCODED rows, so only matching posting rows are ever decoded
    * (prefix-summed) and exploded; everything else stays gap-encoded on
    * disk. Decode is the linear [[prefixSumI]] kernel. */
  private def deltaOccurrences(delta: DataFrame,
      terms: DataFrame): DataFrame =
    delta.join(broadcast(terms.select(col("term")).distinct()), "term")
      .select(col("doc_id"), col("term"),
        explode(prefixSumI(col("deltas"))).as("pos"))

  /** The shared scoring core over ANY postings frame `(term, doc_id,
    * tf, dl)` + one-row stats `(n_docs, total_tokens)`: integer BM25
    * saturation/idf, sum per (query, doc), top-k per query. [[bm25TopK]]
    * feeds it plain postings; [[bm25FieldedTopK]] feeds FIELD-WEIGHTED
    * tf/dl (the BM25F construction: weight tf before saturation). */
  private def scoreTopK(post: DataFrame, stats: DataFrame,
      queries: DataFrame, k: Int, k1Bp: Long, bBp: Long,
      maxDfShareBp: Int = 10000): DataFrame =
    scoreTopKWeighted(post, stats,
      queries.select(col("query_id"), col("term"), lit(1L).as("wgt")),
      k, k1Bp, bBp, maxDfShareBp)

  /** [[scoreTopK]] over WEIGHTED query terms `(query_id, term, wgt)`:
    * a term's contribution is `wgt · idf_bp · sat_bp` — the relevance-
    * feedback form ([[bm25PrfTopK]] scores original terms above
    * expansion terms). wgt = 1 reduces to plain BM25 exactly.
    *
    * OVERFLOW HEADROOM (the score is a Long of basis-point products):
    * per (query, doc, term), `wgt · idf_bp · sat_bp` with
    * idf_bp ≤ (n_docs − 1)·10⁴ / 2 (df ≥ 1 for any posting) and
    * sat_bp < k1Bp + 10⁴ (= 2.2·10⁴ at the default k1), so a doc matching
    * all `t` terms of a query sums to < wgt · t · 1.1·10⁸ · n_docs. At the
    * PRF default wgt = 10 and t = 10 terms that crosses Long.MaxValue
    * around n_docs ≈ 8·10⁸ — i.e. the arithmetic is exact up to
    * ~10⁸-doc index SHARDS. Beyond that, partition the corpus into index
    * shards (n_docs, and therefore the bound, is per-shard — merging is
    * rank fusion, not score addition) rather than rescaling idf_bp, which
    * would silently change every published score. */
  private def scoreTopKWeighted(post: DataFrame, stats: DataFrame,
      queriesW: DataFrame, k: Int, k1Bp: Long, bBp: Long,
      maxDfShareBp: Int = 10000): DataFrame = {
    // STOPWORD GUARD: a query term with df ≈ N carries idf_bp ≈ 0 but
    // still joins its whole posting list — at corpus scale that is the
    // classic stopword candidate explosion. Pruning happens on the TINY
    // df-index side (before the broadcast), so the posting join never
    // materializes those candidates; at df = N the idf is exactly 0, so
    // pruning there is result-identical. Default 10000 bp = off.
    //
    // The df aggregate here is INDEX-WIDE by design: `post` is the
    // caller's persisted frame, so this is one map-combinable pass over
    // cached data, and a candidate-first variant inside THIS shared core
    // would make the term-filtered frame a second lazy multi-consumer —
    // the diverged-subtree re-explosion documented in the header
    // (measured r12: PRF ballooned 15 → 41 exchanges). The
    // candidate-first df lives where it belongs: [[bm25TopKIndexed]],
    // which term-filters ONCE and persists the candidate frame.
    val dfIdx = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val pruned =
      if (maxDfShareBp >= 10000) dfIdx
      // the SAME stats frame the scoring side broadcasts — a projected
      // copy would plan a second corpus-sized stats aggregate (the
      // subtrees diverge and ReusedExchange never fires; round-10 review)
      else dfIdx.crossJoin(broadcast(stats))
        .where(col("df") * 10000 <= col("n_docs") * maxDfShareBp)
        .select(col("term"), col("df"))
    val qdf = pruned
      .join(broadcast(queriesW
        .select(col("query_id"), col("term"), col("wgt"))), "term")
    val scored = post
      .join(broadcast(qdf), "term")
      .crossJoin(broadcast(stats))
      .withColumn("norm_bp", expr("dl * n_docs * 10000 div total_tokens"))
      .withColumn("xbp",
        expr(s"10000 - $bBp + ($bBp * norm_bp div 10000)"))
      .withColumn("denom", expr(s"tf * 10000 + ($k1Bp * xbp div 10000)"))
      .withColumn("sat_bp",
        expr(s"tf * (${k1Bp + 10000L}) * 10000 div denom"))
      .withColumn("idf_bp", expr("(n_docs - df) * 10000 div (df + 1)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(expr("wgt * idf_bp * sat_bp")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("score"),
        col("rnk").cast("int").as("rnk"))
  }

  /** Integer BM25 top-k: `queries` is the exploded query-term relation
    * (query_id, term); returns (query_id, doc_id, score, rnk) with the
    * k best docs per query, ties broken by doc_id (total order ⇒
    * hash-exact). All arithmetic is long basis points with floor
    * division, mirrored verbatim by the DuckDB oracle. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
      k1Bp: Long = K1Bp, bBp: Long = BBp,
      maxDfShareBp: Int = 10000): DataFrame = {
    // The postings frame is consumed twice (tf side + df side). A shared
    // lazy subtree does NOT dedupe here: column pruning drops the unused
    // count from the df branch's partial aggregate, the exchange subtrees
    // diverge, and ReusedExchange never fires — the corpus would explode
    // twice. Persisting is also the production posture: postings ARE the
    // index, materialized once (as a table at 100 TB; MEMORY_AND_DISK
    // here). CacheManager keys by canonicalized plan, so repeated
    // invocations on one sfDir share a single entry.
    val post = postings(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus stats re-scan the (column-pruned) text column once — cheaper
    // than a distinct-docs shuffle over the postings at corpus scale;
    // the SAME builder the persisted-stats artifact uses (corpusStats),
    // so the build path and the bm25TopKIndexed read path can never
    // drift apart (review r12). PERSISTED because the df-prune branch is
    // a SECOND consumer whose column pruning diverges the subtree
    // (count-only vs count+sum — ReusedExchange never fires, a second
    // corpus scan would run whenever pruning is on; review r12).
    val stats = corpusStats(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scoreTopK(post, stats, queries, k, k1Bp, bBp, maxDfShareBp)
  }

  /** The 1-row corpus-stats companion of [[postings]]: (n_docs,
    * total_tokens) — persist it NEXT TO the postings artifact (same
    * corpus pass contract), and the whole BM25 read path never touches
    * the documents again. */
  def corpusStats(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
      sum(size(TextFns.tokens(coalesce(col("text"), lit(""))))
        .cast("long")).as("total_tokens"))

  /** BM25 top-k over a PRE-BUILT postings index `(term, doc_id, tf, dl)`
    * plus its [[corpusStats]] frame — the READ path of the persisted
    * lexical artifact ([[bm25TopK]] is the build-and-score form; at
    * 100 TB postings and stats are stored tables built once, and a query
    * batch runs THIS). The broadcast query-term filter lands on the
    * index rows FIRST, so both the df derivation and the scoring join
    * are posting-list-sized, never index-sized — df(term) over the
    * term-filtered rows is exact, since a term's df needs only its own
    * posting list. The candidate frame persists (df + tf consumers —
    * the diverged-subtree contract above), but only for the DURATION of
    * this call: the result is eagerly materialized (it is tiny —
    * |queries|×k rows — so the localCheckpoint costs one small job) and
    * the candidate entry unpersisted before returning. Without that, a
    * long-lived serving session (one call per query micro-batch, the
    * StreamingRetrievalServeSpec posture) would accumulate one
    * candidate-sized cache entry per batch FOREVER — the entry is keyed
    * per (index, QUERY BATCH), so CacheManager never dedupes them
    * (ADVICE r12). Results are bit-identical to [[bm25TopK]] on the
    * same corpus (spec-pinned). */
  def bm25TopKIndexed(post: DataFrame, stats: DataFrame,
      queries: DataFrame, k: Int, k1Bp: Long = K1Bp, bBp: Long = BBp,
      maxDfShareBp: Int = 10000): DataFrame = {
    val cand = post
      .join(broadcast(queries.select(col("term")).distinct()), "term")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try scoreTopK(cand, stats, queries, k, k1Bp, bBp, maxDfShareBp)
      .localCheckpoint(true)
    finally cand.unpersist(false)
  }

  /** BM25F top-k over FIELDED documents `(doc_id, title, body)`: term
    * frequencies are field-weighted BEFORE saturation (Robertson &
    * Zaragoza's simple BM25F — a title hit counts `titleWeight`×) and
    * document length is weighted the same way, so the normalization
    * stays consistent. df counts docs containing the term in EITHER
    * field. Integer weights keep every step exact. */
  def bm25FieldedTopK(fields: DataFrame, queries: DataFrame, k: Int,
      titleWeight: Int = 3,
      k1Bp: Long = K1Bp, bBp: Long = BBp): DataFrame = {
    val post = fieldedPostings(fields, titleWeight)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scoreTopK(post, fieldedCorpusStats(fields, titleWeight), queries,
      k, k1Bp, bBp)
  }

  /** [[corpusStats]]'s BM25F twin over `(doc_id, title, body)`: n_docs +
    * field-WEIGHTED total tokens — the 1-row companion of
    * [[fieldedPostings]], shared by the build-and-score form and the
    * persisted-artifact read path so the two can never drift. */
  def fieldedCorpusStats(fields: DataFrame, titleWeight: Int = 3): DataFrame =
    fields.agg(count(lit(1)).as("n_docs"),
      sum(size(TextFns.tokens(coalesce(col("title"), lit(""))))
          .cast("long") * titleWeight +
        size(TextFns.tokens(coalesce(col("body"), lit(""))))
          .cast("long")).as("total_tokens"))

  /** Field-weighted postings over `(doc_id, title, body)` — the BM25F
    * index relation `(term, doc_id, dl, tf)` with tf = Σ field weights
    * and dl the weighted doc length. Occurrences carry a WEIGHT column
    * (tf = sum of weights) — one explode of |title|+|body| rows, not
    * titleWeight× physical copies of every title token (round-10
    * review). One map-combinable aggregate, like [[postings]]. */
  def fieldedPostings(fields: DataFrame, titleWeight: Int = 3): DataFrame =
    // null field ≡ empty field: without the coalesce, ONE null field
    // nulls the concat and explode drops the whole doc — every posting
    // of a title-less page would vanish while the stats side still
    // counted it (review r12)
    Stage(Stage(
        fields.select(col("doc_id"), col("title"), col("body")),
        "wt", TextFns.tokens(coalesce(col("title"), lit("")))),
        "wb", TextFns.tokens(coalesce(col("body"), lit(""))))
      .select(col("doc_id"),
        (size(col("wt")).cast("long") * titleWeight +
          size(col("wb")).cast("long")).as("dl"),
        explode(concat(
          transform(col("wt"),
            t => struct(t.as("term"), lit(titleWeight).as("wgt"))),
          transform(col("wb"),
            t => struct(t.as("term"), lit(1).as("wgt"))))).as("o"))
      .select(col("doc_id"), col("dl"),
        col("o").getField("term").as("term"),
        col("o").getField("wgt").as("wgt"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(sum(col("wgt")).as("tf"))

  /** Fielded per-term index `(term, df, tf_sum)` — [[termIndex]]'s BM25F
    * twin (df counts docs with the term in EITHER field; tf_sum sums
    * field-weighted tf). Additive across DISJOINT doc batches; merge
    * with [[mergeTermIndex]] (identical shape and monoid). */
  def fieldedTermIndex(fields: DataFrame, titleWeight: Int = 3): DataFrame =
    fieldedPostings(fields, titleWeight).groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_sum"))

  /** Exact-phrase search via the bigram index (the standard phrase
    * shortcut: adjacency IS the bigram, so a phrase query is one
    * equi-join on the bigram key — no positional intersection needed
    * for 2-term phrases). `phrases` is (phrase_id, phrase) with
    * space-joined lowercase terms. Returns every (phrase_id, doc_id)
    * with its occurrence count; docs are counted per OVERLAPPING
    * occurrence ("x x x" has two "x x" hits). One explode + one
    * map-combinable aggregate + a broadcast join — the bigram index is
    * the persisted artifact at corpus scale. */
  def phraseSearch(docs: DataFrame, phrases: DataFrame): DataFrame = {
    // the bigram shortcut is EXACTLY a 2-term operator: a 3+-term phrase
    // would silently match nothing and a 1-term phrase only whole-doc
    // shingles — raise instead (review r12); arbitrary arity lives in
    // phraseSearchPositional
    val checked = phrases.select(col("phrase_id"),
      when(size(split(col("phrase"), " ")) === 2, col("phrase"))
        .otherwise(raise_error(concat(
          lit("phraseSearch is the 2-term bigram shortcut; got: "),
          col("phrase"), lit(" — use phraseSearchPositional"))))
        .as("phrase"))
    val bg = Stage(Stage(docs.select(col("doc_id"), col("text")),
        "w", TextFns.tokens(col("text"))),
        "sh", TextFns.shingles(col("w"), 2))
      .select(col("doc_id"), explode(col("sh")).as("bigram"))
      .groupBy(col("bigram"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    bg.join(broadcast(checked.select(col("phrase_id"),
        col("phrase").as("bigram"))), "bigram")
      .select(col("phrase_id"), col("doc_id"), col("n_hits"))
  }

  /** POSITIONAL phrase search for arbitrary-length phrases — the classic
    * positional-index join, arity-free: an occurrence starts at position
    * s iff every phrase offset k finds its term at s + k, i.e. the
    * (phrase, doc, pos − off) triple collects ALL n_terms distinct
    * offsets. One token-level explode immediately filtered by the
    * broadcast (term, off) set, so the aggregation is candidate-sized;
    * repeated terms inside a phrase ("the the") fall out naturally (one
    * occ row joins both offsets). `phrases` is (phrase_id, terms:array).
    * Output: (phrase_id, doc_id, n_hits). */
  def phraseSearchPositional(docs: DataFrame, phrases: DataFrame): DataFrame =
    phraseCore(tokenOccurrences(docs), phrases)

  /** [[phraseSearchPositional]] over a PRE-BUILT [[positionalIndex]] —
    * the scale path: the (persisted) index joins the broadcast term set
    * FIRST, so only matching posting rows ever explode their position
    * arrays; query cost is posting-list-sized however large the corpus
    * the index covers. The one-shot wrapper above skips the index
    * entirely (aggregating positions into arrays just to re-explode them
    * would add a corpus-keyed exchange for nothing — the artifact only
    * pays off when it is BUILT ONCE and persisted). */
  def phraseSearchPositionalIndexed(index: DataFrame,
      phrases: DataFrame): DataFrame =
    phraseCore(indexOccurrences(index,
      phrases.select(explode(col("terms")).as("term"))), phrases)

  /** [[phraseSearchPositionalIndexed]] over the DELTA-encoded artifact
    * ([[positionalIndexDelta]]) — term-filter FIRST, decode only the
    * matching posting rows ([[deltaOccurrences]]): the compressed index
    * is queried without ever materializing the absolute-position form of
    * the whole artifact (the r11 round-trip decoded everything before
    * filtering). Result ≡ the plain-index path (spec-pinned). */
  def phraseSearchPositionalDelta(delta: DataFrame,
      phrases: DataFrame): DataFrame =
    phraseCore(deltaOccurrences(delta,
      phrases.select(explode(col("terms")).as("term"))), phrases)

  /** The positional-intersection core over ANY (doc_id, term, pos)
    * occurrence frame — one shape for the corpus-explode and index-read
    * paths. */
  private def phraseCore(occ: DataFrame, phrases: DataFrame): DataFrame = {
    val pterms = phrases.select(col("phrase_id"),
      posexplode(col("terms")).as(Seq("off", "term")))
    val nterms = phrases.select(col("phrase_id"),
      size(col("terms")).as("n_terms"))
    occ.join(broadcast(pterms), "term")
      .select(col("phrase_id"), col("doc_id"),
        (col("pos") - col("off")).as("start"), col("off"))
      .groupBy(col("phrase_id"), col("doc_id"), col("start"))
      .agg(countDistinct(col("off")).as("n_off"))
      .join(broadcast(nterms), "phrase_id")
      .where(col("n_off") === col("n_terms"))
      .groupBy(col("phrase_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** PROXIMITY search: documents where a term PAIR co-occurs within
    * `window` positions in either order, with the co-occurrence count
    * (every qualifying position pair). The position lists of the two
    * query terms are candidate-sized (the broadcast pair set filters
    * the token explode immediately), so the |posA − posB| ≤ window
    * range join runs on tiny per-doc frames, never the corpus.
    * `pairs` is (pair_id, term_a, term_b). Output: (pair_id, doc_id,
    * n_hits). Identical terms (a = b) are rejected — enforced by a
    * filter, so a self-pair contributes no rows instead of counting
    * trivial zero-distance matches and double-counting symmetric pairs
    * (ADVICE r10). */
  def proximitySearch(docs: DataFrame, pairs: DataFrame,
      window: Int): DataFrame =
    proximityCore(tokenOccurrences(docs), nonSelfPairs(pairs), window)

  /** [[proximitySearch]] over a PRE-BUILT [[positionalIndex]] — same
    * scale posture as [[phraseSearchPositionalIndexed]]: only the pair
    * terms' posting rows explode, so the |posA − posB| ≤ window range
    * join runs on candidate-sized frames however large the indexed
    * corpus. */
  def proximitySearchIndexed(index: DataFrame, pairs: DataFrame,
      window: Int): DataFrame = {
    // reject self-pairs BEFORE deriving the index term filter — a
    // self-pair on a frequent term would otherwise explode that term's
    // whole posting list only for the core to discard it (review r11)
    val p = nonSelfPairs(pairs)
    proximityCore(indexOccurrences(index,
      p.select(col("term_a").as("term"))
        .unionByName(p.select(col("term_b").as("term")))),
      p, window)
  }

  /** [[proximitySearchIndexed]] over the DELTA-encoded artifact — same
    * read-path posture as [[phraseSearchPositionalDelta]]: only the pair
    * terms' encoded rows are decoded and exploded. */
  def proximitySearchDelta(delta: DataFrame, pairs: DataFrame,
      window: Int): DataFrame = {
    val p = nonSelfPairs(pairs)
    proximityCore(deltaOccurrences(delta,
      p.select(col("term_a").as("term"))
        .unionByName(p.select(col("term_b").as("term")))),
      p, window)
  }

  /** Self-pairs (term_a = term_b) rejected, not scored: every occurrence
    * would self-join at distance 0 and symmetric pairs double-count
    * (ADVICE r10). */
  private def nonSelfPairs(pairs: DataFrame): DataFrame =
    pairs.where(col("term_a") =!= col("term_b"))

  /** The proximity core over ANY (doc_id, term, pos) occurrence frame;
    * `p` must already be self-pair-filtered ([[nonSelfPairs]]).
    * Persists its (tiny) side-marked candidate frame for the two
    * self-join legs — see the cache-ownership contract above. */
  private def proximityCore(occ: DataFrame, p: DataFrame,
      window: Int): DataFrame = {
    val sides = p
      .select(col("pair_id"), col("term_a").as("term"), lit("a").as("side"))
      .unionByName(p
        .select(col("pair_id"), col("term_b").as("term"), lit("b").as("side")))
    val cand = occ.join(broadcast(sides), "term")
      .select(col("pair_id"), col("doc_id"), col("pos"), col("side"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cand.where(col("side") === "a")
      .select(col("pair_id"), col("doc_id"), col("pos").as("pos_a"))
      .join(cand.where(col("side") === "b")
        .select(col("pair_id"), col("doc_id"), col("pos").as("pos_b")),
        Seq("pair_id", "doc_id"))
      .where(abs(col("pos_a") - col("pos_b")) <= window)
      .groupBy(col("pair_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Snippet generation for the top-k results: the `window`-token slice
    * around each hit doc's FIRST query-term occurrence — the "present"
    * step of the retrieval tier. The (tiny) ranked result + per-query
    * term arrays broadcast onto one narrow corpus pass, so snippet cost
    * is candidate-sized reading, never corpus-sized compute. Every
    * ranked doc matched ≥ 1 term (score > 0 ⇒ a posting joined), so
    * hit_pos is always defined.
    * Output: (query_id, doc_id, rnk, hit_pos, snippet). */
  def bm25Snippets(docs: DataFrame, queries: DataFrame, k: Int,
      window: Int = 7): DataFrame = {
    val top = bm25TopK(docs, queries, k)
    val qTerms = queries.groupBy(col("query_id"))
      .agg(collect_list(col("term")).as("terms"))
    val toks = Stage(docs.select(col("doc_id"), col("text")),
      "w", TextFns.tokens(col("text")))
    val joined = toks.select(col("doc_id"), col("w"))
      .join(broadcast(top.join(broadcast(qTerms), "query_id")), "doc_id")
    // first occurrence of ANY query term: array_position is 0 when
    // absent in Spark (NULL in DuckDB) — both sides filter the misses
    val hitPos = array_min(filter(
      transform(col("terms"), t => array_position(col("w"), t)),
      p => p > 0))
    val start = greatest(lit(1L), hitPos - (window / 2)).cast("int")
    joined.select(col("query_id"), col("doc_id"), col("rnk"),
      hitPos.as("hit_pos"),
      array_join(slice(col("w"), start, lit(window)), " ").as("snippet"))
  }

  /** PSEUDO-RELEVANCE-FEEDBACK retrieval (RM3-style query expansion,
    * integer form — Abdul-Jaleel et al. 2004's RM3 reduced to tf-ranked
    * expansion with fixed integer weights so every step stays
    * hash-exact): pass 1 ranks with plain BM25, the top `fbTerms` terms
    * by summed tf across each query's top `fbDocs` documents (original
    * terms excluded; ties break on the term string) join the query with
    * weight `expWgt` against the originals' `origWgt`, and pass 2
    * re-ranks with the weighted scoring core. Two candidate-sized passes
    * over the SAME persisted postings — the corpus explodes once; the
    * feedback extraction broadcasts the (queries × fbDocs)-row pass-1
    * result onto the postings, so expansion cost is feedback-doc-sized.
    * Output: (query_id, doc_id, score, rnk ≤ k). */
  def bm25PrfTopK(docs: DataFrame, queries: DataFrame, k: Int,
      fbDocs: Int = 5, fbTerms: Int = 3,
      origWgt: Long = 10L, expWgt: Long = 5L,
      k1Bp: Long = K1Bp, bBp: Long = BBp): DataFrame = {
    val post = postings(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // 1-row stats frame, consumed by both scoring passes — persisted so
    // the corpus token count is scanned once (same corpusStats builder
    // as everywhere else)
    val stats = corpusStats(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q1 = queries.select(col("query_id"), col("term"))
    val topf = scoreTopK(post, stats, q1, fbDocs, k1Bp, bBp)
      .select(col("query_id"), col("doc_id"))
    val fbTf = post.join(broadcast(topf), "doc_id")
      .groupBy(col("query_id"), col("term"))
      .agg(sum(col("tf")).as("tfs"))
    val expTop = fbTf.join(q1, Seq("query_id", "term"), "left_anti")
      .withColumn("tr", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("tfs").desc, col("term").asc)))
      .where(col("tr") <= fbTerms)
      .select(col("query_id"), col("term"))
    val q2 = q1.withColumn("wgt", lit(origWgt))
      .unionByName(expTop.withColumn("wgt", lit(expWgt)))
    scoreTopKWeighted(post, stats, q2, k, k1Bp, bBp)
  }

  /** Ranking-quality evaluation over ANY ranked frame (query_id, doc_id,
    * rnk) against a qrels relation (query_id, doc_id): per query, the
    * ranked-row count, the relevant-hit count within the top `k`, the
    * rank of the first relevant hit and its INTEGER reciprocal rank
    * (10⁴ // first_rank; 0 when no relevant doc ranked) — the MRR/
    * recall probe a retrieval tier runs after every index or ranker
    * change, applicable to the BM25, fielded, PRF and fused tiers alike.
    * `qrels` is deduplicated internally (free — the frame broadcasts
    * anyway), so unioned judgment files with overlaps cannot fan out a
    * ranked row and inflate the counts.
    * One row per query that RANKED anything (a query with zero results
    * vanishes with its ranking — evaluate result presence separately).
    * Candidate-sized: one broadcast join + one aggregate.
    * Output: (query_id, n_ranked, n_hits, first_rel_rnk, mrr_bp). */
  def evalRanking(ranked: DataFrame, qrels: DataFrame, k: Int): DataFrame =
    ranked.where(col("rnk") <= k)
      .join(broadcast(qrels
        .select(col("query_id"), col("doc_id")).distinct()
        .withColumn("rel", lit(1L))),
        Seq("query_id", "doc_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_ranked"),
        sum(coalesce(col("rel"), lit(0L))).as("n_hits"),
        min(when(col("rel") === 1L, col("rnk"))).as("fr"))
      .select(col("query_id"), col("n_ranked"), col("n_hits"),
        coalesce(col("fr"), lit(0)).cast("int").as("first_rel_rnk"),
        when(col("fr").isNull, lit(0L))
          .otherwise(expr("10000 div fr")).as("mrr_bp"))

  /** HARD-NEGATIVE mining over ANY ranked frame (query_id, doc_id, rnk)
    * vs a qrels relation — the retrieval-training data-prep step (DPR,
    * Karpukhin et al. 2020: the best negatives for contrastive training
    * are the top-ranked NON-relevant documents, not random ones): per
    * query, the `nNeg` highest-ranked docs that are NOT in qrels, with
    * both the original rank and the dense negative rank. qrels is
    * deduplicated internally (same posture as [[evalRanking]]); ties on
    * rnk (a caller may pass a rank()-derived or unioned frame) break on
    * doc_id, so neg_rnk is a total order like every ranking here.
    * Candidate-sized: one broadcast anti-join + one window over ≤ k rows
    * per query. Output: (query_id, doc_id, rnk, neg_rnk). */
  def hardNegatives(ranked: DataFrame, qrels: DataFrame,
      nNeg: Int): DataFrame =
    hardNegativesFrom(ranked,
      qrels.select(col("query_id"), col("doc_id")).distinct(), nNeg)

  /** [[hardNegatives]] over an ALREADY-deduplicated qrels projection —
    * shared with [[contrastiveTriplets]] so the pair never dedups (or
    * broadcasts) the judgments twice. */
  private def hardNegativesFrom(ranked: DataFrame, qrelsDistinct: DataFrame,
      nNeg: Int): DataFrame =
    ranked.join(broadcast(qrelsDistinct), Seq("query_id", "doc_id"),
        "left_anti")
      .withColumn("neg_rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rnk").asc, col("doc_id").asc)))
      .where(col("neg_rnk") <= nNeg)
      .select(col("query_id"), col("doc_id"), col("rnk"),
        col("neg_rnk").cast("int").as("neg_rnk"))

  /** CONTRASTIVE training triplets (query, positive, hard negative) —
    * the emission step after [[hardNegatives]]: every RANKED relevant
    * doc of a query pairs with each of its `nNeg` hard negatives. A
    * relevant doc the ranker never surfaced cannot appear as a positive
    * (the DPR construction trains on retrieved positives; evaluate
    * recall separately with [[evalRanking]]). Both sides are
    * candidate-sized, so the pairing is a broadcast-joined product of
    * ≤ k × nNeg rows per query — free at any corpus scale. `ranked` is
    * PERSISTED (two consumers — the positives semi-join and the
    * negatives anti-join; without it the upstream ranking chain runs
    * twice: see the cache-ownership contract above).
    * Output: (query_id, pos_doc_id, pos_rnk, neg_doc_id, neg_rnk). */
  def contrastiveTriplets(ranked: DataFrame, qrels: DataFrame,
      nNeg: Int): DataFrame = {
    val r = ranked
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = qrels.select(col("query_id"), col("doc_id")).distinct()
    val positives = r.join(broadcast(q), Seq("query_id", "doc_id"))
      .select(col("query_id"), col("doc_id").as("pos_doc_id"),
        col("rnk").as("pos_rnk"))
    positives.join(
      hardNegativesFrom(r, q, nNeg)
        .select(col("query_id"), col("doc_id").as("neg_doc_id"),
          col("neg_rnk")),
      "query_id")
  }

  /** HYBRID retrieval fusion: reciprocal-rank fusion (Cormack, Clarke &
    * Buettcher 2009) of two or more ranked tiers — the one call that
    * joins sparse BM25 ([[bm25TopK]]) and dense ANN ([[Similarity]])
    * results into a single ranking. Each tier is a (query_id, doc_id,
    * rnk) frame; a doc's fused score is Σ over the tiers that ranked it
    * of `10⁴ // (kRrf + rnk)` — INTEGER RRF (floor division, the
    * basis-point discipline), so fusion is hash-exact cross-engine.
    * kRrf = 60 is the published default; ties break on doc_id. Each
    * tier is candidate-sized (≤ k' rows per query), so fusion is one
    * union + one aggregate over tiny frames — free at any corpus scale.
    * Output: (query_id, doc_id, rrf_score, n_tiers, rnk ≤ k). */
  def rrfFuse(tiers: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(tiers.nonEmpty, "need at least one ranked tier")
    val contribs = tiers.map(_.select(col("query_id"), col("doc_id"),
      expr(s"10000 div ($kRrf + rnk)").cast("long").as("c")))
    // ONE exchange for the whole fusion tail (r16, the graph-cap trick):
    // tier inputs are top-k frames — ≤|Q|·k rows per tier at ANY corpus
    // size — so pre-partitioning the raw contributions by query_id ships
    // nothing material, and hashpartitioning(query_id) satisfies both the
    // (query_id, doc_id) sum-aggregate and the per-query rank window:
    // agg + sort + window run inside the single shuffle's stage (was: one
    // exchange keyed (query_id, doc_id) for the sum, a second re-keying
    // to query_id for the window).
    val fused = contribs.reduce(_ unionByName _)
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("rrf_score"), count(lit(1)).as("n_tiers"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
    fused.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("rrf_score"),
        col("n_tiers"), col("rnk").cast("int").as("rnk"))
  }

  /** SQL twin of the shared scoring tail — requires CTEs `post(term,
    * doc_id, dl, tf)`, `tdf(term, df)`, `stats(n_docs, total_tokens)`
    * and `q(query_id, term)` in scope; ends in the (query_id, doc_id,
    * score, rnk) shape of [[scoreTopK]]. */
  def bm25ScoreTailSql(k: Int,
      k1Bp: Long = K1Bp, bBp: Long = BBp): String =
    s"""${bm25ScoreCtesSql(k1Bp, bBp)}
      |SELECT query_id, doc_id, score, CAST(rnk AS INTEGER) AS rnk
      |FROM ranked WHERE rnk <= $k""".stripMargin

  /** The scoring CTEs only (`scored`, `ranked`) — for callers that keep
    * composing past the rank (snippets). */
  def bm25ScoreCtesSql(k1Bp: Long = K1Bp, bBp: Long = BBp): String =
    s"""scored AS (SELECT query_id, doc_id,
      |    CAST(sum(idf_bp * sat_bp) AS BIGINT) AS score FROM (
      |  SELECT q.query_id, p.doc_id,
      |    (s.n_docs - t.df) * 10000 // (t.df + 1) AS idf_bp,
      |    p.tf * ${k1Bp + 10000L} * 10000 //
      |      (p.tf * 10000 + ($k1Bp * (10000 - $bBp +
      |        ($bBp * (p.dl * s.n_docs * 10000 // s.total_tokens) // 10000))
      |        // 10000)) AS sat_bp
      |  FROM post p JOIN tdf t USING (term) JOIN q USING (term), stats s)
      |  GROUP BY 1, 2),
      |ranked AS (SELECT query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS rnk FROM scored)""".stripMargin

  /** SQL twin of the WEIGHTED scoring tail — like [[bm25ScoreCtesSql]]
    * but over `q2(query_id, term, wgt)`, ending in CTEs `scored2`,
    * `ranked2` (rank column `rnk2`). Kept adjacent to the Column form so
    * the two stay in lock-step. */
  def bm25ScoreWeightedCtesSql(k1Bp: Long = K1Bp, bBp: Long = BBp): String =
    s"""scored2 AS (SELECT query_id, doc_id,
      |    CAST(sum(wgt * idf_bp * sat_bp) AS BIGINT) AS score FROM (
      |  SELECT q2.query_id, q2.wgt, p.doc_id,
      |    (s.n_docs - t.df) * 10000 // (t.df + 1) AS idf_bp,
      |    p.tf * ${k1Bp + 10000L} * 10000 //
      |      (p.tf * 10000 + ($k1Bp * (10000 - $bBp +
      |        ($bBp * (p.dl * s.n_docs * 10000 // s.total_tokens) // 10000))
      |        // 10000)) AS sat_bp
      |  FROM post p JOIN tdf t USING (term) JOIN q2 USING (term), stats s)
      |  GROUP BY 1, 2),
      |ranked2 AS (SELECT query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id) AS rnk2 FROM scored2)""".stripMargin

  /** SQL twin of the integer-BM25 derivation over relations
    * `documents(doc_id, text)` and `q(query_id, term)`; `toksSql` is the
    * tokenizer fragment (the caller's duckToks). Ends in the same
    * (query_id, doc_id, score, rnk) shape as [[bm25TopK]], including the
    * optional stopword df-prune. */
  def bm25Sql(toksSql: String, k: Int,
      k1Bp: Long = K1Bp, bBp: Long = BBp,
      maxDfShareBp: Int = 10000): String =
    s"""toks AS (SELECT doc_id, $toksSql AS w FROM documents),
      |${bm25IndexSql(maxDfShareBp)},
      |${bm25ScoreTailSql(k, k1Bp, bBp)}""".stripMargin

  /** [[postings]] and [[corpusStats]] as the CTEs `post`(term, doc_id,
    * dl, tf) and `stats`(n_docs, total_tokens) over a `toks`(doc_id, w)
    * relation. */
  private val toksPostStatsSql =
    """post AS (SELECT term, doc_id, dl, count(*) AS tf FROM (
      |    SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS term FROM toks)
      |  GROUP BY 1, 2, 3),
      |stats AS (SELECT count(*) AS n_docs,
      |    CAST(sum(len(w)) AS BIGINT) AS total_tokens FROM toks)""".stripMargin

  /** SQL twin of the BM25 index the scorers read: `postStats` (the
    * `post` and `stats` CTEs, by default [[postings]] and [[corpusStats]]
    * over an existing `toks`(doc_id, w) relation; the fielded oracles
    * pass their [[fieldedPostings]] / [[fieldedCorpusStats]] pair), then
    * `tdf`(term, df) with [[bm25TopK]]'s optional stopword df-prune. */
  def bm25IndexSql(maxDfShareBp: Int = 10000,
      postStats: String = toksPostStatsSql): String = {
    val prune =
      if (maxDfShareBp >= 10000) ""
      else s"\n  HAVING count(*) * 10000 <= (SELECT n_docs FROM stats) * $maxDfShareBp"
    s"""$postStats,
      |tdf AS (SELECT term, count(*) AS df FROM post GROUP BY 1$prune)""".stripMargin
  }

  /** MMR result diversification (Carbonell & Goldstein 1998): greedily
    * re-rank a candidate list so each pick balances relevance against
    * similarity to what is ALREADY picked —
    * `λ·rel − (1−λ)·max_{s∈S} sim(d, s)` — the standard RAG
    * context-diversification step (five near-identical chunks waste a
    * context window that five complementary ones fill).
    *
    * `ranked`: (query_id, doc_id, rnk) — the candidate list, rnk 1-based
    * dense; `vecs`: (doc_id, embedding). Relevance is RANK-based so both
    * terms live on the same 10⁴ scale regardless of the upstream scorer:
    * rel_bp = (C+1−rnk)·(10⁴/C) with C = `candN`; sim_bp is the round-4
    * cosine in basis points. All integer ⇒ hash-exact; ties break on
    * doc_id. Candidates without a usable (nonzero) embedding drop out.
    *
    * Shape: the greedy loop is INHERENTLY sequential in k, so this runs
    * k−1 tiny joins over the |queries|·C candidate frame (persisted
    * once); each iteration's pick is locally checkpointed to keep the
    * plan linear instead of exponentially nested. At 100 TB the
    * candidate frame is still only |queries|·C rows — MMR cost never
    * touches corpus size. Output: (query_id, rank, doc_id). */
  def mmrDiversify(ranked: DataFrame, vecs: DataFrame, k: Int,
      candN: Int = 20, lambdaBp: Long = 5000): DataFrame = {
    import graft.functions.SimFns.{dot, l2Norm, toDouble, cosinePrenormed}
    val n = vecs
      .select(col("doc_id").as("vdoc"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
      .where(col("nrm") > 0)
    val cand = ranked.where(col("rnk") <= candN)
      .join(n, col("doc_id") === col("vdoc"))
      .select(col("query_id"), col("doc_id"),
        ((lit(candN + 1) - col("rnk")) * lit(10000L / candN)).as("rel_bp"),
        col("v"), col("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def pickBest(scored: DataFrame, rank: Int): DataFrame =
        scored.withColumn("rn", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("mmr").desc, col("doc_id"))))
          .where(col("rn") === 1)
          .select(col("query_id"), lit(rank).as("rank"), col("doc_id"))
      val simBp = round(
        round(cosinePrenormed(dot(col("v"), col("pv")), col("nrm"), col("pnrm")), 4)
          * lit(10000L), 0).cast("long")
      var acc = pickBest(
        cand.select(col("query_id"), col("doc_id"),
          (lit(lambdaBp) * col("rel_bp")).as("mmr")), 1)
        .localCheckpoint(true)
      for (t <- 2 to k) {
        val pickedVecs = acc
          .join(cand.select(col("query_id"), col("doc_id"),
            col("v").as("pv"), col("nrm").as("pnrm")), Seq("query_id", "doc_id"))
          .select(col("query_id"), col("doc_id").as("pdoc"),
            col("pv"), col("pnrm"))
        val remaining = cand.join(
          acc.select(col("query_id"), col("doc_id")).withColumn("_p", lit(1)),
          Seq("query_id", "doc_id"), "left")
          .where(col("_p").isNull).drop("_p")
        val scored = remaining
          .join(broadcast(pickedVecs), "query_id")
          .groupBy(col("query_id"), col("doc_id"), col("rel_bp"))
          .agg(max(simBp).as("maxsim"))
          .select(col("query_id"), col("doc_id"),
            (lit(lambdaBp) * col("rel_bp")
              - lit(10000L - lambdaBp) * col("maxsim")).as("mmr"))
        acc = acc.unionByName(pickBest(scored, t)).localCheckpoint(true)
      }
      acc
    } finally cand.unpersist(false)
  }

  /** Driver-local twin of [[mmrDiversify]] — the SUB-SECOND serving
    * path (NOTES r14: the distributed greedy costs ≈2.1 s per
    * micro-batch at 600 candidate rows, ALL of it k−1 job-scheduling
    * rounds + localCheckpoints; a streaming RAG service at sub-second
    * triggers cannot pay that). The candidate frame is BOUNDED at
    * |queries|·candN rows by construction — the one shape where a
    * driver collect is the right call (the pqTrain/k-means bounded-
    * trainer precedent), so the join against the vector table still
    * runs distributed (the corpus is never collected), and only the
    * tiny joined candidate set comes back for an in-memory greedy.
    * BIT-IDENTICAL to [[mmrDiversify]]: same integer rel_bp, the same
    * round-4-then-bp cosine (BigDecimal HALF_UP — what Spark's `round`
    * does), the same (mmr desc, doc_id asc) tie-break. Output
    * (query_id, rank, doc_id) with the caller's id types preserved. */
  def mmrDiversifyLocal(ranked: DataFrame, vecs: DataFrame, k: Int,
      candN: Int = 20, lambdaBp: Long = 5000): DataFrame = {
    import graft.functions.SimFns.{dot => _, _}
    val spark = ranked.sparkSession
    val n = vecs
      .select(col("doc_id").as("vdoc"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
      .where(col("nrm") > 0)
    val cand = ranked.where(col("rnk") <= candN)
      .join(n, col("doc_id") === col("vdoc"))
      .select(col("query_id"), col("doc_id"),
        ((lit(candN + 1) - col("rnk")) * lit(10000L / candN)).as("rel_bp"),
        col("v"), col("nrm"))
    val rows = cand.collect()

    // id tie-break must match the distributed twin's window ORDER BY,
    // which compares strings as UTF8String (UTF-8 BYTE order) — Java's
    // String.compareTo is UTF-16 code-unit order and diverges for
    // non-ASCII ids (ADVICE r14). Supported id types are exactly these
    // three (the Tables id column types); anything else fails loudly
    // rather than silently diverging through a toString compare.
    def cmpIds(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Int, y: Int) => Integer.compare(x, y)
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
      case (x, y) => throw new IllegalArgumentException(
        s"mmrDiversifyLocal: unsupported doc_id type for bit-identical " +
          s"tie-break: ${x.getClass.getName} vs ${y.getClass.getName} " +
          "(supported: Long, Int, String — use mmrDiversify instead)")
    }
    def half4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // None on a dim mismatch — the distributed twin's dot_d kernel
    // yields NULL there, and SQL `max` IGNORES nulls, so a ragged
    // candidate ranks on the max of its DEFINED sims (or, with no
    // defined sim at all, on a NULL mmr that the desc window orders
    // LAST). Dropping such rows here would diverge from the twin.
    def simBp(av: Array[Double], an: Double, bv: Array[Double],
        bn: Double): Option[Long] =
      if (av.length != bv.length) None
      else {
        var (d, i) = (0.0, 0)
        while (i < av.length) { d += av(i) * bv(i); i += 1 }
        Some(BigDecimal(half4(d / (an * bn)) * 10000.0)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      }
    final case class C(doc: Any, relBp: Long, v: Array[Double], nrm: Double)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Any, Int, Any)]
    rows.groupBy(_.get(0)).foreach { case (qid, rs) =>
      val cs = rs.map(r => C(r.get(1), r.getLong(2),
        r.getSeq[Double](3).toArray, r.getDouble(4))).toSeq
      val picked = scala.collection.mutable.ArrayBuffer.empty[C]
      var t = 1
      while (t <= k && picked.size < cs.length) {
        val remaining = cs.filterNot(c =>
          picked.exists(p => cmpIds(p.doc, c.doc) == 0))
        // mmr None ⇔ the twin's NULL (every pair sim null): ordered
        // after every defined mmr, doc-id tie-break within
        val best = remaining.map { c =>
          val mmr: Option[Long] =
            if (picked.isEmpty) Some(lambdaBp * c.relBp)
            else {
              val sims = picked.flatMap(p => simBp(c.v, c.nrm, p.v, p.nrm))
              if (sims.isEmpty) None
              else Some(lambdaBp * c.relBp - (10000L - lambdaBp) * sims.max)
            }
          (c, mmr)
        }.reduceLeft { (a, b) =>
          val better = (a._2, b._2) match {
            case (Some(x), Some(y)) =>
              y > x || (y == x && cmpIds(b._1.doc, a._1.doc) < 0)
            case (None, Some(_)) => true
            case (Some(_), None) => false
            case (None, None) => cmpIds(b._1.doc, a._1.doc) < 0
          }
          if (better) b else a
        }
        picked += best._1
        out += ((qid, t, best._1.doc))
        t += 1
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      cand.schema("query_id"),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      cand.schema("doc_id").copy(name = "doc_id")))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        out.toSeq.map { case (q, r, d) => org.apache.spark.sql.Row(q, r, d) }, 1),
      schema)
  }

  /** Weighted RRF fusion under FIXED per-tier weights — the serving
    * face of [[trainedFuse]]: once the grid search has picked a weight
    * vector, every later query batch fuses under it without
    * re-evaluating the grid. Same integer contribution
    * (10⁴//(kRrf+rnk)) and ranking contract as [[rrfFuse]] (which is
    * the all-weights-equal special case up to score scale — rankings
    * identical). Output: (query_id, doc_id, fscore, n_tiers, rnk). */
  def weightedRrfFuse(tiers: Seq[DataFrame], weights: Seq[Long], k: Int,
      kRrf: Int = 60): DataFrame = {
    require(tiers.nonEmpty && weights.size == tiers.size,
      "one weight per tier")
    val contribs = tiers.zip(weights).map { case (t, w) =>
      t.select(col("query_id"), col("doc_id"),
        (lit(w) * expr(s"10000 div ($kRrf + rnk)").cast("long")).as("c"))
    }.reduce(_ unionByName _)
    // single-exchange fusion tail — same reasoning as [[rrfFuse]]
    val fused = contribs.repartition(col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("fscore"), count(lit(1)).as("n_tiers"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("fscore").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("fscore"),
        col("n_tiers"), col("rnk").cast("int").as("rnk"))
  }

  /** Grid-searched weighted-RRF fusion — TRAINED tier weights: instead
    * of [[rrfFuse]]'s fixed equal weighting, every candidate weight
    * vector in `grid` (one Long per tier) is evaluated against `qrels`
    * and the argmax ships. The whole grid evaluates in ONE plan — tier
    * contributions (10⁴//(kRrf+rnk), Cormack et al. 2009) compute once,
    * join the broadcast (wid, tier, wgt) relation, rank per (wid,
    * query), and score by summed integer MRR@k over the deduplicated
    * judgments; the argmax tie-breaks on the smaller wid, so training is
    * bit-deterministic and a STATIC SQL oracle re-derives the choice.
    * Tiers are candidate-sized frames, so grid evaluation costs
    * |grid|·|queries|·k rows regardless of corpus size — the weights are
    * the cheapest trained artifact in the engine. Output: the fused
    * top-k under the winning weights, with the choice exposed as
    * (wid, weights) columns so the trained operating point is IN the
    * oracled result. Quality guard: when the equal-weight vector is in
    * the grid, MRR(trained) ≥ MRR(rrfFuse) by construction of the
    * argmax (spec-pinned in RetrievalSpec). */
  def trainedFuse(tiers: Seq[DataFrame], qrels: DataFrame,
      grid: Seq[Seq[Long]], k: Int, kRrf: Int = 60): DataFrame = {
    require(tiers.nonEmpty && grid.nonEmpty &&
      grid.forall(_.size == tiers.size),
      "grid rows must carry exactly one weight per tier")
    val spark = tiers.head.sparkSession
    import spark.implicits._
    val contribs = tiers.zipWithIndex.map { case (t, i) =>
      t.select(col("query_id"), col("doc_id"), lit(i).as("tier"),
        expr(s"10000 div ($kRrf + rnk)").cast("long").as("c"))
    }.reduce(_ unionByName _)
    val gridDf = grid.zipWithIndex.flatMap { case (ws, wid) =>
      ws.zipWithIndex.map { case (w, tier) => (wid, tier, w) }
    }.toDF("wid", "tier", "wgt")
    val ranked = contribs.join(broadcast(gridDf), "tier")
      .groupBy(col("wid"), col("query_id"), col("doc_id"))
      .agg(sum(col("wgt") * col("c")).as("fscore"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("wid"), col("query_id"))
          .orderBy(col("fscore").desc, col("doc_id"))))
      .where(col("rnk") <= k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rels = qrels.select(col("query_id"), col("doc_id")).distinct()
        .withColumn("rel", lit(1L))
      val bestOpt = ranked
        .join(broadcast(rels), Seq("query_id", "doc_id"), "left")
        .groupBy(col("wid"), col("query_id"))
        .agg(min(when(col("rel") === 1L, col("rnk"))).as("fr"))
        .groupBy(col("wid"))
        .agg(sum(when(col("fr").isNotNull, expr("10000 div fr"))
          .otherwise(lit(0L))).as("sum_mrr_bp"))
        .orderBy(col("sum_mrr_bp").desc, col("wid"))
        .select(col("wid")).head(1).headOption.map(_.getInt(0))
      // empty tiers/queries → an empty frame with the output schema
      // (every other retrieval operator\'s contract), never a
      // head-on-empty crash (review r13)
      val best = bestOpt.getOrElse(0)
      // result is |queries|·k rows — eagerly materialize, then drop the
      // grid-wide candidate cache (the bm25TopKIndexed posture)
      ranked.where(lit(bestOpt.isDefined) && col("wid") === best)
        .select(col("query_id"), col("doc_id"), col("fscore"),
          col("rnk").cast("int").as("rnk"), lit(best).as("wid"),
          lit(grid(best).mkString(",")).as("weights"))
        .localCheckpoint(true)
    } finally ranked.unpersist(false)
  }

  /** Unrolled SQL twin of [[mmrDiversify]] over CTEs `cand(query_id,
    * doc_id, rel_bp, v, nrm)` — one (m, p, a) CTE triple per greedy step
    * (window functions cannot live in a recursive term, and k is a small
    * constant, so unrolling IS the faithful mirror). Ends in
    * `mmr_out(query_id, rank, doc_id)`. */
  def mmrSql(k: Int, lambdaBp: Long = 5000): String = {
    val simBp = (a: String, b: String) =>
      s"CAST(ROUND(ROUND(list_dot_product($a.v, $b.v) / ($a.nrm * $b.nrm), 4) * 10000, 0) AS BIGINT)"
    // every accumulator CTE is MATERIALIZED: mmr_a{t-1} is referenced
    // three times per later step, and DuckDB would otherwise inline (and
    // recompute) the whole prior chain per reference — 3^k plan blowup
    // (the dedup_clusters `pairs AS MATERIALIZED` lesson; the caller's
    // `cand` needs the same hint for the same reason)
    val first =
      s"""mmr_a1 AS MATERIALIZED (SELECT query_id, 1 AS rank, doc_id FROM (
        |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY $lambdaBp * rel_bp DESC, doc_id) AS rn FROM cand)
        |  WHERE rn = 1)""".stripMargin
    val steps = (2 to k).map { t =>
      s"""mmr_r$t AS (SELECT c.* FROM cand c
        |  LEFT JOIN mmr_a${t - 1} x ON x.query_id = c.query_id AND x.doc_id = c.doc_id
        |  WHERE x.doc_id IS NULL),
        |mmr_m$t AS (SELECT r.query_id, r.doc_id, r.rel_bp,
        |    max(${simBp("r", "p")}) AS maxsim
        |  FROM mmr_r$t r
        |    JOIN mmr_a${t - 1} s ON s.query_id = r.query_id
        |    JOIN cand p ON p.query_id = s.query_id AND p.doc_id = s.doc_id
        |  GROUP BY 1, 2, 3),
        |mmr_a$t AS MATERIALIZED (SELECT * FROM mmr_a${t - 1} UNION ALL
        |  SELECT query_id, $t AS rank, doc_id FROM (
        |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY $lambdaBp * rel_bp - ${10000L - lambdaBp} * maxsim DESC,
        |        doc_id) AS rn FROM mmr_m$t)
        |  WHERE rn = 1)""".stripMargin
    }
    (first +: steps).mkString(",\n") +
      s",\nmmr_out AS (SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id FROM mmr_a$k)"
  }
}
