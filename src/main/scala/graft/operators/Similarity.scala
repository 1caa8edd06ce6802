package graft.operators

import graft.functions.SimFns._
import graft.plans.Stage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY.md §2.10), as
  * tiers that trade exactness for the share of the corpus they read:
  *  - exact: [[bruteTopK]] / [[bruteTopKAgg]] / [[crossTopK]] — the query
  *    set broadcasts against the corpus scan, cosine is a codegen'd fold,
  *    and a per-query window keeps the top k. The correctness baseline.
  *  - LSH: [[lshTopK]], [[crossTopKLsh]] and their multi-probe forms —
  *    sign-hyperplane buckets turn the pair loop into a bucket equi-join.
  *  - IVF: [[ivfTopK]] (per-label representatives), [[ivfTopKKmeans]] and
  *    [[crossTopKIvf]] (trained k-means‖ cells) — a query probes its
  *    nearest cells only; the same cells drive [[semanticDedup]].
  *  - PQ family: [[pqEncode]] stores m codes per vector; flat ADC
  *    ([[pqTopKAdc]], [[pqTopKRefined]]), IVF-PQ ([[ivfPqTopK]]),
  *    residual IVF-PQ ([[ivfPqResidualTopK]]) and OPQ ∘ residual
  *    ([[opqIvfPqTopK]]) each build their query LUTs and share one ADC
  *    search body.
  *  - binary: [[binqEncode]] sign bits, Hamming top-k and the exact
  *    banded near-dup join ([[hammingNearDupPairs]]).
  *  - int8: [[sq8Encode]] / [[sq8TopK]] scalar quantization.
  *  - graph: [[GraphAnn]] walks an NN-Descent graph and routes with this
  *    object's ADC LUTs and code guards.
  *
  * Every tier outputs (query_id, rank, neighbor_id, score) with a
  * deterministic total order: scores are rounded or integral, and ties
  * break on neighbor id, so results hash-check against DuckDB.
  */
object Similarity {

  /** (vec_id, label, v, nrm) — the prep for ops that genuinely consume
    * `label` (only [[ivfTopK]]'s deterministic per-label representatives).
    * Everything label-free goes through [[preparedVecs]], so a caller with
    * a plain (vec_id, embedding) frame never hits a spurious
    * AnalysisException over a column the op would ignore (ADVICE r11). */
  private def prepared(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v")))

  /** Shared candidate scoring: (query_id, neighbor_id, cosine) for every
    * query×corpus pair joined on `joinKeys` (cross join of the broadcast
    * query side when empty = brute force), cosine rounded to 4 for stable
    * cross-engine ranking. Queries must carry (query_id, qv, qnrm) plus the
    * join keys; corpus (vec_id, v, nrm). `excludeSelf` drops id-equal pairs
    * — correct ONLY for self-joins where both frames share one id space;
    * cross-corpus callers pass false so an incidental id collision between
    * frames can never silently drop a real neighbor. */
  private def scoreAgainst(corpus: DataFrame, queries: DataFrame,
      joinKeys: Seq[String], excludeSelf: Boolean): DataFrame = {
    // null-cosine causes are guarded WITHOUT touching the dot: a
    // zero/null norm (Spark Divide yields null on a 0 divisor) is a
    // per-ROW property, dropped here before the pair loop; the length
    // mismatch is a cross-side property, handled below. A per-pair
    // `cosine.isNotNull` filter is the one thing this method must
    // never grow: Catalyst substitutes the alias and pushes it into
    // the join CONDITION, so dot_d runs twice per query×corpus pair —
    // doubling the dominant flop term of every brute scorer
    // (VERDICT r12; plan-pinned in PlanShapeSpec).
    val joined =
      if (joinKeys.isEmpty)
        corpus.where(col("nrm") > 0)
          .crossJoin(broadcast(queries.where(col("qnrm") > 0)))
      else
        corpus.where(col("nrm") > 0)
          .join(broadcast(queries.where(col("qnrm") > 0)), joinKeys)
    val pairs =
      if (excludeSelf) joined.where(col("vec_id") =!= col("query_id"))
      else joined
    // a query/corpus embedding-LENGTH mismatch (dot_d would yield null)
    // is guarded by a size-equality pair predicate: O(1) per pair (two
    // stored array lengths — Catalyst folds it into the join condition,
    // which is exactly where a cross-side predicate belongs), and a
    // full-mismatch input yields the same immediately-noticeable EMPTY
    // result the r12 fix established. Written `a - b = 0` rather than
    // `a = b` ON PURPOSE: ExtractEquiJoinKeys would turn the plain
    // equality into a hash-JOIN KEY, disguising the brute pair loop as
    // a BroadcastHashJoin keyed on array size (one degenerate bucket) —
    // same pairs, but the plan lies about its shape and the LSH-vs-
    // brute nested-loop pins stop discriminating. A CASE WHEN/
    // raise_error guard in the projection measured 4× slower on the agg
    // path, and a per-pair isNotNull(cosine) filter is the r12
    // double-dot defect — neither may return here.
    pairs.where(size(col("qv")) - size(col("v")) === 0)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosinePrenormed(dot(col("qv"), col("v")), col("qnrm"), col("nrm")), 4)
          .as("cosine"))
  }

  /** Shared deterministic ranking: top-k per query, cosine desc with
    * neighbor-id tie-break — the one place the output contract lives. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** SQL twin of [[scoreAgainst]] + [[rankTopK]], the one cosine
    * score → rank tail of every brute, LSH, IVF and exact-rerank oracle:
    * a SELECT of (query_id, rank, neighbor_id, cosine) over the DuckDB
    * relations `queries`(query_id, qv, qnrm[, keys]) and
    * `corpus`(vec_id, v, nrm[, keys]). Zero norms drop per row on both
    * sides, pairs join on `joinKeys` (cross join when empty),
    * `excludeSelf` drops id-equal pairs, and the round-4 cosine gets
    * `+ 0.0` (DuckDB's ROUND can return -0.0, Spark's never does). */
  def cosineTopKSql(corpus: String, queries: String, joinKeys: Seq[String],
      excludeSelf: Boolean, k: Int): String = {
    val pairs =
      if (joinKeys.isEmpty) s"$queries q CROSS JOIN $corpus c"
      else s"$queries q JOIN $corpus c USING (${joinKeys.mkString(", ")})"
    val self = if (excludeSelf) " AND c.vec_id <> q.query_id" else ""
    s"""SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rank FROM (
       |    SELECT q.query_id, c.vec_id AS neighbor_id,
       |      ROUND(list_dot_product(q.qv, c.v) / (q.qnrm * c.nrm), 4) + 0.0 AS cosine
       |    FROM $pairs
       |    WHERE q.qnrm > 0 AND c.nrm > 0$self))
       |WHERE rank <= $k""".stripMargin
  }

  /** Exact brute-force top-k cosine for queries (vec_id ≡ 0 mod `stride`). */
  def bruteTopK(embeddings: DataFrame, k: Int, stride: Int): DataFrame = {
    val corpus = preparedVecs(embeddings)
    val queries = corpus.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    rankTopK(scoreAgainst(corpus, queries, Nil, excludeSelf = true), k)
  }

  /** Exact top-k via the bounded-heap aggregate ([[TopK]]) instead of a
    * rank window — the scale path: at most k rows per query survive the
    * map side, so the shuffle carries |queries|×k rows regardless of
    * corpus size. Same contract and results as [[bruteTopK]]. */
  def bruteTopKAgg(embeddings: DataFrame, k: Int, stride: Int): DataFrame = {
    val corpus = preparedVecs(embeddings)
    val queries = corpus.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = scoreAgainst(corpus, queries, Nil, excludeSelf = true)
    val tk = udaf(TopK.topK(k), org.apache.spark.sql.Encoders.product[TopK.Scored])
    scored.groupBy(col("query_id"))
      .agg(tk(col("neighbor_id"), col("cosine")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("cosine"))
  }

  /** (vec_id, v, nrm) with no `label` requirement — the prep for the
    * two-table ops, where query frames (a benchmark set, an eval suite)
    * rarely carry corpus labels. */
  private def preparedVecs(df: DataFrame): DataFrame =
    df.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v")))

  /** Exact cross-corpus top-k: for every vector of `queries`, the k nearest
    * vectors of `corpus` by cosine — the two-table generalization of
    * [[bruteTopK]] and the semantic-decontamination / retrieval shape
    * (queries = benchmark or eval set, corpus = training candidates; a high
    * top-1 cosine flags a training doc as a paraphrase of an eval item).
    * Both frames need (vec_id, embedding). The two id spaces are treated
    * as independent: no pair is excluded by id equality (unlike the
    * self-join ops), so overlapping id spaces cannot silently drop a
    * neighbor. The query side broadcasts; the corpus stays partitioned, so
    * cost is one pass over the corpus regardless of its size. */
  def crossTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = preparedVecs(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    rankTopK(scoreAgainst(preparedVecs(corpus), q, Nil, excludeSelf = false), k)
  }

  /** LSH-bucketed cross-corpus top-k — [[crossTopK]]'s scale path: both
    * sides bucket with the SAME shared hyperplanes, each query probes only
    * its own bucket (~1/2^nPlanes of the corpus), and the search is one
    * equi-join however large either side grows. Deterministic, so
    * oracle-checkable like [[lshTopK]]. `dim` must equal the embedding
    * length (e.g. 16 for [[TextAnalysis.embedDocuments]]' default) — see
    * the [[lshCorpus]] warning on the degeneration a mismatch causes. */
  def crossTopKLsh(corpus: DataFrame, queries: DataFrame, k: Int,
      nPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val q = lshCorpus(queries, nPlanes, dim)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bucket"))
    rankTopK(scoreAgainst(lshCorpus(corpus, nPlanes, dim), q, Seq("bucket"),
      excludeSelf = false), k)
  }

  /** Multi-probe [[crossTopKLsh]] — the recall knob for the cross-corpus
    * bucket path ([[lshTopKMultiProbe]]'s two-table twin, Lv et al.
    * 2007): each query probes its own bucket PLUS every Hamming-1 bucket
    * (one flipped hyperplane sign), where a near-miss neighbor most
    * likely landed. The probe explode is QUERY-side only (tiny,
    * broadcast, nPlanes+1 rows per query); each corpus row keeps its one
    * bucket and probes are distinct, so a (query, neighbor) pair matches
    * at most once — still one equi-join, no dedup, at ANY corpus size.
    * Scanned fraction ≈ (nPlanes+1)/2^nPlanes of the corpus per query
    * (7/64 at the default) vs the single bucket's 1/64 — measured on the
    * hybrid dense leg in the r12 dense-recall measurements (NOTES.md r12). Deterministic ⇒
    * oracle-checkable. */
  def crossTopKLshMultiProbe(corpus: DataFrame, queries: DataFrame, k: Int,
      nPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val probeArr = hamming1Probes(nPlanes)
    val q = lshCorpus(queries, nPlanes, dim)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), explode(probeArr).as("bucket"))
    rankTopK(scoreAgainst(lshCorpus(corpus, nPlanes, dim), q, Seq("bucket"),
      excludeSelf = false), k)
  }

  /** Cross-corpus IVF top-k against PRE-TRAINED centroids (a persisted
    * [[centroidsToDF]] index, loaded with [[centroidsFromDF]]) — the
    * trained-index sibling of [[crossTopKLsh]] and the search face of
    * the incremental assignment table [[ivfAssignBatch]] maintains: the
    * corpus is assigned to cells once (at scale that assignment IS the
    * stored table; here it is one broadcast + one map-side-partial
    * hash-aggregate), and each query probes only its `nProbes` nearest
    * cells by centroid cosine (round-6, min-cell tie-break — the same
    * total order as assignment, so results are bit-deterministic and
    * the oracle can re-derive them from the centroid literals). Like
    * every cross-corpus op, no id-equality exclusion — overlapping id
    * spaces can never silently drop a neighbor. Probes are distinct
    * cells and a corpus row lives in ONE cell, so no dedup is needed.
    * Scanned fraction ≈ nProbes/|cells| of the corpus per query. */
  def crossTopKIvf(corpus: DataFrame, queries: DataFrame, k: Int,
      cents: Seq[Array[Double]], nProbes: Int = 1): DataFrame = {
    val cdf = centroidFrame(corpus.sparkSession, cents)
    val assigned = assignCells(preparedVecs(corpus), cdf)
    rankTopK(scoreAgainst(assigned, probeCells(queries, cdf, nProbes),
      Seq("cell"), excludeSelf = false), k)
  }

  /** The multi-probe bucket list: own bucket + every Hamming-1 bucket
    * (one flipped hyperplane sign) — ONE builder for the self-join and
    * cross-corpus multi-probe forms (review r12). */
  private def hamming1Probes(nPlanes: Int): Column =
    array((col("bucket") +: (0 until nPlanes).map(p =>
      col("bucket").bitwiseXOR(lit(1 << p)))): _*)

  /** Random-hyperplane LSH planes: `nPlanes`×`dim` ±1 signs from a fixed
    * seed — data-independent constants shared verbatim with the DuckDB
    * oracle (interpolated as literals). */
  def lshPlanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(nPlanes)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  // DuckDB literal builders: every oracle interpolates the planes,
  // trained vectors and codebooks through these, so the two engines read
  // one set of constants.

  /** The sign-pattern bucket of `v` over [[lshPlanes]] as a DuckDB
    * expression — the SQL twin of [[lshCorpus]]'s bucket. */
  def lshBucketSql(nPlanes: Int, dim: Int, v: String = "v"): String =
    lshPlanes(nPlanes, dim).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($v, ${p.mkString("[", ", ", "]")}) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** `[bucket, xor(bucket, 1), …]` — the SQL twin of [[hamming1Probes]]. */
  def hamming1ProbesSql(nPlanes: Int): String =
    ("bucket" +: (0 until nPlanes).map(p => s"xor(bucket, ${1 << p})"))
      .mkString("[", ", ", "]")

  /** `(i, [..]::DOUBLE[])` VALUES rows: centroids or rotation rows,
    * indexed by position. */
  def vectorValuesSql(vs: Seq[Array[Double]]): String =
    vs.zipWithIndex.map { case (v, i) =>
      s"($i, ${v.mkString("[", ", ", "]")}::DOUBLE[])"
    }.mkString(",\n  ")

  /** `(sub, code, [..]::DOUBLE[])` VALUES rows of PQ codebooks. */
  def codebookValuesSql(books: Seq[Seq[Array[Double]]]): String =
    books.zipWithIndex.flatMap { case (cs, sub) =>
      cs.zipWithIndex.map { case (c, code) =>
        s"($sub, $code, ${c.mkString("[", ", ", "]")}::DOUBLE[])" }
    }.mkString(",\n  ")

  /** Corpus with its sign-LSH bucket key: the double-cast vector is staged
    * (bucketOf references it nPlanes times), bucket = sign pattern of the
    * `nPlanes` hyperplane projections.
    *
    * `dim` MUST match the embedding length: [[graft.plans.DotProductD]]
    * yields null on length mismatch, so every plane test would fall to its
    * `otherwise(0)` and ALL rows would share bucket 0 — silently turning
    * every bucketed search into the quadratic cross join the buckets exist
    * to avoid. */
  private[operators] def lshCorpus(embeddings: DataFrame, nPlanes: Int,
      dim: Int = 64): DataFrame = {
    val planes = lshPlanes(nPlanes, dim)
    def bucketOf(v: Column): Column = {
      val raw = (0 until nPlanes).map { p =>
        when(dot(v, typedLit(planes(p))) > 0, lit(1 << p)).otherwise(lit(0))
      }.reduce(_ + _)
      // RAISE on a dim/embedding-length mismatch (dot_d would be null,
      // every plane test would fall to 0, and ALL rows would silently
      // share bucket 0 — the quadratic degeneration this scaladoc warns
      // about). ONE cheap size probe per row, not a per-plane null check
      // (a per-plane guard doubled the dot evaluations and measurably
      // slowed the sim_lsh hot loop — review r12).
      when(size(v) =!= dim, raise_error(concat(
          lit(s"lsh dim=$dim does not match embedding length "),
          size(v).cast("string"))))
        .otherwise(raw)
    }
    Stage(
      embeddings.select(col("vec_id"), col("embedding")),
      "v", toDouble(col("embedding")))
      .select(col("vec_id"), col("v"),
        l2Norm(col("v")).as("nrm"), bucketOf(col("v")).as("bucket"))
  }

  /** LSH-bucketed approximate top-k (the other classic ANN scale path next
    * to IVF): the sign pattern of `nPlanes` random-hyperplane projections
    * is the bucket key; a query probes only its own bucket (~N/2^nPlanes of
    * the corpus). Buckets are a plain `groupBy`-free equi-join key, so the
    * whole search is one hash join however large the corpus. */
  def lshTopK(embeddings: DataFrame, k: Int, stride: Int, nPlanes: Int = 6,
      dim: Int = 64): DataFrame = {
    val corpus = lshCorpus(embeddings, nPlanes, dim)
    val queries = corpus.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bucket"))
    rankTopK(scoreAgainst(corpus, queries, Seq("bucket"), excludeSelf = true), k)
  }

  /** Multi-probe LSH top-k (Lv et al. 2007, the sign-LSH specialization):
    * each query probes its own bucket PLUS every bucket at Hamming
    * distance 1 (one flipped hyperplane sign) — the buckets a near-miss
    * neighbor most likely landed in. Scanned fraction grows from
    * ~1/2^nPlanes to ~(nPlanes+1)/2^nPlanes of the corpus; the plan is
    * unchanged (probe list explodes query-side to nPlanes+1 rows, still
    * broadcast; the corpus side never expands — each corpus row has ONE
    * bucket, and probe buckets are distinct, so a (query, neighbor) pair
    * matches at most once and needs no dedup). Fully deterministic ⇒
    * oracle-checkable, unlike the trained-centroid paths. */
  def lshTopKMultiProbe(embeddings: DataFrame, k: Int, stride: Int,
      nPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val corpus = lshCorpus(embeddings, nPlanes, dim)
    val probeArr = hamming1Probes(nPlanes)
    val queries = corpus.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), explode(probeArr).as("bucket"))
    rankTopK(scoreAgainst(corpus, queries, Seq("bucket"), excludeSelf = true), k)
  }

  /** Nearest-centroid assignment for IVF: (vec_id, v, nrm, cell) with cell
    * = argmax-cosine centroid (round-6, min-cell tie-break). `cents` must
    * have columns (cell, cv, cnrm), NON-NEGATIVE int cell ids, and be small
    * enough to broadcast.
    *
    * The argmax is a `min` over a single packed long — (1e6-scaled negated
    * round-6 cosine) · 2³² + cell — so the aggregation buffer is one
    * primitive and the plan is a whole-stage-codegen HashAggregate with a
    * map-side partial: each task reduces its |slice|×|cells| expansion to
    * one row per vec_id before the shuffle. (A struct-valued min or max_by
    * would fall back to SortAggregate; a row_number window — the shape this
    * replaced — shuffles and sorts the full expansion.) v/nrm ride along as
    * grouping keys, so no rejoin against the corpus is needed. */
  private[operators] def assignCells(corpus: DataFrame, cents: DataFrame): DataFrame =
    assignCellsWithCos(corpus, cents).drop("cell_cos")

  /** [[assignCells]] plus `cell_cos`, the (round-6) cosine to the chosen
    * centroid — both recovered from the same packed long (cell from the low
    * 32 bits, cosine from the arithmetic-shift high bits, exact because the
    * scaled cosine is integral). */
  private[operators] def assignCellsWithCos(corpus: DataFrame, cents: DataFrame): DataFrame = {
    val cellType = cents.schema("cell").dataType
    val negScaled = round(
      (lit(0.0) - round(
        cosinePrenormed(dot(col("cv"), col("v")), col("cnrm"), col("nrm")), 6))
        * lit(1e6), 0).cast("long")
    val packed = negScaled * lit(4294967296L) + col("cell").cast("long")
    corpus.crossJoin(broadcast(cents))
      .groupBy(col("vec_id"), col("v"), col("nrm"))
      .agg(min(packed).as("best"))
      .select(col("vec_id"), col("v"), col("nrm"),
        pmod(col("best"), lit(4294967296L)).cast(cellType).as("cell"),
        (lit(0.0) - shiftright(col("best"), 32).cast("double") / lit(1e6))
          .as("cell_cos"))
  }

  /** SQL twin of [[assignCellsWithCos]]: a SELECT of (vec_id, v, nrm,
    * cell, cell_cos) that assigns every row of `src`(vec_id, v, nrm)
    * passing `where` (a predicate on alias `n`, e.g. `n.label = 1`) to
    * its round-6 argmax-cosine cell of `cn`(cell, cv, cnrm)
    * ([[centroidsSql]]), min-cell tie-break. */
  def assignCellsSql(src: String, where: String = ""): String = {
    val pred = if (where.isEmpty) "" else s" WHERE $where"
    s"""SELECT vec_id, v, nrm, cell, cell_cos FROM (
       |    SELECT n.vec_id, n.v, n.nrm, cn.cell,
       |      ROUND(list_dot_product(cn.cv, n.v) / (cn.cnrm * n.nrm), 6) + 0.0 AS cell_cos,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY ROUND(list_dot_product(cn.cv, n.v) / (cn.cnrm * n.nrm), 6) DESC, cn.cell) AS crn
       |    FROM $src n CROSS JOIN cn$pred)
       |  WHERE crn = 1""".stripMargin
  }

  /** IVF-bucketed approximate top-k: assign every vector to its nearest
    * deterministic centroid, then search only within the query's cell. */
  def ivfTopK(embeddings: DataFrame, k: Int, stride: Int): DataFrame = {
    val corpus = prepared(embeddings)
    // Deterministic centroids: the min-vec_id representative of each label.
    val reps = corpus
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("vec_id"))))
      .where(col("rn") === 1)
      .select(col("label").as("cell"), col("v").as("cv"), col("nrm").as("cnrm"))
    // Cell assignment: argmax cosine against the (broadcast) centroid set,
    // as a partial-merging hash aggregate (see assignCells) — identical
    // ordering to the row_number window it replaces, but with no per-vec_id
    // shuffle+sort of the corpus×cells expansion.
    searchAssigned(assignCells(corpus, reps), k, stride)
  }

  /** Multi-probe IVF search: each query probes its `nProbes` NEAREST cells
    * (ranked by centroid cosine) instead of only the one it was assigned
    * to — the standard IVF recall knob. Cost model at 100 TB: the scanned
    * corpus fraction grows linearly (≈ nProbes/|cells|) while the plan
    * shape is unchanged — the probe list is |queries|×nProbes rows, still
    * broadcast, and each corpus row still joins by its single `cell` key,
    * so no corpus re-expansion, no extra shuffle. A neighbor lives in
    * exactly one cell, so probes never produce duplicate candidates.
    * nProbes = 1 reproduces single-probe [[searchAssigned]] (same
    * round-6/min-cell argmax tie-break on the probe ranking). */
  private[operators] def searchMultiProbe(assigned: DataFrame, cents: DataFrame,
      k: Int, stride: Int, nProbes: Int): DataFrame = {
    val queries = assigned.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    rankTopK(scoreAgainst(assigned, rankProbes(queries, cents, nProbes),
      Seq("cell"), excludeSelf = true), k)
  }

  /** Shared IVF search body: queries probe only their own cell. */
  private def searchAssigned(assigned: DataFrame, k: Int, stride: Int): DataFrame = {
    val queries = assigned.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cell"))
    rankTopK(scoreAgainst(assigned, queries, Seq("cell"), excludeSelf = true), k)
  }

  /** Deterministic per-row uniform in [0,1): 24 bits of md5(vec_id) — the
    * seeded-PRNG stand-in that keeps k-means‖ sampling reproducible across
    * engines, retries, and partitionings (same rationale as f_hash_sample). */
  private def hashUniform(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 6), 16, 10)
      .cast("double") / lit(16777216.0)

  /** k-means(‖) centroid training over the corpus, entirely as DataFrame
    * aggregates (the MLlib shape, re-expressed):
    *
    *  1. **k-means‖ init** (Bahmani et al. 2012): starting from the
    *     min-vec_id vector, `initPasses` rounds each sample points with
    *     probability `2·nCells · d(x,C)/Σd` — computed distributedly via
    *     [[assignCellsWithCos]] (d = 1−cos), with the deterministic
    *     [[hashUniform]] in place of a PRNG. Expected candidates per
    *     round: ~2·nCells, collected to the driver (bounded, tiny).
    *  2. **Weighted reduction**: candidates are weighted by how much of
    *     the corpus they attract (one aggregate), then greedily reduced
    *     to `nCells` seeds driver-side (max weighted distance — the
    *     deterministic k-means++ analogue over ≤ dozens of candidates).
    *  3. **Lloyd iterations**: assign (hash-aggregate argmax), then
    *     per-cell mean via posexplode + sum/count partial aggregates —
    *     nCells×dim result rows to the driver per pass, never vectors.
    *
    * Per pass the corpus is touched once; driver traffic is O(nCells·dim).
    * Returns (cell, cv, cnrm), broadcast-ready for [[assignCells]].
    *
    * **Bit-deterministic across partition orders** (so the trained-IVF
    * queries are oracle-checkable): sampled candidates are sorted by vec_id
    * driver-side (collect order is partition order, which varies with file
    * split planning), and every Lloyd mean coordinate is rounded to 6 dp —
    * float-sum partition-order noise is ~1e-13 relative, far below the
    * 5e-7 rounding boundary, so any summation order lands on the same
    * rounded double. */
  def kmeansCentroids(embeddings: DataFrame, nCells: Int, iters: Int = 4,
      initPasses: Int = 2): DataFrame =
    centroidFrame(embeddings.sparkSession,
      kmeansCentroidArrays(embeddings, nCells, iters, initPasses))

  /** (cell, cv, cnrm) frame from driver-side centroid vectors — the same
    * literals a DuckDB oracle interpolates, so both engines start from
    * bit-identical centroids and derive cnrm with the same index-order
    * accumulation. */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
      cents: Seq[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toDF("cell", "cv")
      .select(col("cell"), col("cv"), l2Norm(col("cv")).as("cnrm"))
  }

  /** SQL twin of [[centroidFrame]]: the CTE `cn`(cell, cv, cnrm) over
    * [[vectorValuesSql]] literals. */
  def centroidsSql(cents: Seq[Array[Double]]): String =
    s"""cn AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cnrm FROM (VALUES
       |  ${vectorValuesSql(cents)}) c(cell, cv))""".stripMargin

  /** Trained centroids → a persistable DataFrame (cell, centroid): the
    * third leg of the artifact story next to [[Dedup.bandIndex]] (parquet)
    * and the serialized blooms — write it once after training, and every
    * later job loads the IVF index instead of re-running Lloyd passes
    * over the corpus. Cell ids are the row's position, preserved
    * explicitly so assignment is reproducible across save/load. */
  def centroidsToDF(spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid")
  }

  /** Inverse of [[centroidsToDF]]: positional order restored from `cell`. */
  def centroidsFromDF(df: DataFrame): Seq[Array[Double]] =
    df.select(col("cell"), col("centroid"))
      .collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
      .toSeq

  /** Incremental IVF index maintenance — the ANN leg of the persisted-index
    * family (`Dedup.bandIndex` for MinHash bands, `TextAnalysis.spanIndex`
    * for substring spans, this for centroids): a new batch is assigned
    * against the LOADED centroid index ([[centroidsFromDF]] of a persisted
    * [[centroidsToDF]]) without any retraining pass, tagged with its batch
    * `origin`, and appended to the standing (vec_id, cell, cell_cos,
    * origin) assignment table. One broadcast + one map-side-partial
    * hash-aggregate per batch — history vectors are never rescanned.
    * `cell_cos` is the round-6 assignment cosine ([[assignCellsWithCos]]),
    * so every downstream drift statistic is bit-deterministic. */
  def ivfAssignBatch(batch: DataFrame, centroidIndex: DataFrame,
      origin: String): DataFrame =
    assignCellsWithCos(preparedVecs(batch),
      centroidFrame(batch.sparkSession, centroidsFromDF(centroidIndex)))
      .select(col("vec_id"), col("cell"),
        (col("cell_cos") + lit(0.0)).as("cell_cos"), // normalize IEEE -0.0
        lit(origin).as("origin"))

  /** Drift gate for the incremental index: when the data distribution
    * moves away from the trained centroids, new batches assign with weaker
    * cosines. Compares the WEAK-assignment share (round-6 `cell_cos` <
    * `weakCos`, in integral basis points) of each new batch against the
    * history baseline and raises `retrain` when the share degrades by more
    * than `maxDegradationBp`. Integer arithmetic throughout ⇒ the signal
    * is oracle-checkable, not a float heuristic. Input: an appended
    * assignment table with origins "history" and "batch". */
  def ivfDriftSignal(assignments: DataFrame, weakCos: Double = 0.7,
      maxDegradationBp: Long = 500): DataFrame =
    assignments
      .groupBy(col("origin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cell_cos") < weakCos, 1L).otherwise(0L)).as("weak"))
      .select(col("origin"), expr("weak * 10000 div n").as("weak_bp"))
      .agg(
        max(when(col("origin") === "history", col("weak_bp"))).as("hist_weak_bp"),
        max(when(col("origin") === "batch", col("weak_bp"))).as("batch_weak_bp"))
      .select(col("hist_weak_bp"), col("batch_weak_bp"),
        (col("batch_weak_bp") - col("hist_weak_bp")).as("degradation_bp"),
        (col("batch_weak_bp") - col("hist_weak_bp") > maxDegradationBp)
          .cast("int").as("retrain"))

  def kmeansCentroidArrays(embeddings: DataFrame, nCells: Int, iters: Int = 4,
      initPasses: Int = 2): Seq[Array[Double]] = {
    val spark = embeddings.sparkSession
    // Training makes ~initPasses + iters + 2 eager passes over the corpus;
    // without a cache each pass re-evaluates the WHOLE upstream plan (for
    // the doc-embedding pipelines: tokenize + md5 + fold per pass). At
    // sf0.1 this is noise — the passes are tiny jobs dominated by
    // scheduling/codegen (measured flat) — but at corpus scale each pass
    // is a full re-scan, so cache for the training window and unpersist
    // before returning.
    val corpus = preparedVecs(embeddings).persist()
    try kmeansTrainOn(spark, corpus, nCells, iters, initPasses)
    finally corpus.unpersist(false)
  }

  private def kmeansTrainOn(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, nCells: Int, iters: Int,
      initPasses: Int): Seq[Array[Double]] = {
    def centsDf(cents: Seq[Array[Double]]): DataFrame = centroidFrame(spark, cents)
    def vecOf(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Double](r.fieldIndex("v")).toArray

    // 1. k-means‖ candidate sampling. The sampled SET is deterministic (the
    // hashUniform threshold is per-row); the collect ORDER is not — sort by
    // vec_id so candidate indices (greedy-reduction tie-breaks below) don't
    // depend on partition planning.
    var candidates: Vector[Array[Double]] =
      Vector(vecOf(corpus.orderBy(col("vec_id")).select(col("v")).head()))
    for (_ <- 1 to initPasses) {
      val assigned = assignCellsWithCos(corpus, centsDf(candidates))
        .withColumn("d", greatest(lit(0.0), lit(1.0) - col("cell_cos")))
      val total = assigned.agg(sum(col("d"))).head().getDouble(0)
      if (total > 0) {
        // deterministic candidate order via the column's NATIVE type
        // ordering (numeric ids sort numerically exactly as the long
        // cast this replaced; STRING ids — the RAG composite chunk key
        // "doc:chunk" — sort lexicographically instead of throwing an
        // ANSI cast error; review r13)
        val picked = assigned
          .where(hashUniform(col("vec_id")) * lit(total) <
            lit(2.0 * nCells) * col("d"))
          .orderBy(col("vec_id"))
          .select(col("v"))
          .collect().map(vecOf)
        candidates ++= picked
      }
    }
    // 2. weight candidates by attracted corpus mass; greedy-reduce to nCells
    val weights = assignCells(corpus, centsDf(candidates))
      .groupBy(col("cell")).agg(count(lit(1)).as("w"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
    }
    // Greedy reduction over candidate INDICES, excluding already-picked ones
    // (else an all-zero score round re-picks index 0 forever and emits
    // duplicate centroids → permanently empty cells). A best score of 0
    // means every remaining candidate either duplicates a seed (dMin = 0)
    // or attracts no corpus mass — stop early; fewer, distinct seeds beat
    // nCells with duplicates.
    val picked = scala.collection.mutable.LinkedHashSet(
      weights.maxBy { case (i, w) => (w, -i) }._1)
    var exhausted = false
    while (picked.size < nCells && picked.size < candidates.length && !exhausted) {
      val (bestScore, _, bestIdx) = candidates.indices
        .filterNot(picked.contains)
        .map { i =>
          val dMin = picked.iterator
            .map(p => 1.0 - cos(candidates(i), candidates(p))).min
          (weights.getOrElse(i, 0L) * dMin, -i, i)
        }.max
      if (bestScore <= 0.0) exhausted = true
      else picked += bestIdx
    }
    val seeds = picked.toVector.map(candidates)
    // 3. Lloyd: distributed assign + per-cell mean (nCells×dim driver rows).
    // Each mean coordinate is rounded to 6 dp: the float sum behind it can
    // differ in the last ~ulps across partition orders, and the rounding
    // collapses that noise so trained centroids are bit-reproducible.
    var cents = seeds.toArray
    for (_ <- 1 to iters) {
      val stats = assignCells(corpus, centsDf(cents.toSeq))
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("cnt"))
        .collect()
      val next = cents.map(_.clone())
      stats.foreach { r =>
        val (cell, pos) = (r.getInt(0), r.getInt(1))
        next(cell)(pos) = BigDecimal(r.getDouble(2) / r.getLong(3))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      cents = next // cells that attracted nothing keep their previous center
    }
    cents.toSeq
  }

  /** Cluster assignment over trained k-means‖ centroids: (vec_id, cell,
    * cell_cos) — the topic-modeling / corpus-curation face of the same
    * machinery IVF search uses (train once, broadcast centroids, one
    * hash-aggregate argmax pass; see [[assignCellsWithCos]] for why the
    * assignment is a single-primitive map-side-partial aggregate).
    * Bit-deterministic end to end, so downstream summaries are
    * oracle-checkable with the centroids interpolated as literals. */
  def kmeansAssign(embeddings: DataFrame, nCells: Int, iters: Int = 4): DataFrame =
    kmeansAssignWith(embeddings,
      kmeansCentroidArrays(embeddings, nCells, iters))

  /** [[kmeansAssign]] against ALREADY-TRAINED centroid vectors (e.g. a
    * persisted [[kmeansCentroidArrays]] result, or one training shared
    * between a query and its derived oracle) — skips the eager training
    * pass entirely. */
  def kmeansAssignWith(embeddings: DataFrame,
      cents: Seq[Array[Double]]): DataFrame =
    assignCellsWithCos(preparedVecs(embeddings),
      centroidFrame(embeddings.sparkSession, cents))
      .select(col("vec_id"), col("cell"), col("cell_cos"))

  /** SEMANTIC deduplication scoped by trained k-means cells — the
    * SemDeDup construction (Abbas et al. 2023, public paper): cluster the
    * embeddings, compute pairwise cosine WITHIN each cell only (the
    * clustering is what avoids the corpus all-pairs), and drop every
    * vector that has a higher-priority near-twin (round-4 cosine ≥
    * `minCosine`) in its own cell. Priority follows the paper's
    * keep-farthest-from-centroid rule: LOWER `cell_cos` wins, vec_id
    * breaks ties — a total order, so survivorship is deterministic and
    * hash-exact. No transitive closure: survivors are exactly the
    * vectors with no dominating near-twin, a purely pairwise rule (the
    * form an incremental pass can also apply against an index).
    *
    * Scale: the pair join is cell-scoped (cells are ~N/nCells by
    * training, and nCells is the knob — the paper scales it with the
    * corpus, so per-cell work stays bounded); centroids broadcast; one
    * assignment aggregate + one cell-keyed self-join.
    * Output: (vec_id, cell, cell_cos, is_survivor). */
  def semanticDedup(embeddings: DataFrame, minCosine: Double,
      nCells: Int, iters: Int = 4): DataFrame =
    semanticDedupWith(embeddings,
      kmeansCentroidArrays(embeddings, nCells, iters), minCosine)

  /** [[semanticDedup]] against PRE-TRAINED centroids (the persisted-index
    * form: train once, [[centroidsToDF]] to parquet, dedup every later
    * corpus slice against the loaded index). Persists the assignment
    * frame — it feeds both legs of the cell self-join plus the output
    * projection (see the Retrieval cache-ownership contract for the
    * lifecycle semantics). */
  def semanticDedupWith(embeddings: DataFrame, cents: Seq[Array[Double]],
      minCosine: Double): DataFrame = {
    val assigned = assignCellsWithCos(preparedVecs(embeddings),
        centroidFrame(embeddings.sparkSession, cents))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned
      .join(semanticDominated(assigned, assigned, minCosine)
        .withColumn("_d", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("cell_cos"),
        col("_d").isNull.cast("int").as("is_survivor"))
  }

  /** Dropped vec_ids of `x`: every vector with a DOMINATING near-twin
    * (round-4 cosine ≥ minCosine) among `y` in its own cell. Dominance:
    * farther from the centroid (lower cell_cos) wins, then lower vec_id
    * on ties — cell_cos is a round-6 value both engines derive
    * bit-identically (the pipeline_topic_clusters proof). Both frames
    * carry (vec_id, v, nrm, cell, cell_cos). */
  private def semanticDominated(x: DataFrame, y: DataFrame,
      minCosine: Double): DataFrame =
    x.as("x").join(y.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") =!= col("y.vec_id"))
      .where(round(cosinePrenormed(dot(col("x.v"), col("y.v")),
        col("x.nrm"), col("y.nrm")), 4) >= minCosine)
      .where(col("y.cell_cos") < col("x.cell_cos") ||
        (col("y.cell_cos") === col("x.cell_cos") &&
          col("y.vec_id") < col("x.vec_id")))
      .select(col("x.vec_id").as("vec_id")).distinct()

  /** Persistable SURVIVOR index for incremental semantic dedup: the
    * survivors' (vec_id, cell, cell_cos, v) — the vectors ride along
    * because cosine needs them (the ANN-family mirror of
    * [[graft.operators.Multimodal]]'s signatureIndex storing block
    * means). Write after a [[semanticDedupWith]] pass; later batches
    * probe the stored rows without re-scoring history. */
  def semanticIndex(embeddings: DataFrame, cents: Seq[Array[Double]],
      minCosine: Double): DataFrame = {
    val assigned = assignCellsWithCos(preparedVecs(embeddings),
        centroidFrame(embeddings.sparkSession, cents))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned
      .join(semanticDominated(assigned, assigned, minCosine),
        Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"), col("cell_cos"), col("v"))
  }

  /** Incremental [[semanticDedup]]: a NEW batch against a stored
    * [[semanticIndex]] — history vectors are never re-scored against
    * each other and history survivorship is never revoked. A new vector
    * is dropped iff it has ANY near-twin among the stored survivors of
    * its cell (history is immutable, so it wins regardless of the
    * centroid-distance rule — the first-seen posture every incremental
    * dedup tier here uses), or a DOMINATING near-twin within its own
    * batch. Matches the full-corpus run exactly whenever history's
    * survivors dominate their cells (the exact-dedup-first normal case);
    * a batch arrival farther from the centroid than a stored twin
    * deliberately defers to history — divergence documented, same
    * contract shape as nearDupImagesIncremental's cap semantics.
    * Output: batch rows only — (vec_id, cell, cell_cos, is_survivor). */
  def semanticDedupIncremental(newBatch: DataFrame,
      cents: Seq[Array[Double]], historyIndex: DataFrame,
      minCosine: Double): DataFrame = {
    val assigned = assignCellsWithCos(preparedVecs(newBatch),
        centroidFrame(newBatch.sparkSession, cents))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hist = historyIndex
      .select(col("cell"), col("v").as("hv"))
      .withColumn("hnrm", l2Norm(col("hv")))
    val vsHistory = assigned.join(hist, "cell")
      .where(round(cosinePrenormed(dot(col("v"), col("hv")),
        col("nrm"), col("hnrm")), 4) >= minCosine)
      .select(col("vec_id")).distinct()
    val dropped = vsHistory
      .unionByName(semanticDominated(assigned, assigned, minCosine))
      .distinct()
    assigned
      .join(dropped.withColumn("_d", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("cell_cos"),
        col("_d").isNull.cast("int").as("is_survivor"))
  }

  /** IVF top-k over trained k-means‖ cells — the production path next to
    * the deterministic-reps [[ivfTopK]] (which stays the oracle query).
    * Same contract; recall@k vs [[bruteTopK]] is measured in
    * `KmeansIvfSpec` and recorded in NOTES.md. */
  def ivfTopKKmeans(embeddings: DataFrame, k: Int, stride: Int, nCells: Int,
      iters: Int = 4, nProbes: Int = 1): DataFrame = {
    val corpus = preparedVecs(embeddings)
    val cents = kmeansCentroids(embeddings, nCells, iters)
    val assigned = assignCells(corpus, cents)
    if (nProbes <= 1) searchAssigned(assigned, k, stride)
    else searchMultiProbe(assigned, cents, k, stride, nProbes)
  }

  // ───────────────────────── product quantization ─────────────────────────
  // PQ (Jégou, Douze & Schmid 2011, "Product quantization for nearest
  // neighbor search"): split the dim-D vector into `m` subvectors, learn a
  // ksub-entry codebook per subspace, store each corpus vector as m small
  // codes. Search is ASYMMETRIC DISTANCE (ADC): the query builds an
  // m×ksub lookup table of exact subspace distances ONCE, and scoring a
  // corpus vector is m integer table lookups + adds — the corpus VECTORS
  // are never read at query time, only the code table (the 100 TB memory
  // story: 64 floats → m bytes per vector). All distances are squared L2
  // in round-6 micro-units (integer bp-style), so encode and search are
  // bit-deterministic and DuckDB-oracle-checkable from codebook literals.

  /** Squared L2 distance in integral MICRO-units: round(d², 6)·10⁶ as a
    * long. `cc` is the precomputed centroid self-dot (a literal at plan
    * time), so each pair costs two dot_d's over dsub dims. The round-6 →
    * ·1e6 → round-0 chain collapses float noise to an exact integer the
    * same way [[assignCellsWithCos]] packs its cosine (headroom: exact
    * while sub-d² < ~1.4e8 — far beyond any unit-ish embedding; beyond
    * that, normalize or re-scale the corpus, never the formula). */
  private def d2Micros(x: Column, cv: Column, cc: Column): Column =
    round((round(dot(x, x) - lit(2.0) * dot(x, cv) + cc, 6)) * lit(1e6), 0)
      .cast("long")

  /** Train per-subspace PQ codebooks on a bounded, deterministic sample —
    * the classic offline step (codebooks are classically trained on a
    * corpus sample; FAISS does the same). Driver-side on ≤ `maxSample`
    * rows (vec_id order, like the BPE/centroid trainer collects): greedy
    * farthest-point init (min-vec-id seed, index tie-break) + `iters`
    * Lloyd rounds with L2 assignment and round-6 means, per subspace.
    * Returns [sub][code] → dsub-dim centroid; wholly deterministic, so a
    * derived oracle can interpolate the result as literals. */
  def pqTrain(embeddings: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 4, maxSample: Int = 2048): Seq[Seq[Array[Double]]] = {
    val rows = preparedVecs(embeddings)
      .orderBy(col("vec_id")).limit(maxSample)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "pqTrain: empty corpus")
    val dim = rows.head.length
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val dsub = dim / m
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var (s, i) = (0.0, 0); while (i < a.length) {
        val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    (0 until m).map { s =>
      val xs = rows.map(_.slice(s * dsub, (s + 1) * dsub))
      // farthest-point init over the sample (deterministic: first row
      // seeds; ties keep the smaller index), capped at the number of
      // DISTINCT subvectors so no duplicate codes are ever emitted
      val seeds = scala.collection.mutable.ArrayBuffer(xs(0))
      var exhausted = false
      while (seeds.size < ksub && !exhausted) {
        var (bestD, bestI) = (-1.0, -1)
        var i = 0
        while (i < xs.length) {
          val dMin = seeds.iterator.map(c => d2(xs(i), c)).min
          if (dMin > bestD + 1e-12) { bestD = dMin; bestI = i }
          i += 1
        }
        if (bestD <= 0.0) exhausted = true else seeds += xs(bestI)
      }
      var cents = seeds.toArray
      for (_ <- 1 to iters) {
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val cnts = new Array[Long](cents.length)
        var i = 0
        while (i < xs.length) {
          var (bestD, best) = (Double.MaxValue, 0)
          var c = 0
          while (c < cents.length) {
            val d = round6(d2(xs(i), cents(c)))
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var j = 0
          while (j < dsub) { sums(best)(j) += xs(i)(j); j += 1 }
          cnts(best) += 1
          i += 1
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (cnts(c) == 0) old
          else Array.tabulate(dsub)(j => round6(sums(c)(j) / cnts(c)))
        }
      }
      cents.toSeq
    }
  }

  /** The broadcastable codebook relation (sub, code, cv, cc) — cc is the
    * centroid self-dot, precomputed once so neither encode nor the ADC
    * LUT recomputes it per pair. */
  private def codebookFrame(spark: org.apache.spark.sql.SparkSession,
      books: Seq[Seq[Array[Double]]]): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (cs, s) =>
      cs.zipWithIndex.map { case (c, code) =>
        (s, code, c.toSeq, c.map(x => x * x).sum) }
    }.toDF("sub", "code", "cv", "cc")
  }

  /** Codebooks → a persistable frame (sub, code, centroid) — the PQ leg
    * of the artifact family ([[centroidsToDF]] for IVF cells). */
  def pqBooksToDF(spark: org.apache.spark.sql.SparkSession,
      books: Seq[Seq[Array[Double]]]): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (cs, s) =>
      cs.zipWithIndex.map { case (c, code) => (s, code, c.toSeq) }
    }.toDF("sub", "code", "centroid")
  }

  /** Inverse of [[pqBooksToDF]]. */
  def pqBooksFromDF(df: DataFrame): Seq[Seq[Array[Double]]] =
    df.select(col("sub"), col("code"), col("centroid")).collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray).toSeq)

  /** PQ ENCODE: (vec_id, codes) — one row per vector with its m codes as
    * `array<int>` in sub order (the FAISS contiguous-codes layout), each
    * code the subvector's nearest codebook entry by round-6 micro-L2
    * (tie: smaller code). A pure projection through the fused
    * [[graft.plans.PqEncodeI]] kernel: zero fan-out, zero shuffle, so at
    * corpus scale the encode job is embarrassingly parallel and its
    * output is the stored table — m ints per vector instead of D floats.
    * A vector of the wrong width encodes to NULL codes, which every
    * search drops per row ([[validWideCodes]]). */
  def pqEncode(embeddings: DataFrame,
      books: Seq[Seq[Array[Double]]]): DataFrame =
    pqEncodeKeyed(preparedVecs(embeddings).select(col("vec_id"), col("v")),
      books, Nil)

  /** Shared encode body: `prep` carries (vec_id, extraKeys…, v); the
    * keys ride to the output unchanged, so the IVF encodes emit the
    * whole stored (vec_id, cell, codes) row in one pass. The codes sit
    * behind [[Stage]]: as a plain projection, every filter on `codes`
    * downstream — the search's [[validWideCodes]] guard, the
    * `size(codes) > 0` the optimizer infers under an explode — would be
    * pushed below it with the kernel substituted, running pq_encode_i up
    * to three times per row. */
  private def pqEncodeKeyed(prep: DataFrame,
      books: Seq[Seq[Array[Double]]], extraKeys: Seq[String]): DataFrame = {
    requireUniformBooks(books)
    Stage(prep, "codes", graft.functions.SimFns.pqEncodeCodes(col("v"), books))
      .select((col("vec_id") +: extraKeys.map(col) :+ col("codes")): _*)
  }

  /** The per-query exact subspace-distance lookup table (query_id, sub,
    * code, d2u) — |queries|·m·ksub rows, tiny, built once per search and
    * broadcast. [[adcLutWideFrom]] flattens it for the ADC kernel. */
  private[operators] def adcLut(queries: DataFrame,
      books: Seq[Seq[Array[Double]]]): DataFrame = {
    val dsub = books.head.head.length
    val cb = codebookFrame(queries.sparkSession, books)
    preparedVecs(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .crossJoin(broadcast(cb))
      .select(col("query_id"), col("sub"), col("code"),
        d2Micros(slice(col("qv"), col("sub") * dsub + lit(1), lit(dsub)),
          col("cv"), col("cc")).as("d2u"))
  }

  /** The shared query-probe block of every trained-centroid search:
    * nProbes nearest cells per query by round-6 cosine, min-cell
    * tie-break — ONE implementation so probe ordering can never drift
    * between the IVF, IVF-PQ and residual paths (review r13). Returns
    * (query_id, qv, qnrm, cell); callers project what they need. */
  private def probeCells(queries: DataFrame, cdf: DataFrame,
      nProbes: Int): DataFrame =
    rankProbes(preparedVecs(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm")), cdf, nProbes)

  /** [[probeCells]]' ranking body over prepared (query_id, qv, qnrm)
    * rows — also the probe list of [[searchMultiProbe]]. */
  private def rankProbes(queries: DataFrame, cdf: DataFrame,
      nProbes: Int): DataFrame =
    queries.crossJoin(broadcast(cdf))
      .withColumn("ccos", round(
        cosinePrenormed(dot(col("qv"), col("cv")), col("qnrm"), col("cnrm")), 6))
      .withColumn("pr", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("ccos").desc, col("cell"))))
      .where(col("pr") <= nProbes)
      .select(col("query_id"), col("qv"), col("qnrm"), col("cell"))

  /** SQL twin of [[probeCells]]: a SELECT of (query_id, qv, qnrm, cell),
    * the `nProbes` nearest cells of `cn`(cell, cv, cnrm) per row of
    * `queries`(query_id, qv, qnrm) by round-6 cosine, min-cell
    * tie-break. */
  def probeCellsSql(queries: String, nProbes: Int): String =
    s"""SELECT query_id, qv, qnrm, cell FROM (
       |    SELECT q.query_id, q.qv, q.qnrm, cn.cell,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ROUND(list_dot_product(q.qv, cn.cv) / (q.qnrm * cn.cnrm), 6) DESC, cn.cell) AS pr
       |    FROM $queries q CROSS JOIN cn)
       |  WHERE pr <= $nProbes""".stripMargin

  /** Shared ranking tail of the code tiers: top-k per query over
    * (query_id, vec_id, `score`), `score` ascending for a distance (d2u,
    * hamming) or descending for a similarity, NULLS LAST either way,
    * with neighbor-id tie-break; output (query_id, rank, neighbor_id,
    * `score`). Every caller guards its join sides per-row
    * ([[validWideCodes]]/[[validWideLut]], the word-count and dim size
    * predicates) so a null score is impossible by construction — a
    * `score IS NOT NULL` filter here would be WRONG: Catalyst inlines
    * the alias and pushes the whole pair kernel into the join condition,
    * re-evaluating it per pair (the r12 double-dot defect class;
    * PlanShapeSpec pins kernels out of join conditions). NULLS LAST
    * stays as belt-and-braces ordering only. */
  private def rankByScore(scored: DataFrame, k: Int, score: String = "d2u",
      ascending: Boolean = true): DataFrame = {
    val order = if (ascending) col(score).asc_nulls_last else col(score).desc_nulls_last
    val w = Window.partitionBy(col("query_id")).orderBy(order, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), col(score))
  }

  /** Per-ROW validity guards for the ADC join sides — the
    * [[scoreAgainst]] degenerate-input posture applied to the code
    * tier (ADVICE r13): every null source of [[graft.plans.AdcSumL]]
    * (wrong code count, out-of-range or null code, wrong LUT length,
    * null LUT entry — the stale-artifact-searched-with-wrong-books
    * cases) is a property of ONE side, so mismatched rows drop per-row
    * BEFORE the pair join — never k null-distance rows in the output
    * and never a predicate on the kernel's alias that Catalyst would
    * inline into the join condition. The HOF guards run once per stored
    * row / per query, not per pair. */
  private[operators] def validWideCodes(m: Int, ksub: Int): Column =
    size(col("codes")) === m &&
      forall(col("codes"), c => c.isNotNull && c >= 0 && c < lit(ksub))
  private[operators] def validWideLut(m: Int, ksub: Int): Column =
    size(col("lut")) === m * ksub && !exists(col("lut"), _.isNull)

  /** The ADC layout flattens per-subspace LUT slices positionally
    * (entry sub·ksub + code), which is only well-defined when every
    * subspace has the SAME codebook size — [[pqTrain]] legitimately
    * emits fewer codes for a low-diversity subspace (distinct-subvector
    * cap), and a ragged flatten would misalign every lookup (review
    * r13). Every encode and search fails loudly instead. */
  private def requireUniformBooks(books: Seq[Seq[Array[Double]]]): Unit =
    require(books.forall(_.size == books.head.size),
      s"PQ codes require uniform per-subspace codebook sizes, " +
        s"got ${books.map(_.size).mkString(",")} — pad or retrain")

  /** The per-query LUT of [[adcLut]] flattened sub-major to ONE
    * `array<bigint>` row per query (entry sub·ksub + code), ready for
    * the [[graft.plans.AdcSumL]] kernel. `extraKeys` ride the grouping
    * key (`cell` for the per-probe residual LUTs). */
  private[operators] def adcLutWideFrom(lut: DataFrame,
      extraKeys: Seq[String] = Nil): DataFrame = {
    val keyCols = col("query_id") +: extraKeys.map(col)
    lut.groupBy(keyCols: _*)
      .agg(array_sort(collect_list(
        struct(col("sub"), col("code"), col("d2u")))).as("scl"))
      .select((keyCols :+
        transform(col("scl"), x => x.getField("d2u")).as("lut")): _*)
  }

  /** The per-(query, probed cell) ADC LUT (query_id, cell, sub, code,
    * d2u) of the IVF faces: the `nProbes` nearest cells per query
    * ([[probeCells]]), then one exact subspace-distance table per probe.
    * With `residual` the table is built from the query's OWN residual
    * q − c(cell), matching codes that quantize v − c(cell); without it,
    * from the raw query — the same table for every probed cell. */
  private def probedAdcLut(queries: DataFrame, cents: Seq[Array[Double]],
      books: Seq[Seq[Array[Double]]], nProbes: Int,
      residual: Boolean): DataFrame = {
    val spark = queries.sparkSession
    val cdf = centroidFrame(spark, cents)
    val dsub = books.head.head.length
    val probes = probeCells(queries, cdf, nProbes)
      .select(col("query_id"), col("cell"), col("qv"))
    val q = if (!residual) probes else probes
      .join(broadcast(cdf.select(col("cell"), col("cv").as("ccv"))), "cell")
      .select(col("query_id"), col("cell"),
        graft.functions.SimFns.vecSub(col("qv"), col("ccv")).as("qv"))
    q.crossJoin(broadcast(codebookFrame(spark, books)))
      .select(col("query_id"), col("cell"), col("sub"), col("code"),
        d2Micros(slice(col("qv"), col("sub") * dsub + lit(1), lit(dsub)),
          col("cv"), col("cc")).as("d2u"))
  }

  /** The one ADC search body behind every PQ face: per-side validity
    * guards, then the pair join — a `cell` equi-join when the LUT is
    * keyed per probed cell (the IVF faces: a corpus row lives in ONE
    * cell and probed cells are distinct, so a pair joins at most once),
    * a cross join against the broadcast LUTs otherwise (flat PQ) —
    * self-exclusion by id (the [[bruteTopK]] convention), ONE
    * `adc_sum_l` per pair (m primitive loads + adds inside whole-stage
    * codegen; corpus vectors are never read), and [[rankByScore]].
    * `codes` is (vec_id[, cell], codes), `lut` is (query_id[, cell],
    * lut). Output: (query_id, rank, neighbor_id, d2u) with d2u the
    * summed integer micro-L2 — a total order, so hash-exact. */
  private def adcTopK(codes: DataFrame, lut: DataFrame,
      books: Seq[Seq[Array[Double]]], k: Int): DataFrame = {
    requireUniformBooks(books)
    val (m, ksub) = (books.size, books.head.size)
    val c = codes.where(validWideCodes(m, ksub))
    val q = broadcast(lut.where(validWideLut(m, ksub)))
    val pairs = if (lut.columns.contains("cell")) c.join(q, "cell") else c.crossJoin(q)
    rankByScore(pairs.where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        adcSum(col("codes"), col("lut"), ksub).as("d2u")), k)
  }

  /** Flat ADC top-k over a PRE-ENCODED [[pqEncode]] table: each query
    * broadcasts its exact per-(sub, code) distance LUT as one array and
    * every stored code row scores against it ([[adcTopK]]). */
  def pqTopKAdc(codes: DataFrame, queries: DataFrame,
      books: Seq[Seq[Array[Double]]], k: Int): DataFrame =
    adcTopK(codes, adcLutWideFrom(adcLut(queries, books)), books, k)

  /** IVF-PQ ENCODE: the stored (vec_id, cell, codes) row — the corpus is
    * cell-assigned against the trained centroids (cosine cells, the
    * [[assignCells]] metric) and PQ-encodes its RAW vectors in the same
    * projection (cell threads through as a key, so no assignment
    * rejoin). At scale this runs ONCE and persists; [[ivfPqTopK]]
    * searches the stored table and never touches a corpus vector. */
  def ivfPqEncode(corpus: DataFrame, cents: Seq[Array[Double]],
      books: Seq[Seq[Array[Double]]]): DataFrame = {
    val cdf = centroidFrame(corpus.sparkSession, cents)
    pqEncodeKeyed(assignCells(preparedVecs(corpus), cdf)
      .select(col("vec_id"), col("cell"), col("v")), books, Seq("cell"))
  }

  /** IVF-PQ search (the FAISS IVFADC layout minus residual encoding —
    * codes quantize the raw vectors): a query probes its `nProbes`
    * nearest cells with one LUT array per probe ([[probedAdcLut]]), so
    * [[adcTopK]]'s cell equi-join scores ONLY those cells' codes — scan
    * fraction ≈ nProbes/|cells|. Deterministic end to end (round-6
    * cosine probes, integer micro-L2 ADC) ⇒ oracle-checkable from the
    * two literal sets. */
  def ivfPqTopK(codes: DataFrame, queries: DataFrame,
      cents: Seq[Array[Double]], books: Seq[Seq[Array[Double]]],
      k: Int, nProbes: Int = 2): DataFrame =
    adcTopK(codes, adcLutWideFrom(
      probedAdcLut(queries, cents, books, nProbes, residual = false), Seq("cell")),
      books, k)

  /** ADC + exact re-rank (the "+R" refinement of Jégou et al. §V): the
    * quantized search produces a `shortlist`-sized candidate set per
    * query, and only THOSE |queries|·shortlist vectors are read back for
    * an exact round-4 cosine re-rank — the standard recipe for
    * recovering exact-tier recall while the corpus-wide pass still runs
    * on codes (measured in NOTES.md r14: the shortlist multiplies
    * recall@10 ~3× at shortlist = 5k). The shortlist frame is tiny and
    * BROADCASTS into the corpus join, so the refinement costs one
    * hash-joined corpus scan, never a second pair loop. Contract:
    * (query_id, rank, neighbor_id, cosine) — [[crossTopK]]'s, so the
    * refined search is a drop-in for the exact one. */
  def pqTopKRefined(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
      books: Seq[Seq[Array[Double]]], k: Int, shortlist: Int): DataFrame = {
    val short = pqTopKAdc(codes, queries, books, shortlist)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
    exactRerank(short, corpus, queries, k)
  }

  /** Shared exact-rerank tail of every quantized-search "+R" variant
    * (Jégou et al. §V): a tiny (query_id, vec_id) shortlist broadcasts
    * into the corpus, and ONLY those |queries|·shortlist vectors are read
    * back for a round-4 cosine top-k — [[crossTopK]]'s output contract
    * from a fraction of its vector reads, one hash-joined corpus scan,
    * never a second pair loop. Degenerate-input guards are the
    * [[scoreAgainst]] posture: zero/null norms are per-ROW drops (a null
    * cosine must never rank) and stay out of any join condition. */
  private def exactRerank(short: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val q = preparedVecs(queries).where(col("nrm") > 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val cand = preparedVecs(corpus).where(col("nrm") > 0)
      .join(broadcast(short), "vec_id")
      .join(broadcast(q), "query_id")
    rankTopK(cand.select(col("query_id"), col("vec_id").as("neighbor_id"),
      round(cosinePrenormed(dot(col("qv"), col("v")), col("qnrm"), col("nrm")), 4)
        .as("cosine")), k)
  }

  // -------------------------------------------------------------------
  // Binary (sign-bit) quantization — the 1-bit-per-dimension code tier
  // -------------------------------------------------------------------

  /** Sign-bit binary encode: (vec_id, bw) where `bw` packs the vector's
    * sign pattern 32 dimensions per BIGINT word — bit b of word j is set
    * iff v(32j + b) > 0 (strictly positive, so a zero dimension lands on
    * the 0 side deterministically in both engines). 32 bits per word ON
    * PURPOSE: every word value < 2³², so the pack is a plain sum of
    * disjoint powers of two with no sign-bit edge case anywhere (DuckDB's
    * `1::BIGINT << 63` overflow and its HUGEINT list_sum promotion both
    * stay out of play, and the words print/compare as ordinary positive
    * integers).
    *
    * At scale THIS is the stored table: dim/8 bytes per vector (64 dims →
    * 16 bytes) against 4·dim float bytes — a 16× scan shrink for the
    * Hamming tier, the classic binary-code ANN layout (Charikar 2002
    * sign-random-projection simhash, here with the identity basis; the
    * re-rank twin recovers exact-tier output like Jégou et al.'s "+R").
    * Encode is HOF-built but runs ONCE per corpus row on the build path,
    * never in the pair loop — the searches consume the materialized `bw`
    * attribute. */
  def binqEncode(embeddings: DataFrame): DataFrame =
    // native kernel (r15): one primitive loop in whole-stage codegen
    // instead of the transform/aggregate/sequence HOF chain (one
    // interpreted 32-step fold per word per row on the Hamming tier's
    // full-corpus encode pass). Word layout unchanged bit-for-bit
    // (SimilaritySpec pins it; every binq/hamming oracle stayed
    // hash-exact across the swap). Empty embeddings still drop per-row
    // (the scoreAgainst degenerate-input posture — review r13).
    preparedVecs(embeddings).where(size(col("v")) > 0)
      .select(col("vec_id"), graft.functions.SimFns.signPack(col("v")).as("bw"))

  /** Hamming top-k over a PRE-ENCODED sign-bit code table: queries
    * (raw vectors, same id space) encode once, broadcast, and every
    * corpus code scores as nWords xor+POPCNTs — one native
    * [[graft.plans.HammingL]] call per pair inside whole-stage codegen,
    * never a stored-vector read and never a dim-wide dot. The distance
    * lives in a PROJECTION above the pair join (the [[scoreAgainst]]
    * discipline: nothing expensive in a join condition). Ranking is
    * hamming ASC with neighbor-id tie-break — a total order, so the
    * result is hash-exact against a SQL oracle that recounts sign
    * disagreements from the raw vectors (the mathematical identity the
    * packing preserves). Output: (query_id, rank, neighbor_id, hamming).
    * Self-pairs are excluded by id (the [[bruteTopK]] convention). */
  def binqTopK(codes: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = binqEncode(queries)
      .select(col("vec_id").as("query_id"), col("bw").as("qbw"))
    val scored = codes.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      // cross-side word-count guard, the scoreAgainst size-predicate
      // posture: hamming over mismatched word counts is null, and a
      // null distance must never rank (plain asc is NULLS FIRST — it
      // would rank such pairs ON TOP; review r13). With the guard a
      // full encode/query dim mismatch yields the same loud-by-absence
      // EMPTY result as the exact tier. O(1) per pair — the kernel
      // itself stays out of the join condition (plan-pinned).
      .where(size(col("qbw")) - size(col("bw")) === 0)
      .select(col("query_id"), col("vec_id"),
        hammingWords(col("qbw"), col("bw")).as("hamming"))
    rankByScore(scored, k, "hamming")
  }

  /** Sign-bit codes with the per-row width guard (the scoreAgainst
    * posture): a vector of the wrong dim can't satisfy the pigeonhole
    * contract — drop it loudly. The guard checks the RAW vector width
    * (size(v) === dim), not the packed word count: a dim-17..32 stray
    * would pass a word-count check against dim 16 and its extra sign
    * bits would be counted by the verify kernel though never banded
    * (ADVICE r14). This relation IS the persistable Hamming-dedup
    * index: 16 B/vector, bands re-derive from it with trivial bit math
    * on load. */
  def hammingCodesChecked(embeddings: DataFrame, dim: Int): DataFrame =
    binqEncode(embeddings.where(size(col("embedding")) === dim))

  /** (vec_id, band_idx, band_val) over the dim real sign bits — see
    * [[hammingNearDupPairs]] for why bands must NOT cover the packed
    * word's always-zero tail. */
  private def hammingBands(codes: DataFrame, nBands: Int,
      bandBits: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    codes
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band_idx"),
        col("bw"))
      .select(col("vec_id"), col("band_idx"),
        // perWord = 32/bandBits is a power of two, so the double
        // division below is exact and the int cast is a true floor
        call_function("shiftright",
          element_at(col("bw"),
            (col("band_idx") / lit(32 / bandBits)).cast("int") + 1),
          (pmod(col("band_idx"), lit(32 / bandBits)) * bandBits).cast("int"))
          .bitwiseAND(lit(mask)).as("band_val"))
  }

  /** Shared verify tail: join codes onto the candidate pairs, score ONE
    * [[graft.plans.HammingL]] per pair in a projection, and filter the
    * threshold ABOVE the pair aggregate (which also dedups multi-band
    * candidate duplicates) — the aggregate is the pushdown barrier that
    * keeps the kernel out of the join condition. */
  private def hammingVerify(cand: DataFrame, codesA: DataFrame,
      codesB: DataFrame, maxHamming: Int): DataFrame = {
    val ca = codesA.select(col("vec_id").as("vec_a"), col("bw").as("bw_a"))
    val cb = codesB.select(col("vec_id").as("vec_b"), col("bw").as("bw_b"))
    cand.join(ca, "vec_a").join(cb, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        hammingWords(col("bw_a"), col("bw_b")).as("hamming"))
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(min(col("hamming")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** EXACT Hamming near-dup self-join via pigeonhole banding — the
    * dedup-family face of the sign-bit tier: split each vector's bit
    * pattern into `nBands` disjoint `bandBits`-bit bands; two patterns
    * within Hamming distance d < nBands MUST agree on at least one band
    * (pigeonhole: d differing bits can dirty at most d bands), so the
    * banded equi-join generates a candidate superset WITH NO MISSES and
    * the verify step makes the result exact — the classic exact
    * Hamming-join construction, the same shape as MinHash banding but
    * with a guarantee instead of a probability. At 100 TB this is ONE
    * equi-join on (band_idx, band_val) over 16-byte codes + per-pair
    * verification of the survivors; never an all-pairs product.
    *
    * The verify kernel ([[graft.plans.HammingL]]) lives in a PROJECTION
    * and the threshold filter sits above the pair AGGREGATE (which also
    * dedups multi-band candidate duplicates) — the aggregate is the
    * pushdown barrier that keeps the kernel out of the join condition
    * (the r12 double-dot class; a bare `.where(hamming <= d)` on the
    * projection would be pushed there by Catalyst). Requires
    * maxHamming < nBands (checked) — that inequality IS the exactness
    * proof. Output: (vec_a, vec_b, hamming), vec_a < vec_b. */
  def hammingNearDupPairs(embeddings: DataFrame, dim: Int, maxHamming: Int,
      bandBits: Int = 8): DataFrame = {
    require(bandBits >= 1 && 32 % bandBits == 0,
      s"bandBits must divide the 32-bit word, got $bandBits")
    // bands cover ONLY the dim real sign bits: the packed word's unused
    // high bits are zero for EVERY vector, so a band over them matches
    // all pairs and silently degenerates the equi-join into the
    // all-pairs product this operator exists to avoid (caught by plan
    // review on the dim-16 fixture — the oracle still passed, the scan
    // didn't scale). `dim` is the caller's embedding width, the same
    // static fact every index builder here takes.
    val nBands = (dim + bandBits - 1) / bandBits
    require(maxHamming < nBands,
      s"pigeonhole exactness requires maxHamming < nBands = $nBands " +
        s"(dim $dim / $bandBits-bit bands); shrink bandBits or the threshold")
    val codes = hammingCodesChecked(embeddings, dim)
    val bands = hammingBands(codes, nBands, bandBits)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    hammingVerify(cand, codes, codes, maxHamming)
  }

  /** Persisted bloom over a history code table's band keys — the
    * [[graft.operators.Dedup.buildBandBloom]] posture for the Hamming
    * index: built once from the stored codes, shipped to every batch
    * job as a few KB instead of the full band relation. */
  def buildHammingBandBloom(histCodes: DataFrame, dim: Int,
      bandBits: Int, expectedItems: Long, fpp: Double = 0.03): Array[Byte] =
    Dedup.buildHashBloom(
      hammingBands(histCodes.where(size(col("bw")) === (dim + 31) / 32),
        (dim + bandBits - 1) / bandBits, bandBits)
        .select(concat_ws(":", col("band_idx"), col("band_val")).as("bk")),
      "bk", expectedItems, fpp)

  /** Incremental form of [[hammingNearDupPairs]] — the stored-index
    * posture every dedup family carries: `histCodes` is the PERSISTED
    * [[hammingCodesChecked]] relation (16 B/vector; bands re-derive on
    * load with trivial bit math, so the index artifact is just the code
    * table), a new batch encodes fresh, and candidates are (batch ×
    * history) plus batch-internal band matches — history is never
    * re-encoded and never self-joined. Same pigeonhole exactness per
    * origin. Output (vec_a, vec_b, hamming, origin) with vec_a the
    * batch id; `origin` says which side vec_b came from. */
  def hammingNearDupIncremental(batch: DataFrame, histCodes: DataFrame,
      dim: Int, maxHamming: Int, bandBits: Int = 8,
      historyBandBloom: Option[Array[Byte]] = None): DataFrame = {
    require(bandBits >= 1 && 32 % bandBits == 0,
      s"bandBits must divide the 32-bit word, got $bandBits")
    val nBands = (dim + bandBits - 1) / bandBits
    require(maxHamming < nBands,
      s"pigeonhole exactness requires maxHamming < nBands = $nBands")
    val nWords = (dim + 31) / 32
    val bCodes = hammingCodesChecked(batch, dim)
    val hCodes = histCodes.where(size(col("bw")) === nWords)
    // optional persisted bloom over the HISTORY band keys (the
    // minhashCandidatesIncremental posture): a genuinely-new sign
    // pattern's bands mostly don't exist in history, and the inner
    // join drops bloom-negative rows anyway — the prefilter is EXACT
    // (false positives just proceed and match nothing), so the
    // pigeonhole guarantee is untouched. Only the history leg filters;
    // the within-batch self-join sees every band.
    val bBands = hammingBands(bCodes, nBands, bandBits)
    val bBandsForHist = historyBandBloom.fold(bBands)(bloom =>
      bBands.where(Dedup.mightContainHash(bloom,
        concat_ws(":", col("band_idx"), col("band_val")))))
    val hBands = hammingBands(hCodes, nBands, bandBits)
    val candHist = bBandsForHist.as("a")
      .join(hBands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          // re-ingesting an id already in history must not emit a
          // (x, x, 0, 'history') self-pair (ADVICE r14) — the batch and
          // history id spaces may overlap, unlike the `<` self-join leg
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    val candBatch = bBands.as("a")
      .join(bBands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    hammingVerify(candHist, bCodes, hCodes, maxHamming)
      .withColumn("origin", lit("history"))
      .unionByName(
        hammingVerify(candBatch, bCodes, bCodes, maxHamming)
          .withColumn("origin", lit("batch")))
  }

  /** Hamming shortlist + exact re-rank — the binary tier's "+R" variant:
    * the corpus-wide pass runs on 16-byte codes, then only the
    * |queries|·shortlist shortlisted vectors are read back for an exact
    * round-4 cosine top-k ([[crossTopK]]'s contract, via the shared
    * [[exactRerank]] tail). */
  def binqTopKRefined(codes: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, shortlist: Int): DataFrame = {
    val short = binqTopK(codes, queries, shortlist)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
    exactRerank(short, corpus, queries, k)
  }

  // -------------------------------------------------------------------
  // Scalar (int8) quantization — the 1-byte-per-dimension code tier
  // -------------------------------------------------------------------

  /** Int8 scalar-quantization encode: (vec_id, q8, max_abs, nrm) with
    * q8(i) = floor(v(i)·127/max_abs + 0.5) ∈ [−127, 127] — the
    * `sim_quantize` floor convention (an explicit `round()` would split
    * on the engines' different half-boundary algorithms). `max_abs` and
    * `nrm` ride along as the per-vector dequantization scale: the stored
    * row is dim bytes of codes + two doubles instead of 4·dim float
    * bytes (~4× scan shrink; the faiss `SQ8` layout). Zero vectors
    * (max_abs = 0 ⇒ the quantizer divides by zero) are dropped per-row —
    * the [[scoreAgainst]] degenerate-input posture. */
  def sq8Encode(embeddings: DataFrame): DataFrame = {
    // native kernels (r15): abs_max_d + sq8_codes_i replace the two
    // ArrayTransform HOFs on this full-corpus encode pass — identical
    // arithmetic (Math.floor + the same cast chain), parity spec'd,
    // every sq8 oracle hash-exact across the swap
    val p = Stage(preparedVecs(embeddings).where(col("nrm") > 0),
      "max_abs", graft.functions.SimFns.absMax(col("v")))
    p.select(col("vec_id"),
      graft.functions.SimFns.sq8Codes(col("v"), col("max_abs")).as("q8"),
      col("max_abs"), col("nrm"))
  }

  /** Top-k over a PRE-ENCODED int8 code table: the integer code dot is
    * exact in double arithmetic (|Σ q8ᵢ·c8ᵢ| ≤ dim·127² ≪ 2⁵³), and the
    * approximate cosine dequantizes it with the stored per-vector scales:
    * round(idot·qmax·cmax / (127²·qnrm·cnrm), 6) — every factor
    * bit-deterministic, so the ranking (score DESC, neighbor-id
    * tie-break) hash-matches a SQL oracle that re-quantizes from the raw
    * vectors. The code arrays are cast to double ONCE per row below the
    * pair join (transient — the stored table keeps the int codes);
    * per-pair work is the same dim-wide dot as the exact tier, so the
    * win is the 4× scan/storage shrink, not flops — the compute-cutting
    * tiers are PQ/ADC and the binary Hamming scan. Self-pairs excluded
    * by id. Output: (query_id, rank, neighbor_id, score). */
  def sq8TopK(codes: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = codes.select(col("vec_id"), toDouble(col("q8")).as("q8d"),
      col("max_abs"), col("nrm"))
    val q = sq8Encode(queries).select(col("vec_id").as("query_id"),
      toDouble(col("q8")).as("qq8d"), col("max_abs").as("qmax"),
      col("nrm").as("qnrm"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      // cross-side dim guard (the scoreAgainst posture): a code/query
      // dim mismatch nulls the dot, and k null-scored rows per query
      // must never be emitted — with the guard (and the encoder\'s
      // nrm > 0 drop) the score can never be null (review r13)
      .where(size(col("qq8d")) - size(col("q8d")) === 0)
      .select(col("query_id"), col("vec_id"),
        round(dot(col("qq8d"), col("q8d")) * col("qmax") * col("max_abs") /
          (lit(16129.0) * col("qnrm") * col("nrm")), 6).as("score"))
    rankByScore(scored, k, "score", ascending = false)
  }

  // -------------------------------------------------------------------
  // Residual IVF-PQ — codes quantize (v − centroid), the full IVFADC
  // -------------------------------------------------------------------

  /** (vec_id, cell, embedding) where `embedding` is the RESIDUAL
    * v − c(cell) against the trained centroids — the frame the residual
    * PQ family trains and encodes on (Jégou et al. §III-B: quantizing
    * residuals re-centers every cell's point cloud on the origin, so one
    * codebook set spends its 2^bits on local detail instead of on global
    * position — the recall gap [[ivfPqTopK]]'s scaladoc concedes).
    * Centroids are round-6 literals and the subtraction is exact IEEE,
    * so residuals are bit-deterministic cross-engine. */
  private[operators] def residualFrame(corpus: DataFrame,
      cents: Seq[Array[Double]]): DataFrame = {
    val cdf = centroidFrame(corpus.sparkSession, cents)
    assignCells(preparedVecs(corpus), cdf)
      .join(broadcast(cdf.select(col("cell"), col("cv"))), "cell")
      .select(col("vec_id"), col("cell"),
        graft.functions.SimFns.vecSub(col("v"), col("cv")).as("embedding"))
  }

  /** Deterministic CLUSTERED embedding fixture (VERDICT r13 #2, the
    * synthesizeImages discipline: closed-form in vec_id, reproducible
    * in any engine): `nClusters` pseudorandom centers
    * (((c·5 + d·3) mod 17 − 8)/4, unit scale) plus per-vector residual
    * jitter an order of magnitude smaller
    * (((i·13 + d·7) mod 9 − 4)/32). Every element is a dyadic rational
    * k/32, |k| ≤ 68 — exact in FLOAT storage and in cross-engine
    * DOUBLE arithmetic, so searches over the fixture stay
    * hash-oracle-able. The testdata's embeddings are near-uniform
    * (global-mean norm 0.023 — NOTES r13), where residual ≈ raw PQ by
    * construction; THIS corpus is the clustered case the residual tier
    * exists for: within a cluster the raw vectors collapse to nearly
    * one code word, while the residuals span the whole codebook. */
  def synthesizeClustered(spark: org.apache.spark.sql.SparkSession,
      n: Int = 560, dim: Int = 16, nClusters: Int = 8): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        ((((col("id") % nClusters) * 5 + d * 3) % 17 - 8).cast("double") / lit(4.0) +
          (((col("id") * 13 + d * 7) % 9 - 4).cast("double") / lit(32.0)))
          .cast("float")).as("embedding"))

  /** Anisotropic LOW-RANK latent fixture (the OPQ demonstration corpus
    * — Ge et al. 2013: PQ quantizes subspaces independently, so the
    * structure it cannot represent is correlation ACROSS subspaces,
    * and a rotation helps exactly when it can re-align the data to
    * kill that): per-dim pseudorandom detail
    * ((i·13 + d·7 + (i·d) mod 29) mod 65 − 32)/32, scaled by the
    * dyadic decay 2^(−d) — variance halves per dimension, so the
    * signal is effectively rank-≈4. The OPQ corpus is H·z
    * ([[rotateEmbeddings]] with [[hadamard16]]): the strong latents
    * smear into every dimension, making all 8 identity subspaces
    * mutually correlated marginals of the same low-rank source —
    * exactly the case where un-rotating first re-aligns the code
    * budget. All values are dyadic (k/2²² after rotation, well inside
    * float's 24-bit significand) — exact in float storage and
    * cross-engine arithmetic. */
  def synthesizeAniso(spark: org.apache.spark.sql.SparkSession,
      n: Int = 560, dim: Int = 16): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d =>
        (((col("id") * 13 + d * 7 + (col("id") * d) % 29) % 65 - 32).cast("double")
          / lit(32.0) / pow(lit(2.0), d.cast("double")))
          .cast("float")).as("embedding"))

  /** The 16×16 scaled Hadamard rotation H₁₆/4 (Sylvester construction):
    * orthonormal with entries ±1/4 — EXACTLY orthonormal in IEEE
    * arithmetic (HHᵀ = 16I over ±1 integers), so rotation preserves
    * every dot product bit-for-bit on dyadic inputs and a SQL oracle
    * re-derives the rotated corpus exactly. The fixed rotation is the
    * deterministic stand-in for OPQ's trained R (Ge et al. 2013): on an
    * anisotropic corpus it equalizes per-subspace variance, which is
    * the entire OPQ effect at fixed codebook size. */
  def hadamard16: Seq[Array[Double]] = {
    var h = Array(Array(1.0))
    while (h.length < 16) {
      h = (h.map(r => r ++ r) ++ h.map(r => r ++ r.map(-_)))
    }
    h.map(_.map(_ / 4.0)).toSeq
  }

  /** Apply a literal rotation matrix to the embedding column:
    * v′(i) = R(i)·v — HOF-built but a one-pass build-side transform
    * (never in a pair loop); the searches consume the materialized
    * rotated column. The result stays DOUBLE (no float narrowing): a
    * trained rotation's entries are arbitrary doubles, and the oracle
    * recomputes the same index-order dot from the same literals — a
    * float cast here would diverge the two engines (the fixed-Hadamard
    * path is dyadic-exact either way). */
  def rotateEmbeddings(df: DataFrame, r: Seq[Array[Double]]): DataFrame =
    // native kernel (r15): one primitive loop in whole-stage codegen,
    // same index-order accumulation as the transform/aggregate/zip_with
    // HOF chain it replaced (CodegenFallback + dim+1 allocations per
    // row — and this runs on EVERY corpus row at encode time and every
    // query row at serve time). Parity pinned in SimilaritySpec; every
    // OPQ-family oracle stayed hash-exact across the swap.
    df.select(col("vec_id"),
      graft.functions.SimFns.matVec(r, col("embedding")).as("embedding"))

  /** TRAINED OPQ rotation (Ge et al. 2013, the parametric solution):
    * PCA-align then BALANCE — eigen-decompose the corpus second-moment
    * matrix (bounded vec_id-ordered sample, the [[pqTrain]] posture;
    * cyclic Jacobi with a fixed sweep order, so training is
    * bit-deterministic), then allocate eigen-directions to the m
    * subspaces by greedy log-eigenvalue balancing — each subspace gets
    * dsub directions chosen so the per-subspace variance PRODUCTS are
    * as equal as possible, which equalizes the per-subspace
    * quantization distortion at fixed ksub (Ge §4.1). Output rows are
    * the rotation v′ = R·v in subspace-major order (subspace 0's dsub
    * directions first). Eigenvector signs are normalized (largest-|x|
    * component positive, smallest index on tie) so the matrix — and
    * every oracle literal derived from it — is unique. */
  def opqTrainRotation(corpus: DataFrame, m: Int,
      maxSample: Int = 2048, sweeps: Int = 12): Seq[Array[Double]] = {
    val rows = preparedVecs(corpus)
      .orderBy(col("vec_id")).limit(maxSample)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "opqTrainRotation: empty corpus")
    val dim = rows.head.length
    require(dim % m == 0, s"opqTrainRotation: dim $dim not divisible by m=$m")
    val dsub = dim / m
    // second-moment matrix S = Σ v·vᵀ / n (rotation only — OPQ has no
    // translation, so moments are about the ORIGIN, not the mean)
    val s = Array.ofDim[Double](dim, dim)
    rows.foreach { v =>
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { s(i)(j) += v(i) * v(j); j += 1 }
        i += 1
      }
    }
    val n = rows.length.toDouble
    for (i <- 0 until dim; j <- 0 until dim) s(i)(j) /= n
    // cyclic Jacobi: fixed (p, q) sweep order ⇒ deterministic
    val vmat = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 1 to sweeps; p <- 0 until dim - 1; q <- p + 1 until dim) {
      if (math.abs(s(p)(q)) > 1e-15) {
        val theta = 0.5 * math.atan2(2.0 * s(p)(q), s(q)(q) - s(p)(p))
        val (c, sn) = (math.cos(theta), math.sin(theta))
        var i = 0
        while (i < dim) {
          val (sp, sq) = (s(i)(p), s(i)(q))
          s(i)(p) = c * sp - sn * sq; s(i)(q) = sn * sp + c * sq
          i += 1
        }
        i = 0
        while (i < dim) {
          val (sp, sq) = (s(p)(i), s(q)(i))
          s(p)(i) = c * sp - sn * sq; s(q)(i) = sn * sp + c * sq
          val (vp, vq) = (vmat(i)(p), vmat(i)(q))
          vmat(i)(p) = c * vp - sn * vq; vmat(i)(q) = sn * vp + c * vq
          i += 1
        }
      }
    }
    // eigen-pairs sorted by eigenvalue desc (index tie-break), signs
    // normalized: the largest-|x| component (smallest index on tie)
    // made positive
    val pairs = (0 until dim).map { j =>
      val ev = Array.tabulate(dim)(i => vmat(i)(j))
      val pivot = ev.indices.maxBy(i => (math.abs(ev(i)), -i))
      val signed = if (ev(pivot) < 0) ev.map(-_) else ev
      (s(j)(j), signed)
    }.sortBy { case (l, _) => -l }
    // greedy balanced allocation: assign eigen-directions (variance
    // desc) to the subspace with the smallest current log-product
    // among those not yet full — equalizes per-subspace det(Σ)
    val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    val logProd = Array.fill(m)(0.0)
    pairs.indices.foreach { r =>
      val open = (0 until m).filter(b => buckets(b).size < dsub)
      val b = open.minBy(b => (logProd(b), b))
      buckets(b) += r
      logProd(b) += math.log(math.max(pairs(r)._1, 1e-30))
    }
    buckets.toSeq.flatMap(_.toSeq.map(r => pairs(r)._2))
  }

  /** Train PQ codebooks on the RESIDUALS of a corpus against trained
    * centroids — [[pqTrain]] over [[residualFrame]] (same bounded
    * deterministic sample, same Lloyd rounds; the codebooks a derived
    * oracle can interpolate as literals). */
  def pqTrainResidual(corpus: DataFrame, cents: Seq[Array[Double]],
      m: Int = 8, ksub: Int = 16, iters: Int = 4,
      maxSample: Int = 2048): Seq[Seq[Array[Double]]] =
    pqTrain(residualFrame(corpus, cents).select(col("vec_id"), col("embedding")),
      m, ksub, iters, maxSample)

  /** Residual IVF-PQ ENCODE — one pass producing the stored
    * (vec_id, cell, codes) row: cell assignment against the trained
    * centroids plus PQ codes of the RESIDUAL v − c(cell) against the
    * residual-trained codebooks, cell-assign, residual and all m codes
    * in one projection past the assignment's map-side aggregate. At
    * scale this runs once and persists (the [[pqEncode]] posture);
    * [[ivfPqResidualTopK]] searches the stored table and never touches
    * a corpus vector. */
  def ivfPqResidualEncode(corpus: DataFrame, cents: Seq[Array[Double]],
      books: Seq[Seq[Array[Double]]]): DataFrame =
    pqEncodeKeyed(residualFrame(corpus, cents)
      .select(col("vec_id"), col("cell"), col("embedding").as("v")),
      books, Seq("cell"))

  /** Residual-encoded IVF-PQ search over a PRE-ENCODED
    * [[ivfPqResidualEncode]] table — the COMPLETE FAISS IVFADC layout
    * ([[ivfPqTopK]] plus the residual encoding): the code row is still
    * m ints per vector, it just means "offset from my centroid" instead
    * of "absolute position". A query probes its `nProbes` nearest cells
    * and builds one exact LUT PER PROBED CELL from its own residual
    * ([[probedAdcLut]]) — |queries|·nProbes LUT arrays, still tiny,
    * still broadcast — and [[adcTopK]]'s cell equi-join scores only
    * those cells' codes. ADC distance is then ‖(q − c) − code‖² =
    * ‖q − (c + code)‖², the true distance to the reconstructed vector,
    * which is what buys residual PQ its recall at equal code budget.
    * Deterministic end to end (round-6 cosine probes and centroids,
    * integer micro-L2 ADC) ⇒ oracle-checkable from the two literal
    * sets. */
  def ivfPqResidualTopK(codes: DataFrame, queries: DataFrame,
      cents: Seq[Array[Double]], books: Seq[Seq[Array[Double]]],
      k: Int, nProbes: Int = 2): DataFrame =
    adcTopK(codes, adcLutWideFrom(
      probedAdcLut(queries, cents, books, nProbes, residual = true), Seq("cell")),
      books, k)

  /** OPQ ∘ residual IVF-PQ ENCODE (VERDICT r14 #1) — the complete FAISS
    * production index layout (OPQ pretransform + IVFADC, Ge et al. 2013
    * composed with Jégou et al. 2011): rotate each corpus vector by the
    * trained rotation `r` ([[opqTrainRotation]]), assign the ROTATED
    * vector to its nearest trained cell, PQ-encode the rotated residual
    * v′ − c(cell) against residual-trained codebooks, and store the one
    * (vec_id, cell, codes) row. `cents` and `books` must be trained IN
    * THE ROTATED SPACE ([[kmeansCentroidArrays]] / [[pqTrainResidual]]
    * over [[rotateEmbeddings]](corpus, r)). Runs once and persists (the
    * [[pqEncode]] posture); searches read the stored table and never
    * touch a corpus vector. */
  def opqIvfPqEncode(corpus: DataFrame, r: Seq[Array[Double]],
      cents: Seq[Array[Double]],
      books: Seq[Seq[Array[Double]]]): DataFrame =
    ivfPqResidualEncode(rotateEmbeddings(corpus, r), cents, books)

  /** OPQ ∘ residual IVF-PQ SEARCH over a PRE-ENCODED [[opqIvfPqEncode]]
    * table: the query rotates by the same trained `r` (one dim×dim dot
    * set per query — the OPQ pretransform), probes its `nProbes` nearest
    * rotated cells, and ADC-scores each probed cell's stored codes with
    * one exact LUT from its own ROTATED residual q′ − c(cell) —
    * [[ivfPqResidualTopK]] with the rotation folded in front, which is
    * the entire FAISS `OPQ…,IVF…,PQ…` chain. Neither step reads a corpus
    * vector; scan fraction ≈ nProbes/|cells| of the 16-byte-code table.
    * Deterministic end to end (trained literals + round-6 probes +
    * integer micro-L2 ADC) ⇒ oracle-checkable from the three literal
    * sets. */
  def opqIvfPqTopK(codes: DataFrame, queries: DataFrame,
      r: Seq[Array[Double]], cents: Seq[Array[Double]],
      books: Seq[Seq[Array[Double]]], k: Int, nProbes: Int = 2): DataFrame =
    ivfPqResidualTopK(codes, rotateEmbeddings(queries, r),
      cents, books, k, nProbes)
}
