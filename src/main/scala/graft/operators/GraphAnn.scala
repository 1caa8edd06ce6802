package graft.operators

import graft.functions.SimFns._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Graph-based ANN (the NSW family), Spark-native (SURVEY.md §2.17).
  *
  * HNSW-proper is built by SEQUENTIAL data-dependent inserts — each
  * vector's entry point depends on every earlier insert — which has no
  * faithful distributed expression. The graph-ANN *family*, however,
  * has a data-parallel member: an NSW-style navigable graph whose KNN
  * core is built by NN-Descent (Dong et al., WWW 2011 — "Efficient
  * K-Nearest Neighbor Graph Construction for Generic Similarity
  * Measures"), the construction FAISS/pyNNDescent use offline. Build
  * and serving both run against a RESIDENT index — the query-invariant
  * data is collected once and broadcast, and each step is one executor
  * pass over it, not a distributed join per step:
  *
  *  - '''init''': candidate edges from shared sign-LSH buckets (the
  *    [[Similarity.lshCorpus]] planes — bucket-mates, ~N·(N/2^p)
  *    candidates total, never corpus all-pairs) plus a deterministic
  *    SKIP-LIST RING in vec_id rank order (+2^j successors, the
  *    O(log N)-diameter navigability device replacing HNSW's
  *    long-range upper layers — see [[RingOffsets]]);
  *  - '''refinement''' (×`rounds`): NN-Descent — candidates(x) =
  *    U(x) ∪ U(U(x)) minus x, where U = E ∪ reverse(E); per-src top-K
  *    by (round-4 cosine DESC, dst). Candidate volume is N·(2K)² per
  *    round — linear in N, bounded per node. Each round, init
  *    included, is ONE `mapPartitions` job over the src ranks
  *    ([[bestEdges]]) against the broadcast (v, nrm) table: N·dim
  *    doubles plus N·2K ids resident per executor;
  *  - '''serving''': multi-entry unrolled BEAM search, `hops` fixed
  *    expansion steps: pool ← top-ef(pool ∪ score(out(pool))) per
  *    query. The hop-invariant index — adjacency, the scorer's per-node
  *    payload, the entry points — is collected once per call and
  *    broadcast, so it is RESIDENT on each executor: N·(K+15) ids plus
  *    N·dim doubles (cosine) or N·m code bytes (ADC). Every query then
  *    walks it in one executor pass ([[walk]]) — no Spark job per hop.
  *    Entry points are the `nEntries` smallest nodes in (md5(vec_id),
  *    vec_id) order — a deterministic pseudo-random spread, the
  *    distributed stand-in for HNSW's top-layer descent.
  *
  * Everything is deterministic (fixed planes, round-4 cosine, id
  * tie-breaks, monotone pool growth), so the ENTIRE build + search
  * re-derives in DuckDB as one bounded unrolled CTE chain
  * ([[buildSql]]/[[beamSql]]) — the oracle posture VERDICT r15 #6
  * asked for, vs the thousands of dependent CTEs replaying HNSW's
  * insert order would need.
  *
  * Scale notes: build and serving share one memory bound — N·dim
  * doubles plus O(N·K) ids resident per executor, each collect bounded
  * by `spark.driver.maxResultSize`. Past it the scale path is a graph
  * sharded per partition, built and walked per shard and merged by
  * query — out of scope for build as for serving.
  */
object GraphAnn {

  /** Shared build/search constants — the Spark operator and the DuckDB
    * oracle builders both read THESE, so the unrolled depths can never
    * drift apart. */
  val K = 12         // graph out-degree (refined KNN edges per node)
  val Rounds = 2     // NN-Descent refinement rounds

  /** Skip-list ring offsets: each node links to its +2^j-th successor
    * in vec_id rank order (wrapping) — the deterministic distributed
    * analog of HNSW's layer hierarchy. Successor links alone gave the
    * graph O(N) diameter (measured: recall@10 fell 0.90 → 0.44 going
    * 500 → 2000 vectors, one query at 0.0 — the beam could not cross
    * the corpus); power-of-two skips give O(log N) navigability, the
    * Kleinberg small-world / skip-list construction. The list is FIXED
    * (not derived from N) so the oracle stays static: offsets ≥ N wrap
    * via mod into pseudo-random mid-range links, which only add
    * navigability. 15 offsets cover N ≤ 32768 with true halving steps;
    * at larger corpora extend the literal list (log₂N entries). */
  val RingOffsets: Seq[Int] = (0 to 14).map(1 << _)
  val NPlanes = 6    // init LSH planes (shared with Similarity.lshPlanes)
  val Ef = 64        // beam width
  val Hops = 4       // unrolled beam expansion steps
  val NEntries = 16  // deterministic entry points
  val Shortlist = 200 // ADC-routed exact-re-rank pool (pqTopKRefined size)

  /** (vec_id, v, nrm, bucket) over positive-norm vectors — the build
    * prep. Zero-norm vectors carry no cosine ordering and are excluded
    * from the graph entirely (same posture as scoreAgainst's nrm > 0). */
  private def prepped(embeddings: DataFrame, nPlanes: Int, dim: Int): DataFrame =
    Similarity.lshCorpus(embeddings.select(col("vec_id"), col("embedding")),
      nPlanes, dim).where(col("nrm") > 0)

  /** Skip-ring successors of node rank `s` among `n` ranks: (s + j) mod n
    * for every offset j, self and repeats dropped (offsets ≥ n wrap). */
  private[graft] def ring(s: Int, n: Int, offsets: Seq[Int]): Array[Int] =
    offsets.map(j => ((s.toLong + j) % n).toInt).filter(_ != s).distinct.toArray

  /** One NN-Descent step for one src rank — the build kernel: each
    * candidate scored once (repeats and src skipped), the best k kept by
    * (cosine DESC under [[CosineDesc]], rank); ranks are vec_id order,
    * so this is the oracle's (cosine DESC, dst). `keep` ranks (the final
    * pass's ring) are appended, scored, unless among the best. */
  private[graft] def bestEdges(src: Int, cands: Array[Int], k: Int,
      score: Int => Double, keep: Array[Int] = Array.emptyIntArray): Array[(Int, Double)] = {
    val best = cands.distinct.filter(_ != src).map(d => d -> score(d))
      .sorted(Ordering.Tuple2(CosineDesc, Ordering.Int).on[(Int, Double)](_.swap)).take(k)
    best ++ keep.filterNot(d => best.exists(_._1 == d)).map(d => d -> score(d))
  }

  /** Init candidates of each rank: its bucket-mates ∪ its ring. */
  private[graft] def initCands(bucket: Array[Int], offsets: Seq[Int]): Int => Array[Int] = {
    val members = bucket.indices.toArray.groupBy(bucket(_))
    val n = bucket.length
    s => members(bucket(s)) ++ ring(s, n, offsets)
  }

  /** Refinement candidates: U(src) ∪ U(U(src)), U = E ∪ reverse(E). */
  private[graft] def refineCands(edges: Array[Array[(Int, Double)]]): Int => Array[Int] = {
    val u = Array.fill(edges.length)(Array.newBuilder[Int])
    for (s <- edges.indices; (d, _) <- edges(s)) { u(s) += d; u(d) += s }
    val adj = u.map(_.result().distinct)
    s => adj(s) ++ adj(s).flatMap(adj(_))
  }

  /** NN-Descent over the prepped rows collected once, sorted by vec_id
    * (a node's rank is its index) and broadcast; one job per round, only
    * the edges come back. The result is a frame over the collected final
    * rows (ring included when `withRing`); every broadcast is destroyed. */
  private def nnDescent(embeddings: DataFrame, k: Int, rounds: Int,
      nPlanes: Int, dim: Int, offsets: Seq[Int], withRing: Boolean): DataFrame = {
    val spark = embeddings.sparkSession
    val sc = spark.sparkContext
    val rows = prepped(embeddings, nPlanes, dim).collect().sortBy(_.getLong(0))
    val ids = rows.map(_.getLong(0))
    require(ids.indices.drop(1).forall(i => ids(i) != ids(i - 1)),
      "graph build needs unique vec_ids")
    val n = ids.length
    // prepped rows have nrm > 0 and one length, so cosine4 is defined
    val vecs = sc.broadcast((rows.map(_.getSeq[Double](1).toArray), rows.map(_.getDouble(2))))
    var edges = Array.empty[Array[(Int, Double)]]
    try for (r <- 0 to rounds) {
      val gen = sc.broadcast(
        if (r == 0) initCands(rows.map(_.getInt(3)), offsets) else refineCands(edges))
      val keep: Int => Array[Int] =
        if (withRing && r == rounds) ring(_, n, offsets) else _ => Array.emptyIntArray
      edges = try sc.parallelize(0 until n, sc.defaultParallelism).mapPartitions { it =>
        val (v, nrm) = vecs.value
        val c = gen.value
        it.map(s => bestEdges(s, c(s), k,
          d => cosine4(v(s), nrm(s), v(d), nrm(d)).get, keep(s)))
      }.collect() finally gen.destroy()
    } finally vecs.destroy()
    val schema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType), StructField("cosine", DoubleType)))
    spark.createDataFrame(sc.parallelize(
      for (s <- 0 until n; (d, c) <- edges(s)) yield Row(ids(s), ids(d), c),
      sc.defaultParallelism), schema)
  }

  /** The navigable graph: (src, dst, cosine), out-degree ≤ K + |offsets|.
    * Final edge set = NN-Descent-refined top-K ∪ ring. Deterministic
    * end to end, so it persists as a write-once artifact and the
    * DuckDB oracle re-derives it bit-exactly. Memory: N·dim doubles
    * plus N·2K ids resident per executor, the collects bounded by
    * `spark.driver.maxResultSize`. */
  def buildGraph(embeddings: DataFrame, k: Int = K, rounds: Int = Rounds,
      nPlanes: Int = NPlanes, dim: Int = 64,
      offsets: Seq[Int] = RingOffsets): DataFrame =
    nnDescent(embeddings, k, rounds, nPlanes, dim, offsets, withRing = true)

  /** The NN-Descent-refined top-K edges alone (no ring union) — exposed
    * for the monotonicity spec: each round ranks over a candidate set
    * that CONTAINS the previous edge set, so per-src edge quality can
    * only improve round over round. */
  private[graft] def refinedEdges(embeddings: DataFrame, k: Int = K,
      rounds: Int = Rounds, nPlanes: Int = NPlanes, dim: Int = 64,
      offsets: Seq[Int] = RingOffsets): DataFrame =
    nnDescent(embeddings, k, rounds, nPlanes, dim, offsets, withRing = false)

  /** The `nEntries` deterministic entry points: smallest nodes in
    * (md5(vec_id-as-string), vec_id) order — a fixed pseudo-random
    * spread over the corpus, identical in both engines. */
  private def entryIds(n: DataFrame, nEntries: Int): Array[Long] =
    n.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nEntries).select(col("vec_id")).collect().map(_.getLong(0))

  /** Rows keyed by node id, resident on every executor: ids sorted once,
    * looked up by binary search — no boxed keys or hash buckets, so the
    * index costs its payload plus one long per node. */
  private[graft] final class ById[A](ids: Array[Long], rows: IndexedSeq[A])
      extends Serializable {
    def get(node: Long): Option[A] = {
      val i = java.util.Arrays.binarySearch(ids, node)
      if (i < 0) None else Some(rows(i))
    }
  }

  private[graft] object ById {
    def apply[A](pairs: Iterable[(Long, A)]): ById[A] = {
      val sorted = pairs.toVector.sortBy(_._1)
      val ids = sorted.map(_._1).toArray
      require(ids.indices.drop(1).forall(i => ids(i) != ids(i - 1)),
        "graph serving needs unique node ids")
      new ById(ids, sorted.map(_._2))
    }
  }

  /** The hop-invariant serving index: adjacency src → dsts, the scorer's
    * per-node payload ((v, nrm) vectors or PQ codes), the entry points
    * and, for filtered serving, the sorted matching ids. */
  private final case class Index[P](adj: ById[Array[Long]], nodes: ById[P],
      entries: Array[Long], matchIds: Option[Array[Long]] = None) {
    def out(node: Long): Array[Long] = adj.get(node).getOrElse(Array.emptyLongArray)
  }

  private def adjacency(graph: DataFrame): ById[Array[Long]] =
    ById(graph.select(col("src"), col("dst")).collect()
      .groupMap(_.getLong(0))(_.getLong(1)))

  /** Spark's DESC order over doubles ([[SQLOrderingUtil.compareDoubles]]
    * reversed): −0.0 ties 0.0, NaN sorts first. */
  private[graft] val CosineDesc: Ordering[Double] =
    (a, b) => SQLOrderingUtil.compareDoubles(b, a)

  /** One node a query's walk scored. `hop` is the last hop that gathered
    * it, so a node reached along several edges enters a hop's candidate
    * list once — the oracle's `min` per (query, node), since a node's
    * score is fixed. */
  private final class Scored[S](val node: Long, val score: S) {
    var hop: Int = -1
  }

  /** One query's beam walk — the serving kernel, replaying [[beamSql]]'s
    * unrolled walk for a single query: pool₀ = cap(score(entries)),
    * poolₕ = cap(poolₕ₋₁ ∪ score(out(poolₕ₋₁))), where cap keeps each node
    * once and the best `ef` by (score, node) under `ord`. Each hop expands
    * the whole pool through the adjacency (DiskANN-style beam, not
    * best-first). `score` is None for a node the scorer cannot score (no
    * stored vector or code, zero norm): the node is dropped, as the inner
    * join it replaces dropped it. Scores are memoized per query; a node
    * re-reached by a later hop re-scores to the same value, so results
    * are unchanged.
    *
    * Returns the final pool and every node the walk scored, both ranked.
    * The second feeds the passive accumulators (the ADC shortlist, the
    * filtered match pool): a prefix of it is their one end-of-walk cap,
    * which equals capping per hop (top-k(top-k(A) ∪ B) = top-k(A ∪ B)). */
  private[graft] def walk[S](out: Long => Array[Long], entries: Array[Long],
      ef: Int, hops: Int, score: Long => Option[S])(
      implicit ord: Ordering[S]): (Seq[(Long, S)], Seq[(Long, S)]) = {
    import scala.collection.mutable.{ArrayBuffer, LongMap}
    val rank: Ordering[Scored[S]] = (a, b) => {
      val c = ord.compare(a.score, b.score)
      if (c != 0) c else java.lang.Long.compare(a.node, b.node)
    }
    val memo = LongMap.empty[Scored[S]] // null: the node has no score
    val all = ArrayBuffer.empty[Scored[S]]
    def gather(v: Long, hop: Int, into: ArrayBuffer[Scored[S]]): Unit = {
      val c = memo.getOrElseUpdate(v,
        score(v).map { s => val c = new Scored(v, s); all += c; c }.orNull)
      if (c != null && c.hop != hop) { c.hop = hop; into += c }
    }
    def cap(xs: ArrayBuffer[Scored[S]]) = xs.sortInPlace()(rank).take(ef)
    var pool = ArrayBuffer.empty[Scored[S]]
    entries.foreach(gather(_, 0, pool))
    pool = cap(pool)
    for (h <- 1 to hops) {
      pool.foreach(_.hop = h)
      val next = pool.clone()
      pool.foreach(p => out(p.node).foreach(gather(_, h, next)))
      pool = cap(next)
    }
    def pairs(xs: ArrayBuffer[Scored[S]]) = xs.map(c => c.node -> c.score).toSeq
    (pairs(pool), pairs(all.sortInPlace()(rank)))
  }

  /** round(dot(qv, v) / (qnrm · nrm), 4) exactly as Spark evaluates it:
    * [[graft.plans.DotProductD]]'s index-order loop, then `round`'s
    * BigDecimal HALF_UP (NaN/±∞ pass through). None where Spark yields
    * NULL: a length mismatch or a zero divisor. */
  private[graft] def cosine4(qv: Array[Double], qnrm: Double, v: Array[Double],
      nrm: Double): Option[Double] = {
    val den = qnrm * nrm
    if (qv.length != v.length || den == 0.0) None
    else {
      var acc = 0.0
      var i = 0
      while (i < v.length) { acc += qv(i) * v(i); i += 1 }
      val c = acc / den
      Some(if (c.isNaN || c.isInfinite) c
        else BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  /** The ADC distance of [[graft.plans.AdcSumL]]: Σ_sub lut(sub·ksub +
    * code). Codes and LUT are validated on the Spark side before they
    * reach the kernel ([[Similarity.validWideCodes]]/[[Similarity
    * .validWideLut]]), so every lookup is in range. */
  private[graft] def adcDistance(codes: Array[Byte], lut: Array[Long],
      ksub: Int): Long = {
    var acc = 0L
    var s = 0
    while (s < codes.length) { acc += lut(s * ksub + (codes(s) & 0xff)); s += 1 }
    acc
  }

  /** Unrolled multi-entry beam search over a prebuilt graph:
    * `queries` must carry (query_id, qv, qnrm); returns the standard
    * sim contract (query_id, rank, neighbor_id, cosine), self-pairs
    * excluded at the final rank (the query's own node stays in the
    * pool mid-walk — it is a useful router).
    *
    * Serving is ONE executor pass over the query rows against the
    * resident index (adjacency, corpus (vec_id, v, nrm), entry points):
    * each query walks it in memory ([[walk]]), scored by [[cosine4]]. */
  def beamSearch(graph: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int, ef: Int = Ef, hops: Int = Hops,
      nEntries: Int = NEntries): DataFrame =
    beamCore(graph, corpus, queries, k, ef, hops, nEntries,
      matchIds = None, excludeSelf = true)

  /** Cross-corpus beam serving (the crossTopK posture): queries come
    * from a different id space, so no pair is excluded by id equality —
    * an incidental collision between the two spaces can never silently
    * drop a real neighbor. */
  def crossBeamTopK(graph: DataFrame, corpus: DataFrame, queries: DataFrame,
      k: Int, ef: Int = Ef, hops: Int = Hops,
      nEntries: Int = NEntries): DataFrame =
    beamCore(graph, corpus, queries, k, ef, hops, nEntries,
      matchIds = None, excludeSelf = false)

  /** Attribute-FILTERED graph serving (the DiskANN filtered-search
    * posture, mirroring sim_ivf_filtered's contract): the beam routes
    * over the FULL stored graph — non-matching nodes stay usable as
    * routers, which is what keeps recall when the filter is selective —
    * while a second accumulator collects every MATCHING node the walk
    * scores; the final top-k ranks only the matched pool. `matchIds`
    * must be a (vec_id) frame of the rows satisfying the predicate
    * (derivable from any stored attribute column — no re-embedding,
    * no second index). Like the IVF row, id-equal pairs are NOT
    * excluded (a query that itself matches may return itself). */
  def beamSearchFiltered(graph: DataFrame, corpus: DataFrame,
      queries: DataFrame, matchIds: DataFrame, k: Int, ef: Int = Ef,
      hops: Int = Hops, nEntries: Int = NEntries): DataFrame =
    beamCore(graph, corpus, queries, k, ef, hops, nEntries,
      matchIds = Some(matchIds), excludeSelf = false)

  private def beamCore(graph: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, ef: Int, hops: Int, nEntries: Int,
      matchIds: Option[DataFrame], excludeSelf: Boolean): DataFrame = {
    val n = corpus.select(col("vec_id"), col("v"), col("nrm"))
      .where(col("nrm") > 0)
    val index = queries.sparkSession.sparkContext.broadcast(Index(
      adjacency(graph),
      ById(n.collect().map(r =>
        r.getLong(0) -> (r.getSeq[Double](1).toArray, r.getDouble(2)))),
      entryIds(n, nEntries),
      matchIds.map(_.select(col("vec_id")).collect().map(_.getLong(0)).sorted)))
    val serve = udf { (qid: Long, qv: Seq[Double], qnrm: Double) =>
      val ix = index.value
      val q = qv.toArray
      val (pool, scored) = walk(ix.out, ix.entries, ef, hops,
        v => ix.nodes.get(v).flatMap { case (vec, nrm) => cosine4(q, qnrm, vec, nrm) })(
        CosineDesc)
      val ranked = ix.matchIds match {
        case Some(m) =>
          scored.filter(p => java.util.Arrays.binarySearch(m, p._1) >= 0).take(ef)
        case None => if (excludeSelf) pool.filter(_._1 != qid) else pool
      }
      ranked.take(k).zipWithIndex.map { case ((v, c), i) => (i + 1, v, c) }
    }
    queries.where(col("qnrm") > 0)
      .select(col("query_id"),
        explode(serve(col("query_id"), col("qv"), col("qnrm"))).as("hit"))
      .select(col("query_id"), col("hit._1").as("rank"),
        col("hit._2").as("neighbor_id"), col("hit._3").as("cosine"))
  }

  /** Self-join convenience (the sim_*_topk contract): queries are the
    * stride-th vectors, searched against the full corpus through
    * `graph`. */
  def graphTopK(embeddings: DataFrame, graph: DataFrame, k: Int, stride: Int,
      ef: Int = Ef, hops: Int = Hops, nEntries: Int = NEntries,
      nPlanes: Int = NPlanes, dim: Int = 64): DataFrame = {
    val n = prepped(embeddings, nPlanes, dim)
      .select(col("vec_id"), col("v"), col("nrm"))
    val q = n.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    beamSearch(graph, n, q, k, ef, hops, nEntries)
  }

  /** [[graphTopK]] with an attribute filter: top-k among the
    * `matchIds` rows only, routed over the FULL graph (see
    * [[beamSearchFiltered]]). Mirrors sim_ivf_filtered's contract:
    * queries are unfiltered, id-equal pairs are not excluded. */
  def graphTopKFiltered(embeddings: DataFrame, graph: DataFrame,
      matchIds: DataFrame, k: Int, stride: Int, ef: Int = Ef,
      hops: Int = Hops, nEntries: Int = NEntries, nPlanes: Int = NPlanes,
      dim: Int = 64): DataFrame = {
    val n = prepped(embeddings, nPlanes, dim)
      .select(col("vec_id"), col("v"), col("nrm"))
    val q = n.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    beamSearchFiltered(graph, n, q, matchIds, k, ef, hops, nEntries)
  }

  /** Cross-corpus convenience: `queries` is a separate (vec_id,
    * embedding) frame searched against `corpus` through its prebuilt
    * graph — the decontamination / retrieval shape ([[crossBeamTopK]]
    * semantics: no id-equality exclusion). */
  def crossGraphTopK(corpus: DataFrame, graph: DataFrame,
      queries: DataFrame, k: Int, ef: Int = Ef, hops: Int = Hops,
      nEntries: Int = NEntries, nPlanes: Int = NPlanes,
      dim: Int = 64): DataFrame = {
    val n = prepped(corpus, nPlanes, dim)
      .select(col("vec_id"), col("v"), col("nrm"))
    val q = prepped(queries, nPlanes, dim)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    crossBeamTopK(graph, n, q, k, ef, hops, nEntries)
  }

  /** Graph routing with ADC scoring over STORED PQ codes + exact
    * re-rank of the surviving shortlist — the DiskANN memory posture:
    * the beam walks the graph scoring candidates by [[adcDistance]]
    * (integer micro-L2, the [[graft.plans.AdcSumL]] sum) against each
    * query's flattened LUT, so corpus vectors are untouched during
    * routing, and only the final shortlist reads true vectors for the
    * exact cosine re-rank (the pqTopKRefined posture). Composes three
    * persisted artifacts: the navigable graph, the wide code table, the
    * trained codebooks. Deterministic end to end (integer ADC distances,
    * id tie-breaks) ⇒ static-oracle-checkable.
    *
    * Two accumulators (the pqTopKRefined shortlist posture): the ROUTING
    * pool stays at ef (what the walk expands), while the RE-RANK
    * shortlist keeps the best `shortlist` ADC candidates ever scored — a
    * true neighbor the ef-pool evicts still reaches the exact re-rank
    * (measured at sf0.001: recall@10 0.712 with the ef-pool as shortlist
    * vs 0.94+ with shortlist 200).
    *
    * Serving is one executor pass over the LUT rows ([[beamSearch]]'s
    * shape) against the resident adjacency, one-byte wide codes (ksub ≤
    * 256) and entry points; the LUT derivation and the exact re-rank
    * stay Spark expressions. */
  def graphAdcTopK(embeddings: DataFrame, graph: DataFrame,
      codesWide: DataFrame, books: Seq[Seq[Array[Double]]], k: Int,
      stride: Int, ef: Int = Ef, hops: Int = Hops,
      nEntries: Int = NEntries, nPlanes: Int = NPlanes,
      dim: Int = 64, shortlist: Int = Shortlist): DataFrame = {
    require(books.forall(_.size == books.head.size),
      "wide ADC layout requires uniform per-subspace codebook sizes")
    val (m, ksub) = (books.size, books.head.size)
    require(ksub <= 256, s"graph ADC serving keeps one-byte codes, got ksub=$ksub")
    val n = prepped(embeddings, nPlanes, dim)
      .select(col("vec_id"), col("v"), col("nrm"))
    val q = n.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val lutW = Similarity.adcLutWideFrom(Similarity.adcLut(
        q.select(col("query_id").as("vec_id"), col("qv").as("embedding")), books))
      .where(Similarity.validWideLut(m, ksub))
    val index = embeddings.sparkSession.sparkContext.broadcast(Index(
      adjacency(graph),
      ById(codesWide.where(Similarity.validWideCodes(m, ksub))
        .select(col("vec_id"), col("codes")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).map(_.toByte).toArray)),
      entryIds(n, nEntries)))
    val serve = udf { (lut: Seq[Long]) =>
      val ix = index.value
      val l = lut.toArray
      val (_, scored) = walk(ix.out, ix.entries, ef, hops,
        v => ix.nodes.get(v).map(adcDistance(_, l, ksub)))
      scored.take(shortlist).map(_._1)
    }
    val short = lutW.select(col("query_id"),
      explode(serve(col("lut"))).as("node"))
    // exact re-rank of the shortlist: only here do corpus vectors load
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("node"))
    short.where(col("node") =!= col("query_id"))
      .join(n.select(col("vec_id").as("node"), col("v"), col("nrm")), "node")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("node"),
        round(cosinePrenormed(dot(col("qv"), col("v")),
          col("qnrm"), col("nrm")), 4).as("cosine"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        col("node").as("neighbor_id"), col("cosine"))
  }

  /** Incremental maintenance: a new batch attaches by SEARCHING the
    * frozen history graph (beam top-K become the new node's out-edges)
    * — history edges are never recomputed, the history table never
    * rescanned beyond the equi-join probes the beam makes. This is the
    * standard streaming posture for graph indexes (FAISS add-with-
    * frozen-coarse, DiskANN's in-memory insert buffer): periodic full
    * rebuilds re-level the graph, appends stay cheap. */
  def attachBatch(historyGraph: DataFrame, history: DataFrame,
      batch: DataFrame, k: Int = K, ef: Int = Ef, hops: Int = Hops,
      nEntries: Int = NEntries, nPlanes: Int = NPlanes,
      dim: Int = 64): DataFrame = {
    val hn = prepped(history, nPlanes, dim)
      .select(col("vec_id"), col("v"), col("nrm"))
    val q = prepped(batch, nPlanes, dim)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    beamSearch(historyGraph, hn, q, k, ef, hops, nEntries)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
        col("cosine"))
  }

  // ------------------------------------------------------------------
  // DuckDB oracle builders — the SAME constants drive the unrolled
  // depths, so Spark and SQL can never disagree about a round/hop count.
  // ------------------------------------------------------------------

  /** CTE fragments deriving the final graph `gf(src, dst, cosine)` from
    * a source relation of (vec_id, embedding) named by `srcSql`
    * (default: the embeddings table; the incremental oracle passes a
    * filtered SELECT). Caller must start the WITH clause. */
  def buildSql(srcSql: String = "SELECT vec_id, embedding FROM embeddings",
      k: Int = K, rounds: Int = Rounds, nPlanes: Int = NPlanes,
      dim: Int = 64, offsets: Seq[Int] = RingOffsets,
      tag: String = ""): String = {
    val bucket = Similarity.lshBucketSql(nPlanes, dim)
    def score(cand: String): String =
      s"""SELECT c.src, c.dst,
         |    ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) + 0.0 AS cosine
         |  FROM $cand c JOIN nb$tag a ON a.vec_id = c.src
         |    JOIN nb$tag b ON b.vec_id = c.dst""".stripMargin
    def rank(scored: String): String =
      s"""SELECT src, dst, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY src
         |    ORDER BY cosine DESC, dst) AS rnk FROM $scored) WHERE rnk <= $k"""
        .stripMargin
    val jList = offsets.mkString("[", ", ", "]")
    val roundsSql = (1 to rounds).map { i =>
      s"""uu$i$tag AS (SELECT src, dst FROM gg${i - 1}$tag
         |  UNION SELECT dst, src FROM gg${i - 1}$tag),
         |cc$i$tag AS (SELECT src, dst FROM uu$i$tag
         |  UNION SELECT x.src, y.dst FROM uu$i$tag x JOIN uu$i$tag y
         |    ON x.dst = y.src WHERE x.src <> y.dst),
         |ss$i$tag AS (${score(s"cc$i$tag")}),
         |gg$i$tag AS (${rank(s"ss$i$tag")})""".stripMargin
    }.mkString(",\n")
    s"""ee$tag AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ($srcSql)),
       |nb$tag AS MATERIALIZED (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |    $bucket AS bucket
       |  FROM ee$tag WHERE list_dot_product(v, v) > 0),
       |rk$tag AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS rn
       |  FROM nb$tag),
       |ct$tag AS (SELECT count(*) AS n_total FROM nb$tag),
       |rg$tag AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM rk$tag a CROSS JOIN ct$tag
       |  CROSS JOIN (SELECT unnest($jList) AS j) jj
       |  JOIN rk$tag b ON b.rn = (a.rn + jj.j) % n_total
       |  WHERE a.vec_id <> b.vec_id),
       |cd0$tag AS (SELECT a.vec_id AS src, b.vec_id AS dst
       |    FROM nb$tag a JOIN nb$tag b USING (bucket)
       |    WHERE a.vec_id <> b.vec_id
       |  UNION SELECT src, dst FROM rg$tag),
       |ss0$tag AS (${score(s"cd0$tag")}),
       |gg0$tag AS (${rank(s"ss0$tag")}),
       |$roundsSql,
       |sr$tag AS (${score(s"rg$tag")}),
       |gf$tag AS MATERIALIZED (SELECT src, dst, cosine FROM gg$rounds$tag
       |  UNION SELECT src, dst, cosine FROM sr$tag)""".stripMargin
  }

  /** CTE fragments running the unrolled beam over `gf<tag>` for a query
    * relation `qrel(query_id, qv, qnrm)` the caller must have defined;
    * leaves the final pool in `bb<hops><tag>(query_id, node, cosine)`.
    * With `matchRel` (a (vec_id) CTE of filter-matching rows), also
    * unrolls the matched-result accumulator — fed from the UNCAPPED
    * per-hop scorings, exactly like [[beamSearchFiltered]] — leaving it
    * in `rr<hops><tag>`. */
  def beamSql(qrel: String, ef: Int = Ef, hops: Int = Hops,
      nEntries: Int = NEntries, tag: String = "",
      matchRel: Option[String] = None): String = {
    def cap(unioned: String): String =
      s"""SELECT query_id, node, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, node) AS rnk
         |  FROM (SELECT query_id, node, min(cosine) AS cosine
         |        FROM ($unioned) GROUP BY 1, 2)) WHERE rnk <= $ef""".stripMargin
    def semi(rel: String): String = matchRel.map(m =>
      s"SELECT p.query_id, p.node, p.cosine FROM $rel p JOIN $m mm ON mm.vec_id = p.node")
      .getOrElse("")
    val hopsSql = (1 to hops).map { h =>
      val core =
        s"""xx$h$tag AS (SELECT DISTINCT p.query_id, g.dst AS node
           |  FROM bb${h - 1}$tag p JOIN gf$tag g ON g.src = p.node),
           |yy$h$tag AS (SELECT x.query_id, x.node,
           |    ROUND(list_dot_product(q.qv, nb$tag.v) / (q.qnrm * nb$tag.nrm), 4) + 0.0 AS cosine
           |  FROM xx$h$tag x JOIN nb$tag ON nb$tag.vec_id = x.node
           |    JOIN $qrel q ON q.query_id = x.query_id),
           |bb$h$tag AS (${cap(s"SELECT * FROM bb${h - 1}$tag UNION ALL SELECT * FROM yy$h$tag")})"""
          .stripMargin
      core
    }.mkString(",\n")
    // matched accumulator (filtered mode): ONE end-of-walk cap over the
    // unioned uncapped scorings — identical set to per-hop capping
    // (top-k union invariance), fewer window passes
    val rrTail = matchRel.map { _ =>
      val legs = (s"pe$tag" +: (1 to hops).map(h => s"yy$h$tag"))
        .map(semi).mkString("\n  UNION ALL ")
      s""",
        |rr$tag AS (${cap(legs)})""".stripMargin
    }.getOrElse("")
    s"""en$tag AS (SELECT vec_id, v, nrm FROM nb$tag
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nEntries),
       |pe$tag AS (SELECT q.query_id, e.vec_id AS node,
       |    ROUND(list_dot_product(q.qv, e.v) / (q.qnrm * e.nrm), 4) + 0.0 AS cosine
       |  FROM $qrel q CROSS JOIN en$tag e),
       |bb0$tag AS (${cap(s"SELECT * FROM pe$tag")}),
       |$hopsSql$rrTail""".stripMargin
  }

  /** CTE fragments for the ADC-scored beam ([[graphAdcTopK]]'s oracle):
    * same walk as [[beamSql]], but candidates score as the integer
    * micro-L2 sum of their `enc` codes against the per-query `lut`
    * relation (both defined by the caller — the pqCtes / qs-lut chain),
    * capped by (d2u ASC, node). Leaves the shortlist in
    * `bq<hops>(query_id, node, d2u)`; the caller re-ranks it exactly. */
  def beamAdcSql(qrel: String, ef: Int = Ef, hops: Int = Hops,
      nEntries: Int = NEntries, shortlist: Int = Shortlist): String = {
    def cap(limit: Int)(unioned: String): String =
      s"""SELECT query_id, node, d2u FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY d2u ASC, node) AS rnk
         |  FROM (SELECT query_id, node, min(d2u) AS d2u
         |        FROM ($unioned) GROUP BY 1, 2)) WHERE rnk <= $limit""".stripMargin
    def score(cand: String): String =
      s"""SELECT x.query_id, x.node, CAST(sum(l.d2u) AS BIGINT) AS d2u
         |  FROM $cand x JOIN enc ON enc.vec_id = x.node
         |  JOIN lut l ON l.query_id = x.query_id
         |    AND l.sub = enc.sub AND l.code = enc.code
         |  GROUP BY 1, 2""".stripMargin
    val hopsSql = (1 to hops).map { h =>
      s"""xq$h AS (SELECT DISTINCT p.query_id, g.dst AS node
         |  FROM bq${h - 1} p JOIN gf g ON g.src = p.node),
         |yq$h AS (${score(s"xq$h")}),
         |bq$h AS (${cap(ef)(s"SELECT * FROM bq${h - 1} UNION ALL SELECT * FROM yq$h")})"""
        .stripMargin
    }.mkString(",\n")
    // the re-rank shortlist is passive: one end-of-walk cap over all
    // per-hop scorings — identical set to per-hop capping (top-k union
    // invariance)
    val rqLegs = ("SELECT * FROM sq0" +:
      (1 to hops).map(h => s"SELECT * FROM yq$h")).mkString("\n  UNION ALL ")
    s"""enx AS (SELECT vec_id FROM nb
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nEntries),
       |cnd AS (SELECT q.query_id, x.vec_id AS node FROM $qrel q CROSS JOIN enx x),
       |sq0 AS (${score("cnd")}),
       |bq0 AS (${cap(ef)("SELECT * FROM sq0")}),
       |$hopsSql,
       |rq AS (${cap(shortlist)(rqLegs)})""".stripMargin
  }
}
