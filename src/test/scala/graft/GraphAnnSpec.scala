package graft

import graft.operators.{GraphAnn, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The graph-ANN tier (operators/GraphAnn — NSW family, SURVEY §2.17):
  * deterministic NN-Descent build + skip-list ring + unrolled beam
  * serving. Cross-engine parity is pinned by the four sim_graph_*
  * oracles; these tests pin the STRUCTURAL contract the oracles can't
  * see failing modes of — determinism across builds, degree bounds,
  * ring presence (navigability), refinement monotonicity, recall
  * floors, incremental attachment shape. */
class GraphAnnSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, dir)
  private lazy val graph = GraphAnn.buildGraph(emb).cache()

  test("build is deterministic across runs") {
    val a = graph.orderBy("src", "dst").collect().toSeq
    val b = GraphAnn.buildGraph(emb).orderBy("src", "dst").collect().toSeq
    assert(a == b)
  }

  test("no self-loops; out-degree bounded by K + |RingOffsets|") {
    assert(graph.where(col("src") === col("dst")).count() == 0)
    val maxDeg = graph.groupBy("src").count()
      .agg(max("count")).head().getLong(0)
    assert(maxDeg <= GraphAnn.K + GraphAnn.RingOffsets.size,
      s"max out-degree $maxDeg")
  }

  test("skip ring is intact: every node keeps its +1 successor edge") {
    // navigability witness — whatever refinement keeps, the final graph
    // unions the ring back in, so the id-order cycle is always present
    val ids = emb.select("vec_id").orderBy("vec_id")
      .collect().map(_.getLong(0)).toSeq
    val succ = ids.zip(ids.tail :+ ids.head).filter(p => p._1 != p._2)
    val edges = graph.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missing = succ.filterNot(edges.contains)
    assert(missing.isEmpty, s"missing successor edges: ${missing.take(5)}")
  }

  test("NN-Descent refinement is monotone per src") {
    // round r+1 ranks over a candidate set containing round r's edges,
    // so the per-src summed top-K cosine can never decrease
    def quality(rounds: Int): Map[Long, Double] =
      GraphAnn.refinedEdges(emb, rounds = rounds)
        .groupBy("src").agg(sum("cosine").as("q"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val q0 = quality(0); val q1 = quality(1); val q2 = quality(2)
    assert(q0.keySet == q1.keySet && q1.keySet == q2.keySet)
    val eps = 1e-9
    assert(q0.forall { case (s, q) => q1(s) >= q - eps },
      "round 1 degraded a src")
    assert(q1.forall { case (s, q) => q2(s) >= q - eps },
      "round 2 degraded a src")
  }

  test("build kernel on hand-built ranks: bucket-mates, ring wrap, 2-hop " +
      "self excluded, one score per candidate, (cosine DESC, dst) order") {
    // ring wrap: among 5 ranks the offsets 1, 2, 4, 8, 16 land on +1, +2,
    // +4, +3, +1 — the repeat drops; offsets ≡ 0 mod n would be self-links
    assert(GraphAnn.ring(3, 5, Seq(1, 2, 4, 8, 16)).toSeq == Seq(4, 0, 2, 1))
    assert(GraphAnn.ring(1, 4, Seq(4, 8)).isEmpty)
    // init: bucket-mates (src included, skipped by the kernel) ∪ ring
    val init = GraphAnn.initCands(Array(0, 1, 0, 1, 2, 0, 1, 2, 0, 1), Seq(1))
    assert(init(0).toSet == Set(0, 2, 5, 8, 1))
    assert(init(9).toSet == Set(1, 3, 6, 9, 0))
    assert(init(4).toSet == Set(4, 7, 5))
    val scores = Map(1 -> 0.1, 2 -> 0.5, 5 -> 0.9, 8 -> 0.5)
    var calls = Map.empty[Int, Int].withDefaultValue(0)
    def score(d: Int): Double = { calls += d -> (calls(d) + 1); scores(d) }
    // 2 and 8 tie at 0.5: the smaller dst ranks first
    assert(GraphAnn.bestEdges(0, init(0), 3, score).toSeq ==
      Seq(5 -> 0.9, 2 -> 0.5, 8 -> 0.5))
    assert(calls == Map(1 -> 1, 2 -> 1, 5 -> 1, 8 -> 1))
    // kept ranks (the final ring) are appended unless already among the best
    assert(GraphAnn.bestEdges(0, init(0), 1, score, keep = Array(5, 8)).toSeq ==
      Seq(5 -> 0.9, 8 -> 0.5))
    // refinement over 0→1, 1→2, 2→0 (rank 3 isolated): U(0) = {1, 2} and
    // its 2-hop repeats both and reaches 0 itself
    val refine = GraphAnn.refineCands(Array(Array(1 -> 0.0), Array(2 -> 0.0),
      Array(0 -> 0.0), Array.empty[(Int, Double)]))
    assert(refine(0).length == 6 && refine(0).toSet == Set(0, 1, 2))
    assert(refine(3).isEmpty)
    calls = calls.empty.withDefaultValue(0)
    assert(GraphAnn.bestEdges(0, refine(0), 12, score).map(_._1).toSet == Set(1, 2))
    assert(calls == Map(1 -> 1, 2 -> 1), "each candidate scored once, src never")
    // −0.0 ties 0.0 and NaN sorts first, as Spark's orderBy ranks them
    val row = Seq(3 -> 0.0, 1 -> -0.0, 2 -> 0.25, 4 -> Double.NaN)
    val ranked = GraphAnn.bestEdges(9, row.map(_._1).toArray, 4, row.toMap)
      .map(_._1).toSeq
    import spark.implicits._
    assert(ranked == row.toDF("dst", "cosine")
      .orderBy(col("cosine").desc, col("dst")).as[(Int, Double)]
      .collect().map(_._1).toSeq)
    assert(ranked == Seq(4, 2, 1, 3))
  }

  test("build on fewer than K+1 nodes: every pair is an edge, zero norm dropped") {
    import spark.implicits._
    val tiny = Seq(1L -> Seq(1f, 0f), 2L -> Seq(0f, 1f), 3L -> Seq(3f, 4f),
      4L -> Seq(-3f, 4f), 5L -> Seq(0f, 0f)).toDF("vec_id", "embedding")
    val cos = Map((1L, 2L) -> 0.0, (1L, 3L) -> 0.6, (1L, 4L) -> -0.6,
      (2L, 3L) -> 0.8, (2L, 4L) -> 0.8, (3L, 4L) -> 0.28)
    val expected = cos.flatMap { case ((a, b), c) => Seq((a, b, c), (b, a, c)) }.toSet
    assert(GraphAnn.buildGraph(tiny, dim = 2).as[(Long, Long, Double)]
      .collect().toSet == expected)
    assert(GraphAnn.refinedEdges(tiny, dim = 2).as[(Long, Long, Double)]
      .collect().toSet == expected)
  }

  test("build runs at most Rounds + 4 jobs with its artifact write and " +
      "leaves nothing persisted or broadcast") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.BroadcastProbe
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val e = Tables.embeddings(spark, dir)
    e.count()
    BroadcastProbe.drainListeners(sc)
    val persisted = sc.getPersistentRDDs.keySet
    val broadcasts = BroadcastProbe.liveIds()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val out = java.nio.file.Files.createTempDirectory("graft-graph-").toString
    sc.addSparkListener(listener)
    try {
      GraphAnn.buildGraph(e).write.mode("overwrite").parquet(out)
      BroadcastProbe.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get <= GraphAnn.Rounds + 4, s"${jobs.get} jobs")
    assert((sc.getPersistentRDDs.keySet -- persisted).isEmpty)
    // what may stay is Spark's own: stage task binaries and scan confs,
    // freed by the ContextCleaner. An index broadcast still referenced
    // after the build (a memo, a lazy final pass) fails here; one merely
    // dropped unreferenced is also released by the cleaner after a GC,
    // so this cannot tell that from destroy()
    eventually(timeout(10.seconds)) {
      val left = BroadcastProbe.valueClasses(BroadcastProbe.liveIds() -- broadcasts)
      assert(left.subsetOf(Set("[B",
        "org.apache.spark.util.SerializableConfiguration")), left)
    }
    assert(spark.read.parquet(out).count() == graph.count())
  }

  test("beam recall@10 holds the floor and dominates single-bucket LSH") {
    def recallOf(approx: org.apache.spark.sql.DataFrame): Double = {
      val brute = Similarity.bruteTopK(emb, k = 10, stride = 20)
        .select("query_id", "neighbor_id")
      val hits = brute.join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id")).count().toDouble
      hits / brute.count()
    }
    val g = recallOf(GraphAnn.graphTopK(emb, graph, k = 10, stride = 20))
    val l = recallOf(Similarity.lshTopK(emb, k = 10, stride = 20))
    // sweep-pinned config (NOTES.md r16 graph-ANN sweep, sf0.1): graph 0.971; the floor
    // leaves headroom for corpus regeneration, not for regressions
    assert(g >= 0.85, s"graph recall $g below floor")
    assert(g > l, s"graph recall $g not above LSH $l")
  }

  test("exactness ladder: ef ≥ N with enough hops recovers brute exactly") {
    // the graph twin of the IVF nProbes=nCells ladder: the skip ring
    // makes every node reachable in ≤ log₂N forward hops (binary
    // decomposition of the rank gap, one 2^j skip edge per set bit),
    // so an uncapped pool must converge to the exact answer
    val n = emb.count().toInt
    val g = GraphAnn.graphTopK(emb, graph, k = 10, stride = 20,
      ef = n, hops = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val b = Similarity.bruteTopK(emb, k = 10, stride = 20)
      .orderBy("query_id", "rank").collect().toSeq
    assert(g == b)
  }

  test("filtered serving: matched-only results; exactness ladder vs " +
      "brute over the filtered corpus") {
    val n = emb.count().toInt
    val matchIds = emb.where(col("label") === 1).select("vec_id")
    val matched = matchIds.collect().map(_.getLong(0)).toSet
    val served = GraphAnn.graphTopKFiltered(emb, graph, matchIds,
      k = 10, stride = 20)
    assert(served.collect().forall(r => matched.contains(r.getLong(2))),
      "every served neighbor must satisfy the filter")
    // ladder: uncapped pool + full reach ⇒ exactly brute over the
    // filtered corpus (crossTopK semantics: no id-equality exclusion)
    val ladder = GraphAnn.graphTopKFiltered(emb, graph, matchIds,
      k = 10, stride = 20, ef = n, hops = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val brute = Similarity.crossTopK(emb.where(col("label") === 1),
      emb.where(pmod(col("vec_id"), lit(20)) === 0), k = 10)
      .orderBy("query_id", "rank").collect().toSeq
    assert(ladder == brute)
  }

  test("cross-corpus serving exactness ladder vs crossTopK") {
    val corpus = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val queries = emb.where(pmod(col("vec_id"), lit(5)) === 0)
    val hg = GraphAnn.buildGraph(corpus)
    val n = corpus.count().toInt
    val ladder = GraphAnn.crossGraphTopK(corpus, hg, queries,
      k = 10, ef = n, hops = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val brute = Similarity.crossTopK(corpus, queries, k = 10)
      .orderBy("query_id", "rank").collect().toSeq
    assert(ladder == brute)
  }

  test("ADC-routed serving: exactness ladder and recall floor") {
    // codes + books through the same trainer the PQ family uses
    val books = Similarity.pqTrain(emb, m = 8, ksub = 16)
    val codesWide = Similarity.pqEncode(emb, books)
    val n = emb.count().toInt
    // ladder: uncapped pool + full-corpus shortlist + full reach ⇒ the
    // exact re-rank sees every node ⇒ ≡ brute exactly, regardless of
    // quantization error in the routing distances
    val ladder = GraphAnn.graphAdcTopK(emb, graph, codesWide, books,
      k = 10, stride = 20, ef = n, hops = 10, shortlist = n)
      .orderBy("query_id", "rank").collect().toSeq
    val brute = Similarity.bruteTopK(emb, k = 10, stride = 20)
      .orderBy("query_id", "rank").collect().toSeq
    assert(ladder == brute)
    // production config: quantized routing + shortlist-200 re-rank
    // (measured 0.948 avg at sf0.001; floor leaves regeneration room)
    val bruteSet = Similarity.bruteTopK(emb, k = 10, stride = 20)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = GraphAnn.graphAdcTopK(emb, graph, codesWide, books,
      k = 10, stride = 20)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bruteSet & adc).size.toDouble / bruteSet.size
    assert(recall >= 0.85, s"ADC-routed recall $recall below floor")
  }

  test("walk kernel on a hand-built 8-node graph: pools, tie-break, " +
      "dedup, dropped nodes, filtered accumulator") {
    val adj = GraphAnn.ById(Seq(1L -> Array(2L, 3L), 2L -> Array(4L, 5L),
      3L -> Array(4L, 6L), 4L -> Array(7L), 5L -> Array(8L), 6L -> Array(8L),
      7L -> Array(1L), 8L -> Array(2L)))
    def out(v: Long) = adj.get(v).getOrElse(Array.emptyLongArray)
    // one subspace, ksub 64, lut(c) = c: a node's ADC distance is its code;
    // node 6 has no valid code, so the scorer cannot score it
    val lut = Array.tabulate(64)(_.toLong)
    val codes = GraphAnn.ById(Seq(1L -> 50, 2L -> 40, 3L -> 40, 4L -> 10,
      5L -> 30, 7L -> 5, 8L -> 20).map { case (v, c) => v -> Array(c.toByte) })
    var calls = 0
    def score(v: Long): Option[Long] = {
      calls += 1
      codes.get(v).map(GraphAnn.adcDistance(_, lut, 64))
    }
    def run(hops: Int) = GraphAnn.walk(out, Array(1L, 6L), ef = 2, hops, score)
    // pool₀: entry 6 dropped; hop 1: 2 and 3 tie at 40, the smaller id
    // ranks first and 1 (50) is evicted; hop 2: 4 is reached from both 2
    // and 3 and enters once, 6 is dropped again; hop 3: 7 and 8 arrive,
    // 5 is evicted; hop 4: only already-scored nodes come back
    val pools = (0 to 4).map(h => run(h)._1)
    assert(pools == Seq(
      Seq(1L -> 50L),
      Seq(2L -> 40L, 3L -> 40L),
      Seq(4L -> 10L, 5L -> 30L),
      Seq(7L -> 5L, 4L -> 10L),
      Seq(7L -> 5L, 4L -> 10L)))
    calls = 0
    val (_, scored) = run(4)
    assert(scored == Seq(7L -> 5L, 4L -> 10L, 8L -> 20L, 5L -> 30L,
      2L -> 40L, 3L -> 40L, 1L -> 50L))
    assert(calls == 8, "each reached node is scored once per query")
    // filtered accumulator: the matched nodes the walk ever scored, capped
    // once — 5 and 3 were evicted from the routing pool but still compete
    val matched = Set(3L, 5L, 6L, 8L)
    assert(scored.filter(p => matched(p._1)).take(2) == Seq(8L -> 20L, 5L -> 30L))
    // one-byte codes read unsigned: code 200 of ksub 256
    assert(GraphAnn.adcDistance(Array(200.toByte, 1.toByte),
      Array.tabulate(512)(_.toLong), 256) == 200 + 257)
  }

  test("cosine scorer: Spark's rounding, zero norms dropped, " +
      "−0.0 ties 0.0 in Spark's order") {
    assert(GraphAnn.cosine4(Array(1.0, 0.0), 1.0, Array(0.6, 0.8), 1.0) ==
      Some(0.6))
    assert(GraphAnn.cosine4(Array(0.12345), 1.0, Array(1.0), 1.0) ==
      Some(0.1235)) // HALF_UP on the decimal rendering, as round(_, 4)
    assert(GraphAnn.cosine4(Array(1.0, 2.0), 1.0, Array(0.0, 0.0), 0.0).isEmpty)
    assert(GraphAnn.cosine4(Array(1.0), 1.0, Array(1.0, 0.0), 1.0).isEmpty)
    val row = Seq(3L -> 0.0, 1L -> 0.25, 2L -> -0.0, 4L -> Double.NaN)
    val ranked = GraphAnn.walk(_ => Array.emptyLongArray, row.map(_._1).toArray,
      ef = 4, hops = 0, v => row.toMap.get(v))(GraphAnn.CosineDesc)._1
    assert(ranked.map(_._1) == Seq(4L, 1L, 2L, 3L))
    import spark.implicits._
    val sparkOrder = row.toDF("node", "cosine")
      .orderBy(col("cosine").desc, col("node")).as[(Long, Double)]
      .collect().map(_._1).toSeq
    assert(ranked.map(_._1) == sparkOrder)
    // a walk over vectors: the zero-norm node 3 is never scored
    val vecs = GraphAnn.ById(Seq(1L -> (Array(1.0, 0.0), 1.0),
      2L -> (Array(0.6, 0.8), 1.0), 3L -> (Array(0.0, 0.0), 0.0)))
    val q = Array(0.0, 1.0)
    val (pool, scored) = GraphAnn.walk(Map(1L -> Array(2L, 3L)),
      Array(1L), ef = 4, hops = 1,
      v => vecs.get(v).flatMap { case (x, nrm) => GraphAnn.cosine4(q, 1.0, x, nrm) })(
      GraphAnn.CosineDesc)
    assert(pool == Seq(2L -> 0.8, 1L -> 0.0))
    assert(!scored.exists(_._1 == 3L))
  }

  test("attachBatch: bounded origin-tagged edges from batch into history") {
    val hist = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = emb.where(pmod(col("vec_id"), lit(5)) === 0)
    val hg = GraphAnn.buildGraph(hist)
    val attached = GraphAnn.attachBatch(hg, hist, batch).cache()
    val histIds = hist.select("vec_id").collect().map(_.getLong(0)).toSet
    val rows = attached.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) % 5 == 0), "src must be batch")
    assert(rows.forall(r => histIds.contains(r.getLong(1))),
      "dst must be history")
    val maxDeg = attached.groupBy("src").count()
      .agg(max("count")).head().getLong(0)
    assert(maxDeg <= GraphAnn.K)
    // batch coverage: every positive-norm batch node attached
    val nBatch = batch.count()
    assert(attached.select("src").distinct().count() == nBatch)
  }
}

/** Streaming maintenance for the graph-ANN index — the
  * StreamingHammingDedupSpec posture applied to
  * [[graft.operators.GraphAnn.attachBatch]]: the first micro-batch
  * builds the navigable graph; every later batch beam-searches the
  * LOADED versioned artifact (history edges never recomputed) and
  * folds its own attachment edges + vectors into the next version
  * (read vN−1, union, write vN — at-least-once-safe because a re-run
  * batch rebuilds the identical deterministic version). */
class StreamingGraphAnnSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("stream-folded graph artifact == eager sequential fold; " +
      "beam over the folded graph == beam over the eager graph") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val all = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val batches = all.grouped(200).toSeq // 3 micro-batches: 200/200/100

    val root = Files.createTempDirectory("graft-graphidx-").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    @volatile var latest: Option[(String, String)] = None // (graph, vecs)
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val (g, v) = latest match {
          case None => // first batch: full deterministic build
            (GraphAnn.buildGraph(batch), batch)
          case Some((gp, vp)) =>
            val hist = spark.read.parquet(vp)
            val hg = spark.read.parquet(gp)
            (hg.unionByName(GraphAnn.attachBatch(hg, hist, batch)),
              hist.unionByName(batch))
        }
        g.write.mode("overwrite").parquet(s"$root/g$id")
        v.write.mode("overwrite").parquet(s"$root/v$id")
        latest = Some((s"$root/g$id", s"$root/v$id"))
        ()
      }.start()
    try batches.foreach { b =>
      input.addData(b: _*); q.processAllAvailable()
    } finally q.stop()

    // eager twin: the same sequential fold, no streaming machinery
    var eagerG = GraphAnn.buildGraph(batches.head.toDF("vec_id", "embedding"))
    var eagerV = batches.head
    for (b <- batches.tail) {
      val hist = eagerV.toDF("vec_id", "embedding")
      eagerG = eagerG.unionByName(
        GraphAnn.attachBatch(eagerG, hist, b.toDF("vec_id", "embedding")))
      eagerV = eagerV ++ b
    }
    val streamed = spark.read.parquet(latest.get._1)
      .as[(Long, Long, Double)].collect().toSet
    val eager = eagerG.as[(Long, Long, Double)].collect().toSet
    assert(streamed == eager, "folded graph must equal the eager fold")

    // serving parity over the two folds
    def serve(g: org.apache.spark.sql.DataFrame) = {
      val emb = eagerV.toDF("vec_id", "embedding")
      GraphAnn.graphTopK(emb, g, k = 5, stride = 50)
        .as[(Long, Int, Long, Double)].collect().toSet
    }
    assert(serve(spark.read.parquet(latest.get._1)) == serve(eagerG))
  }
}
