package graft

import graft.operators.{Dedup, Funnel, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank now"), // near-dup of 1
    (3L, "completely unrelated text about spark catalyst optimizer rules and codegen"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "")).toDF("doc_id", "text")

  test("canonicalUrl: case, www, default port, trailing slash, tracking params, param order") {
    val cases = Seq(
      ("HTTP://WWW.Example.COM:80/A/b/?utm_source=x&b=2&a=1#frag",
        "http://example.com/A/b?a=1&b=2"),
      ("https://Example.com:443/", "https://example.com/"),
      ("https://example.com:8443/x", "https://example.com:8443/x"), // non-default port kept
      ("http://example.com", "http://example.com/"),
      ("http://example.com/?fbclid=abc&gclid=x", "http://example.com/"),
      // bare tracking keys (no '=') are dropped like their valued forms
      ("http://example.com/?fbclid&b=1", "http://example.com/?b=1"),
      // utm_ stays a PREFIX family: unknown utm_ keys dropped, lookalikes kept
      ("http://example.com/?utm_x&utmx=1", "http://example.com/?utmx=1"),
      // userinfo is stripped before host normalization — credentials never
      // key the dedup, and 'WWW.user@host' can't mangle the www-strip
      ("http://User:Pw@WWW.Example.com/p", "http://example.com/p"),
      ("http://user@example.com:80/p", "http://example.com/p"),
      ("http://www.example.com/p//", "http://example.com/p"),
      ("http://wwwx.example.com/p", "http://wwwx.example.com/p"), // www. only as a label
      // schemeless / malformed rows stay their OWN keys — never collapsed
      ("example.com/a", "example.com/a"),
      ("not a url at all", "not a url at all"),
      // a '?' living INSIDE the fragment is NOT a query — SPA-style
      // "#/route?tab=1" must canonicalize like the fragment-free page,
      // never leak fragment params into the key (review r12)
      ("http://example.com/page#/route?tab=1", "http://example.com/page"),
      ("http://example.com/page", "http://example.com/page"))
    val got = cases.map(_._1).zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("doc_id", "url")
      .select(col("doc_id"), graft.operators.Dedup.canonicalUrl(col("url")).as("c"))
      .orderBy("doc_id").as[(Long, String)].collect().map(_._2)
    cases.map(_._2).zip(got).foreach { case (want, have) =>
      assert(have == want, s"expected $want got $have")
    }
  }

  test("urlDedup: NULL urls never merge — each null-URL doc is its own " +
      "cluster (a missing key asserts no equality)") {
    val urls = Seq((1L, Some("http://a.com/x")), (2L, None), (3L, None))
      .toDF("doc_id", "url")
    val out = graft.operators.Dedup.urlDedup(urls)
      .select("doc_id", "is_canonical").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 1, 2L -> 1, 3L -> 1),
      s"every null-URL doc must survive as its own canonical: $out")
  }

  test("urlDedup: variants collapse to one canonical key, min doc_id survives") {
    val urls = Seq(
      (5L, "http://a.com/x?b=2&a=1"),
      (3L, "HTTP://WWW.A.com:80/x/?a=1&b=2&utm_medium=m"),
      (7L, "http://a.com/y")).toDF("doc_id", "url")
    val out = graft.operators.Dedup.urlDedup(urls)
      .as[(Long, String, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(3L)._2 == out(5L)._2 && out(3L)._3 == 3L && out(5L)._3 == 3L)
    assert(out(3L)._4 == 1 && out(5L)._4 == 0)
    assert(out(7L)._4 == 1 && out(7L)._3 == 7L)
  }

  test("robotsFilter: longest prefix wins, allow wins exact ties, " +
      "unknown host and no-match default to allow") {
    val urls = Seq(
      (1L, "http://a.com/Docs/Sub/page"),   // /Docs disallow, /Docs/Sub allow (longer)
      (2L, "http://a.com/Docs/other"),      // /Docs disallow only
      (3L, "http://a.com/open"),            // rules exist for host, none match
      (4L, "http://b.com/anything"),        // no rules for host
      (5L, "http://a.com/Tie/x"))           // equal-length allow+disallow -> allow
      .toDF("doc_id", "url")
    val rules = Seq(
      ("a.com", "/Docs", 0), ("a.com", "/Docs/Sub", 1),
      ("a.com", "/Tie/", 0), ("a.com", "/Tie/", 1))
      .toDF("host", "prefix", "allow")
    val out = graft.operators.Dedup.robotsFilter(urls, rules)
      .orderBy("doc_id").select("allowed").as[Int].collect()
    assert(out.toSeq == Seq(1, 0, 1, 1, 1))
  }

  test("robotsFilter on a STREAMING frontier against a static rule " +
      "table: verdicts batch-identical (the narrow-apply posture)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val urls = Seq((1L, "http://a.com/Docs/x"), (2L, "http://a.com/open"),
      (3L, "http://b.com/y"))
    val rules = Seq(("a.com", "/Docs", 0)).toDF("host", "prefix", "allow")
    val expected = graft.operators.Dedup.robotsFilter(
        urls.toDF("doc_id", "url"), rules)
      .orderBy("doc_id").collect().toSeq
    val in = MemoryStream[(Long, String)]
    val q = graft.operators.Dedup.robotsFilter(
        in.toDF().toDF("doc_id", "url"), rules)
      .writeStream.format("memory").queryName("stream_robots")
      .outputMode("append").start()
    try {
      in.addData(urls: _*)
      q.processAllAvailable()
      val got = spark.table("stream_robots").orderBy("doc_id").collect().toSeq
      assert(got == expected, s"stream diverged from batch:\n$got\n$expected")
    } finally q.stop()
  }

  test("urlDedupIncremental: history keys suppress recrawls; batch dedups within itself") {
    val hist = Seq((1L, "http://a.com/x?b=2&a=1")).toDF("doc_id", "url")
    val batch = Seq(
      (10L, "HTTP://WWW.A.com:80/x/?a=1&b=2"),  // variant of history → dropped
      (12L, "http://b.com/y"),                  // new key, duplicated below
      (11L, "http://B.com/y?utm_source=z"),     // variant of 12 → same key, min id 11 wins
      (13L, "http://c.com/z")).toDF("doc_id", "url")
    val out = Dedup.urlDedupIncremental(batch, Dedup.urlIndex(hist))
      .as[(Long, String, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains(10L), "history collision must be suppressed")
    assert(out.keySet == Set(11L, 12L, 13L))
    assert(out(11L)._3 == 11L && out(12L)._3 == 11L && out(12L)._4 == 0)
    assert(out(13L)._4 == 1)
  }

  test("exact dedup groups identical texts, keeps min doc_id") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == 4) // 1&4 merge
    val merged = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(merged.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH surfaces the planted near-dup and exact-dup pairs") {
    val pairs = Dedup.nearDupPairs(docs, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup always collides
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup (J≈0.77)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc never passes re-rank
  }

  test("near-dup jaccard is monotone: exact dup scores 1.0") {
    val j = Dedup.nearDupPairs(docs, 0.5).where($"doc_a" === 1 && $"doc_b" === 4)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("near-dup clustering: transitive components get the min doc_id label") {
    // 1-2 near-dups, 1-4 exact dups → {1,2,4} one component rooted at 1
    val clusters = Dedup.nearDupClusters(docs, 0.5)
      .as[(Long, Long)].collect().toMap
    assert(clusters.keySet == Set(1L, 2L, 4L))
    assert(clusters.values.toSet == Set(1L))
  }

  test("qualitySurvivors: argmax-quality survivor per cluster, min-id tie-break") {
    // 1-2 near-dups, 1-4 exact dups → one cluster {1,2,4}. Doc 2 is made
    // the QUALITY winner (longer alpha-dense text than its siblings would
    // give equal scores, so plant a punctuation-heavy degradation on 1&4):
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank ..,!"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank now"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank ..,!"),
      (3L, "completely unrelated text about spark catalyst optimizer rules and codegen"))
      .toDF("doc_id", "text")
    val out = Dedup.qualitySurvivors(corpus, 0.5)
      .as[(Long, Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L, 4L)) // unclustered doc 3 absent
    assert(out.values.forall(_._2 == 1L)) // cluster label stays min id
    // survivor is the HIGHEST-quality member, not the min id
    assert(out(2L)._3 > out(1L)._3, "fixture must make doc 2 the quality winner")
    assert(out.values.forall(_._4 == 2L))
    assert(out(2L)._5 == 1 && out(1L)._5 == 0 && out(4L)._5 == 0)
    // equal-quality tie (1 vs 4 are identical texts): keep_id falls back to
    // min doc_id — verified by a corpus where the winner is ambiguous
    val tied = Seq(
      (7L, "the quick brown fox jumps over the lazy dog near the river bank now"),
      (5L, "the quick brown fox jumps over the lazy dog near the river bank now"))
      .toDF("doc_id", "text")
    val tout = Dedup.qualitySurvivors(tied, 0.5)
      .as[(Long, Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(tout(5L)._4 == 5L && tout(7L)._4 == 5L && tout(5L)._5 == 1)
  }

  test("simhash of near-dups differs in few bits; unrelated docs differ in many") {
    val h = Dedup.simhash(docs).orderBy("doc_id").select("simhash").as[Int].collect()
    def hamming(a: Int, b: Int) = Integer.bitCount(a ^ b)
    assert(h(0) == h(3))                    // exact dup
    assert(hamming(h(0), h(1)) <= 4)        // near-dup: close
    assert(hamming(h(0), h(2)) >= 3)        // unrelated: far
  }

  test("pathological duplicates: bucket cap bounds the candidate-pair blowup") {
    // 10k identical docs share every band bucket; unguarded LSH would emit
    // C(10000,2) ≈ 5×10⁷ pairs (the 100 TB boilerplate-page scale-killer).
    // With the cap, each bucket contributes at most C(maxBucket,2) pairs.
    val boiler = spark.range(10000).selectExpr("id AS doc_id",
      "'the same boilerplate cookie banner text repeated on every page of the site' AS text")
    val capped = Dedup.minhashCandidates(boiler, maxBucket = 50)
    // collect() (not count()) so THIS plan's QueryExecution runs and its
    // observed-metric accumulators fill in.
    val n = capped.collect().length
    assert(n <= 50L * 49 / 2, s"cap leaked: $n pairs")
    assert(n > 0) // the surviving bucket members still pair up
    // Truncation must surface as an observed metric, not vanish silently:
    // 4 bands × (10000 − 50) members dropped. (Prefix match — the name
    // carries a per-invocation suffix.)
    val m = capped.queryExecution.observedMetrics.collectFirst {
      case (k, v) if k.startsWith(Dedup.BucketCapMetricPrefix) => v
    }.get
    assert(m.getAs[Long]("truncated_members") == 4L * (10000 - 50),
      s"metric mismatch: $m")
    assert(m.getAs[Int]("largest_bucket") == 10000)
  }

  test("sf1-like family density: pair growth is linear in families and capped within") {
    // The sf1 generator plants 10-member duplicate families; candidate
    // pairs grow C(10,2)=45 per family — quadratic in FAMILY SIZE only,
    // linear in the number of families (the corpus). This pins both halves
    // of that scale claim: (a) at the default cap nothing truncates and
    // the total is exactly families × 45; (b) a cap below the family size
    // engages (observably) and bounds every family at C(cap,2).
    val fams = 40
    // Every token carries the family id so families share NO shingles —
    // members are identical within a family, disjoint across families.
    val docs = spark.range(fams * 10L).selectExpr("id AS doc_id",
      s"concat('alpha', id % $fams, ' bravo', id % $fams, ' charlie', id % $fams, " +
        s"' delta', id % $fams, ' echo', id % $fams, ' foxtrot', id % $fams, " +
        s"' golf', id % $fams, ' hotel', id % $fams) AS text")
    val relaxed = Dedup.minhashCandidates(docs, maxBucket = 1000)
    val nRelaxed = relaxed.collect().length
    assert(nRelaxed == fams * 45, s"expected linear-in-families growth, got $nRelaxed")
    val mRelaxed = relaxed.queryExecution.observedMetrics.collectFirst {
      case (k, v) if k.startsWith(Dedup.BucketCapMetricPrefix) => v
    }.get
    assert(mRelaxed.getAs[Long]("truncated_members") == 0L)
    assert(mRelaxed.getAs[Int]("largest_bucket") == 10)
    val capped = Dedup.minhashCandidates(docs, maxBucket = 4)
    val nCapped = capped.collect().length
    assert(nCapped == fams * 6, s"cap should bound each family at C(4,2): $nCapped")
    val mCapped = capped.queryExecution.observedMetrics.collectFirst {
      case (k, v) if k.startsWith(Dedup.BucketCapMetricPrefix) => v
    }.get
    // 4 bands × 40 families × (10 − 4) members dropped, none silently.
    assert(mCapped.getAs[Long]("truncated_members") == 4L * fams * 6)
  }

  test("bucket-cap metric reads zero when nothing is truncated") {
    val capped = Dedup.minhashCandidates(docs, maxBucket = 1000)
    capped.collect()
    val m = capped.queryExecution.observedMetrics.collectFirst {
      case (k, v) if k.startsWith(Dedup.BucketCapMetricPrefix) => v
    }.get
    assert(m.getAs[Long]("truncated_members") == 0L)
  }

  test("two minhashCandidates invocations compose in one plan") {
    // Each invocation gets its own metric name — a fixed name would fail
    // analysis here with duplicate observed metrics over different datasets.
    val u = Dedup.minhashCandidates(docs)
      .union(Dedup.minhashCandidates(docs.limit(3)))
    assert(u.count() > 0)
  }

  test("oversizedBuckets audits what the cap touched") {
    val boiler = spark.range(200).selectExpr("id AS doc_id",
      "'the same boilerplate cookie banner text repeated on every page of the site' AS text")
    val over = Dedup.oversizedBuckets(boiler, maxBucket = 50)
      .orderBy("band").collect()
    assert(over.length == 4) // all 4 bands hold one 200-member bucket
    assert(over.forall(_.getAs[Long]("bucket_n") == 200L))
    // distinct texts below the cap → clean audit
    assert(Dedup.oversizedBuckets(docs, maxBucket = 50).count() == 0)
  }

  test("bucket cap is inert below the cap: same pairs with and without headroom") {
    val tight = Dedup.minhashCandidates(docs, maxBucket = 5)
      .as[(Long, Long)].collect().toSet
    val loose = Dedup.minhashCandidates(docs, maxBucket = 1000)
      .as[(Long, Long)].collect().toSet
    assert(tight == loose)
  }

  test("exactIncremental: history collisions drop, the batch still dedups itself") {
    val hist = Seq((100L, "seen before text goes here")).toDF("doc_id", "text")
      .select(md5(col("text")).as("text_md5"))
    val batch = Seq(
      (1L, "seen before text goes here"),   // collides with history → dropped
      (2L, "fresh text alpha"), (3L, "fresh text alpha"), // batch dup → one row
      (4L, "fresh text beta")).toDF("doc_id", "text")
    val out = Dedup.exactIncremental(batch, hist)
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out == Set((2L, 2L), (4L, 1L)))
  }

  test("exactIncrementalBloom: bit-identical to exactIncremental, even with a saturated bloom") {
    val histDocs = docs.where(col("doc_id") % 3 === 0)
    val hist = histDocs.select(md5(col("text")).as("text_md5"))
    val batch = docs.where(col("doc_id") % 3 =!= 0)
    val plain = Dedup.exactIncremental(batch, hist)
      .as[(String, Long, Long)].collect().toSet
    // Roomy bloom (few false positives) and a deliberately saturated one
    // (expectedItems ≪ actual → high fpp): exactness must not depend on fpp.
    for (expected <- Seq(1 << 16, 2)) {
      val bloom = Dedup.buildHashBloom(hist, "text_md5", expected.toLong)
      val out = Dedup.exactIncrementalBloom(batch, hist, bloom)
        .as[(String, Long, Long)].collect().toSet
      assert(out == plain, s"expectedItems=$expected")
    }
  }

  test("exactIncrementalBloom: day-one empty history keeps the whole batch") {
    val emptyHist = docs.where(lit(false)).select(md5(col("text")).as("text_md5"))
    val bloom = Dedup.buildHashBloom(emptyHist, "text_md5", 100L)
    assert(bloom != null && bloom.nonEmpty, "empty history must yield an empty bloom, not null")
    val out = Dedup.exactIncrementalBloom(docs, emptyHist, bloom)
      .as[(String, Long, Long)].collect().toSet
    val plain = Dedup.exact(docs)
      .select(col("text_md5"), col("keep_id"), col("n_copies"))
      .as[(String, Long, Long)].collect().toSet
    assert(out == plain, "with no history, incremental dedup == plain exact dedup")
  }

  test("buildHashBloom honors sizes past the runtime-filter conf caps") {
    val hist = docs.select(md5(col("text")).as("text_md5"))
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val before = spark.conf.getOption(itemsKey)
    // 5M expected items exceeds Spark's 4M default cap; without the conf
    // lift the aggregate would silently clamp and the bloom would come back
    // sized for 4M. optimalNumOfBits(5M, 3%) ≈ 36.5M bits ≈ 4.6 MB.
    val bytes = Dedup.buildHashBloom(hist, "text_md5", 5000000L)
    val unclamped = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(5000000L, 0.03) / 8
    assert(bytes.length >= unclamped,
      s"bloom clamped: ${bytes.length} bytes < expected ≥ $unclamped")
    // and the session conf is back to its pre-call value afterwards
    assert(spark.conf.getOption(itemsKey) == before)
  }

  test("mightContainHash: no false negatives; probe is a native plan expression") {
    val hist = docs.where(col("doc_id") % 3 === 0)
      .select(md5(col("text")).as("text_md5"))
    val bloom = Dedup.buildHashBloom(hist, "text_md5", 1 << 16)
    // every inserted hash answers true (bloom guarantee: zero false negatives)
    assert(hist.where(!Dedup.mightContainHash(bloom, col("text_md5"))).count() == 0)
    // plan shape over a non-local source (a LocalRelation would be folded
    // away by ConvertToLocalRelation before the probe could appear)
    val probed = spark.range(10)
      .where(Dedup.mightContainHash(bloom, col("id").cast("string")))
    assert(probed.queryExecution.executedPlan.toString.contains("might_contain"))
  }

  test("minhashCandidatesIncremental: band-bloom prefilter is exact at any fpp") {
    val hist = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 2 =!= 0)
    val idx = Dedup.bandIndex(hist)
    val plain = Dedup.minhashCandidatesIncremental(batch, idx)
      .as[(Long, Long, String)].collect().toSet
    for (expected <- Seq(1 << 16, 2)) { // roomy and saturated blooms
      val bloom = Dedup.buildBandBloom(idx, expected.toLong)
      val out = Dedup.minhashCandidatesIncremental(batch, idx,
        historyBandBloom = Some(bloom)).as[(Long, Long, String)].collect().toSet
      assert(out == plain, s"expectedItems=$expected")
    }
  }

  test("minhashCandidatesIncremental: cross-boundary pairs via the stored index only") {
    val hist = Seq((100L, "the quick brown fox jumps over the lazy dog near the river"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"), // dup of history
      (2L, "completely different content about catalyst and tungsten engines"),
      (3L, "shared boilerplate banner text on every page"),
      (4L, "shared boilerplate banner text on every page")) // batch dup pair
      .toDF("doc_id", "text")
    val df = Dedup.minhashCandidatesIncremental(batch, Dedup.bandIndex(hist))
    val out = df.as[(Long, Long, String)].collect().toSet
    assert(out == Set((1L, 100L, "history"), (3L, 4L, "batch")),
      s"unexpected candidate set: $out")
    // both capped sides register observable truncation metrics (zero here)
    val metrics = df.queryExecution.observedMetrics.collect {
      case (k, v) if k.startsWith(Dedup.BucketCapMetricPrefix) =>
        v.getAs[Long]("truncated_members")
    }
    assert(metrics.size == 2 && metrics.forall(_ == 0L), s"metrics: $metrics")
  }

  test("minhashCandidatesIncremental: the cap bounds a boilerplate batch, observably") {
    val boiler = spark.range(500).selectExpr("id AS doc_id",
      "'the same boilerplate banner text on every page of the site' AS text")
    val hist = Seq((9999L, "the same boilerplate banner text on every page of the site"))
      .toDF("doc_id", "text")
    val df = Dedup.minhashCandidatesIncremental(boiler, Dedup.bandIndex(hist),
      maxBucket = 50)
    val rows = df.collect()
    val history = rows.count(_.getString(2) == "history")
    val batch = rows.count(_.getString(2) == "batch")
    assert(history <= 50 && history > 0, s"history pairs capped: $history")
    assert(batch <= 50 * 49 / 2 && batch > 0, s"batch pairs capped: $batch")
    val truncated = df.queryExecution.observedMetrics.collect {
      case (k, v) if k.startsWith(Dedup.BucketCapMetricPrefix) =>
        v.getAs[Long]("truncated_members")
    }.toSeq
    assert(truncated.exists(_ == 4L * (500 - 50)),
      s"new-side truncation must be observable: $truncated")
  }

  test("embedding near-dup finds the planted duplicate vector") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.99f, 0.01f, 0.0f), 0), // same direction as 1
      (3L, Array(0.0f, 1.0f, 0.0f), 0),   // orthogonal
      (4L, Array(1.0f, 0.0f, 0.0f), 1))   // same as 1 but different block
      .toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDups(e, 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // 1-3 below threshold; 1-4 blocked apart
  }

  test("label-free embedding near-dup (LSH-blocked) runs without a label column") {
    // The realistic 100 TB corpus has no label column: the labeled variant
    // cannot even analyze, while the LSH-blocked one derives its own
    // blocking key and finds the planted duplicate.
    val vA = Array.tabulate(64)(i => math.sin(i + 1.0).toFloat)
    val vC = Array.tabulate(64)(i => math.cos(3.0 * i + 2.0).toFloat)
    val e = Seq((1L, vA), (2L, vA.clone()), (3L, vC)).toDF("vec_id", "embedding")
    intercept[org.apache.spark.sql.AnalysisException] {
      Dedup.embeddingNearDups(e, 0.9).collect()
    }
    val pairs = Dedup.embeddingNearDupsLsh(e, 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // identical directions share every sign bit
  }

  test("multi-probe LSH near-dup finds a pair straddling exactly one hyperplane") {
    // Construct a near-dup pair the single-bucket block MUST miss: reflect
    // vA across its weakest hyperplane (min |projection|), which flips that
    // one sign bit exactly while moving the direction as little as any
    // plane allows. Construction is checked in-test (hamming distance 1,
    // cosine above threshold) so a failure localizes.
    val planes = graft.operators.Similarity.lshPlanes(6, 64).map(_.toArray)
    val vA = Array.tabulate(64)(i => math.sin(i * 2.3 + 1.0))
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val k = planes.indices.minBy(p => math.abs(dot(vA, planes(p))))
    val pk = planes(k)
    val dk = dot(vA, pk)
    val vB = vA.zipWithIndex.map { case (x, i) => x - 2.0 * dk / dot(pk, pk) * pk(i) }
    def bucket(v: Array[Double]) =
      planes.zipWithIndex.map { case (p, i) => if (dot(v, p) > 0) 1 << i else 0 }.sum
    assert(Integer.bitCount(bucket(vA) ^ bucket(vB)) == 1, "construction: must straddle one plane")
    val cos = dot(vA, vB) / math.sqrt(dot(vA, vA) * dot(vB, vB))
    assert(cos >= 0.9, s"construction: reflection moved too far ($cos)")
    val e = Seq((1L, vA.map(_.toFloat)), (2L, vB.map(_.toFloat)))
      .toDF("vec_id", "embedding")
    val single = Dedup.embeddingNearDupsLsh(e, 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val multi = Dedup.embeddingNearDupsLshMultiProbe(e, 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(single.isEmpty, s"single-bucket blocking must miss the straddling pair: $single")
    assert(multi == Set((1L, 2L)), s"multi-probe must find it exactly once: $multi")
  }

  test("embedding block cap bounds quadratic blocks, observably; inert below the cap") {
    // Same invariant as the minhash band-bucket cap, on the embedding side:
    // 5 identical vectors in one label block, cap 2 → only the (1,2) pair
    // survives and the metric reports the 3 dropped members.
    val vA = Array.tabulate(64)(i => math.sin(i + 1.0).toFloat)
    val e = (1L to 5L).map(i => (i, vA.clone(), 0)).toDF("vec_id", "embedding", "label")
    val capped = Dedup.embeddingNearDups(e, 0.9, maxBlock = 2)
    // execute THIS plan (a derived .select would run its own QueryExecution
    // and the observed metric would read 0 — the documented trap)
    val rows = capped.collect()
    val pairs = rows.map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(pairs == Set((1L, 2L)), s"cap must keep the 2 smallest ids: $pairs")
    val m = capped.queryExecution.observedMetrics.collectFirst {
      case (k, v) if k.startsWith(Dedup.EmbedBlockCapMetricPrefix) => v
    }.get
    assert(m.getAs[Long]("truncated_members") == 3L)
    assert(m.getAs[Int]("largest_block") == 5)
    // below the cap: bit-identical to the unguarded result
    val loose = Dedup.embeddingNearDups(e, 0.9, maxBlock = 1000)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(loose == (1L to 5L).combinations(2).map(s => (s(0), s(1))).toSet)
    // and the multi-probe path caps its buckets the same way
    val mp = Dedup.embeddingNearDupsLshMultiProbe(
      e.drop("label"), 0.9, maxBlock = 2)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(mp == Set((1L, 2L)), s"multi-probe cap: $mp")
  }

  test("embedding near-dup clusters: components over the multi-probe pair graph") {
    // Transitivity across buckets: A≈B within a bucket, B≈C across one
    // plane — all three must land in one cluster labeled min(vec_id).
    val e = Tables.embeddings(TestSpark.spark, "/root/testdata/sf0.001")
    val clusters = Dedup.embeddingNearDupClusters(e, 0.2)
      .as[(Long, Long)].collect().toMap
    val pairs = Dedup.embeddingNearDupsLshMultiProbe(e, 0.2)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "degenerate: no pairs at 0.2 on sf0.001")
    // every paired vec is clustered, pairs share a cluster, label ≤ members
    pairs.foreach { case (a, b) =>
      assert(clusters.contains(a) && clusters.contains(b))
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    clusters.foreach { case (v, c) => assert(c <= v) }
    // the label really is the component MINIMUM (min over each cluster = label)
    clusters.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min == label)
    }
  }

  test("components releases its checkpoints: each call leaves at most the " +
      "returned frame's RDD persisted") {
    // the sf0.001 survivor pair graph, collected so the pair stage's own
    // caches stay outside the measured window
    val pairs = Dedup.nearDupPairs(
        Queries.curateSurvivors(spark, "/root/testdata/sf0.001")
          .select(col("doc_id"), col("text")), 0.2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
      .toDF("doc_a", "doc_b")
    assert(pairs.count() > 0)
    val sc = spark.sparkContext
    // the returned frames stay referenced, so no ContextCleaner release
    // can stand in for the operator's own
    val results = (1 to 3).map { _ =>
      val before = sc.getPersistentRDDs.size
      val comp = Dedup.components(pairs)
      assert(sc.getPersistentRDDs.size <= before + 1)
      comp
    }
    val labels = results.map(_.as[(Long, Long)].collect().toSet)
    assert(labels.forall(_ == labels.head) && labels.head.nonEmpty)
  }

  test("minhashCandidates / nearDupPairs: repeated calls on one corpus " +
      "share one cache entry") {
    // the per-call bucket-cap metric name must stay out of the persisted
    // plan, or CacheManager adds an entry per call that nothing releases
    val corpus = Tables.documents(spark, Bench.WarmupSfDir) // sf0.001
      .select(col("doc_id"), col("text"))
    val sc = spark.sparkContext
    val ops = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "minhashCandidates" -> (Dedup.minhashCandidates(_)),
      "nearDupPairs" -> (Dedup.nearDupPairs(_, 0.2)))
    ops.foreach { case (name, op) =>
      val before = sc.getPersistentRDDs.size
      val counts = (1 to 3).map(_ => op(corpus).collect().length)
      assert(counts.forall(_ == counts.head) && counts.head > 0, name)
      val added = sc.getPersistentRDDs.size - before
      assert(added <= 1, s"$name: 3 calls added $added persisted RDDs")
    }
  }
}

/** Plain-Scala PQ references, independent of the Spark plans: the
  * round-6 micro-L2 of `d2Micros` / `pq_encode_i` (BigDecimal HALF_UP,
  * the rounding Spark's `round` applies to doubles), the (d2u, code)
  * argmin encode, and ADC top-k ranked by (d2u, vec_id). */
object PqReference {
  type Books = Seq[Seq[Array[Double]]]

  def d2u(xs: Seq[Double], cv: Seq[Double]): Long = {
    val xx = xs.foldLeft(0.0)((a, x) => a + x * x)
    val xcv = xs.zip(cv).foldLeft(0.0) { case (a, (x, c)) => a + x * c }
    val cc = cv.foldLeft(0.0)((a, c) => a + c * c)
    val r6 = java.math.BigDecimal.valueOf((xx - 2.0 * xcv) + cc)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    java.math.BigDecimal.valueOf(r6 * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  private def subvec(v: Seq[Double], sub: Int, books: Books): Seq[Double] = {
    val dsub = books.head.head.length
    v.slice(sub * dsub, (sub + 1) * dsub)
  }

  def encode(v: Seq[Double], books: Books): Seq[Int] =
    books.indices.map { sub =>
      books(sub).indices.minBy(c =>
        (d2u(subvec(v, sub, books), books(sub)(c).toSeq), c))
    }

  /** lut(sub)(code) for one query vector (or query residual). */
  def lut(q: Seq[Double], books: Books): Seq[Seq[Long]] =
    books.indices.map(sub =>
      books(sub).map(cv => d2u(subvec(q, sub, books), cv.toSeq)))

  /** (query_id, rank, neighbor_id, d2u) rows of one query: each
    * candidate is (vec_id, codes, the LUT it scores against). */
  def topK(qid: Long, cands: Seq[(Long, Seq[Int], Seq[Seq[Long]])],
      k: Int): Seq[(Long, Int, Long, Long)] =
    cands.filter(_._1 != qid)
      .map { case (id, codes, l) =>
        (codes.zipWithIndex.map { case (c, sub) => l(sub)(c) }.sum, id) }
      .sorted.take(k).zipWithIndex
      .map { case ((d, id), r) => (qid, r + 1, id, d) }

  def minus(a: Seq[Double], b: Array[Double]): Seq[Double] =
    a.zip(b).map { case (x, y) => x - y }
}

class SimilaritySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f), 0),
    (2L, Array(0.0f, 1.0f), 1),
    (3L, Array(0.1f, 0.9f), 1),
    (4L, Array(0.7f, 0.7f), 0)).toDF("vec_id", "embedding", "label")

  test("brute top-k ranks by cosine with id tie-break") {
    val out = Similarity.bruteTopK(vecs, k = 2, stride = 2) // queries: 0, 2, 4
      .orderBy("query_id", "rank")
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect()
    val q0 = out.filter(_._1 == 0L).map(_._3).toSeq
    assert(q0 == Seq(1L, 4L)) // cos(0,1)=.994 > cos(0,4)=.707
    val q2 = out.filter(_._1 == 2L).map(_._3).toSeq
    assert(q2 == Seq(3L, 4L))
  }

  test("degenerate inputs never rank: zero-norm rows drop, a full " +
      "dim-mismatch yields an EMPTY result (not k null-scored rows)") {
    // r12 intent, r13 mechanics: the guards are a per-row nrm>0 filter
    // plus a size-equality pair predicate — never a per-pair filter
    // over the cosine (the double-dot defect, VERDICT r12).
    val zeroNorm = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.0f, 0.0f), 0), // zero-norm: cannot rank, must not null-crash
      (2L, Array(0.5f, 0.5f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.bruteTopKAgg(zeroNorm, k = 3, stride = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(out.toSet == Set((0L, 2L), (2L, 0L)),
      "zero-norm vec 1 must appear neither as query nor neighbor")
    // full dim-mismatch between the frames: empty, loud by absence —
    // never k arbitrary neighbors with cosine=null (and the agg path
    // must not crash deserializing null into Scored.score)
    val corpus = Seq((0L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.crossTopK(corpus, queries, k = 2).count() == 0)
  }

  test("PQ: codebook artifact round-trips; encode emits exactly m codes " +
      "per vector within [0, ksub); ADC is EXACT when the corpus lies on " +
      "the codebook") {
    val dim8 = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 1.0f)),
      (1L, Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 1.0f)),
      (2L, Array(0f, 1.0f, 0f, 0f, 0f, 1.0f, 0f, 0f)),
      (3L, Array(0f, 0f, 1.0f, 0f, 1.0f, 0f, 0f, 0f)),
      (4L, Array(0f, 1.0f, 0f, 0f, 0f, 1.0f, 0f, 0f))).toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(dim8, m = 2, ksub = 4, maxSample = 100)
    // artifact round-trip is the identity
    val loaded = Similarity.pqBooksFromDF(Similarity.pqBooksToDF(spark, books))
    assert(loaded.map(_.map(_.toSeq)) == books.map(_.map(_.toSeq)))
    val codes = Similarity.pqEncode(dim8, books)
    val perVec = codes.as[(Long, Seq[Int])].collect().toMap
    assert(perVec.size == 5 && perVec.values.forall(_.size == 2),
      s"m=2 codes per vector: $perVec")
    assert(perVec.values.flatten.forall(c => c >= 0 && c < 4))
    // the corpus has 3 distinct vectors and ksub=4 ≥ 3, so Lloyd lands a
    // centroid ON each distinct subvector — ADC distance is then the
    // EXACT squared L2, and vec 0's nearest must be its twin vec 1
    val top = Similarity.pqTopKAdc(codes, dim8.where(col("vec_id") === 0L),
        books, k = 2)
      .orderBy("rank").select("neighbor_id", "d2u").as[(Long, Long)].collect()
    assert(top.head == ((1L, 0L)), s"twin must rank first at distance 0: ${top.toSeq}")
  }

  test("ADC search == the plain-Scala ADC reference — flat PQ and " +
      "residual IVF-PQ both, at nProbes = nCells and at nProbes = 1") {
    val dim8 = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 1.0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f, 0f, 0f, 0.1f, 0.9f)),
      (2L, Array(0f, 1.0f, 0f, 0f, 0f, 1.0f, 0f, 0f)),
      (3L, Array(0f, 0f, 1.0f, 0f, 1.0f, 0f, 0f, 0f)),
      (4L, Array(0f, 0.9f, 0.1f, 0f, 0.1f, 0.9f, 0f, 0f)),
      (5L, Array(0.2f, 0.2f, 0.6f, 0f, 0.6f, 0.2f, 0.2f, 0f)))
      .toDF("vec_id", "embedding")
    val vec = dim8.as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    val qs = dim8.where(col("vec_id") % 2 === 0)
    val qIds = Seq(0L, 2L, 4L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .as[(Long, Int, Long, Long)].collect().toSeq
    // flat PQ: stored codes == the reference encode, search == reference
    val books = Similarity.pqTrain(dim8, m = 2, ksub = 4, maxSample = 100)
    val codes = Similarity.pqEncode(dim8, books)
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes == vec.map { case (id, v) => id -> PqReference.encode(v, books) })
    val flatRef = qIds.flatMap { q =>
      val l = PqReference.lut(vec(q), books)
      PqReference.topK(q, codes.toSeq.map { case (id, c) => (id, c, l) }, 3)
    }
    assert(rows(Similarity.pqTopKAdc(Similarity.pqEncode(dim8, books),
      qs, books, k = 3)) == flatRef)
    // residual IVF-PQ over 2 cells: codes quantize v − c(cell), and each
    // probed cell scores with the query's own residual LUT
    val cents = Similarity.kmeansCentroidArrays(dim8, nCells = 2)
    val rBooks = Similarity.pqTrainResidual(dim8, cents, m = 2, ksub = 4)
    val rCodesDf = Similarity.ivfPqResidualEncode(dim8, cents, rBooks)
    val rCodes = rCodesDf.as[(Long, Int, Seq[Int])].collect()
    assert(rCodes.length == 6 && rCodes.forall { case (id, cell, c) =>
      c == PqReference.encode(PqReference.minus(vec(id), cents(cell)), rBooks) })
    val cellOf = rCodes.map(r => r._1 -> r._2).toMap
    for (p <- Seq(1, 2)) {
      val ref = qIds.flatMap { q =>
        val probed = if (p == 2) Set(0, 1) else Set(cellOf(q))
        val luts = probed.map(c =>
          c -> PqReference.lut(PqReference.minus(vec(q), cents(c)), rBooks)).toMap
        PqReference.topK(q, rCodes.toSeq.collect {
          case (id, cell, c) if probed(cell) => (id, c, luts(cell)) }, 3)
      }
      assert(rows(Similarity.ivfPqResidualTopK(rCodesDf, qs, cents, rBooks,
        k = 3, nProbes = p)) == ref, s"residual search != reference at nProbes=$p")
    }
  }

  test("quantized tiers never rank a null distance (review r13): dim " +
      "mismatches yield EMPTY results, empty embeddings drop at encode, " +
      "stale-books ADC drops pairs instead of ranking partial sums, and " +
      "ragged books fail the wide layout loudly") {
    val corpus = Seq(
      (0L, Array(1.0f, 0f, 0f, 1.0f)),
      (1L, Array(0f, 1.0f, 1.0f, 0f))).toDF("vec_id", "embedding")
    val shortQueries = Seq((100L, Array(1.0f, 0f))).toDF("vec_id", "embedding")
    // binq: a genuine word-count gap needs a >32-dim corpus (2 words)
    // vs a short query (1 word)
    val corpus64 = Seq((0L, Array.fill(64)(1.0f)), (1L, Array.fill(64)(-1.0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.binqTopK(Similarity.binqEncode(corpus64),
      shortQueries, k = 2).count() == 0,
      "word-count mismatch must be EMPTY, not top-k null-hamming rows")
    // empty embedding: encode drops the row instead of throwing on
    // element_at(v, 0) under ANSI
    val withEmpty = Seq((0L, Array(1.0f, -1.0f)), (1L, Array.empty[Float]))
      .toDF("vec_id", "embedding")
    assert(Similarity.binqEncode(withEmpty).select("vec_id")
      .as[Long].collect().toSeq == Seq(0L))
    // sq8: dim mismatch must be EMPTY, not k null-scored rows
    assert(Similarity.sq8TopK(Similarity.sq8Encode(corpus),
      shortQueries, k = 2).count() == 0,
      "sq8 dim mismatch must be EMPTY")
    // stale books: codes encoded with ksub=4 books searched with
    // ksub-2 books — unmatched codes must DROP the pair (absence),
    // never rank a partial underestimated sum
    val big = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f)), (1L, Array(0f, 1.0f, 0f, 0f)),
      (2L, Array(0f, 0f, 1.0f, 0f)), (3L, Array(0f, 0f, 0f, 1.0f)),
      (4L, Array(0.5f, 0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    // 4 distinct subvectors per subspace, so the ksub-4 books are uniform
    val books4 = Similarity.pqTrain(big, m = 2, ksub = 4, maxSample = 100)
    assert(books4.map(_.size) == Seq(4, 4))
    val books2 = Similarity.pqTrain(big, m = 2, ksub = 2, maxSample = 100)
    val codes4 = Similarity.pqEncode(big, books4)
    val stale = Similarity.pqTopKAdc(codes4, big.where(col("vec_id") === 0L),
      books2, k = 5)
    val complete = Similarity.pqTopKAdc(codes4,
      big.where(col("vec_id") === 0L), books4, k = 5)
    assert(complete.count() == 4, "sanity: matched books rank everything")
    // with ksub-2 books only codes 0/1 exist in the LUT; any vector
    // carrying a code >= 2 in EITHER subspace must be absent — the
    // per-side guards drop it before the pair join, so a query with
    // fewer than k valid candidates gets fewer rows, never a null
    val maxCode = codes4.as[(Long, Seq[Int])].collect()
      .map { case (id, c) => id -> c.max }.toMap
    val ranked = stale.select("neighbor_id").as[Long].collect().toSet
    assert(ranked.forall(v => maxCode(v) < 2),
      s"a partial-sum pair ranked: $ranked vs codes $maxCode")
    assert(ranked == maxCode.collect { case (v, mx) if v != 0L && mx < 2 => v }.toSet,
      s"every in-range vector must still rank: $ranked vs codes $maxCode")
    assert(stale.where(col("d2u").isNull).count() == 0)
    // ragged books (pqTrain's distinct-subvector cap) misalign the
    // flattened LUT: every encode and every search face refuses them
    val ragged = Seq(Seq(Array(0.0, 0.0)), books4(1))
    val cents = Similarity.kmeansCentroidArrays(big, nCells = 2)
    val rot = Seq.tabulate(4)(i => Array.tabulate(4)(j => if (i == j) 1.0 else 0.0))
    val q0 = big.where(col("vec_id") === 0L)
    val faces: Seq[(String, () => Any)] = Seq(
      "pqEncode" -> (() => Similarity.pqEncode(big, ragged)),
      "pqTopKAdc" -> (() => Similarity.pqTopKAdc(codes4, q0, ragged, 2)),
      "pqTopKRefined" -> (() =>
        Similarity.pqTopKRefined(codes4, big, q0, ragged, 2, shortlist = 3)),
      "ivfPqEncode" -> (() => Similarity.ivfPqEncode(big, cents, ragged)),
      "ivfPqTopK" -> (() => Similarity.ivfPqTopK(
        Similarity.ivfPqEncode(big, cents, books4), q0, cents, ragged, 2)),
      "ivfPqResidualEncode" -> (() =>
        Similarity.ivfPqResidualEncode(big, cents, ragged)),
      "ivfPqResidualTopK" -> (() => Similarity.ivfPqResidualTopK(
        Similarity.ivfPqResidualEncode(big, cents, books4), q0, cents, ragged, 2)),
      "opqIvfPqEncode" -> (() =>
        Similarity.opqIvfPqEncode(big, rot, cents, ragged)),
      "opqIvfPqTopK" -> (() => Similarity.opqIvfPqTopK(
        Similarity.opqIvfPqEncode(big, rot, cents, books4), q0, rot, cents,
        ragged, 2)))
    faces.foreach { case (name, face) =>
      val e = intercept[IllegalArgumentException](face())
      assert(e.getMessage.contains("uniform"), s"$name: ${e.getMessage}")
    }
  }

  test("hammingNearDupPairs: banded result == brute Hamming join " +
      "(pigeonhole exactness at the boundary distances), the require " +
      "fires when the bound is violated, and the plan is equi-join only") {
    // 40 vectors, dim 12, 4-bit bands -> nBands 3: pairs engineered at
    // distances 0..4 so both sides of the maxHamming=2 cut are hit
    val base = Array.tabulate(12)(d => if (d % 2 == 0) 1.0f else -1.0f)
    def flip(v: Array[Float], idxs: Int*): Array[Float] =
      v.zipWithIndex.map { case (x, i) => if (idxs.contains(i)) -x else x }
    val vecs = (0 until 40).map { i =>
      val flips = (0 until i % 5).map(j => (i * 7 + j * 3) % 12)
      (i.toLong, flip(base, flips: _*).toSeq)
    }.toDF("vec_id", "embedding")
    val banded = graft.operators.Similarity
      .hammingNearDupPairs(vecs, dim = 12, maxHamming = 2, bandBits = 4)
    def ham(a: Seq[Float], b: Seq[Float]): Int =
      a.zip(b).count { case (x, y) => (x > 0) != (y > 0) }
    val rows = vecs.as[(Long, Seq[Float])].collect()
    val brute = (for {
      (ia, va) <- rows; (ib, vb) <- rows if ia < ib
      h = ham(va, vb) if h <= 2
    } yield (ia, ib, h)).toSet
    assert(banded.as[(Long, Long, Int)].collect().toSet == brute &&
      brute.nonEmpty, "banded join must equal the brute Hamming join")
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.hammingNearDupPairs(vecs, dim = 12,
        maxHamming = 3, bandBits = 4) // nBands 3, bound violated
    }
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join:\n$plan")
    assert(!plan.linesIterator.exists(l =>
      l.contains("Join") && l.contains("hamming_l")),
      "verify kernel must stay out of join conditions")
  }

  test("hammingNearDupIncremental: == brute split oracle at a dim that " +
      "does NOT fill its last band; bloom-on == bloom-off; wrong-width " +
      "rows dropped on both sides; re-ingested id emits no self-pair") {
    // dim 14, 4-bit bands -> nBands 4 with a HALF-EMPTY last band (bits
    // 12..13): the banding must still cover only real sign bits, and
    // maxHamming = 2 < 4 keeps the pigeonhole bound intact
    val dim = 14
    val base = Array.tabulate(dim)(d => if (d % 2 == 0) 1.0f else -1.0f)
    def flip(v: Array[Float], idxs: Int*): Array[Float] =
      v.zipWithIndex.map { case (x, i) => if (idxs.contains(i)) -x else x }
    val all = (0 until 48).map { i =>
      val flips = (0 until i % 5).map(j => (i * 5 + j * 3) % dim)
      (i.toLong, flip(base, flips: _*).toSeq)
    }
    val histRows = all.filter(_._1 % 3 == 0)
    val batchRows = all.filter(_._1 % 3 != 0)
    val histCodes = Similarity.hammingCodesChecked(
      histRows.toDF("vec_id", "embedding"), dim)
    val batch = batchRows.toDF("vec_id", "embedding")
    val out = Similarity.hammingNearDupIncremental(batch, histCodes,
      dim, maxHamming = 2, bandBits = 4)
      .as[(Long, Long, Int, String)].collect().toSet
    def ham(a: Seq[Float], b: Seq[Float]): Int =
      a.zip(b).count { case (x, y) => (x > 0) != (y > 0) }
    val bruteHist = (for {
      (ia, va) <- batchRows; (ib, vb) <- histRows
      h = ham(va, vb) if h <= 2
    } yield (ia, ib, h, "history")).toSet
    val bruteBatch = (for {
      (ia, va) <- batchRows; (ib, vb) <- batchRows if ia < ib
      h = ham(va, vb) if h <= 2
    } yield (ia, ib, h, "batch")).toSet
    assert(out == (bruteHist ++ bruteBatch) && bruteHist.nonEmpty &&
      bruteBatch.nonEmpty, "incremental result must equal the brute split")
    // bloom prefilter is EXACT: identical output with the bloom on
    val bloom = Similarity.buildHammingBandBloom(histCodes, dim,
      bandBits = 4, expectedItems = 1 << 12)
    val outBloom = Similarity.hammingNearDupIncremental(batch, histCodes,
      dim, maxHamming = 2, bandBits = 4, historyBandBloom = Some(bloom))
      .as[(Long, Long, Int, String)].collect().toSet
    assert(outBloom == out, "bloom-on must equal bloom-off exactly")
    // width guards both sides: a 2-word stray in the LOADED history code
    // table is dropped (word-count granularity — raw vectors are gone by
    // then), and a wrong-dim RAW batch row is dropped by the size(v)
    // guard before encoding — neither poisons the result
    val strayCodes = histCodes.unionByName(
      Seq((999L, Seq(0L, 0L))).toDF("vec_id", "bw"))
    val rag = batchRows.toDF("vec_id", "embedding").unionByName(
      Seq((998L, Seq.fill(dim + 3)(1.0f))).toDF("vec_id", "embedding"))
    val outStray = Similarity.hammingNearDupIncremental(rag, strayCodes,
      dim, maxHamming = 2, bandBits = 4)
      .as[(Long, Long, Int, String)].collect().toSet
    assert(outStray == out, "wrong-width rows must be dropped, not scored")
    // re-ingesting a history id in the batch: its history twin matches at
    // distance 0 on every band but must NOT surface as a self-pair
    val reingest = histRows.take(1).toDF("vec_id", "embedding")
    val selfPairs = Similarity.hammingNearDupIncremental(reingest, histCodes,
      dim, maxHamming = 2, bandBits = 4)
      .where(col("vec_a") === col("vec_b")).count()
    assert(selfPairs == 0, "re-ingested id must not emit a self-pair")
  }

  test("mat_vec_d rotation kernel == the HOF transform/aggregate/zip_with " +
      "chain bit-for-bit on well-formed inputs; wrong-width vector -> " +
      "NULL embedding (loud-by-absence); non-square rotations supported") {
    // the exact chain rotateEmbeddings used before r15 — kept here as
    // the parity reference (same index-order accumulation)
    def hofRotate(df: org.apache.spark.sql.DataFrame,
        r: Seq[Array[Double]]): org.apache.spark.sql.DataFrame = {
      val rCol = array(r.map(row => array(row.map(lit): _*)): _*)
      df.select(col("vec_id"),
        transform(sequence(lit(0), lit(r.size - 1)), i =>
          aggregate(
            zip_with(element_at(rCol, i + 1),
              transform(col("embedding"), x => x.cast("double")),
              (a, b) => a * b),
            lit(0.0), (acc, x) => acc + x)).as("embedding"))
    }
    // a variety of dims incl. a dim the fixtures never use, irrational
    // entries (no dyadic luck), negatives, and magnitudes spanning 2^±20
    for (dim <- Seq(1, 5, 16)) {
      val r = Seq.tabulate(dim, dim)((i, j) =>
        math.sin(i * 7 + j * 3 + 1) * math.pow(2.0, (i + j) % 7 - 3))
        .map(_.toArray)
      val vecs = (0 until 40).map { k =>
        (k.toLong, Seq.tabulate(dim)(d =>
          (math.cos(k * 13 + d * 5) * math.pow(2.0, (k + d) % 9 - 4)).toFloat))
      }.toDF("vec_id", "embedding")
      val native = Similarity.rotateEmbeddings(vecs, r)
        .as[(Long, Seq[Double])].collect().sortBy(_._1)
      val hof = hofRotate(vecs, r)
        .as[(Long, Seq[Double])].collect().sortBy(_._1)
      native.zip(hof).foreach { case ((ia, va), (ib, vb)) =>
        assert(ia == ib && va.size == vb.size)
        va.zip(vb).foreach { case (x, y) =>
          assert(java.lang.Double.doubleToRawLongBits(x) ==
            java.lang.Double.doubleToRawLongBits(y),
            s"dim $dim vec $ia: $x != $y (bit-level)")
        }
      }
    }
    // non-square: a 3×5 projection matrix maps dim-5 vectors to dim-3
    val proj = Seq.tabulate(3, 5)((i, j) => (i * 5 + j + 1).toDouble).map(_.toArray)
    val out = Similarity.rotateEmbeddings(
        Seq((1L, Seq.tabulate(5)(_.toFloat))).toDF("vec_id", "embedding"), proj)
      .as[(Long, Seq[Double])].head()
    assert(out._2 == Seq(40.0, 90.0, 140.0)) // exact integer arithmetic
    // wrong-width vector: NULL result (the HOF chain emitted an array of
    // nulls; the kernel is loud-by-absence — divergence documented)
    val ragged = Similarity.rotateEmbeddings(
        Seq((1L, Seq.tabulate(4)(_.toFloat))).toDF("vec_id", "embedding"), proj)
      .where(col("embedding").isNull).count()
    assert(ragged == 1L, "wrong-width vector must yield a NULL embedding")
  }

  test("pq_encode_i fused kernel == the plain-Scala argmin reference " +
      "bit-for-bit in a whole-stage codegen stage (incl. engineered " +
      "(d2u, code) ties); cell variant too; wrong-width vector -> NULL " +
      "(loud-by-absence)") {
    // varied vectors over dim 8, m=4/dsub=2/ksub=4 books with two
    // DUPLICATE codewords in sub 0 (codes 1 and 2 identical) — every
    // vector ties there and the (d2u, code) order must pick the LOWER code
    val books: Seq[Seq[Array[Double]]] = Seq(
      Seq(Array(0.1, -0.3), Array(0.7, 0.7), Array(0.7, 0.7), Array(-1.1, 0.2)),
      Seq(Array(0.0, 0.0), Array(1.0, -1.0), Array(0.25, 0.5), Array(-0.5, -0.25)),
      Seq(Array(2.0, 0.0), Array(0.0, 2.0), Array(-2.0, 0.0), Array(0.0, -2.0)),
      Seq(Array(0.3, 0.3), Array(0.31, 0.3), Array(0.3, 0.31), Array(0.33, 0.29)))
    val raw = (0 until 60).map { k =>
      k.toLong -> Seq.tabulate(8)(d =>
        (math.sin(k * 11 + d * 5) * math.pow(2.0, (k + d) % 5 - 2)).toFloat)
    }
    // an RDD-backed frame: a projection over a local relation is folded
    // by interpreted eval at optimization time and never reaches codegen
    import org.apache.spark.sql.types._
    val vecs = spark.createDataFrame(
      spark.sparkContext.parallelize(
        raw.map { case (k, v) => org.apache.spark.sql.Row(k, v) }, 2),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val fusedDf = Similarity.pqEncode(vecs, books)
    val fused = fusedDf.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    TestSpark.assertCodegenStage(fusedDf, "pq_encode_i")
    val expect = raw.map { case (k, v) =>
      k -> PqReference.encode(v.map(_.toDouble), books) }.toMap
    assert(fused == expect && fused.size == 60,
      "fused encode must equal the argmin reference exactly")
    assert(fused.values.forall(_.head != 2) && fused.values.exists(_.head == 1),
      "tie must resolve to the lower duplicate code")
    // the cell-threaded residual shape: codes quantize v − c(cell)
    val cents = Seq(Array.fill(8)(0.5), Array.fill(8)(-0.5))
    val cellDf = Similarity.ivfPqResidualEncode(vecs, cents, books)
    val fusedCell = cellDf.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
    TestSpark.assertCodegenStage(cellDf, "pq_encode_i")
    assert(fusedCell.length == 60 && fusedCell.forall { case (k, cell, c) =>
      c == PqReference.encode(
        PqReference.minus(raw.toMap.apply(k).map(_.toDouble), cents(cell)),
        books) },
      "fused residual encode must equal the argmin reference")
    // wrong-width vector: NULL codes row (loud-by-absence: every search
    // drops it per row, and the code-output rows emit nothing for it)
    val ragged = Similarity.pqEncode(
        Seq((9L, Seq.fill(7)(1.0f))).toDF("vec_id", "embedding"), books)
      .where(col("codes").isNull).count()
    assert(ragged == 1L, "wrong-width vector must yield NULL codes")
  }
  test("sq8 native kernels == the HOF chains bit-for-bit: abs_max_d vs " +
      "array_max(transform(abs)), sq8_codes_i vs transform(floor) — incl. " +
      "negative halves, exact .5 boundaries, subnormal-ish magnitudes") {
    val vecs = (0 until 50).map { k =>
      (k.toLong, Seq.tabulate(9)(d =>
        (math.sin(k * 17 + d * 3) * math.pow(2.0, (k * d) % 11 - 5)).toFloat))
    } :+ (99L, Seq(0.5f, -0.5f, 1.0f, -1.0f, 0.0039f, -0.0039f, 1.0f, 1.0f, 1.0f))
    val df = vecs.toDF("vec_id", "embedding")
    val v = graft.functions.SimFns.toDouble(col("embedding"))
    val hofMax = array_max(transform(v, x => abs(x)))
    val hof = df.select(col("vec_id"), hofMax.as("max_abs"),
        transform(v, x => floor(x * lit(127.0) / hofMax + lit(0.5)).cast("int"))
          .as("q8"))
      .as[(Long, Double, Seq[Int])].collect()
      .map { case (k, m, q) => k -> (m, q) }.toMap
    val nat = Similarity.sq8Encode(df)
      .select(col("vec_id"), col("max_abs"), col("q8"))
      .as[(Long, Double, Seq[Int])].collect()
      .map { case (k, m, q) => k -> (m, q) }.toMap
    assert(nat.keySet == hof.keySet && nat.nonEmpty)
    nat.foreach { case (k, (m, q)) =>
      val (hm, hq) = hof(k)
      assert(java.lang.Double.doubleToRawLongBits(m) ==
        java.lang.Double.doubleToRawLongBits(hm), s"max_abs differs for $k")
      assert(q == hq, s"codes differ for $k: $q vs $hq")
    }
  }

  test("binq: 32-bit word layout pinned bit-for-bit (incl. a partial " +
      "second word); DataFrame hamming (codegen) == sign-disagreement count") {
    // dim 34 forces TWO words with a partial second word
    val a = Array.tabulate(34)(i => if (i % 3 == 0) 1.0f else -1.0f)
    val b = Array.tabulate(34)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val df = Seq((0L, a), (1L, b)).toDF("vec_id", "embedding")
    val codes = Similarity.binqEncode(df).orderBy("vec_id")
      .as[(Long, Seq[Long])].collect()
    def words(v: Array[Float]): Seq[Long] = {
      val nw = (v.length + 31) / 32
      (0 until nw).map { j =>
        (0 until 32).foldLeft(0L) { (acc, bit) =>
          val idx = j * 32 + bit
          if (idx < v.length && v(idx) > 0) acc | (1L << bit) else acc
        }
      }
    }
    assert(codes(0)._2 == words(a) && codes(1)._2 == words(b))
    val naive = a.zip(b).count { case (x, y) => (x > 0) != (y > 0) }
    val h = Similarity.binqTopK(Similarity.binqEncode(df),
        df.where(col("vec_id") === 0L), k = 1)
      .select("hamming").as[Int].head()
    assert(h == naive, s"codegen hamming $h != naive $naive")
  }

  test("sq8: codes bounded with the extreme dim at ±127; zero vectors " +
      "drop per-row; top-1 agrees with the exact tier on a separated corpus") {
    val df = Seq(
      (0L, Array(0.5f, -1.0f)),
      (1L, Array(0.0f, 0.0f)), // zero vector: quantizer has no scale — drops
      (2L, Array(0.4f, -0.9f)),
      (3L, Array(-0.9f, 0.4f))).toDF("vec_id", "embedding")
    val codes = Similarity.sq8Encode(df)
    assert(codes.where(col("vec_id") === 1L).count() == 0)
    val c0 = codes.where(col("vec_id") === 0L)
      .select("q8").as[Seq[Int]].head()
    assert(c0 == Seq(64, -127), s"floor(x·127/max_abs + 0.5): $c0")
    val top = Similarity.sq8TopK(codes, df.where(col("vec_id") === 0L), k = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(top.toSeq == Seq(2L, 3L),
      s"quantized ranking must preserve the separated order: ${top.toSeq}")
  }

  test("residual IVF-PQ: the exact twin ranks first and STRICTLY below " +
      "every other candidate; nProbes=1 returns only same-cell neighbors") {
    val dupes = Seq(
      (0L, Array(1.0f, 0f, 0f, 1.0f)),
      (1L, Array(1.0f, 0f, 0f, 1.0f)), // exact twin of 0
      (2L, Array(0f, 1.0f, 1.0f, 0f)),
      (3L, Array(0f, 0.5f, 0.5f, 0f)),
      (4L, Array(0.5f, 0f, 0f, 0.5f))).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroidArrays(dupes, nCells = 2)
    val books = Similarity.pqTrainResidual(dupes, cents, m = 2, ksub = 4)
    val codes = Similarity.ivfPqResidualEncode(dupes, cents, books)
    // every vector carries exactly m codes plus its cell
    assert(codes.as[(Long, Int, Seq[Int])].collect()
      .map(_._3.size).toSeq == Seq.fill(5)(2))
    val q0 = dupes.where(col("vec_id") === 0L)
    val both = Similarity.ivfPqResidualTopK(codes, q0, cents, books,
        k = 4, nProbes = 2)
      .orderBy("rank").select("neighbor_id", "d2u").as[(Long, Long)].collect()
    assert(both.head._1 == 1L, s"twin must rank first: ${both.toSeq}")
    assert(both.length < 2 || both.head._2 < both(1)._2,
      s"twin must be STRICTLY nearest (same cell, same codes as the " +
        s"query's own residual): ${both.toSeq}")
    // nProbes=1 prunes to the query's own cell — neighbors must all share it
    val cellOf = codes.select("vec_id", "cell")
      .as[(Long, Int)].collect().toMap
    val one = Similarity.ivfPqResidualTopK(codes, q0, cents, books,
        k = 4, nProbes = 1)
      .select("neighbor_id").as[Long].collect()
    assert(one.nonEmpty && one.forall(n => cellOf(n) == cellOf(0L)),
      s"nProbes=1 must stay in cell ${cellOf(0L)}: ${one.toSeq}")
  }

  test("ivf top-k searches only the query's cell") {
    val out = Similarity.ivfTopK(vecs, k = 3, stride = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    // query 0's cell (label-0 representative direction) never contains 2
    assert(!out.contains((0L, 2L)))
  }

  test("crossTopK: neighbors come only from the corpus side; a planted twin ranks first") {
    val corpus = vecs.where(col("vec_id") =!= 2L)
    val queries = Seq((100L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.crossTopK(corpus, queries, k = 2)
      .orderBy("rank")
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect()
    // nearest corpus vec to (0,1) is 3 = (0.1, 0.9); query id 100 never
    // appears as a neighbor (it is not in the corpus)
    assert(out.map(_._3).toSeq == Seq(3L, 4L))
    assert(out.forall(_._1 == 100L))
  }

  test("crossTopKLsh: corpus-only neighbors, dense per-query ranks") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val corpus = e.where(col("vec_id") % 5 =!= 0)
    val queries = e.where(col("vec_id") % 5 === 0)
    val lsh = Similarity.crossTopKLsh(corpus, queries, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(lsh.nonEmpty)
    // no query-side leakage (neighbors only from the corpus partition)…
    assert(lsh.forall { case (_, n) => n % 5 != 0 })
    // …and ranks are dense 1..n per query
    val ranks = Similarity.crossTopKLsh(corpus, queries, k = 10)
      .groupBy("query_id").agg(max("rank").as("mx"), count(lit(1)).as("n"))
      .where(col("mx") =!= col("n")).count()
    assert(ranks == 0L, "ranks must be dense 1..n per query")
  }

  test("crossTopKLshMultiProbe: candidates are a SUPERSET of the " +
      "single-bucket ones (probe rank 1 is the own bucket) and still " +
      "corpus-only, dedup-free dense ranks") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val corpus = e.where(col("vec_id") % 5 =!= 0)
    val queries = e.where(col("vec_id") % 5 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val single = pairs(Similarity.crossTopKLsh(corpus, queries, k = 1000))
    val multi = pairs(Similarity.crossTopKLshMultiProbe(corpus, queries,
      k = 1000))
    // k far above candidate counts ⇒ the sets ARE the candidate sets
    assert(single.subsetOf(multi),
      s"multi-probe must contain every single-bucket candidate " +
        s"(missing ${single.diff(multi).take(3)})")
    assert(multi.size > single.size, "Hamming-1 probes must add candidates")
    assert(multi.forall { case (_, n) => n % 5 != 0 }, "corpus-only")
    // a (query, neighbor) pair appears at most once — probes are
    // distinct buckets and each corpus row has ONE bucket
    val dup = Similarity.crossTopKLshMultiProbe(corpus, queries, k = 1000)
      .groupBy("query_id", "neighbor_id").count()
      .where(col("count") > 1).count()
    assert(dup == 0L, "no pair may be scored twice")
  }

  test("crossTopKIvf: corpus-only neighbors from the probed cells; " +
      "nProbes=|cells| recovers exact brute-force results") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val corpus = e.where(col("vec_id") % 5 =!= 0)
    val queries = e.where(col("vec_id") % 5 === 0)
    val cents = Similarity.kmeansCentroidArrays(corpus, nCells = 4)
    val ivf = Similarity.crossTopKIvf(corpus, queries, k = 10, cents,
        nProbes = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(ivf.nonEmpty && ivf.forall { case (_, n) => n % 5 != 0 })
    // probing EVERY cell = scanning the whole corpus = exact crossTopK
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(rows(Similarity.crossTopKIvf(corpus, queries, k = 5, cents,
        nProbes = 4)) ==
      rows(Similarity.crossTopK(corpus, queries, k = 5)),
      "all-cells probe must equal brute force exactly")
  }
}

class KmeansIvfSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("kmeans centroids recover planted cluster directions") {
    // three tight clusters on distinct axes; 4 points each
    val pts = for {
      (axis, base) <- Seq(0, 1, 2).zip(Seq(0L, 10L, 20L))
      j <- 0 until 4
    } yield {
      val v = Array.fill(3)(0.05f * j)
      v(axis) = 1.0f
      (base + j, v, axis)
    }
    val df = pts.toDF("vec_id", "embedding", "label")
    val cents = graft.operators.Similarity.kmeansCentroids(df, nCells = 3, iters = 3)
      .collect()
    assert(cents.length == 3)
    // every cluster axis must dominate exactly one centroid
    val domAxes = cents.map(_.getSeq[Double](1).zipWithIndex.maxBy(_._1)._2).toSet
    assert(domAxes == Set(0, 1, 2), s"centroids missed an axis: $domAxes")
  }

  test("centroid persistence round-trip: saved index reproduces every assignment") {
    import graft.operators.Similarity
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(4)(d => math.sin((i * 13 + d * 7).toDouble).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val trained = Similarity.kmeansCentroidArrays(vecs, nCells = 5)
    // Parquet round-trip through a temp dir — the artifact a production
    // job writes after training and every later job loads.
    val dir = java.nio.file.Files.createTempDirectory("centroids").toString
    Similarity.centroidsToDF(spark, trained).write.mode("overwrite").parquet(dir)
    val loaded = Similarity.centroidsFromDF(spark.read.parquet(dir))
    assert(loaded.length == trained.length)
    assert(loaded.zip(trained).forall { case (a, b) => a.sameElements(b) },
      "centroid values or cell order changed across the round-trip")
    val before = Similarity.kmeansAssignWith(vecs, trained)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val after = Similarity.kmeansAssignWith(vecs, loaded)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(before == after, "assignments diverged after reload")
  }

  test("incremental IVF: batch assigned via loaded index == fresh index; drift gate fires on shifted batch") {
    import graft.operators.Similarity
    val hist = (0L until 50L).map { i =>
      (i, Array.tabulate(4)(d => math.sin((i * 13 + d * 7).toDouble).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val batch = (100L until 120L).map { i =>
      (i, Array.tabulate(4)(d => math.sin((i * 13 + d * 7).toDouble).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val trained = Similarity.kmeansCentroidArrays(hist, nCells = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf-incr").toString
    Similarity.centroidsToDF(spark, trained).write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    // The loaded-index batch assignment must equal assignment against the
    // in-memory trained centroids — the append path never retrains.
    val viaIndex = Similarity.ivfAssignBatch(batch, index, "batch")
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val fresh = Similarity.kmeansAssignWith(batch, trained)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(viaIndex == fresh, "loaded-index assignment diverged from trained centroids")
    // Appended table: every vector exactly once, tagged by origin.
    val appended = Similarity.ivfAssignBatch(hist, index, "history")
      .unionByName(Similarity.ivfAssignBatch(batch, index, "batch"))
    assert(appended.count() == 70)
    assert(appended.groupBy("origin").count().as[(String, Long)].collect().toMap
      == Map("history" -> 50L, "batch" -> 20L))
    // Drift: a same-distribution batch keeps retrain = 0; a batch pushed
    // off-manifold (orthogonal noise direction dominates) must raise it.
    val calm = Similarity.ivfDriftSignal(appended).head()
    assert(calm.getAs[Int]("retrain") == 0,
      s"same-distribution batch flagged for retraining: $calm")
    val shifted = (100L until 120L).map { i =>
      val v = Array.fill(4)(0.01f * ((i % 3) + 1).toFloat)
      v((i % 2).toInt) = -3.0f // flipped sign: far from every trained centroid
      (i, v, 0)
    }.toDF("vec_id", "embedding", "label")
    val drifted = Similarity.ivfAssignBatch(hist, index, "history")
      .unionByName(Similarity.ivfAssignBatch(shifted, index, "batch"))
    val alarm = Similarity.ivfDriftSignal(drifted).head()
    assert(alarm.getAs[Int]("retrain") == 1,
      s"off-manifold batch not flagged: $alarm")
    assert(alarm.getAs[Long]("degradation_bp") > calm.getAs[Long]("degradation_bp"))
  }

  test("degenerate corpus: seed reduction emits distinct centroids, never duplicates") {
    // Only two distinct directions but nCells = 4: the greedy reduction must
    // stop at 2 distinct seeds rather than padding with copies of seed 0
    // (which would leave permanently-empty cells).
    val df = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 1), (3L, Array(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val cents = graft.operators.Similarity.kmeansCentroids(df, nCells = 4, iters = 2)
      .collect().map(_.getSeq[Double](1))
    assert(cents.distinct.length == cents.length,
      s"duplicate centroids: ${cents.toSeq}")
    assert(cents.length == 2, s"expected the 2 distinct directions, got ${cents.length}")
  }

  test("ivf over kmeans cells: recall@10 vs brute force (sf0.1, recorded in NOTES.md)") {
    // The sf0.1 embeddings are NOT cosine-clustered by label (measured top
    // cell-label purity ~15%), so ANY single-probe 1/10-corpus IVF tops out
    // near 0.25 recall here; the meaningful property is that trained
    // centroids do at least as well as the naive min-vec_id representatives
    // (reps-IVF measured 0.233 on this data) and far better than chance
    // (expected ~0.1 for a random tenth of the corpus).
    val e = Tables.embeddings(spark, "/root/testdata/sf0.1")
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topSets(graft.operators.Similarity.bruteTopK(e, 10, 20))
    def recallOf(approx: Map[Long, Set[Long]]): Double = {
      val rs = brute.map { case (q, truth) =>
        approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size }
      rs.sum / rs.size
    }
    val kmeans = recallOf(topSets(
      graft.operators.Similarity.ivfTopKKmeans(e, 10, 20, nCells = 10)))
    val reps = recallOf(topSets(graft.operators.Similarity.ivfTopK(e, 10, 20)))
    val multi3 = recallOf(topSets(
      graft.operators.Similarity.ivfTopKKmeans(e, 10, 20, nCells = 10, nProbes = 3)))
    info(f"recall@10 sf0.1: kmeans-IVF P=1 $kmeans%.3f, P=3 $multi3%.3f vs reps-IVF $reps%.3f over ${brute.size} queries")
    assert(kmeans >= reps - 0.02,
      f"trained centroids must not lose to naive reps: $kmeans%.3f < $reps%.3f")
    assert(kmeans >= 0.15, f"kmeans-IVF recall collapsed toward chance: $kmeans%.3f")
    // P=3 candidates are a superset of P=1's (probe ranks include the
    // assigned cell), so recall can only improve.
    assert(multi3 >= kmeans, f"multi-probe lost recall: $multi3%.3f < $kmeans%.3f")
    assert(multi3 >= 0.35, f"P=3 should clear the single-probe ~0.25 ceiling: $multi3%.3f")
    // Multi-probe LSH: own + Hamming-1 buckets supersets the single-bucket
    // candidates, so recall can only improve there too.
    val lsh1 = recallOf(topSets(graft.operators.Similarity.lshTopK(e, 10, 20)))
    val lshMp = recallOf(topSets(
      graft.operators.Similarity.lshTopKMultiProbe(e, 10, 20)))
    info(f"recall@10 sf0.1 LSH: single-bucket $lsh1%.3f, multi-probe $lshMp%.3f")
    assert(lshMp >= lsh1, f"multi-probe LSH lost recall: $lshMp%.3f < $lsh1%.3f")
  }

  test("kmeansAssign: total assignment into ≤ nCells cells, partition-order-invariant") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = graft.operators.Similarity.kmeansAssign(e, nCells = 5)
    assert(a.count() == e.count(), "every vector gets exactly one cell")
    assert(a.select("cell").distinct().count() <= 5)
    val b = graft.operators.Similarity.kmeansAssign(e.repartition(7), nCells = 5)
    assert(a.orderBy("vec_id").collect().toSeq == b.orderBy("vec_id").collect().toSeq,
      "assignment (incl. round-6 cell_cos) must not depend on partitioning")
  }

  test("opqTrainRotation: orthonormal to 1e-9, bit-deterministic across " +
      "partition orders, and balanced allocation equalizes subspace " +
      "variance products") {
    val corpus = graft.operators.Similarity.rotateEmbeddings(
      graft.operators.Similarity.synthesizeAniso(spark),
      graft.operators.Similarity.hadamard16)
    val r = graft.operators.Similarity.opqTrainRotation(corpus, m = 8)
    val dim = r.head.length
    // R·Rᵀ = I (Jacobi keeps V orthonormal; sign/sort are permutations)
    for (i <- 0 until dim; j <- 0 until dim) {
      val d = r(i).zip(r(j)).map { case (a, b) => a * b }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(d - expect) < 1e-9, s"RRᵀ($i,$j) = $d")
    }
    // bit-deterministic across partitionings — the oracle interpolates
    // these as literals, so ANY nondeterminism breaks the hash
    val r2 = graft.operators.Similarity.opqTrainRotation(
      corpus.repartition(7), m = 8)
    r.zip(r2).zipWithIndex.foreach { case ((a, b), i) =>
      assert(java.util.Arrays.equals(a, b), s"row $i differs across partitionings")
    }
    // balanced allocation: per-subspace variance PRODUCTS are closer to
    // equal than the unbalanced eigen-order split (Ge §4.1's objective).
    // Compute log-products of rotated-corpus variances per 2-dim block.
    val rot = graft.operators.Similarity.rotateEmbeddings(corpus, r)
    val vars = rot.select(
        (0 until dim).map(d =>
          avg(pow(element_at(col("embedding"), d + 1), 2)).as(s"v$d")): _*)
      .head().toSeq.map(_.asInstanceOf[Double])
    val logProds = vars.grouped(2).map(g => g.map(math.log).sum).toSeq
    val spread = logProds.max - logProds.min
    // eigen-order (unbalanced) split of the same variances for contrast
    val sortedVars = vars.sortBy(-_)
    val naive = sortedVars.grouped(2).map(g => g.map(math.log).sum).toSeq
    val naiveSpread = naive.max - naive.min
    assert(spread <= naiveSpread + 1e-9,
      s"balanced allocation must not be worse than eigen-order: " +
        s"$spread vs $naiveSpread")
  }

  test("composed OPQ∘residual-IVF-PQ: search == the plain-Scala ADC " +
      "reference over the rotated residuals at nProbes = nCells (every " +
      "pair scored exactly once, |queries|·k rows); nProbes = 1 stays in " +
      "the query's cell") {
    import graft.operators.Similarity
    val corpus = Similarity.synthesizeClustered(spark, n = 120,
      dim = 16, nClusters = 4)
    val r = Similarity.opqTrainRotation(corpus, m = 8)
    val rotC = Similarity.rotateEmbeddings(corpus, r)
    val cents = Similarity.kmeansCentroidArrays(rotC, nCells = 4)
    val books = Similarity.pqTrainResidual(rotC, cents, m = 8, ksub = 8)
    val codesDf = Similarity.opqIvfPqEncode(corpus, r, cents, books)
    val codes = codesDf.as[(Long, Int, Seq[Int])].collect().toSeq
    val queries = corpus.where(col("vec_id") % 30 === 0)
    val rotQ = Similarity.rotateEmbeddings(queries, r)
      .as[(Long, Seq[Double])].collect().toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Long)].collect().toSet
    // all cells probed ⇒ every (query, vec≠query) pair scored once with
    // the LUT of the query's residual against the vector's own cell
    val all = rows(Similarity.opqIvfPqTopK(codesDf, queries, r,
      cents, books, k = 5, nProbes = 4))
    val ref = rotQ.flatMap { case (q, qv) =>
      val luts = cents.indices.map(c =>
        PqReference.lut(PqReference.minus(qv, cents(c)), books))
      PqReference.topK(q, codes.map { case (id, cell, c) => (id, c, luts(cell)) }, 5)
    }.toSet
    assert(all == ref && all.size == rotQ.size * 5,
      s"expected ${rotQ.size * 5} reference rows, got ${all.size}")
    // one probe: the query's nearest rotated cell is its own assigned cell
    val cellOf = codes.map(c => c._1 -> c._2).toMap
    val one = Similarity.opqIvfPqTopK(codesDf, queries, r, cents, books,
        k = 5, nProbes = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(one.nonEmpty && one.forall { case (q, n) => cellOf(n) == cellOf(q) },
      s"nProbes=1 left the query's cell: ${one.toSeq}")
  }

  test("kmeans centroids are bit-deterministic across partition orders") {
    // The derived trained-IVF oracles interpolate these as literals, so any
    // partition-order nondeterminism (collect order, float-sum order) would
    // silently break the oracle. Different repartitionings must land on
    // exactly the same doubles.
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = graft.operators.Similarity.kmeansCentroidArrays(e.repartition(3), nCells = 10)
    val b = graft.operators.Similarity.kmeansCentroidArrays(e.repartition(7), nCells = 10)
    assert(a.length == b.length)
    a.zip(b).zipWithIndex.foreach { case ((va, vb), i) =>
      assert(java.util.Arrays.equals(va, vb), s"cell $i differs across partitionings")
    }
  }

  test("trained-IVF derived oracles materialize under Verify's ambient context") {
    val dir = "/root/testdata/sf0.001"
    val derived = Queries.derivedOracleSql(spark, dir)
    assert(derived.keySet == Set("sim_ivf_kmeans_topk", "sim_ivf_multiprobe",
      "sim_ivf_incr", "sim_ivf_drift", "sim_cross_ivf_topk",
      "pipeline_topic_clusters", "pipeline_topic_sample", "dedup_semantic",
      "dedup_semantic_incr",
      // r13: hybrid/RAG IVF twins + the PQ family (codebook literals)
      "text_hybrid_ivf", "pipeline_rag_ivf",
      "sim_pq_codes", "sim_pq_topk", "sim_pq_rerank", "sim_ivfpq_topk",
      "sim_pq_incr", "sim_ivfpq_residual",
      "sim_pq_topk_wide", "sim_ivfpq_residual_wide", "sim_ivfpq_topk_wide",
      "sim_ivf_filtered", "sim_ivf_balance",
      // r14: fixture-proven quality pairs (trained fixture literals)
      "sim_residual_gain", "sim_opq_gain", "sim_opq_trained",
      "sim_opq_topk", "sim_opq_incr", "sim_pq_recall",
      // r15: OPQ recall gate + the composed OPQ∘residual-IVF-PQ pair
      "sim_opq_recall", "sim_opq_ivfpq", "sim_opq_ivfpq_topk",
      "sim_opq_ivfpq_incr", "sim_opq_ivfpq_recall", "sim_opq_ivfpq_gain",
      // r16 continuation: graph-ADC serving (codebook literals ride the
      // pqCtes chain inside the graph CTE namespace)
      "sim_graph_adc_topk", "sim_graph_adc_recall"))
    derived.values.foreach { sql =>
      assert(sql.contains("VALUES") && sql.contains("::DOUBLE[]"))
    }
    // SparkEntry exposes them only when Verify's ambient context is set …
    assert(!SparkEntry.oracleSql.contains("sim_ivf_kmeans_topk"))
    try {
      sys.props("graft.verify.sfDir") = dir
      val full = SparkEntry.oracleSql
      assert(full.contains("sim_ivf_kmeans_topk") && full.contains("sim_ivf_multiprobe"))
      assert(Queries.oracleSql.keySet.subsetOf(full.keySet))
    } finally sys.props -= "graft.verify.sfDir"
  }
}

class TextAnalysisSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("repetitionStats: planted repetition vs distinct shingles") {
    val docs = Seq(
      (1L, "spam spam spam spam spam"),            // 2-gram-free? n=3: all "spam spam spam"
      (2L, "one two three four five six seven")    // all distinct
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.repetitionStats(docs, n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: 3 shingles, all "spam spam spam" → 1 distinct, top 3
    assert(out(1L).getAs[Long]("n_shingles") == 3L)
    assert(out(1L).getAs[Long]("n_distinct") == 1L)
    assert(out(1L).getAs[Long]("top_n") == 3L)
    assert(out(1L).getAs[Long]("dup_bp") == 6666L)      // floor((1-1/3)*1e4)
    assert(out(1L).getAs[Long]("top_frac_bp") == 10000L)
    // doc 2: 5 shingles, all distinct
    assert(out(2L).getAs[Long]("n_shingles") == 5L)
    assert(out(2L).getAs[Long]("n_distinct") == 5L)
    assert(out(2L).getAs[Long]("dup_bp") == 0L)
    assert(out(2L).getAs[Long]("top_frac_bp") == 2000L) // floor(1/5*1e4)
  }

  test("contamination: flags the doc sharing >= minShared shingles with the benchmark") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"), // shares 2 shingles with bench 100
      (2L, "totally unrelated text here now") // shares none
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta zeta")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.contamination(train, bench, n = 3, minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 100L, 2L)),
      s"expected exactly the planted contamination pair: $out")
  }

  test("mixtureSample: per-source rates are respected deterministically") {
    val docs = (1L to 300L).map(i =>
      (i, s"doc $i", Seq("a", "b", "c")(((i - 1) % 3).toInt))).toDF("doc_id", "text", "source")
    val kept = graft.operators.TextAnalysis.mixtureSample(docs,
        Map("a" -> 1.0, "b" -> 0.0), defaultRate = 0.5)
      .select("doc_id", "source").as[(Long, String)].collect()
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc.getOrElse("a", 0) == 100, s"rate 1.0 keeps every a-doc: $bySrc")
    assert(!bySrc.contains("b"), s"rate 0.0 drops every b-doc: $bySrc")
    val c = bySrc.getOrElse("c", 0)
    assert(c > 20 && c < 80, s"default 0.5 keeps roughly half the c-docs: $c")
    // deterministic: a second run is identical
    val again = graft.operators.TextAnalysis.mixtureSample(docs,
        Map("a" -> 1.0, "b" -> 0.0), defaultRate = 0.5)
      .select("doc_id", "source").as[(Long, String)].collect()
    assert(kept.toSet == again.toSet)
  }

  test("collocations: planted phrase tops the lift ranking, hand-checked math") {
    // "data lake" always co-occurs (6 times); fillers are frequent but
    // independently distributed, so their bigrams have low lift.
    val phrase = Seq.fill(6)("data lake").mkString(" the a of ")
    val noise = "the a of the a of the a of the a of"
    val docs = Seq((1L, phrase), (2L, noise), (3L, noise)).toDF("doc_id", "text")
    val out = TextAnalysis.collocations(docs, 5, minPairN = 5)
      .as[(String, Long, Long)].collect()
    assert(out.head._1 == "data lake")
    val (_, pairN, lift) = out.head
    // corpus: 6×(data lake) + 5×(the a of) in doc1 + 2×8 filler tokens...
    // verify against independently recomputed counts instead of constants:
    val toks = docs.as[(Long, String)].collect()
      .flatMap(_._2.toLowerCase.split("\\s+"))
    val total = toks.length.toLong
    val nData = toks.count(_ == "data").toLong
    val nLake = toks.count(_ == "lake").toLong
    assert(pairN == 6L)
    assert(lift == pairN * total * 1000 / (nData * nLake))
    assert(out.forall(r => r._3 <= lift), "planted phrase has max lift")
  }

  test("corpusDrift: identical rates → 0 bp, exclusive token → 10000 bp") {
    // A: 'x' and 'y' at equal rates; B: same rate of 'x', no 'y', plus 'z'
    val a = Seq((0L, "x y x y x y")).toDF("doc_id", "text")
    val b = Seq((1L, "x z x z x z")).toDF("doc_id", "text")
    val out = TextAnalysis.corpusDrift(a, b, 10)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("x")._5 == 0L, "same rate both sides → zero drift")
    assert(out("y")._5 == 10000L && out("z")._5 == 10000L, "exclusive → full drift")
    assert(out("y")._4 == 0L && out("z")._3 == 0L, "missing side coalesces to 0")
    // hand-check an asymmetric case: rate 3/6 vs 1/6
    val c = Seq((2L, "p q q q q q")).toDF("doc_id", "text")
    val d = Seq((3L, "p p p q q q")).toDF("doc_id", "text")
    val pq = TextAnalysis.corpusDrift(c, d, 10)
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r._5).toMap
    // p: |1*6 - 3*6|*10000 div (1*6 + 3*6) = 12/24*10000 = 5000
    assert(pq("p") == 5000L && pq("q") == 2500L)
  }

  test("familiarityScore: fluent text outscores gibberish, hand-checked means") {
    val fluent = "the quick fox and the quick dog and the quick cat"
    val alsoFluent = "the quick fox and the quick dog"
    val gibberish = "zxq wvv qpl mmt zxq kkj rrw uai"
    val docs = Seq((1L, fluent), (2L, alsoFluent), (3L, gibberish))
      .toDF("doc_id", "text")
    val out = TextAnalysis.familiarityScore(docs, minScore = 2)
      .as[(Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._3 > out(3L)._3, "shared transitions outscore unique ones")
    assert(out(3L)._3 == 1L && out(3L)._4 == 0, "all-unique bigrams → score 1, gated")
    assert(out(1L)._4 == 1 && out(2L)._4 == 1)
    // hand-check doc 2: bigrams [the quick]x2-ish... recompute exactly
    val allBigrams = docs.as[(Long, String)].collect().flatMap { case (_, t) =>
      t.split(" ").sliding(2).map(_.mkString(" "))
    }
    val freq = allBigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val d2 = alsoFluent.split(" ").sliding(2).map(_.mkString(" ")).toSeq
    assert(out(2L)._3 == d2.map(freq).sum / d2.length)
  }

  test("familiarityScore: zero/one-token docs are emitted with keep = 0, not dropped") {
    val docs = Seq((1L, "the quick fox and the quick dog"),
      (2L, "solo"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.familiarityScore(docs, minScore = 2)
      .as[(Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L), "every input doc must appear")
    assert(out(2L) == ((2L, 0L, 0L, 0)) && out(3L) == ((3L, 0L, 0L, 0)),
      "short docs: no bigram, familiarity 0, gated out")
  }

  test("collocations lift survives counts that overflow Long (decimal intermediates)") {
    // the exact product the operator forms: pair_n·total·1000 with
    // 100 TB-scale magnitudes (1e10 · 1e13 · 1e3 = 1e26 ≫ Long.Max);
    // non-ANSI Long math would wrap negative, decimal must stay exact.
    val got = spark.sql(
      """SELECT cast(10000000000 as decimal(20,0)) * cast(10000000000000 as decimal(20,0)) * 1000
        |  div (cast(1000000000000 as decimal(20,0)) * cast(1000000000000 as decimal(20,0))) AS lift
        |""".stripMargin).as[Long].head()
    assert(got == 100L, s"expected exact 1e26/1e24 = 100, got $got")
  }

  test("lmScore: seen bigrams score low, unseen back off high; artifact round-trips") {
    val train = Seq(
      (2L, "the quick fox and the quick dog"),
      (4L, "the quick fox runs and the dog runs")).toDF("doc_id", "text")
    val eval = Seq(
      (1L, "the quick fox and the quick dog"), // all bigrams seen
      (3L, "zxq wvv qpl mmt"),                 // nothing seen → backoff every time
      (5L, "solo")).toDF("doc_id", "text")     // no bigram → keep 0
    val out = TextAnalysis.lmScore(train, eval)
      .as[(Long, Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._4 < out(3L)._4, "fluent text must out-score gibberish")
    assert(out(1L)._5 == 1 && out(3L)._5 == 0)
    assert(out(5L) == ((5L, 0L, 0L, 0L, 0)))
    // hand-check one seen bigram: "the quick" occurs 3x in train, "the" 4x
    // → bits = floor(log2 4) - floor(log2 3) = 2 - 1 = 1; and one unseen:
    // w2 "zxq-like" unseen → 4 + floor(log2 15) - floor(log2 1) = 4 + 3.
    val trainToks = train.as[(Long, String)].collect()
      .flatMap(_._2.split(" ")).length
    assert(trainToks == 15)
    assert(out(3L)._3 == 3 * (4 + 3), "3 bigrams, all full-backoff")

    // the persisted-artifact path scores identically
    val (uni, bg, tot) = TextAnalysis.lmTrain(train)
    val dir = java.nio.file.Files.createTempDirectory("lm-artifact")
    uni.write.mode("overwrite").parquet(s"$dir/uni")
    bg.write.mode("overwrite").parquet(s"$dir/bg")
    tot.write.mode("overwrite").parquet(s"$dir/tot")
    val viaArtifact = TextAnalysis.lmScoreFrom(
        spark.read.parquet(s"$dir/uni"), spark.read.parquet(s"$dir/bg"),
        spark.read.parquet(s"$dir/tot"), eval)
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    assert(viaArtifact == out.values.toSet)
  }

  test("temperedSample: inverse-sqrt rates match an exact JVM reference; big source thins") {
    // source "big": 60 docs × 8 single-char tokens; "small": 6 docs × 8.
    // Single-char words are BPE identity → T_big = 480, T_small = 48;
    // k = 4 → rates 4/√480 ≈ 0.183 vs 4/√48 ≈ 0.577.
    val docs = ((1L to 60L).map(i => (i, "a b c d e f g h", "big")) ++
      (101L to 106L).map(i => (i, "a b c d e f g h", "small")))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.temperedSample(docs, k = 4.0)
      .as[(Long, String, Long, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    def u(id: Long): Double = Integer.parseInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes).map("%02x".format(_)).mkString.take(6), 16) / 16777216.0
    for ((id, (src, tot, keep)) <- out) {
      val expT = if (src == "big") 480L else 48L
      assert(tot == expT)
      assert(keep == (if (u(id) < 4.0 / math.sqrt(expT.toDouble)) 1 else 0),
        s"doc $id keep mismatch")
    }
    val bigRate = out.values.count(r => r._1 == "big" && r._3 == 1).toDouble / 60
    val smallRate = out.values.count(r => r._1 == "small" && r._3 == 1).toDouble / 6
    assert(bigRate < smallRate, "oversized source must thin harder")
  }

  test("lmUpdate: folding a batch into the artifact equals retraining on the union") {
    val histDocs = Seq((2L, "the quick fox and the quick dog"),
      (4L, "the quick fox runs")).toDF("doc_id", "text")
    val batch = Seq((6L, "the dog runs and runs"),
      (8L, "quick quick fox")).toDF("doc_id", "text")
    val eval = Seq((1L, "the quick dog runs"), (3L, "zxq wvv qpl"))
      .toDF("doc_id", "text")
    val (u0, b0, t0) = TextAnalysis.lmTrain(histDocs)
    val (u1, b1, t1) = TextAnalysis.lmUpdate(u0, b0, t0, batch)
    val viaUpdate = TextAnalysis.lmScoreFrom(u1, b1, t1, eval)
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    val retrained = TextAnalysis.lmScore(histDocs.unionByName(batch), eval)
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    assert(viaUpdate == retrained && retrained.nonEmpty)
  }

  test("epochUpsample: integer epochs replicate exactly, fractions keep deterministically") {
    val docs = (1L to 300L).map(i =>
      (i, s"doc $i", Seq("a", "b", "c")(((i - 1) % 3).toInt))).toDF("doc_id", "text", "source")
    val out = graft.operators.TextAnalysis.epochUpsample(docs,
        Map("a" -> 3.0, "b" -> 0.0, "c" -> 1.5))
      .select("doc_id", "source", "epoch").as[(Long, String, Int)].collect()
    val bySrc = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc("a") == 300, s"3.0 epochs = every a-doc exactly thrice: $bySrc")
    assert(!bySrc.contains("b"), s"0.0 epochs drops the source: $bySrc")
    val c = bySrc("c")
    assert(c > 120 && c < 180, s"1.5 epochs ≈ 150 c-rows: $c")
    // per-doc epochs are contiguous 1..n (the trainer's interleave key)
    val epochsByDoc = out.groupBy(_._1).view.mapValues(_.map(_._3).sorted).toMap
    assert(epochsByDoc.values.forall(es => es.toSeq == (1 to es.length)))
    // a doc kept for its fractional copy has ALL lower epochs too
    assert(out.filter(_._2 == "c").groupBy(_._1).values.forall(g =>
      g.map(_._3).toSet.subsetOf(Set(1, 2)) && g.map(_._3).contains(1)))
    // deterministic
    val again = graft.operators.TextAnalysis.epochUpsample(docs,
        Map("a" -> 3.0, "b" -> 0.0, "c" -> 1.5))
      .select("doc_id", "source", "epoch").as[(Long, String, Int)].collect()
    assert(out.toSet == again.toSet)
  }

  test("paragraphDedup: later copies of a paragraph are dropped, docs reassemble in order") {
    val docs = Seq(
      (1L, "a b c d e f g h"),            // paras (size 4): "a b c d", "e f g h"
      (2L, "a b c d x y z w"),            // first para duplicates doc 1's
      (3L, "a b c d e f g h"),            // exact dup of doc 1 → vanishes
      (4L, "q r s")).toDF("doc_id", "text") // short doc: single ragged para
    val out = TextAnalysis.paragraphDedup(docs, paraTokens = 4)
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 4L), "doc 3 vanishes")
    assert(out(0).getAs[String]("clean_text") == "a b c d e f g h")
    assert(out(0).getAs[Int]("n_paras") == 2 && out(0).getAs[Long]("n_kept") == 2)
    assert(out(1).getAs[String]("clean_text") == "x y z w", "duplicate head para dropped")
    assert(out(1).getAs[Int]("n_paras") == 2 && out(1).getAs[Long]("n_kept") == 1)
    assert(out(2).getAs[String]("clean_text") == "q r s")
  }

  test("exactSubstrDedup: cross-doc spans removed at any alignment, first occurrence kept") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),          // original — keeps everything
      (2L, "x1 x2 c d e f g h y1 y2"),      // doc 1's c..h at an UNALIGNED offset
      (3L, "a b c d e f g h i j"),          // exact copy → fully covered
      (4L, "p q r"),                        // shorter than a span: untouchable
      (5L, "m n o p m n o p")               // INTERNAL repetition dedups too
    ).toDF("doc_id", "text")
    val out = TextAnalysis.exactSubstrDedup(docs, spanTokens = 4)
      .orderBy("doc_id").collect()
    assert(out.length == 5, "every non-empty doc survives (drop policy is the caller's)")
    def row(i: Int) = (out(i).getAs[Long]("n_tokens"),
      out(i).getAs[Long]("n_removed"), out(i).getAs[String]("clean_text"))
    assert(row(0) == ((10L, 0L, "a b c d e f g h i j")), "first occurrence untouched")
    assert(row(1) == ((10L, 6L, "x1 x2 y1 y2")),
      "span straddling any paragraph grid is still caught (overlapping anchors)")
    assert(row(2) == ((10L, 10L, "")), "exact copy is fully covered")
    assert(row(3) == ((3L, 0L, "p q r")), "sub-span docs never anchor")
    assert(row(4) == ((8L, 4L, "m n o p")), "within-doc repeat keeps first occurrence")
  }

  test("exactSubstrDedupIncremental: history spans excise EVERY new occurrence; " +
      "batch still dedups itself; index stores hashes only") {
    val history = Seq(
      (100L, "h1 h2 h3 h4 tail1 tail2")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "a b c d e f"),               // novel — untouched
      (2L, "x1 h1 h2 h3 h4 x2"),         // history span at a new offset → excised
      (3L, "h1 h2 h3 h4 y1 y2"),         // SAME history span again → ALSO excised
                                          // (history wins; no "first in batch" keeps it)
      (4L, "a b c d e f")                // within-batch dup of 1 → excised
    ).toDF("doc_id", "text")
    val idx = TextAnalysis.spanIndex(history, spanTokens = 4)
    assert(idx.columns.toSeq == Seq("h"), "the persisted index carries hashes only")
    val out = TextAnalysis.exactSubstrDedupIncremental(batch, idx, spanTokens = 4)
      .orderBy("doc_id").collect()
    def row(i: Int) = (out(i).getAs[Long]("n_removed"), out(i).getAs[String]("clean_text"))
    assert(row(0) == ((0L, "a b c d e f")))
    assert(row(1) == ((4L, "x1 x2")))
    assert(row(2) == ((4L, "y1 y2")),
      "history precedence must excise every new occurrence, not keep a batch-first")
    assert(row(3) == ((6L, "")))
    // Appending the batch's own index after the run is idempotent set union.
    val merged = idx.unionByName(TextAnalysis.spanIndex(batch, spanTokens = 4)).distinct()
    assert(merged.count() > idx.count())
    // Bloom prefilter is exact at ANY fpp: a 1-item bloom is saturated with
    // false positives, which just proceed to the semi-join and match
    // nothing — output bit-identical to the unbloomed run.
    val bloom = Dedup.buildHashBloom(idx, "h", expectedItems = 1, fpp = 0.5)
    val bloomed = TextAnalysis.exactSubstrDedupIncremental(
      batch, idx, spanTokens = 4, historySpanBloom = Some(bloom))
      .orderBy("doc_id").collect()
    assert(bloomed.toSeq == out.toSeq, "bloom changed the result")
  }

  test("tfidfTopTerms: rare terms outrank common ones; tie-break on term") {
    val docs = Seq(
      (1L, "common common rare1"),
      (2L, "common rare2 rare2"),
      (3L, "common filler")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, k = 2)
      .orderBy("doc_id", "rnk")
      .select("doc_id", "term", "rnk").as[(Long, String, Long)].collect()
    // doc 1: rare1 df=1 score 1e6/2=500000 beats common tf=2 df=3 → 500000?
    // common tf=2: 2e6/4 = 500000 — exact tie with rare1 → term asc wins.
    assert(out.filter(_._1 == 1L).map(_._2).toSeq == Seq("common", "rare1"))
    assert(out.filter(_._1 == 2L).head._2 == "rare2", "tf=2 rare term dominates")
    assert(out.filter(_._1 == 3L).map(_._2).toSeq == Seq("filler", "common"))
  }

  test("shardStats: every doc lands in exactly one shard, stats add up, stable on rerun") {
    val docs = (1L to 200L).map(i => (i, s"tok$i tok tok", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val st = TextAnalysis.shardStats(docs, nShards = 4).collect()
    assert(st.map(_.getAs[Long]("shard")).toSet.subsetOf(Set(0L, 1L, 2L, 3L)))
    assert(st.map(_.getAs[Long]("n_docs")).sum == 200L)
    assert(st.map(_.getAs[Long]("sum_tokens")).sum == 600L)
    // deterministic + stable under growth: adding docs never moves old ones
    val a = TextAnalysis.assignShards(docs, 4)
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    val grown = TextAnalysis.assignShards(
      docs.union(Seq((999L, "x", "s")).toDF("doc_id", "text", "source")), 4)
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    assert(a.forall { case (id, s) => grown(id) == s })
  }

  test("embedDocuments: hashing-trick vectors are deterministic and additive") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "alpha beta gamma delta"), (4L, "")).toDF("doc_id", "text")
    val vecs = TextAnalysis.embedDocuments(docs, dim = 16)
      .orderBy("doc_id").select("embedding").as[Seq[Long]].collect()
    assert(vecs(0) == vecs(1), "same text, same vector")
    assert(vecs.forall(_.length == 16))
    // adding one token moves exactly one dimension by exactly ±1
    val diff = vecs(2).zip(vecs(0)).map { case (a, b) => a - b }.filter(_ != 0)
    assert(diff.toList == List(1L) || diff.toList == List(-1L), s"diff: $diff")
    assert(vecs(3).forall(_ == 0L), "empty doc embeds to the zero vector")
    // token multiset weighting: a repeated token doubles its contribution
    val rep = TextAnalysis.embedDocuments(
      Seq((9L, "alpha alpha")).toDF("doc_id", "text"), dim = 16)
      .select("embedding").as[Seq[Long]].head()
    val single = TextAnalysis.embedDocuments(
      Seq((9L, "alpha")).toDF("doc_id", "text"), dim = 16)
      .select("embedding").as[Seq[Long]].head()
    assert(rep == single.map(_ * 2))
  }

  test("tokenBudgetSample: bucket-refined prefix equals the naive greedy prefix") {
    // single-char word "t": BPE-identity, so n_tokens == word count and the
    // naive reference below needs no tokenizer.
    val docs = (1L to 300L).map(i =>
      (i, Seq.fill((i % 7).toInt + 1)("t").mkString(" "), s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val budgets = Map("src0" -> 120L, "src1" -> 0L)
    val got = TextAnalysis.tokenBudgetSample(docs, budgets, defaultBudget = 37L)
      .select("doc_id", "source", "n_tokens", "cum_toks")
      .as[(Long, String, Long, Long)].collect()
    // naive reference: greedy prefix per source in (md5(doc_id), doc_id) order
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes).map("%02x".format(_)).mkString
    val expected = (1L to 300L).map { i =>
      (i, s"src${i % 3}", (i % 7) + 1, md5hex(i.toString))
    }.groupBy(_._2).flatMap { case (src, rows) =>
      val budget = budgets.getOrElse(src, 37L)
      var cum = 0L
      rows.sortBy(r => (r._4, r._1)).flatMap { r =>
        cum += r._3
        if (cum <= budget) Some((r._1, src, r._3, cum)) else None
      }
    }.toSet
    assert(got.toSet == expected)
    assert(!got.exists(_._2 == "src1"), "zero budget keeps nothing")
    assert(got.count(_._2 == "src0") > 0 && got.count(_._2 == "src2") > 0)
    // no overshoot: per-source kept tokens stay within budget
    val kept = got.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(kept.getOrElse("src0", 0L) <= 120L && kept.getOrElse("src2", 0L) <= 37L)
  }

  test("piiRedact: plants are scrubbed, counts match, clean text untouched") {
    val docs = Seq(
      (1L, "mail me at jane.doe+spam@corp.example.org or bob@x.io today"),
      (2L, "server 192.168.0.1 and 10.0.0.255 rebooted"),
      (3L, "call +1 555-123-4567 or 555 987 6543 now"),
      (4L, "no pii here at all")).toDF("doc_id", "text")
    val out = TextAnalysis.piiRedact(docs).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_emails") == 2)
    assert(out(0).getAs[String]("redacted") == "mail me at <EMAIL> or <EMAIL> today")
    assert(out(1).getAs[Long]("n_ips") == 2)
    assert(out(1).getAs[String]("redacted") == "server <IP> and <IP> rebooted")
    assert(out(2).getAs[Long]("n_phones") == 2)
    assert(out(2).getAs[String]("redacted") == "call +1 <PHONE> or <PHONE> now")
    assert(out(3).getAs[String]("redacted") == "no pii here at all")
    assert(out(3).getAs[Long]("n_emails") + out(3).getAs[Long]("n_ips") +
      out(3).getAs[Long]("n_phones") == 0)
  }

  test("qualityRules: each rule trips on its own planted violation") {
    val long = ("the " + ("wordy " * 30)).trim              // all rules pass
    val short = "the tiny one"                              // < minTokens
    val longWords = "the " + Seq.fill(15)("supercalifragilistic").mkString(" ")
    val noStop = Seq.fill(12)("zork").mkString(" ")         // no stopword
    val digits = "the " + Seq.fill(15)("123456").mkString(" ") // alpha < 70%
    val docs = Seq((1L, long), (2L, short), (3L, longWords), (4L, noStop),
      (5L, digits)).toDF("doc_id", "text")
    val r = TextAnalysis.qualityRules(docs, minTokens = 10, maxTokens = 200)
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Int]("keep") == 1, "clean doc passes every rule")
    assert(r(1).getAs[Int]("ok_len") == 0 && r(1).getAs[Int]("keep") == 0)
    assert(r(2).getAs[Int]("ok_word_len") == 0, "mean word length > 10 chars")
    assert(r(3).getAs[Int]("ok_stopword") == 0)
    assert(r(4).getAs[Int]("ok_alpha") == 0, "digit soup fails the alpha ratio")
    // the planted violation is the ONLY failed rule for docs 3-5
    for (i <- 2 to 4)
      assert(Seq("ok_len", "ok_word_len", "ok_stopword", "ok_alpha")
        .map(r(i).getAs[Int]).sum == 3, s"doc ${i + 1} fails exactly one rule")
  }

  test("qualityModelScore: logit is exact integer math and keep = logit > 0") {
    val good = "the " + Seq.fill(50)("data").mkString(" ") + " of the table"
    val stopless = Seq.fill(54)("zork").mkString(" ")
    val docs = Seq((1L, good), (2L, stopless), (3L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityModelScore(docs).orderBy("doc_id").collect()
    // doc 1 = "the" + 50×"data" + "of the table" → 54 tokens
    val r1 = r(0)
    assert(r1.getAs[Long]("n_tokens") == 54)
    val expectLogit = -2600L + 6 * r1.getAs[Long]("stop_x1000") +
      3 * r1.getAs[Long]("alpha_x1000") -
      4 * math.abs(r1.getAs[Long]("wlen_x100") - 450) -
      5 * math.abs(r1.getAs[Long]("n_tokens") - 55)
    assert(r1.getAs[Long]("logit") == expectLogit)
    assert(r(0).getAs[Int]("keep") == (if (expectLogit > 0) 1 else 0))
    // no stopwords: 6·stop term collapses to 0, model rejects
    assert(r(1).getAs[Long]("stop_x1000") == 0 && r(1).getAs[Int]("keep") == 0)
    // empty doc: guarded denominators, no division error, strong reject
    assert(r(2).getAs[Long]("n_tokens") == 0 && r(2).getAs[Int]("keep") == 0)
  }

  test("curriculumBuckets: bucket 1 holds each source's best logits, sizes balanced") {
    val docs = (1L to 120L).map { i =>
      val src = if (i % 2 == 0) "a" else "b"
      // vary quality via stopword presence and length
      val text = (if (i % 3 == 0) "the of and " else "zzz ") +
        Seq.fill(10 + (i % 40).toInt)("data").mkString(" ")
      (i, text, src)
    }.toDF("doc_id", "text", "source")
    val out = TextAnalysis.curriculumBuckets(docs, 4)
      .as[(Long, String, Long, Int)].collect()
    for (src <- Seq("a", "b")) {
      val g = out.filter(_._2 == src)
      val sizes = g.groupBy(_._4).view.mapValues(_.length).toMap
      assert(sizes.keySet == Set(1, 2, 3, 4))
      assert(sizes.values.max - sizes.values.min <= 1, s"$src ntile balance: $sizes")
      // every bucket-1 logit >= every bucket-4 logit within the source
      assert(g.filter(_._4 == 1).map(_._3).min >= g.filter(_._4 == 4).map(_._3).max)
    }
    val again = TextAnalysis.curriculumBuckets(docs, 4)
      .as[(Long, String, Long, Int)].collect()
    assert(out.toSet == again.toSet, "total-order tie-break ⇒ deterministic")
  }

  test("classSample: exactly k per class (or all, when the class is smaller)") {
    val docs = (Seq.tabulate(20)(i => (i.toLong, "en")) ++
      Seq((100L, "fr"), (101L, "fr"))).map { case (id, l) => (id, l, s"text $id") }
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.classSample(docs, "lang", 5)
      .select("lang", "doc_id").as[(String, Long)].collect()
    assert(out.count(_._1 == "en") == 5)
    assert(out.count(_._1 == "fr") == 2) // smaller class: all rows, ranked
    // deterministic: same pick on re-run
    val again = TextAnalysis.classSample(docs, "lang", 5)
      .select("lang", "doc_id").as[(String, Long)].collect()
    assert(out.toSet == again.toSet)
  }

  test("trainSplit: deterministic labels, growth never reassigns") {
    val docs = Seq.tabulate(200)(i => (i.toLong, "en", s"t $i"))
      .toDF("doc_id", "lang", "text")
    val s1 = TextAnalysis.trainSplit(docs, 80, 10)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1.values.toSet == Set("train", "val", "test"))
    assert(s1.values.count(_ == "train") > 100) // ~80% of 200
    // a grown corpus keeps every existing assignment (hash-of-id property)
    val grown = Seq.tabulate(400)(i => (i.toLong, "en", s"t $i"))
      .toDF("doc_id", "lang", "text")
    val s2 = TextAnalysis.trainSplit(grown, 80, 10)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1.forall { case (id, sp) => s2(id) == sp })
  }

  test("groupSplit: every member of a group shares one split; null " +
      "groups spread instead of pooling; growth never reassigns a group") {
    val docs = (for (g <- 0 until 40; i <- 0 until 5)
      yield ((g * 5 + i).toLong, if (g < 35) s"host$g" else null, "t"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.groupSplit(docs, "source", 80, 10)
      .select("doc_id", "source", "split")
      .as[(Long, Option[String], String)].collect()
    // leakage guard: one split per group — no group straddles the fence
    val perGroup = out.filter(_._2.isDefined)
      .groupBy(_._2.get).view.mapValues(_.map(_._3).toSet)
    assert(perGroup.values.forall(_.size == 1),
      s"a group straddles splits: ${perGroup.filter(_._2.size > 1)}")
    // null groups fall back to the doc key: the 25 ungrouped docs must
    // NOT all share one split (they'd all pool under md5(null) otherwise)
    val nullSplits = out.filter(_._2.isEmpty).map(_._3).toSet
    assert(nullSplits.size > 1, s"null groups pooled: $nullSplits")
    // growth property inherited from the hash-of-key construction
    val grown = (for (g <- 0 until 80; i <- 0 until 5)
      yield ((g * 5 + i).toLong, s"host$g", "t"))
      .toDF("doc_id", "source", "text")
    val s2 = TextAnalysis.groupSplit(grown, "source", 80, 10)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    out.filter(_._2.isDefined).foreach { case (id, _, sp) =>
      assert(s2(id) == sp, s"doc $id reassigned on growth") }
  }

  test("packDocuments: per-shard greedy concat layout, integral bins") {
    // One shard (nShards=1) so the layout is hand-checkable: docs of
    // 3/4/5/2 tokens concat to offsets 0,3,7,12 — capacity 5 ⇒ bins 0,0,1,2.
    val docs = Seq(
      (0L, "a b c"), (1L, "d e f g"), (2L, "h i j k l"), (3L, "m n"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.packDocuments(docs, capacityTokens = 5, nShards = 1)
      .orderBy("doc_id")
      .select("doc_id", "start_tok", "bin_id").as[(Long, Long, Long)].collect()
    assert(out.toSeq == Seq((0L, 0L, 0L), (1L, 3L, 0L), (2L, 7L, 1L), (3L, 12L, 2L)))
  }

  test("packDocuments shards partition the window: same doc set, bounded windows") {
    val docs = Seq.tabulate(20)(i => (i.toLong, "w " * (i % 5 + 1))).toDF("doc_id", "text")
    val out = TextAnalysis.packDocuments(docs, capacityTokens = 4, nShards = 4)
    assert(out.count() == 20)
    // each shard's start_tok restarts at 0
    val starts = out.where(col("start_tok") === 0).select("shard").distinct().count()
    assert(starts == 4, "every shard must restart its concat at offset 0")
  }

  test("datasetCard: per-source counts, dup rate, lang mode — hand-checked") {
    val docs = Seq(
      (1L, "a b c", "s1"), (2L, "a b c", "s1"), (3L, "x y", "s1"),
      (4L, "d e", "s2"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.datasetCard(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val s1 = out("s1")
    assert(s1.getAs[Long]("n_docs") == 3L)
    assert(s1.getAs[Long]("n_tokens") == 8L)   // single-char words: BPE identity
    assert(s1.getAs[Long]("n_chars") == 13L)   // 5 + 5 + 3
    assert(s1.getAs[Long]("dup_bp") == 3333L)  // 1 of 3 docs is an exact dup
    assert(out("s2").getAs[Long]("dup_bp") == 0L)
    // mean quality and lang mode agree with the per-doc operators they
    // summarize (independent plans over the same corpus)
    val q = docs.select(col("source"), graft.functions.TextFns.basisPoints(
        graft.functions.TextFns.qualityScore(col("text"))).as("q"))
      .groupBy("source").agg((sum($"q") / count(lit(1))).as("m"))
      .as[(String, Double)].collect().toMap
    assert(s1.getAs[Long]("mean_quality_bp") == q("s1").toLong)
    val langs = TextAnalysis.langIdModel(docs.withColumn("lang", lit("?")))
      .select(col("doc_id"), col("predicted_lang")).as[(Long, String)]
      .collect().toMap
    val expectTop = Seq(1L, 2L, 3L).map(langs).groupBy(identity)
      .map { case (l, g) => (g.size, l) }.toSeq.sortBy(t => (-t._1, t._2)).head
    assert(s1.getAs[String]("top_lang") == expectTop._2)
    assert(s1.getAs[Long]("top_lang_share_bp") == expectTop._1 * 10000L / 3)
  }

  test("tokenIds: frequency-ranked ids, order preserved, hand-checked") {
    // single-char words are BPE-identity; counts: b=3, a=2, c=1
    // → ids: b=0, a=1, c=2 (count desc, then subword).
    val docs = Seq((1L, "a b c"), (2L, "b b a")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenIds(docs)
      .select("doc_id", "n_tokens", "ids_head")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, "1 0 2")), s"got ${out(1L)}")
    assert(out(2L) == ((2L, 3L, "0 0 1")), s"got ${out(2L)}")
  }

  test("packSequences: straddling docs split across cuts; reassembly is exact") {
    // single-char words = BPE identity; one shard; capacity 5.
    // streams: doc0 "a b c" (3), doc1 "d e f g" (4), doc2 "h i" (2) —
    // concat = a b c d e f g h i (9 tokens) → seq0 = a b c d e (doc1
    // straddles), seq1 = f g h i (short tail).
    val docs = Seq((0L, "a b c"), (1L, "d e f g"), (2L, "h i"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.packSequences(docs, capacityTokens = 5, nShards = 1)
      .orderBy("seq_id")
      .select("seq_id", "n_docs", "seq_len", "seq_md5")
      .as[(Long, Long, Long, String)].collect()
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes).map("%02x".format(_)).mkString
    assert(out.toSeq == Seq(
      (0L, 2L, 5L, m("a b c d e")),
      (1L, 2L, 4L, m("f g h i"))))
  }

  test("packSequenceIds: hand-checked id streams; geometry matches packSequences") {
    // single-char words = BPE identity; counts b=3, a=2, c=1, d..i=1 each
    // → vocab (count desc, then subword): b=0, a=1, c=2, d=3 … i=8.
    val docs = Seq((0L, "a b c"), (1L, "b b a"), (2L, "d e f"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.packSequenceIds(docs, capacityTokens = 5, nShards = 1)
      .orderBy("seq_id")
      .select("seq_id", "n_docs", "seq_len", "ids_head", "ids_md5")
      .as[(Long, Long, Long, String, String)].collect()
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes).map("%02x".format(_)).mkString
    // concat in doc_id order: 1 0 2 | 0 0 1 | 3 4 5 → cut at 5:
    // seq0 = 1 0 2 0 0 (doc1 straddles), seq1 = 1 3 4 5 (tail)
    assert(out.toSeq == Seq(
      (0L, 2L, 5L, "1 0 2 0 0", m("1 0 2 0 0")),
      (1L, 2L, 4L, "1 3 4 5", m("1 3 4 5"))), s"got ${out.toSeq}")
    // geometry (shard/seq/n_docs/seq_len) must match packSequences exactly —
    // id streams are length-preserving re-encodings of the subword streams
    val rnd = new scala.util.Random(7)
    val big = (1L to 30L).map(i =>
      (i, Seq.fill(1 + rnd.nextInt(20))("abcdefghij"(rnd.nextInt(10)).toString)
        .mkString(" "))).toDF("doc_id", "text")
    val geomIds = TextAnalysis.packSequenceIds(big, 16, 4)
      .select("shard", "seq_id", "n_docs", "seq_len")
      .as[(Long, Long, Long, Long)].collect().toSet
    val geomSub = TextAnalysis.packSequences(big, 16, 4)
      .select("shard", "seq_id", "n_docs", "seq_len")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(geomIds == geomSub)
  }

  test("packSequences: every non-tail sequence is exactly capacity; total tokens conserved") {
    val rnd = new scala.util.Random(11)
    val docs = (1L to 40L).map(i =>
      (i, Seq.fill(1 + rnd.nextInt(30))("abcdefghij"(rnd.nextInt(10)).toString)
        .mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.packSequences(docs, capacityTokens = 16, nShards = 4)
      .select("shard", "seq_id", "seq_len").as[(Long, Long, Long)].collect()
    val byShard = out.groupBy(_._1)
    byShard.foreach { case (_, seqs) =>
      val tail = seqs.map(_._2).max
      seqs.foreach { case (_, sid, len) =>
        if (sid != tail) assert(len == 16L, s"non-tail seq $sid has $len tokens")
        else assert(len >= 1L && len <= 16L)
      }
    }
    val total = out.map(_._3).sum
    val expected = docs.as[(Long, String)].collect()
      .map(_._2.split(" ").length).sum // single-char words: BPE identity
    assert(total == expected, "concat-and-chunk must conserve every token")
  }

  test("chunkDocuments: overlapping windows cover every token, short docs = 1 chunk") {
    // single-char words are BPE-identity, so windows are hand-checkable
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 10 tokens
      (2L, "x y"),                 // short: one chunk
      (3L, ""))                    // empty: no chunks
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, chunkTokens = 4, overlap = 1)
      .orderBy("doc_id", "chunk_idx").collect()
    val d1 = out.filter(_.getLong(0) == 1L).map(r =>
      (r.getAs[Int]("chunk_idx"), r.getAs[String]("chunk_text"), r.getAs[Int]("chunk_tokens")))
    // stride 3: windows [1..4],[4..7],[7..10] — 3 chunks, consecutive
    // chunks share one token, last chunk exactly fills.
    assert(d1.toSeq == Seq(
      (0, "a b c d", 4), (1, "d e f g", 4), (2, "g h i j", 4)))
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2(0).getAs[String]("chunk_text") == "x y"
      && d2(0).getAs[Int]("chunk_tokens") == 2)
    assert(!out.exists(_.getLong(0) == 3L), "empty doc must emit no chunks")
  }

  test("chunkDocuments on multi-token words: JVM reference agrees window-for-window") {
    // Randomized docs (seeded) with multi-BPE-token words ("t42" → t,4,2):
    // an independent JVM reference computes per-word token spans through
    // the kernel and derives every window's word membership + token count;
    // the operator must agree exactly — chunk_text is ORIGINAL words (a
    // straddling word appears whole in both neighbouring chunks), never
    // subword pieces.
    val rnd = new scala.util.Random(7)
    val docs = (1L to 8L).map(i =>
      (i, Seq.fill(rnd.nextInt(300))("t" + rnd.nextInt(50)).mkString(" ")))
      .toDF("doc_id", "text")
    val (cap, overlap) = (32, 8)
    val stride = cap - overlap
    val out = TextAnalysis.chunkDocuments(docs, chunkTokens = cap, overlap = overlap)
      .select("doc_id", "chunk_idx", "chunk_text", "chunk_tokens")
      .as[(Long, Int, String, Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    val kernel = new graft.plans.BpeKernel(
      graft.functions.Bpe.DefaultMerges.map(m => Array(m._1, m._2)).toArray)
    docs.select("doc_id", "text").as[(Long, String)].collect().foreach {
      case (id, text) =>
        val words = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        if (words.isEmpty) assert(!out.contains(id), s"empty doc $id emitted chunks")
        else {
          val lens = words.map(w => kernel.encodeWord(w).length.toLong)
          val ends = lens.scanLeft(0L)(_ + _).tail
          val starts = ends.zip(lens).map { case (e, l) => e - l }
          val n = ends.last
          val nc = if (n <= cap) 1 else (1 + (n - cap + stride - 1) / stride).toInt
          val expect = (0 until nc).map { k =>
            val (ws, ks) = (words.indices.filter(i =>
              starts(i) < k.toLong * stride + cap && ends(i) > k.toLong * stride), k)
            (ws.map(words).mkString(" "),
              math.min(n - ks.toLong * stride, cap.toLong).toInt)
          }
          assert(out(id) == expect, s"doc $id window mismatch")
        }
    }
  }

  test("chunkDocuments: ragged tail gets its own shorter chunk") {
    val docs = Seq((1L, "a b c d e f g h i")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, chunkTokens = 4, overlap = 1)
      .orderBy("chunk_idx")
      .select("chunk_text", "chunk_tokens").as[(String, Int)].collect()
    // 9 tokens, stride 3: [1..4],[4..7],[7..9] — tail chunk has 3 tokens.
    assert(out.toSeq == Seq(
      ("a b c d", 4), ("d e f g", 4), ("g h i", 3)))
  }

  test("docStats counts tokens/punct and bounds ratios") {
    val df = Seq((1L, "Hello, world! This is 1 test."), (2L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.docStats(df).orderBy("doc_id").collect()
    assert(r(0).getAs[Int]("n_tokens") == 6)
    assert(r(0).getAs[Int]("n_punct") == 3) // , ! .
    assert(r(1).getAs[Int]("n_tokens") == 0)
    assert(r(1).getAs[Long]("quality_bp") == 3000L) // len 0, punct 0, alpha 0 → only (1-0)*0.3
  }

  test("topTerms orders by count desc then token") {
    val df = Seq((1L, "b b a a c"), (2L, "a")).toDF("doc_id", "text")
    val out = TextAnalysis.topTerms(df, 2).as[(String, Long)].collect()
    assert(out.toSeq == Seq(("a", 3L), ("b", 2L)))
  }

  test("exact-substr megahit: a span occurring 100k times never becomes a skewed join partition") {
    // The sortless rework exists precisely for this shape: a boilerplate
    // span occurring ~100k times is a single shuffle KEY. The scale story
    // the final adaptive plan must show (and this spec pins) is stronger
    // than AQE skew-split rescuing a bad plan — the skew never REACHES a
    // join shuffle at all:
    //  1. dup-marking is a map-combining aggregate, so each task collapses
    //     its ~25k megahit anchors to ONE partial row before the h-shuffle
    //     (no 100k-row shuffle partition, no per-key sort buffer — and no
    //     Window, which would buffer the full key group);
    //  2. the join back probes dupFirsts — duplicated spans only, tiny in
    //     any real corpus — which AQE broadcasts from runtime stats, so the
    //     100k-occurrence probe side streams map-side with NO h-exchange.
    //  (AQE's skew-split would not even pattern-match this join — the
    //  aggregate sits between the build side's shuffle stage and the SMJ —
    //  but with the build side broadcast there is no skewed SMJ to split.
    //  Recorded in NOTES.md round 8.)
    val boiler = (1 to 10).map("b" + _).mkString(" ")
    val docs = spark.range(0, 100000)
      .select(col("id").as("doc_id"),
        concat(lit(boiler), lit(" uniq"), col("id")).as("text"))
    val t0 = System.nanoTime()
    val out = TextAnalysis.exactSubstrDedup(docs, spanTokens = 10)
    val agg = out.agg(
      count(lit(1)), sum(col("n_removed")),
      countDistinct(col("clean_text")),
      sum(when(col("n_removed") === 10, 1L).otherwise(0L))).head()
    info(f"megahit 100k-occurrence dedup: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    // Every doc except the global-first occurrence loses exactly the
    // 10 boilerplate tokens and keeps its unique tail.
    assert(agg.getLong(0) == 100000L)
    assert(agg.getLong(1) == 99999L * 10)
    assert(agg.getLong(2) == 100000L) // 99999 distinct tails + 1 full text
    assert(agg.getLong(3) == 99999L)
    val keeper = out.where(col("n_removed") === 0).head()
    assert(keeper.getAs[Long]("doc_id") == 0L &&
      keeper.getAs[String]("clean_text") == s"$boiler uniq0")
    // Drive out's OWN physical plan (the asserts above each planned a
    // fresh query) so AQE finalizes it, then read the adaptive result.
    out.queryExecution.toRdd.count()
    val planStr = out.queryExecution.executedPlan.toString
    assert(planStr.contains("partial_min("),
      s"dup-marking must partial-aggregate below the h-shuffle:\n$planStr")
    // Packed-long min buffers as BIGINT ⇒ the dup-marking aggregate must
    // be a HashAggregate, never the struct-min SortAggregate it once was.
    assert(!planStr.contains("SortAggregate"),
      s"dup-marking must hash-aggregate (packed-long min):\n$planStr")
    assert(planStr.contains("BroadcastHashJoin"),
      s"dupFirsts (1 row here) must broadcast under AQE runtime stats:\n$planStr")
    assert(!planStr.contains("Window"), "span dedup must stay window-free")
  }
}

class FunnelSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val steps = Seq("view", "click", "purchase")

  private def ev(rows: (Long, Long, String)*) =
    rows.toDF("user_id", "ts", "event_type")

  test("topPaths: sliding windows over the per-user order, global top-N") {
    val events = Seq(
      (1L, 1L, 10L, "a"), (1L, 2L, 20L, "b"), (1L, 3L, 30L, "c"),
      (1L, 4L, 40L, "a"), (1L, 5L, 50L, "b"),          // user 1: a b c a b
      (2L, 6L, 10L, "a"), (2L, 7L, 20L, "b"), (2L, 8L, 30L, "c"),
      (3L, 9L, 10L, "x")) // too short for any length-2 window
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = Funnel.topPaths(events, pathLen = 2, topN = 3)
      .as[(String, Long)].collect().toSeq
    // windows: u1 = a>b, b>c, c>a, a>b; u2 = a>b, b>c → a>b ×3, b>c ×2, c>a ×1
    assert(out == Seq(("a>b", 3L), ("b>c", 2L), ("c>a", 1L)))
    // sort order inside a user follows (ts, event_id), not input order
    val shuffled = Funnel.topPaths(events.orderBy(rand(7)), pathLen = 2, topN = 3)
      .as[(String, Long)].collect().toSeq
    assert(shuffled == out)
  }

  test("userFunnel: in-order completion takes the earliest valid time per step") {
    val f = Funnel.userFunnel(ev(
      (1L, 10L, "view"), (1L, 5L, "view"), (1L, 20L, "click"),
      (1L, 15L, "click"), (1L, 30L, "purchase"),
      (1L, 12L, "purchase") // before the click completion → ignored
    ), steps).collect().head
    assert(f.getAs[Long]("t_view") == 5L)
    assert(f.getAs[Long]("t_click") == 15L, "earliest click AFTER the first view")
    assert(f.getAs[Long]("t_purchase") == 30L, "purchase at 12 precedes click completion")
    assert(f.getAs[Int]("steps_completed") == 3)
  }

  test("userFunnel: out-of-order and same-instant events never advance a step") {
    val out = Funnel.userFunnel(ev(
      (2L, 10L, "purchase"), (2L, 20L, "click"), (2L, 30L, "view"), // reversed
      (3L, 10L, "view"), (3L, 10L, "click"), // same instant: strict > blocks
      (4L, 10L, "click"), (4L, 20L, "purchase") // never viewed
    ), steps).collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(2L).getAs[Int]("steps_completed") == 1, "only the view counts")
    assert(out(3L).getAs[Int]("steps_completed") == 1)
    assert(out(3L).isNullAt(out(3L).fieldIndex("t_click")))
    assert(out(4L).getAs[Int]("steps_completed") == 0, "no view → no progress at all")
  }

  test("retention: cohort = first period, offsets count returning users only") {
    // period = 10 ticks. u1 joins period 0, returns periods 1 and 3;
    // u2 joins period 1, never returns; u3 joins period 1, returns period 2.
    val ev = Seq((1L, 1L), (1L, 12L), (1L, 33L), (1L, 34L), // same period twice
      (2L, 15L), (3L, 11L), (3L, 25L)).toDF("user_id", "ts")
    val r = Funnel.retention(ev, periodTicks = 10L)
      .as[(Long, Long, Long)].collect().toSet
    assert(r == Set((0L, 0L, 1L), (0L, 1L, 1L), (0L, 3L, 1L),
      (1L, 0L, 2L), (1L, 1L, 1L)))
  }

  test("userFunnel agrees with a JVM cascade brute force on seeded random data") {
    // The Spark side is the sorted HOF fold; the reference is the cascaded
    // min-search. Random ts with collisions exercises the strict-> rule.
    val rnd = new scala.util.Random(7)
    val types = Vector("view", "click", "purchase", "error", "signup")
    val rows = (1L to 150L).flatMap { u =>
      (0 until rnd.nextInt(12)).map { _ =>
        (u, rnd.nextInt(40).toLong, types(rnd.nextInt(types.size)))
      }
    }
    val steps = Seq("view", "click", "purchase")
    val got = Funnel.userFunnel(rows.toDF("user_id", "ts", "event_type"), steps)
      .collect().map { r =>
        r.getAs[Long]("user_id") ->
          steps.map(s => if (r.isNullAt(r.fieldIndex(s"t_$s"))) None
            else Some(r.getAs[Long](s"t_$s")))
      }.toMap
    val byUser = rows.filter(r => steps.contains(r._3)).groupBy(_._1)
    byUser.foreach { case (u, evs) =>
      var prev: Option[Long] = None
      val expected = steps.map { s =>
        val t = prev match {
          case None if s == steps.head =>
            evs.filter(_._3 == s).map(_._2).minOption
          case Some(p) =>
            evs.filter(e => e._3 == s && e._2 > p).map(_._2).minOption
          case None => None
        }
        prev = t
        t
      }
      assert(got(u) == expected, s"user $u: ${evs.sortBy(_._2)}")
    }
    assert(got.keySet == byUser.keySet, "exactly the users with step events")
  }

  test("sessionize: gap >= threshold starts a new session, ids are per-user") {
    val ev = Seq((1L, 1L, 100L), (2L, 1L, 105L), (3L, 1L, 120L), // 15 >= 10 breaks
      (4L, 2L, 50L), (5L, 2L, 59L), (6L, 2L, 69L)) // gap 9 keeps, gap 10 breaks
      .toDF("event_id", "user_id", "ts")
    val s = Funnel.sessionize(ev, gapTicks = 10L)
      .select("event_id", "session_seq").as[(Long, Long)].collect().toMap
    assert(s == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 1L, 6L -> 2L))
  }

  test("funnelSummary: empty previous stage yields null conversion, not an error") {
    val s = Funnel.funnelSummary(
      ev((1L, 10L, "click")), Seq("view", "click", "purchase")) // nobody views
      .orderBy("stage").collect()
    assert(s.map(_.getAs[Long]("n_users")).toSeq == Seq(0L, 0L, 0L))
    assert(s(1).isNullAt(s(1).fieldIndex("conv_bp")))
    assert(s(2).isNullAt(s(2).fieldIndex("conv_bp")))
  }

  test("funnelSummary: stage counts are monotone, conversions exact") {
    val s = Funnel.funnelSummary(ev(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "purchase"),
      (2L, 1L, "view"), (2L, 2L, "click"),
      (3L, 1L, "view"),
      (4L, 9L, "click")), steps)
      .orderBy("stage").collect()
    assert(s.map(_.getAs[Long]("n_users")).toSeq == Seq(3L, 2L, 1L))
    assert(s(1).getAs[Long]("conv_bp") == 6666L, "2/3 floored to bp")
    assert(s(2).getAs[Long]("conv_bp") == 5000L)
  }
}

class MultimodalSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("audio: WAV synth → AudioSystem decode round-trip matches closed forms") {
    val docs = Seq(0L, 1L, 7L, 123L).map(i => (i, s"d$i", "en", "src", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.decodeAudioFeatures(spark,
        Multimodal.synthesizeAudio(spark, docs))
      .collect().map(f => f.asset_id -> f).toMap
    for (id <- Seq(0L, 1L, 7L, 123L)) {
      val n = 400 + (id % 50) * 16
      val amp = 1000 + (id % 100) * 250
      val period = 2 + id % 9
      val f = out(id)
      assert(f.sample_rate == 8000 + (id % 3) * 4000)
      assert(f.n_samples == n, s"id $id: decoded ${f.n_samples} samples, want $n")
      assert(f.sum_abs == n * amp)
      assert(f.max_abs == amp)
      assert(f.n_zero_cross == (n - 1) / period)
      assert(f.sum_sq == n * amp * amp)
    }
  }

  test("jpeg: uniform rasters round-trip the lossy codec EXACTLY, all 256 values") {
    // The closed-form multimodal_jpeg oracle rests on this exactness claim
    // (flat block ⇒ DC-only; quant step divides the scaled DC; fixed-point
    // RGB↔YCbCr exact on r=g=b) — verify it exhaustively off-Spark, over
    // dims that exercise full MCUs, partial-MCU edge padding, and sub-MCU
    // images.
    javax.imageio.ImageIO.setUseCache(false)
    for ((w, h) <- Seq((48, 32), (18, 10), (33, 17), (7, 5)); v <- 0 until 256) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (v << 16) | (v << 8) | v
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      val dec = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      assert(dec.getWidth == w && dec.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val p = dec.getRGB(x, y)
        assert((p & 0xff) == v && ((p >> 8) & 0xff) == v && ((p >> 16) & 0xff) == v,
          s"${w}x$h v=$v decoded ${p.toHexString} at ($x,$y)")
      }
    }
  }

  test("jpeg: uniform-raster exactness holds across the encoder quality sweep") {
    // The multimodal_jpeg oracle is pinned at ImageIO's DEFAULT quality,
    // but the exactness argument (flat block ⇒ DC-only; the luma DC quant
    // step divides the scaled DC 8·(v−128)) holds at EVERY quality whose
    // DC step divides 8 — sweep explicit qualities to show the contract
    // isn't an accident of the default. The boundary is real and was
    // MEASURED, not assumed: at quality 0.5 the standard-table DC step is
    // 16 > 8 and v=7 decodes to 6 — that is the genuinely lossy regime,
    // which is exactly why the oracle pins the quality.
    javax.imageio.ImageIO.setUseCache(false)
    for (q <- Seq(0.75f, 0.9f, 1.0f); v <- Seq(0, 7, 128, 200, 255)) {
      val img = new java.awt.image.BufferedImage(24, 18,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (v << 16) | (v << 8) | v
      for (y <- 0 until 18; x <- 0 until 24) img.setRGB(x, y, rgb)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(q)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      } finally { ios.close(); writer.dispose() }
      val dec = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bos.toByteArray))
      for (y <- 0 until 18; x <- 0 until 24) {
        val px = dec.getRGB(x, y)
        assert((px & 0xff) == v && ((px >> 8) & 0xff) == v && ((px >> 16) & 0xff) == v,
          s"q=$q v=$v decoded ${px.toHexString} at ($x,$y)")
      }
    }
  }

  test("jpeg: synth → decode features match closed forms through an exchange") {
    val ids = Seq(0L, 1L, 7L, 255L, 300L)
    val docs = ids.map(i => (i, s"d$i", "en", "src", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.decodeJpegFeatures(spark,
        Multimodal.synthesizeJpegs(spark, docs).repartition(col("asset_id")))
      .collect().map(f => f.asset_id -> f).toMap
    for (id <- ids) {
      val (w, h, v) = (8 + id % 41, 6 + (id * 3) % 29, id % 256)
      val f = out(id)
      assert(f.width == w && f.height == h, s"id $id dims")
      assert(f.sum_luma == w * h * v, s"id $id: lossy codec drifted")
      assert(f.rs_width == w / 2 && f.rs_height == h / 2)
      assert(f.rs_sum_luma == (w / 2) * (h / 2) * v)
    }
  }

  test("resizeImages: nearest-neighbor to arbitrary dims; output PNG decodes back") {
    val docs = Seq(3L, 17L).map(i => (i, s"d$i", "en", "src", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.resizeImages(spark,
        Multimodal.synthesizeImages(spark, docs), targetW = 16, targetH = 12)
      .collect().map(r => r.asset_id -> r).toMap
    for (id <- Seq(3L, 17L)) {
      val (w, h) = (2 * (4 + id % 30), 4 * (2 + (id * 3) % 10))
      val (a, b) = (id % 256, (id * 7) % 256)
      val expect = 16L * (0 until 12).map { ty =>
        if (ty * h / 12 < h / 2) a else b
      }.sum
      val r = out(id)
      assert(r.src_width == w && r.src_height == h)
      assert(r.sum_luma == expect, s"id $id: resample luma mismatch")
      // the emitted payload is a REAL PNG of the resized raster
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.png))
      assert(img.getWidth == 16 && img.getHeight == 12)
      var sum = 0L
      for (y <- 0 until 12; x <- 0 until 16) sum += (img.getRGB(x, y) & 0xff)
      assert(sum == expect, "re-encoded PNG must decode to the same pixels")
    }
  }

  test("video: animated-GIF synth → frame-walk decode matches closed forms") {
    val docs = Seq(0L, 1L, 9L, 251L).map(i => (i, s"d$i", "en", "src", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.decodeVideoFeatures(spark,
        Multimodal.synthesizeVideos(spark, docs))
      .collect().map(f => f.asset_id -> f).toMap
    for (id <- Seq(0L, 1L, 9L, 251L)) {
      val (w, h, frames) = (8 + id % 16, 8 + (id * 3) % 12, 2 + id % 6)
      def v(k: Long) = (5 * id + 17 * k) % 256
      val f = out(id)
      assert(f.n_frames == frames, s"id $id: ${f.n_frames} frames, want $frames")
      assert(f.width == w && f.height == h)
      assert(f.sum_luma_all == w * h * (0L until frames).map(v).sum,
        s"id $id: GIF round-trip not lossless")
      assert(f.first_mean_luma == v(0) && f.last_mean_luma == v(frames - 1))
    }
  }

  test("audio: a malformed container is rejected by the codec, not mis-read") {
    val bad = Seq(Multimodal.AudioRow(1L, Array[Byte](1, 2, 3, 4))).toDS()
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeAudioFeatures(spark, bad).collect()
    }
  }

  test("binary asset round-trip: payload bytes measured, sha stable") {
    val df = Seq((7L, "hello", "en", "src", 5L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = Multimodal.features(df).collect().head
    assert(f.getAs[Int]("n_bytes") == 5)
    assert(f.getAs[String]("sha256") ==
      "2cf24dba5fb0a30e26e83b2ac5b9e29e1b161e5c1fa7425e73043362938b9824")
  }

  test("frame sampling: stride-selected fixed-size chunks with stable hashes") {
    val df = Seq((1L, "0123456789abcdef" * 2, "en", "s", 32L)) // 32 bytes
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val frames = Multimodal.sampleFrames(df, frameBytes = 8, stride = 2).collect()
    assert(frames.length == 2) // frames 0 and 2 of 4
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 2))
    val f0 = new String(frames(0).getAs[Array[Byte]]("frame_bytes"))
    assert(f0 == "01234567")
  }

  test("resize stub scales dims and truncates payload proportionally") {
    val df = Seq((64L, "x" * 100, "en", "s", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Multimodal.resizeStub(df, targetWidth = 64).collect().head
    assert(r.getAs[Int]("width") == 64)
    assert(r.getAs[Int]("height") == (r.getAs[Int]("src_height") * 64) / r.getAs[Int]("src_width"))
    assert(r.getAs[Array[Byte]]("payload").length ==
      math.max(100 * 64 / r.getAs[Int]("src_width"), 1))
  }

  test("mapPartitions decode stub emits one row per asset with features") {
    val df = Seq((1L, "abc", "en", "s", 3L), (2L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.decodeFeatures(spark, df).collect().sortBy(_.asset_id)
    assert(out.length == 2)
    assert(out(0).meanLuma > 0 && out(1).meanLuma == 0.0)
  }

  test("real PNG round-trip: imageio encode -> exchange -> decode matches closed form") {
    val ids = Seq(0L, 1L, 7L, 29L, 255L, 256L, 1234L)
    val docs = ids.map(i => (i, s"doc $i", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val imgs = Multimodal.synthesizeImages(spark, docs)
    // payloads are genuine PNG files
    val magic = Array[Byte](0x89.toByte, 'P', 'N', 'G')
    assert(imgs.collect().forall(r => r.png.take(4).sameElements(magic)))
    val out = Multimodal
      .decodeImageFeatures(spark, imgs.repartition(3))
      .collect().map(f => f.asset_id -> f).toMap
    for (id <- ids) {
      val w = 2 * (4 + id % 30); val h = 4 * (2 + (id * 3) % 10)
      val ab = (id % 256) + ((id * 7) % 256)
      val f = out(id)
      assert(f.width == w && f.height == h, s"dims for $id: $f")
      assert(f.sum_luma == w * (h / 2) * ab, s"decoded luma for $id: $f")
      assert(f.rs_width == w / 2 && f.rs_height == h / 2, s"resample dims for $id: $f")
      assert(f.rs_sum_luma == (w / 2) * (h / 4) * ab,
        s"nearest-neighbor resample luma for $id: $f")
    }
  }

  test("perceptual-hash near-dup: min-band emission under a BINDING bucket cap " +
      "(pair truncated from its earliest matching band still emits exactly once)") {
    // ids 16–20 share the a-nibble (a = 16..20 ⇒ nibble 1), so bands 0–1
    // hold one 5-member bucket; maxBucket = 3 keeps {16,17,18} and cuts
    // {19,20} there. b = 7·id mod 256 ⇒ 112,119,126,133,140: b-nibbles
    // 7,7,7,8,8 — bands 2–3 buckets stay under the cap. The r16 min-band
    // rewrite must (a) still emit (19,20) — their earliest KEY match is
    // band 0, but neither survived its cap, so the survival mask must
    // stop the suppression — and (b) emit every pair exactly once with
    // no distinct() in the plan.
    val ids = Seq(16L, 17L, 18L, 19L, 20L)
    val docs = ids.map(i => (i, s"doc $i", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = Multimodal.nearDupImages(spark,
        Multimodal.synthesizeImages(spark, docs).repartition(2),
        maxBucket = 3)
      .collect()
      .map(r => (r.getAs[Long]("asset_a"), r.getAs[Long]("asset_b"),
        r.getAs[Long]("sum_abs_diff")))
    assert(rows.length == rows.toSet.size, s"duplicate emissions: ${rows.toSeq}")
    assert(rows.toSet == Set((16L, 17L, 64L), (16L, 18L, 128L),
      (17L, 18L, 64L), (19L, 20L, 64L)), s"got ${rows.toSeq.sorted}")
  }

  test("perceptual-hash near-dup: planted image dups found, far pairs rejected") {
    // a = id%256, b = 7id%256 ⇒ 266 is an EXACT image dup of 10 (Δ=256
    // wraps both bands); 11 is a near dup of both (Δa=1, Δb=7 ⇒ Σ=64);
    // 13 shares 11's a-nibble band at the threshold edge (Σ=128, kept) but
    // is too far from 10 (Σ=192, candidate rejected by verify); 100 shares
    // no band nibble with any of them (never even a candidate).
    val ids = Seq(10L, 11L, 13L, 100L, 266L)
    val docs = ids.map(i => (i, s"doc $i", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Multimodal.nearDupImages(spark,
        Multimodal.synthesizeImages(spark, docs).repartition(2))
      .collect()
      .map(r => (r.getAs[Long]("asset_a"), r.getAs[Long]("asset_b"),
        r.getAs[Long]("sum_abs_diff"))).toSet
    assert(pairs == Set((10L, 11L, 64L), (10L, 266L, 0L), (11L, 266L, 64L),
      (11L, 13L, 128L)), s"got $pairs")
  }

  test("perceptual-hash near-dup: randomized sets match the JVM closed-form reference") {
    // The synthesized raster is a on the top half, b on the bottom
    // (a = id%256, b = 7id%256), so with grid=4 the block vector is
    // [a×8, b×8]: candidates share an a-nibble (bands 0–1) or b-nibble
    // (bands 2–3) and the verify distance is exactly 8|Δa| + 8|Δb|.
    // Random id sets adversarially exercise nibble-boundary and
    // threshold-edge pairs the planted case can't enumerate.
    val rnd = new scala.util.Random(42)
    for (round <- 1 to 5) {
      val ids = rnd.shuffle((0L until 5000L).toVector).take(25).distinct
      val docs = ids.map(i => (i, s"doc $i", "en", "s", 5L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val got = Multimodal.nearDupImages(spark,
          Multimodal.synthesizeImages(spark, docs).repartition(3))
        .collect()
        .map(r => (r.getAs[Long]("asset_a"), r.getAs[Long]("asset_b"),
          r.getAs[Long]("sum_abs_diff"))).toSet
      val expect = (for {
        i <- ids; j <- ids if i < j
        ai = i % 256; bi = (i * 7) % 256
        aj = j % 256; bj = (j * 7) % 256
        if ai / 16 == aj / 16 || bi / 16 == bj / 16
        d = 8 * math.abs(ai - aj) + 8 * math.abs(bi - bj)
        if d <= 128
      } yield (i, j, d)).toSet
      assert(got == expect, s"round $round ids=$ids")
    }
  }

  test("incremental image near-dup: batch-vs-index equals full run minus history-history") {
    // Dups planted to STRADDLE the split (history = id % 7 == 0; note
    // 266 = 7·38 is HISTORY): 266 ≡ 10 exactly (a history pair), 10-11 and
    // 11-13 are batch-batch near dups (Σ=64, 128), 14 (hist) vs 15 (batch)
    // Σ=64, 7 (hist) vs 11 shares no nibble band within reach (Δa=4,
    // Δb=28 → Σ=256, verify-rejected); plus random ids for boundary pairs.
    val ids = (Seq(10L, 11L, 13L, 14L, 15L, 266L, 7L, 21L, 22L) ++
      new scala.util.Random(7).shuffle((0L until 3000L).toVector).take(20)).distinct
    def docsOf(xs: Seq[Long]) = xs.map(i => (i, s"doc $i", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val hist = ids.filter(_ % 7 == 0)
    val batch = ids.filter(_ % 7 != 0)
    // persist: computed stand-in for the parquet-backed index load (the
    // operator references the index twice — see its scaladoc).
    val idx = Multimodal.signatureIndex(spark,
        Multimodal.synthesizeImages(spark, docsOf(hist)).repartition(2))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inc = Multimodal.nearDupImagesIncremental(spark,
        Multimodal.synthesizeImages(spark, docsOf(batch)).repartition(2), idx)
      .collect()
      .map(r => (r.getAs[Long]("asset_a"), r.getAs[Long]("asset_b"),
        r.getAs[Long]("sum_abs_diff"), r.getAs[String]("origin")))
    // origin is consistent with the split, orientation is new-first
    inc.foreach { case (a, b, _, o) =>
      assert(a % 7 != 0, s"asset_a must be from the batch: ($a,$b,$o)")
      if (o == "history") assert(b % 7 == 0) else assert(b % 7 != 0 && a < b)
    }
    // pair set == full-corpus run minus history-vs-history pairs
    val full = Multimodal.nearDupImages(spark,
        Multimodal.synthesizeImages(spark, docsOf(ids)).repartition(3))
      .collect()
      .map(r => (r.getAs[Long]("asset_a"), r.getAs[Long]("asset_b"),
        r.getAs[Long]("sum_abs_diff")))
    val fullMinusHist = full.filterNot { case (a, b, _) => a % 7 == 0 && b % 7 == 0 }
      .map { case (a, b, d) => (math.min(a, b), math.max(a, b), d) }.toSet
    val incNorm = inc
      .map { case (a, b, d, _) => (math.min(a, b), math.max(a, b), d) }.toSet
    assert(incNorm == fullMinusHist,
      s"incremental=${incNorm.toSeq.sorted} full=${fullMinusHist.toSeq.sorted}")
  }

  test("incremental image near-dup: a RE-INGESTED batch asset (already " +
      "in the history index) is skipped — no self-pairs, no fan-out; a " +
      "grid-mismatched index raises instead of returning empty") {
    def docsOf(xs: Seq[Long]) = xs.map(i => (i, s"doc $i", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // history = {14}; batch re-ingests 14 (retry/backfill) alongside 15
    // (a genuine near-twin of 14: Σ=64 in the planted raster space)
    val idx = Multimodal.signatureIndex(spark,
        Multimodal.synthesizeImages(spark, docsOf(Seq(14L))).repartition(2))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = Multimodal.nearDupImagesIncremental(spark,
        Multimodal.synthesizeImages(spark, docsOf(Seq(14L, 15L))).repartition(2), idx)
      .select("asset_a", "asset_b", "origin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(!out.exists(p => p._1 == p._2), s"self-pair emitted: $out")
    assert(out == Set((15L, 14L, "history")),
      s"re-ingested 14 must be skipped (already deduped in history): $out")
    // grid mismatch must fail LOUD, not return a plausible empty frame
    val ex = intercept[Exception] {
      Multimodal.nearDupImagesIncremental(spark,
        Multimodal.synthesizeImages(spark, docsOf(Seq(15L))).repartition(2),
        idx, grid = 8).collect()
    }
    assert(ex.getMessage != null && ex.toString.contains("grid mismatch")
        || Option(ex.getCause).exists(_.toString.contains("grid mismatch")),
      s"expected the grid-mismatch raise, got: $ex")
  }

  test("incremental image near-dup: over-cap buckets stay bounded, smallest ids win") {
    // 6 EXACT image dups (ids ≡ 10 mod 256·? — use +256k steps so a and b
    // both wrap identically): history gets 3, batch gets 3, cap = 2 per
    // side. Every (band, key) bucket holds all 6; each side keeps its 2
    // smallest asset_ids, so the output must be exactly the pairs among
    // {batch: 2 smallest} × {hist: 2 smallest} plus the one batch-batch
    // pair — bounded at C(cap,2) + cap², never C(6,2).
    // 10 + 256k is ≡ 0 mod 7 iff k ≡ 1 mod 7, so history = {266, 2058,
    // 3850} (k = 1, 8, 15) and batch = {10, 522, 778} (k = 0, 2, 3).
    val ids = Seq(10L, 266L, 522L, 778L, 2058L, 3850L)
    def docsOf(xs: Seq[Long]) = xs.map(i => (i, s"doc $i", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val hist = ids.filter(_ % 7 == 0)
    val batch = ids.filterNot(_ % 7 == 0)
    // persist: computed stand-in for the parquet-backed index load (the
    // operator references the index twice — see its scaladoc).
    val idx = Multimodal.signatureIndex(spark,
        Multimodal.synthesizeImages(spark, docsOf(hist)).repartition(2))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val got = Multimodal.nearDupImagesIncremental(spark,
        Multimodal.synthesizeImages(spark, docsOf(batch)).repartition(2), idx,
        maxBucket = 2)
      .select("asset_a", "asset_b", "origin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val keptBatch = batch.sorted.take(2)
    val keptHist = hist.sorted.take(2)
    val want =
      (for (a <- keptBatch; b <- keptHist) yield (a, b, "history")).toSet ++
        (for (a <- keptBatch; b <- keptBatch if a < b) yield (a, b, "batch")).toSet
    assert(got == want, s"got=$got want=$want (hist=$hist batch=$batch)")
  }

  test("perceptual-hash near-dup: signatures decode once, reused from cache") {
    // The plan references the signature frame 4x (banded self-join sides +
    // verify re-join sides); the persist inside nearDupImages must serve
    // all of them from ONE decode pass — at production image sizes the
    // codec dominates, so a re-decode per reference is a 4x scale bug.
    val docs = Seq(1L, 2L, 3L).map(i => (i, s"doc $i", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val df = Multimodal.nearDupImages(spark,
      Multimodal.synthesizeImages(spark, docs).repartition(2))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"signature subtree not served from cache:\n$plan")
  }
}
