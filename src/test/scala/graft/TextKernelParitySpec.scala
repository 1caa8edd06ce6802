package graft

import graft.functions.TextFns
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r16 text kernels against the legacy HOF chains they replaced,
  * through REAL DataFrame execution (whole-stage codegen path — the
  * interpreted-eval path is pinned separately by TextKernelProps).
  * Every DuckDB oracle on the text tier mirrors the HOF arithmetic, so
  * kernel == HOF here is what keeps those oracles hash-exact. */
class TextKernelParitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // token arrays with the nasty shapes: unicode, empties, dups, blanks,
  // null elements (concat/skip semantics), single-token and empty docs
  private lazy val toks = Seq(
    Seq("alpha", "beta", "gamma", "beta", "alpha"),
    Seq("汉字", "ünïcode", "éclair", "普通话"),
    Seq("one"),
    Seq.empty[String],
    Seq("x", "y"),
    Seq("repeat", "repeat", "repeat", "repeat")
  ).toDF("w")
    .union(Seq(1).toDF("i").select(
      array(lit("a"), lit(null).cast("string"), lit("b"), lit(null).cast("string"))
        .as("w")))

  // Every parity case runs over an RDD-backed frame: a projection over a
  // local relation is folded at optimization time by interpreted eval
  // (ConvertToLocalRelation), so only a non-local scan reaches
  // whole-stage codegen. `TestSpark.assertCodegenStage` asserts that it did.
  private def rddFrame(rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** `native` (asserted to run `kernel` in a codegen stage) and
    * `reference` in SEPARATE projections over `df` — a CodegenFallback
    * HOF reference sharing the kernel's projection would take the whole
    * projection out of codegen — compared per `id`. */
  private def parity(df: org.apache.spark.sql.DataFrame,
      native: org.apache.spark.sql.Column, reference: org.apache.spark.sql.Column,
      kernel: String, tag: String): Unit = {
    val n = df.select($"id", native.as("v"))
    TestSpark.assertCodegenStage(n, kernel)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getInt(0) -> r.get(1)).toMap
    val (a, b) = (rows(n), rows(df.select($"id", reference.as("v"))))
    assert(a.nonEmpty && a == b, s"$tag:\nnative=$a\nreference=$b")
  }

  private def idSchema(name: String, dt: org.apache.spark.sql.types.DataType) =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField(name, dt)))

  test("shingles_s == HOF shingles for n=1..4 incl. null tokens and empties") {
    for (n <- 1 to 4)
      parity(spanToks, TextFns.shingles($"w", n), TextFns.shinglesHof($"w", n),
        "shingles_s", s"shingles n=$n")
  }

  test("md5_base28_l == md5-hex + nibble-decode HOF incl. null elements") {
    parity(spanToks, TextFns.shingleHashes($"w"), TextFns.shingleHashesHof($"w"),
      "md5_base28_l", "base28")
  }

  /** (id, hs) frame of each token row's hashes plus one extra row. */
  private def hashFrame(hashes: org.apache.spark.sql.Column,
      extra: Seq[java.lang.Long]) =
    rddFrame(spanToks.select($"id", hashes).collect()
        .map(r => org.apache.spark.sql.Row(r.getInt(0), r.get(1))).toSeq :+
        org.apache.spark.sql.Row(99, extra),
      idSchema("hs", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = true)))

  test("minhash sig/band == per-index array_min HOF incl. all-null input") {
    val hs = hashFrame(TextFns.shingleHashes(TextFns.shingles($"w", 3)),
      Seq[java.lang.Long](null, null))
    for (i <- 0 until 8)
      parity(hs, TextFns.minhashNum($"hs", i), TextFns.minhashNumHof($"hs", i),
        "minhash_sig_l", s"minhash $i")
    parity(hs, TextFns.minhashBandNum($"hs", 1),
      concat(TextFns.minhashNumHof($"hs", 2).cast("string"), lit(":"),
        TextFns.minhashNumHof($"hs", 3).cast("string")),
      "minhash_sig_l", "band")
  }

  test("simhash16_l == nested-aggregate HOF incl. the null-element-zeroes quirk") {
    val hs = hashFrame(TextFns.shingleHashes($"w"), Seq[java.lang.Long](7L, null, 12L))
    parity(hs, TextFns.simhash16($"hs"), TextFns.simhash16Hof($"hs"),
      "simhash16_l", "simhash")
    // the quirk row really is 0
    assert(hs.where($"id" === 99).select(TextFns.simhash16($"hs"))
      .head().getInt(0) == 0)
  }

  test("hash16 == md5_base28 >> 12 (the Dedup.simhash / LangIdModel.buckets " +
      "rewrite): top 4 of the 7 decoded nibbles") {
    // one row per token, null tokens included: both sides null there
    val tokens = rddFrame(toks.collect().flatMap(_.getSeq[String](0)).toSeq
        .zipWithIndex.map { case (t, i) => org.apache.spark.sql.Row(i, t) },
      idSchema("t", org.apache.spark.sql.types.StringType))
    parity(tokens,
      shiftright(element_at(TextFns.shingleHashes(array($"t")), 1), 12),
      TextFns.hash16($"t").cast("long"), "md5_base28_l", "hash16")
  }

  test("trigrams_s == per-position substr HOF incl. multi-byte chars, " +
      "short and empty strings") {
    import graft.functions.LangIdModel
    val texts = rddFrame(Seq("the quick brown fox", "汉字普通话测试", "ab", "", "éäü",
        "a b", "𐍈𐍈𐍈x").zipWithIndex.map { case (t, i) => org.apache.spark.sql.Row(i, t) },
      idSchema("t", org.apache.spark.sql.types.StringType))
    parity(texts, LangIdModel.trigrams($"t"), LangIdModel.trigramsHof($"t"),
      "trigrams_s", "trigrams")
  }

  private val tokSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = true))))

  // the spec's token arrays plus two long enough for k = 10: one with
  // nulls in the middle and at both ends, one unicode-heavy
  private lazy val spanToks = rddFrame(
    (toks.collect().map(_.getSeq[String](0)).toSeq ++ Seq(
      Seq(null, "a", "b", null, null, "c", "d", "e", "a", "b", null, "c",
        "d", "e", "f", null),
      Seq("汉字", "ünïcode", "éclair", "普通话", "𐍈", "x", "汉字", "ünïcode",
        "éclair", "普通话", "𐍈", "y", "")))
      .zipWithIndex.map { case (w, i) => org.apache.spark.sql.Row(i, w) },
    tokSchema)

  test("span_md5s == md5(array_join(slice(w, p+1, k), ' ')) at every p, " +
      "k = 1..4 and 10, incl. null elements, unicode, empty and n < k") {
    for (k <- (1 to 4) :+ 10) {
      val native = spanToks.select($"id",
        posexplode(TextFns.spanMd5s($"w", k)).as(Seq("pos", "h")))
      TestSpark.assertCodegenStage(native, "span_md5s")
      val hof = spanToks.where(size($"w") >= k)
        .select($"id", $"w", explode(sequence(lit(0), size($"w") - k)).as("pos"))
        .select($"id", $"pos", TextFns.spanMd5Hof($"w", $"pos", k).as("h"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
          .sortBy(r => (r._1, r._2)).toSeq
      val (n, h) = (rows(native), rows(hof))
      assert(n.nonEmpty && n == h, s"span_md5s k=$k:\nnative=$n\nhof=$h")
    }
  }

  test("span_keep == the coverage-array rebuild chain and size(cov) on " +
      "all-covered, none-covered, overlapping and repeated starts") {
    val w = Seq("a", "b", "c", null, "d", "e", "f", "g", "h", "i", "j", "k")
    val long = (0 until 23).map(i => s"t${i % 7}")
    val cases: Seq[(Seq[String], Seq[Int], Int)] = Seq(
      (w, Seq.empty, 3),                         // none covered
      (w, Seq(0, 3, 6, 9), 3),                   // all covered, abutting
      (w, (0 to 9), 3),                          // all covered, overlapping
      (w, Seq(1, 2), 4),                         // overlapping
      (w, Seq(5, 5, 5), 2),                      // repeated
      (w, Seq(8, 0, 8, 4), 4),                   // unsorted, repeated
      (w, Seq(0), 1),
      (Seq("solo"), Seq(0), 1),                  // one token, covered
      (Seq("solo"), Seq.empty, 1),
      (long, Seq(0, 13), 10),                    // k = 10, overlapping
      (long, Seq(2, 2), 10))
    val rows = cases.zipWithIndex.map { case ((toks, starts, k), i) =>
      val cov = starts.flatMap(s => s until s + k).distinct.sorted
      org.apache.spark.sql.Row(i, toks, starts, cov, k)
    }
    import org.apache.spark.sql.types._
    val df = rddFrame(rows, StructType(Seq(StructField("id", IntegerType),
      StructField("w", ArrayType(StringType, containsNull = true)),
      StructField("starts", ArrayType(IntegerType, containsNull = false)),
      StructField("cov", ArrayType(IntegerType, containsNull = false)),
      StructField("k", IntegerType))))
    // separate queries: the reference's lambdas are interpreted-only, and
    // sharing a projection with them would take the kernel out of codegen
    for (k <- cases.map(_._3).distinct) {
      val at = df.where($"k" === k)
      val native = at.select($"id", TextFns.spanKeep($"w", $"starts", k))
      TestSpark.assertCodegenStage(native, "span_keep")
      val hof = at.select($"id", TextFns.spanKeepHof($"w", $"cov"))
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => r.getInt(0) -> r.get(1)).toMap
      val (n, h) = (rows(native), rows(hof))
      assert(n.nonEmpty && n == h, s"span_keep k=$k:\nnative=$n\nhof=$h")
    }
  }

  test("embedDocuments == HOF form on the real documents table (and the " +
      "dumped schema keeps a nullable embedding element)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val a = TextAnalysis.embedDocuments(docs, dim = 16)
      .orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.embedDocumentsHof(docs, dim = 16)
      .orderBy("doc_id").collect().toSeq
    assert(a.nonEmpty && a == b)
    val el = TextAnalysis.embedDocuments(docs, dim = 16)
      .schema("embedding").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
    assert(el.containsNull, "schema parity with the HOF chain (optional element)")
  }
}
