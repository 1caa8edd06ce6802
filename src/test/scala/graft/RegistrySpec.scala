package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Sanity guards on the driver-contract registry itself. */
class RegistrySpec extends AnyFunSuite {

  test("query names are unique") {
    val names = Queries.all.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicates: ${names.diff(names.distinct)}")
  }

  test("every bench query is registered, every oracle belongs to a query") {
    assert(Queries.benchNames.toSet.subsetOf(Queries.queries.keySet))
    assert(Queries.oracleSql.keySet.subsetOf(Queries.queries.keySet))
  }

  test("the r1 continuity subset stays inside the widened bench set") {
    assert(Bench.R1Set.subsetOf(Queries.benchNames.toSet),
      s"missing from bench: ${Bench.R1Set -- Queries.benchNames.toSet}")
  }

  test("SparkEntry surfaces the registry verbatim") {
    assert(SparkEntry.queries.keySet == Queries.queries.keySet)
    assert(SparkEntry.oracleSql == Queries.oracleSql)
  }

  test("every registered query is oracle-checked — zero rows-only entries") {
    // No exemptions (r16): the former rows-only artifact_catalog now
    // registers its deterministic checked face (fixed artifact set,
    // fingerprint-rule + cardinality oracle — VERDICT r15 #8); the
    // host-dependent byte-size listing moved to a spec-only debug view.
    val rowsOnly = Queries.queries.keySet -- Queries.oracleSql.keySet --
      Queries.all.filter(_.oracleFn.isDefined).map(_.name).toSet
    // The five formerly rows-only queries (uuid/RNG/HLL/KLL) now register
    // their hash-checked bound verdicts under the same names (round-7
    // verdict task 5), and the trained-IVF queries carry DERIVED oracles
    // (centroid literals, materialized at verify time — see
    // Queries.derivedOracleSql). Anything appearing here is a missing
    // oracle.
    assert(rowsOnly.isEmpty, s"unexpected rows-only queries: $rowsOnly")
  }

  test("no query has both a static and a derived oracle") {
    assert(Queries.all.forall(q => q.oracle.isEmpty || q.oracleFn.isEmpty))
  }

  /** How often `frag` appears in the main Scala sources. */
  private def mainCount(frag: String): Int = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val text = try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(Files.readString).mkString("\n") finally walk.close()
    text.split(java.util.regex.Pattern.quote(frag), -1).length - 1
  }

  test("the recall arithmetic is written once in src/main") {
    for (frag <- Seq("10000 div n_brute", "// base.n_brute"))
      assert(mainCount(frag) == 1, s"'$frag' must appear once, in the recall builder")
  }

  test("the search and BM25-index oracle steps are written once in src/main") {
    for ((frag, home) <- Seq(
        "6) DESC, cn.cell) AS crn" -> "Similarity.assignCellsSql",
        "6) DESC, cn.cell) AS pr" -> "Similarity.probeCellsSql",
        "CAST(rank AS INTEGER) AS rank, neighbor_id, cosine" -> "Similarity.cosineTopKSql",
        "tdf AS (SELECT term, count(*) AS df FROM post" -> "Retrieval.bm25IndexSql"))
      assert(mainCount(frag) == 1, s"'$frag' must appear once, in $home")
  }

  test("the recall builder keeps a query its tier misses and orders overlaps before bps") {
    val spark = TestSpark.spark
    import spark.implicits._
    val brute = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (20L, 5L), (20L, 6L))
      .toDF("query_id", "neighbor_id")
    val hitsOne = Seq((0L, 1L), (0L, 9L)).toDF("query_id", "neighbor_id")
    val hitsAll = brute.withColumn("rank", $"neighbor_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(_.asInstanceOf[Long])).toSet

    val single = Queries.overlap(brute, Seq(("n_overlap", "recall_bp", hitsOne)))
    assert(single.columns.toSeq == Seq("query_id", "n_brute", "n_overlap", "recall_bp"))
    assert(rows(single) == Set(Seq(0L, 4L, 1L, 2500L), Seq(20L, 2L, 0L, 0L)))
    val none = Queries.overlap(brute, Seq(("n_overlap", "recall_bp", hitsOne.limit(0))))
    assert(rows(none) == Set(Seq(0L, 4L, 0L, 0L), Seq(20L, 2L, 0L, 0L)))

    val pair = Queries.overlap(brute,
      Seq(("raw_overlap", "raw_bp", hitsOne), ("resid_overlap", "resid_bp", hitsAll)))
    assert(pair.columns.toSeq == Seq("query_id", "n_brute",
      "raw_overlap", "resid_overlap", "raw_bp", "resid_bp"))
    assert(rows(pair) == Set(Seq(0L, 4L, 1L, 4L, 2500L, 10000L),
      Seq(20L, 2L, 0L, 2L, 0L, 10000L)))
  }
}
