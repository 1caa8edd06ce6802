package graft.operators

import graft.{Tables, TestSpark}
import graft.functions.SimFns.{l2Norm, toDouble}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The multi-probe IVF search against its single-probe form. */
class MultiProbeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("multi-probe search at P = 1 returns exactly the single-probe search") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val cents = Similarity.kmeansCentroids(e, nCells = 10)
    val assigned = Similarity.assignCells(
      e.select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .withColumn("nrm", l2Norm(col("v"))), cents)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Double)].collect().toSet
    val single = rows(Similarity.ivfTopKKmeans(e, k = 10, stride = 20,
      nCells = 10, nProbes = 1))
    val multi = rows(Similarity.searchMultiProbe(assigned, cents,
      k = 10, stride = 20, nProbes = 1))
    assert(single.nonEmpty)
    assert(multi == single)
  }
}
