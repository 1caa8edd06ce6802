package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark startup is the dominant
  * test cost; suites must not stop it). Fixed at 4 cores rather than
  * SPARK_GRAFT_CPUS: the plan-shape pins carry partition counts. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.builder(4)
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
