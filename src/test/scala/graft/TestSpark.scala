package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** Asserts that `kernel` runs inside a whole-stage codegen stage (a
    * `*(n)` line) of `df`'s physical plan. An adaptive plan prints its
    * codegen stages only once final: when `df` has an exchange, call this
    * after `df` ran. */
  def assertCodegenStage(df: DataFrame, kernel: String): Unit = {
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains(kernel) &&
      l.matches("""^[\s+\-:|]*\*\(\d+\).*""")),
      s"$kernel did not run in a whole-stage codegen stage:\n$p")
  }
}
