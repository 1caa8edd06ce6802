package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Every main and the test
  * session build through here, so the local conf cannot drift between
  * them: `local[cpus]`, one shuffle partition per core, UTC session time,
  * AQE on (the Spark 4 default, stated so a changed default cannot move
  * the plans), no UI. */
object Sessions {

  /** SPARK_GRAFT_CPUS, 4 when unset — the core count the mains run on. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The shared conf, unstarted — for a caller that adds its own settings
    * (the test session adds an app name and a temp warehouse dir). */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")

  /** A started session on `cpus` local cores, logging WARN and up. */
  def local(cpus: Int): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
