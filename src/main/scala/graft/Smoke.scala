package graft

/** Smoke main mirroring the driver's t1 check: run [[SparkEntry.entry]] on
  * sf0.001 and print the row count (driver requires > 0), plus the physical
  * plan so scale shape is reviewable per round.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.envCpus)
    val df = SparkEntry.entry(spark)
    println(s"[smoke] entry rows = ${df.count()}")
    df.show(5, truncate = 40, vertical = true)
    if (args.contains("--explain")) df.explain("formatted")
    spark.stop()
  }
}
