package graftbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Benchmark-owned `SparkListener`: totals of the public job/stage/task
  * events, filed under the job group the harness sets around each call
  * (`SparkContext.setJobGroup`). Registered on traced runs only, while
  * tracing is on. */
final class StageStats extends SparkListener {
  final class Totals {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var failedTasks = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
    var runMs = 0L
    var cpuNs = 0L
    var recordsRead = 0L
    /** per completed stage with ≥ 2 tasks: max task run time / median */
    val skews = mutable.ArrayBuffer.empty[Double]

    def json: Json.Obj = Json.obj(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
      "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
      "spill_bytes" -> spillBytes, "gc_ms" -> gcMs, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
      "records_read" -> recordsRead, "skews" -> skews.toSeq)
  }

  private val byGroup = mutable.LinkedHashMap.empty[String, Totals]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def totals(group: String): Totals = byGroup.getOrElseUpdate(group, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    totals(group).jobs += 1
    e.stageIds.foreach(id => stageGroup(id) = group)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(stageGroup.getOrElse(e.stageId, "(none)"))
    t.tasks += 1
    if (!e.taskInfo.successful) t.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.gcMs += m.jvmGCTime
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.recordsRead += m.inputMetrics.recordsRead
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val t = totals(stageGroup.getOrElse(id, "(none)"))
    t.stages += 1
    stageTaskMs.remove(id).foreach { ms =>
      if (ms.size >= 2) {
        val sorted = ms.sorted
        val med = sorted(sorted.size / 2).max(1L)
        t.skews += sorted.last.toDouble / med
      }
    }
  }

  def json: Json.Obj = synchronized(Json.obj(byGroup.toSeq.map { case (g, t) => g -> t.json }: _*))
}
