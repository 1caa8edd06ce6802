package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Entry point of the benchmark JVM, started by `benchmark/run.py`.
  *
  * {{{
  * graftbench.Harness run    <workload> <seed> <seconds> <trace 0|1> <cores> <work dir> <golden> <out>
  * graftbench.Harness gen    <data dir> <sf> <data seed>
  * graftbench.Harness golden <work dir> <golden out>
  * }}}
  *
  * `run` expects `<work>/data_0 … data_<K-1>`: one copy of the input tables
  * per set-up round. It writes one raw JSON result (samples, not summaries)
  * to `<out>`; the runner turns samples into metrics.
  */
object Harness {
  val SetupRounds = 2

  final case class Ctx(workload: String, seed: Long, seconds: Double, traced: Boolean,
      cores: Int, work: File, golden: String, setupRounds: Int, jvmStartNs: Long) {
    val trace = new Trace(traced)
    val stages: Option[StageStats] = if (traced) Some(new StageStats) else None
    /** The context the stage listener is registered with: each set-up
      * round starts a new one. */
    private var listeningOn: Option[SparkContext] = None

    /** On a traced run, switches span recording and the stage listener on
      * or off, so the run can time the same operation both ways. */
    def tracing(spark: SparkSession, on: Boolean): Unit = stages.foreach { l =>
      trace.enabled = on
      val sc = spark.sparkContext
      if (on && !listeningOn.contains(sc)) {
        listeningOn.foreach(_.removeSparkListener(l))
        sc.addSparkListener(l)
        listeningOn = Some(sc)
      }
      if (!on) {
        listeningOn.foreach(_.removeSparkListener(l))
        listeningOn = None
      }
    }
  }

  /** `System.nanoTime` at the moment the JVM process started. */
  private def jvmStartNs(): Long = {
    val upMs = ManagementFactory.getRuntimeMXBean.getUptime
    System.nanoTime() - upMs * 1000000L
  }

  def session(ctx: Ctx): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName(s"graftbench-${ctx.workload}")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(ctx.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(ctx.work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ctx.tracing(spark, on = true)
    spark
  }

  // ---- memory ---------------------------------------------------------------

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val heapAfterGcPeak = new AtomicLong(0L)
  private val gcEvents = new AtomicLong(0L)

  /** Tracks the largest heap in use right after a full collection: the
    * live set, at the forced collections between operations and at any
    * full collection inside one. (After a young collection the heap still
    * holds the old generation's garbage, which depends on GC timing.) */
  private def watchGc(): Unit = {
    val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        gcEvents.incrementAndGet()
        if (info.getGcAction.contains("major")) {
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          heapAfterGcPeak.accumulateAndGet(after, math.max)
        }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** A full collection between operations, so the next heap-after-GC
    * reading starts from the live set; returns its pause in seconds. */
  def fullGc(): Double = {
    val t0 = System.nanoTime()
    System.gc()
    (System.nanoTime() - t0) / 1e9
  }

  private def heapInUse(): Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  private def nonHeapPeak(): Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum

  /** Cache-lifecycle counters, read after each pass: persisted RDDs, bytes
    * the block manager holds for them, and heap in use after a full
    * collection (forced here, outside the timed pass). */
  def cacheCounters(spark: SparkSession, pass: Int, phase: String): Json.Obj = {
    val sc = spark.sparkContext
    val storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val gcS = fullGc()
    Json.obj("pass" -> pass, "phase" -> phase,
      "persisted_rdds" -> sc.getPersistentRDDs.size,
      "storage_bytes" -> storage,
      "heap_after_gc_bytes" -> heapInUse(),
      "full_gc_s" -> gcS)
  }

  /** /proc/self/status VmHWM: the process's peak resident set, in bytes. */
  def peakRssBytes(): Long = procField("/proc/self/status", "VmHWM:")

  private def procField(path: String, key: String): Long =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().find(_.startsWith(key))
        .map(_.stripPrefix(key).trim.split("\\s+")(0).toLong * 1024L).getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  // ---- host -------------------------------------------------------------------

  private def readFile(path: String): String =
    try { val s = scala.io.Source.fromFile(path); try s.mkString finally s.close() }
    catch { case _: Throwable => "" }

  def loadavg(): Seq[Double] =
    readFile("/proc/loadavg").trim.split("\\s+").take(3).toSeq.flatMap(_.toDoubleOption)

  /** (steal, total) jiffies summed over all CPUs, from /proc/stat. */
  def cpuTimes(): (Long, Long) = {
    val cpu = readFile("/proc/stat").linesIterator.find(_.startsWith("cpu "))
    cpu.map { l =>
      val v = l.split("\\s+").drop(1).flatMap(_.toLongOption)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    }.getOrElse((0L, 0L))
  }

  /** Steal as a share of all CPU time between two [[cpuTimes]] readings. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("gen") =>
      val spark = SparkSession.builder().master("local[4]").appName("graftbench-gen")
        .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      DataGen.generate(spark, args(1), args(2).toDouble, args(3).toLong)
      spark.stop()
    case Some("golden") =>
      val work = new File(args(1))
      val ctx = Ctx("golden", 0L, 0.0, traced = false, 4, work, "", 1, jvmStartNs())
      val entries = BatchMix.Parts.flatMap { mix =>
        val (spark, dir, _) = Setup.rounds(ctx, mix.tables, mix.fixture, Nil)
        val out = mix.queries.map { q =>
          val (n, h) = BatchMix.fingerprint(graft.Queries.queries(q)(spark, dir))
          q -> Json.obj("rows" -> n, "hash" -> h)
        }
        spark.stop()
        out
      }
      Json.write(new File(args(2)), ListMap(entries.sortBy(_._1): _*))
    case Some("run") =>
      val Array(_, workload, seed, seconds, traced, cores, work, golden, out) = args
      watchGc()
      val ctx = Ctx(workload, seed.toLong, seconds.toDouble, traced == "1", cores.toInt,
        new File(work), golden, SetupRounds, jvmStartNs())
      val load0 = loadavg()
      val cpu0 = cpuTimes()
      val t0 = System.nanoTime()
      val body = workload match {
        case "push_feed" => new PushFeed(ctx).run()
        case w => new BatchRun(ctx, BatchMix.Mixes(w)).run()
      }
      val cpu1 = cpuTimes()
      val steal = stealShare(cpu0, cpu1)
      Json.write(new File(out), Json.obj(
        "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
        "traced" -> ctx.traced, "cores" -> ctx.cores,
        "run_s" -> (System.nanoTime() - t0) / 1e9,
        "body" -> body,
        "memory" -> Json.obj("heap_after_full_gc_peak_bytes" -> heapAfterGcPeak.get,
          "non_heap_peak_bytes" -> nonHeapPeak(), "gc_events" -> gcEvents.get,
          "vm_hwm_bytes" -> peakRssBytes()),
        "host" -> Json.obj("loadavg_start" -> load0, "loadavg_end" -> loadavg(),
          "cpu_steal_share" -> steal, "nproc" -> Runtime.getRuntime.availableProcessors()),
        "stages" -> ctx.stages.map(_.json).getOrElse(ListMap.empty),
        "trace" -> (if (ctx.traced) ctx.trace.json else ListMap.empty)))
    case other =>
      System.err.println(s"usage: graftbench.Harness run|gen|golden …  (got $other)")
      sys.exit(2)
  }
}

/** The raw result file and golden file, through the Jackson that ships
  * with Spark. Objects are insertion-ordered maps. */
object Json {
  type Obj = ListMap[String, Any]

  def obj(kv: (String, Any)*): Obj = ListMap(kv: _*)

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    mapper.writeValue(f, v)
  }

  def read(f: File): JsonNode = mapper.readTree(f)
}
