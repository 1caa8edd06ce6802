package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.{Base64, SplittableRandom}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.sources.FrameReplaySource
import graft.streaming.{EventStreams, Sinks, WagerBook}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Pusher-style frames for the push feed, drawn from the seed.
  *
  * A frame is one JSON envelope line `{"channel", "event_name", "payload"}`
  * with a base64 JSON payload. Broadcast frames carry a market update;
  * private frames carry a wager command (plus the market fields, so they
  * decode as updates too). Every payload's `updated_at` is the frame's due
  * time in epoch nanoseconds; a command's `tsn` is the same instant in
  * microseconds. A planted 0.5% of frames is bad: half are not JSON, half
  * carry a payload that is not base64.
  */
final class FrameGen(seed: Long) {
  private val mix = new SplittableRandom(seed)
  /** share of good frames on the broadcast channel, 0.6–0.8 by seed */
  val broadcastShare: Double = 0.6 + 0.2 * mix.nextDouble()
  /** share of private commands that are PLACE (rest CANCEL / NOOP) */
  val placeShare: Double = 0.45 + 0.2 * mix.nextDouble()
  private val b64 = Base64.getEncoder

  sealed trait Kind
  case object Broadcast extends Kind
  case object Private extends Kind
  case object Bad extends Kind

  private def rng(i: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ i)

  /** Draws the kind first, so `kind(i)` and `frame(i, _)` always agree. */
  private def kindOf(r: SplittableRandom): Kind =
    if (r.nextInt(200) == 0) Bad
    else if (r.nextDouble() < broadcastShare) Broadcast
    else Private

  def kind(i: Long): Kind = kindOf(rng(i))

  def frame(i: Long, dueNs: Long): String = {
    val r = rng(i)
    val k = kindOf(r)
    val event = r.nextInt(400).toLong
    val tournament = event % 5
    val odds = graft.functions.OddsFns.Ladder(r.nextInt(291))
    val market = s""""market_id":"m$event-${r.nextInt(8)}","event_id":$event,"tournament_id":$tournament,""" +
      s""""status":"${if (r.nextInt(10) == 0) "suspended" else "open"}","odds":$odds,"updated_at":$dueNs"""
    def envelope(channel: String, name: String, payload: String): String =
      s"""{"channel":"$channel","event_name":"$name","payload":"${b64.encodeToString(payload.getBytes(UTF_8))}"}"""
    k match {
      case Bad =>
        if (r.nextBoolean()) s"""{"channel":"broadcast-main","event_name":"tournament_$tournament",""" + "\"payload\":"
        else s"""{"channel":"broadcast-main","event_name":"tournament_$tournament","payload":"%%not-base64%%"}"""
      case Broadcast => envelope("broadcast-main", s"tournament_$tournament", s"{$market}")
      case Private =>
        val u = r.nextDouble()
        val op = if (u < placeShare) "PLACE" else if (u < placeShare + 0.3) "CANCEL" else "NOOP"
        val http = r.nextInt(20) match { case 0 => 404; case 1 => 500; case _ => 200 }
        val stake = math.round(r.nextDouble() * 50000) / 100.0
        envelope("private-user", "wager", s"""{$market,"tsn":${dueNs / 1000},""" +
          s""""external_id":"w${r.nextInt(400)}","op":"$op","http":$http,"wager_id":"srv$i","stake":$stake}""")
    }
  }
}

/** The open-loop push-feed workload.
  *
  * Two streaming queries read one frame log through `FrameReplaySource` and
  * `EventStreams.decodeFramesWithQuarantine`: the broadcast leg runs into the
  * watermarked `windowedOddsStats`, the private leg into `WagerBook.streamTws`;
  * each has its own `foreachBatch` sink and fires every 2 s
  * (`Sinks.cadence`). A generator thread appends frames at a fixed rate,
  * each due at `t0 + i / rate`; a frame's latency runs from its
  * due time to the commit of the sink batch that holds it (trigger start +
  * trigger duration, from the queries' progress events). A second phase
  * drains a fixed pre-written backlog with fresh checkpoints and
  * `Trigger.AvailableNow`; a traced run drains it once untraced and once
  * traced.
  */
object PushFeed {
  /** Per-batch progress of one query, as the listener saw it. */
  final case class Progress(query: String, runId: String, batch: Long, start: Long, end: Long,
      triggerStartMs: Long, durations: Map[String, Long], rows: Long,
      stateRows: Long, stateBytes: Long, watermarkMs: Long, observed: Map[String, Long])
}

final class PushFeed(ctx: Harness.Ctx) {
  import PushFeed.Progress

  /** Frames per second in the live phase: the lowest of the rates the feed
    * was sized at on 4 cores (2k, 20k and 60k frames/s; at 60k/s the
    * backlog grows). */
  val Rate = 2000.0
  /** Seconds between live triggers. A trigger costs about 0.7 s whatever
    * its size (state commit, sink), so at 1 s the legs ran near saturation
    * and host load decided whether batches queued. */
  val CadenceS = 2
  val WarmS = 1.0              // generator runs this long before timing starts
  val PrimeFrames = 1000L      // drained by each set-up round
  val Backlog = 8000L          // frames per drain pass
  val DrainBatch = 4000        // maxFramesPerBatch while draining
  val MaxLateMs = 100.0        // a generator later than this invalidates the run
  val WindowLen = "2 seconds"
  val Watermark = "1 second"

  private val trace = ctx.trace
  private val gen = new FrameGen(ctx.seed)
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  private def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; errors += what }
  }

  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val sinkMs = new ConcurrentLinkedQueue[(String, Double)]()

  private object Listener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.sources.nonEmpty && p.sources(0).endOffset != null) {
        val src = p.sources(0)
        val obs = Option(p.observedMetrics).map(_.asScala.toMap).getOrElse(Map.empty)
          .values.flatMap(r => r.schema.fieldNames.zipWithIndex.map { case (n, i) =>
            n -> (if (r.isNullAt(i)) 0L else r.getLong(i)) }).toMap
        val wm = Option(p.eventTime.get("watermark"))
          .map(s => java.time.Instant.parse(s).toEpochMilli).getOrElse(-1L)
        progress.add(Progress(p.name, p.runId.toString, p.batchId,
          Option(src.startOffset).map(_.trim.toLong).getOrElse(0L), src.endOffset.trim.toLong,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum,
          wm, obs))
      }
    }
  }

  // ---- the two legs ----------------------------------------------------

  private def frames(spark: SparkSession, log: File, maxPerBatch: Int): DataFrame =
    spark.readStream.format(FrameReplaySource.Name)
      .option("path", log.getAbsolutePath)
      .option("maxFramesPerBatch", maxPerBatch)
      .option("numSlices", ctx.cores)
      .load()

  /** Counts every frame in, every quarantined frame, and every frame that
    * the leg keeps, per micro-batch (visible in the progress events). */
  private def observed(decoded: DataFrame, leg: String, keep: org.apache.spark.sql.Column): DataFrame =
    decoded.observe(leg,
      count(lit(1)).as("n_in"),
      sum(when(!col("decode_ok"), 1L).otherwise(0L)).as("n_bad"),
      sum(when(col("decode_ok") && keep, 1L).otherwise(0L)).as("n_leg"))

  private val isBroadcast = col("channel").contains("broadcast")

  def commands(privateFrames: DataFrame): Dataset[WagerBook.Command] = {
    import privateFrames.sparkSession.implicits._
    val pj = unbase64(get_json_object(col("raw"), "$.payload")).cast("string")
    def f(n: String) = get_json_object(pj, "$." + n)
    privateFrames.select(
      f("tsn").cast("long").as("tsn"), f("event_id").cast("long").as("eventId"),
      f("external_id").as("externalId"), f("op").as("op"), f("http").cast("int").as("http"),
      f("wager_id").as("wagerId"), f("stake").cast("double").as("stake"))
      .as[WagerBook.Command]
  }

  final class Legs(val bq: StreamingQuery, val pq: StreamingQuery,
      val windows: mutable.Map[(Long, Long), Row], val book: mutable.Map[Int, Set[(String, String, Double)]]) {
    def stop(): Unit = { bq.stop(); pq.stop() }
  }

  private def startLegs(spark: SparkSession, log: File, ckpt: File, name: String,
      maxPerBatch: Int, availableNow: Boolean): Legs = {
    val windows = mutable.Map.empty[(Long, Long), Row]
    val book = mutable.Map.empty[Int, Set[(String, String, Double)]]
    // Live legs fire on a processing-time cadence (`Sinks.cadence`), which
    // aligns both legs' triggers to the same wall-clock instants; drains
    // run as fast as they can.
    def trig[T](w: org.apache.spark.sql.streaming.DataStreamWriter[T]) =
      w.trigger(if (availableNow) Trigger.AvailableNow() else Sinks.cadence(CadenceS))
    val decodedB = observed(EventStreams.decodeFramesWithQuarantine(frames(spark, log, maxPerBatch)),
      s"$name-b", isBroadcast)
    val stats = EventStreams.windowedOddsStats(
      EventStreams.broadcastLeg(decodedB.where(col("decode_ok"))), WindowLen, Some(Watermark))
    val bq = trig(stats.writeStream.queryName(s"$name-b").outputMode("update")
      .option("checkpointLocation", new File(ckpt, "b").getAbsolutePath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val t0 = System.nanoTime()
        val rows = batch.collect()
        windows.synchronized(rows.foreach(r => windows((r.getLong(0), r.getLong(1))) = r))
        sinkMs.add(s"$name-b" -> (System.nanoTime() - t0) / 1e6)
        ()
      }).start()
    val decodedP = observed(EventStreams.decodeFramesWithQuarantine(frames(spark, log, maxPerBatch)),
      s"$name-p", !isBroadcast)
    val snapshots = WagerBook.streamTws(spark,
      commands(EventStreams.privateLeg(decodedP.where(col("decode_ok")))), nShards = ctx.cores)
    val pq = trig(snapshots.writeStream.queryName(s"$name-p").outputMode("update")
      .option("checkpointLocation", new File(ckpt, "p").getAbsolutePath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val t0 = System.nanoTime()
        // A batch is the complete book of every shard it names.
        val byShard = batch.select("shard", "externalId", "wagerId", "stake").collect()
          .groupBy(_.getInt(0))
        book.synchronized(byShard.foreach { case (s, rows) =>
          book(s) = rows.map(w => (w.getString(1), w.getString(2), w.getDouble(3))).toSet })
        sinkMs.add(s"$name-p" -> (System.nanoTime() - t0) / 1e6)
        ()
      }).start()
    new Legs(bq, pq, windows, book)
  }

  // ---- frame logs --------------------------------------------------------

  private final class LogWriter(file: File) {
    private val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file, true), UTF_8), 1 << 16)
    var written = 0L
    def append(line: String): Unit = { out.write(line); out.write('\n'); written += 1 }
    def flush(): Unit = out.flush()
    def close(): Unit = out.close()
  }

  /** Appends frames [from, until) with due times `dueMs(i)`, all at once. */
  private def writeFrames(w: LogWriter, from: Long, until: Long, dueMs: Long => Double): Unit = {
    var i = from
    while (i < until) { w.append(gen.frame(i, (dueMs(i) * 1e6).toLong)); i += 1 }
    w.flush()
  }

  // ---- batch reference results -------------------------------------------

  private def batchDecoded(spark: SparkSession, log: File): DataFrame =
    EventStreams.decodeFramesWithQuarantine(spark.read.text(log.getAbsolutePath).toDF("raw"))

  /** Checks one finished phase against the batch operators over the same log. */
  private def checkContent(spark: SparkSession, log: File, legs: Legs, phase: String): Unit = {
    import spark.implicits._
    val decoded = batchDecoded(spark, log).where(col("decode_ok")).cache()
    try {
      val wantBook = WagerBook.batchReplay(commands(EventStreams.privateLeg(decoded)).toDF()
          .select(col("tsn"), col("eventId").as("event_id"), col("externalId").as("external_id"),
            col("op"), col("http"), col("wagerId").as("wager_id"), col("stake")))
        .as[(String, String, Double)].collect().toSet
      val gotBook = legs.book.synchronized(legs.book.values.flatten.toSet)
      check(wantBook == gotBook && wantBook.nonEmpty,
        s"$phase: streamed book (${gotBook.size}) != batch replay (${wantBook.size}); " +
          s"missing ${(wantBook -- gotBook).take(3)} extra ${(gotBook -- wantBook).take(3)}")
      val wantWin = EventStreams.windowedOddsStats(EventStreams.broadcastLeg(decoded), WindowLen, None)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq).toMap
      val gotWin = legs.windows.synchronized(legs.windows.map { case (k, r) => k -> r.toSeq }.toMap)
      check(wantWin == gotWin && wantWin.nonEmpty,
        s"$phase: streamed windows (${gotWin.size}) != batch windows (${wantWin.size})")
    } finally decoded.unpersist()
  }

  /** sent = delivered + quarantined, on both legs, over frames [0, sent). */
  private def checkCounts(name: String, sent: Long): Unit = {
    val ps = progress.asScala.toSeq
    def total(q: String, k: String) = ps.filter(_.query == q).map(_.observed.getOrElse(k, 0L)).sum
    val planted = (0L until sent).count(i => gen.kind(i) == gen.Bad).toLong
    val bIn = total(s"$name-b", "n_in"); val pIn = total(s"$name-p", "n_in")
    val bBad = total(s"$name-b", "n_bad"); val pBad = total(s"$name-p", "n_bad")
    val bLeg = total(s"$name-b", "n_leg"); val pLeg = total(s"$name-p", "n_leg")
    val delivered = bLeg + pLeg
    attempted += sent
    val missing = math.max(0L, sent - delivered - planted)
    failed += missing
    if (!(bIn == sent && pIn == sent && bBad == planted && pBad == planted && delivered + planted == sent)) {
      failed += 1
      errors += s"$name: sent $sent, in b=$bIn p=$pIn, quarantined b=$bBad p=$pBad " +
        s"(planted $planted), delivered $delivered"
    }
    attempted += 1
  }

  /** Waits (at most `timeoutMs`) until both legs of `name` have reported a
    * batch ending at `until`; progress events reach the listener
    * asynchronously. A shortfall shows in [[checkCounts]]. */
  private def awaitProgress(name: String, until: Long, timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline && Seq("b", "p").exists(l =>
        !progress.asScala.exists(p => p.query == s"$name-$l" && p.end >= until)))
      Thread.sleep(10)
  }

  // ---- the run -------------------------------------------------------------

  def run(): Json.Obj = {
    // Set-up rounds: a fresh session, then both legs started over a fresh
    // log of primed frames and drained to the end of it (AvailableNow, so
    // the round's time does not depend on the live cadence).
    var spark: SparkSession = null
    val setup = (0 until ctx.setupRounds).map { r =>
      val t0 = if (r == 0) ctx.jvmStartNs else System.nanoTime()
      if (spark != null) spark.stop()
      trace.operation(s"setup-$r")
      val dir = new File(ctx.work, s"feed_$r"); dir.mkdirs()
      System.setProperty("java.io.tmpdir", new File(ctx.work, s"tmp_$r").getAbsolutePath)
      spark = trace.span("sources.session")(Harness.session(ctx))
      spark.streams.addListener(Listener)
      val primeLog = new File(dir, "prime.jsonl")
      val pw = new LogWriter(primeLog)
      val primeT0 = System.currentTimeMillis() - 60000.0
      writeFrames(pw, 0L, PrimeFrames, i => primeT0 + i * 10.0)
      pw.close()
      val tStart = System.nanoTime()
      trace.span("stream.prime") {
        val pl = startLegs(spark, primeLog, new File(dir, "ckpt"), s"prime$r",
          maxPerBatch = PrimeFrames.toInt, availableNow = true)
        pl.bq.awaitTermination(); pl.pq.awaitTermination()
      }
      val tEnd = System.nanoTime()
      Json.obj("round" -> r, "total_s" -> (tEnd - t0) / 1e9,
        "start_and_prime_s" -> (tEnd - tStart) / 1e9, "full_gc_s" -> Harness.fullGc())
    }
    val name = "live"
    val liveLog = new File(ctx.work, "live.jsonl")
    val live = new LogWriter(liveLog)
    val legs = trace.span("stream.start")(startLegs(spark, liveLog, new File(ctx.work, "live_ckpt"),
      name, maxPerBatch = 1000000, availableNow = false))
    // The backlog is written once, untimed, before the live phase.
    val backlog = new File(ctx.work, "backlog.jsonl")
    val bw = new LogWriter(backlog)
    writeFrames(bw, 0L, Backlog, i => 1.7e12 + i * 0.25)
    bw.close()

    // Live phase: open-loop generator on its own thread.
    val t0Ms = System.currentTimeMillis() + 200.0
    val timedFromMs = t0Ms + WarmS * 1000
    val untilMs = timedFromMs + ctx.seconds * 1000
    val sentUntil = ((untilMs - t0Ms) * Rate / 1000).toLong
    def dueMs(i: Long): Double = t0Ms + i * 1000.0 / Rate
    @volatile var maxLateMs = 0.0
    val generator = new Thread(() => {
      var next = 0L
      while (next < sentUntil) {
        val now = System.currentTimeMillis().toDouble
        var end = next
        while (end < sentUntil && dueMs(end) <= now) end += 1
        if (end > next) {
          writeFrames(live, next, end, dueMs)
          maxLateMs = math.max(maxLateMs, System.currentTimeMillis() - dueMs(next))
          next = end
        } else Thread.sleep(math.max(1L, (dueMs(next) - now).toLong))
      }
    }, "frame-generator")
    trace.operation("live")
    generator.start()
    generator.join()
    live.close()
    val liveEndMs = System.currentTimeMillis()
    // Until both legs have committed every frame sent. (processAllAvailable
    // would also wait for one more, empty, trigger.)
    trace.span("stream.catch_up")(awaitProgress(name, sentUntil, timeoutMs = 30000))
    val catchUpMs = System.currentTimeMillis() - liveEndMs
    legs.stop()
    val liveProgress = progress.asScala.toSeq
    check(maxLateMs < MaxLateMs,
      f"generator fell $maxLateMs%.0f ms behind schedule (limit $MaxLateMs%.0f ms): run invalid")
    checkCounts(name, sentUntil)
    trace.span("verify.live")(checkContent(spark, liveLog, legs, "live"))

    // Per-frame latency: due time -> commit of the batch that held it.
    val firstTimed = ((timedFromMs - t0Ms) * Rate / 1000).toLong
    val latencies = mutable.ArrayBuffer.empty[Double]
    Seq("b", "p").foreach { leg =>
      liveProgress.filter(_.query == s"$name-$leg").foreach { p =>
        val commitMs = p.triggerStartMs + p.durations.getOrElse("triggerExecution", 0L)
        var i = math.max(p.start, firstTimed)
        while (i < p.end) {
          val k = gen.kind(i)
          val mine = if (leg == "b") k != gen.Private else k == gen.Private
          if (mine) latencies += commitMs - dueMs(i)
          i += 1
        }
      }
    }

    Harness.fullGc()

    // Drain phase: the same backlog, fresh checkpoints each pass; untraced,
    // then (on a traced run) traced.
    val phases = if (ctx.traced) Seq("timed", "traced") else Seq("timed")
    val drains = phases.zipWithIndex.map { case (phase, d) =>
      ctx.tracing(spark, on = phase == "traced")
      trace.operation(s"drain-$d")
      val dname = s"drain$d"
      val t0 = System.nanoTime()
      val dl = trace.span("stream.drain") {
        val l = startLegs(spark, backlog, new File(ctx.work, s"drain_ckpt_$d"), dname,
          DrainBatch, availableNow = true)
        l.bq.awaitTermination(); l.pq.awaitTermination()
        l
      }
      val secs = (System.nanoTime() - t0) / 1e9
      awaitProgress(dname, Backlog)
      checkCounts(dname, Backlog)
      if (d == 0) trace.span("verify.drain")(checkContent(spark, backlog, dl, dname))
      Harness.fullGc()
      Json.obj("phase" -> phase, "s" -> secs)
    }
    spark.stop()
    val allProgress = progress.asScala.toSeq
    Json.obj(
      "setup" -> setup,
      "rate_fps" -> Rate,
      "t0_ms" -> t0Ms,
      "warm_s" -> WarmS,
      "frames_sent" -> sentUntil,
      "frames_timed" -> (sentUntil - firstTimed),
      "generator_max_late_ms" -> maxLateMs,
      "generator_valid" -> (maxLateMs < MaxLateMs),
      "catch_up_ms" -> catchUpMs,
      "latency_ms" -> latencies.toSeq,
      "backlog_frames" -> Backlog,
      "drains" -> drains,
      "progress" -> allProgress.map(p => Json.obj("query" -> p.query, "run_id" -> p.runId,
        "batch" -> p.batch,
        "start" -> p.start, "end" -> p.end, "trigger_start_ms" -> p.triggerStartMs,
        "durations_ms" -> p.durations, "rows" -> p.rows, "state_rows" -> p.stateRows,
        "state_bytes" -> p.stateBytes, "watermark_ms" -> p.watermarkMs,
        "observed" -> p.observed)),
      "sink_ms" -> sinkMs.asScala.toSeq.map { case (q, ms) => Json.obj("query" -> q, "ms" -> ms) },
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq)
  }
}
