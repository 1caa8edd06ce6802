package graftbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The closed-loop batch workloads: one client runs the mix's registry
  * queries back to back, in a per-pass order drawn from the seed. */
object BatchMix {
  /** `maxWarm`: the most untimed count passes after the verification pass
    * (see [[BatchRun]]). */
  final case class Mix(name: String, queries: Seq[String], tables: Seq[String],
      fixture: Boolean, maxWarm: Int)

  /** The two query mixes; golden.json holds every query of both. */
  val Parts: Seq[Mix] = Seq(
    Mix("betting_etl",
      Seq("seeding_pipeline", "x_flagship_flatten", "decode_roundtrip",
        "wager_book_replay", "t_window_hourly", "t_session_windows"),
      Seq("region", "orders", "lineitem", "events"), fixture = true, maxWarm = 2),
    Mix("llm_curation",
      Seq("dedup_minhash_pairs", "dedup_exact_substr", "pipeline_curate_full",
        "sim_ivf_topk", "sim_graph_adc_topk", "text_bm25_topk"),
      Seq("documents", "embeddings"), fixture = false, maxWarm = 0))

  /** Both mixes as one closed loop, so one JVM start, set-up and
    * verification pass pays for twelve queries (see README.md). */
  val Both: Mix = Mix("batch_mix", Parts.flatMap(_.queries), Parts.flatMap(_.tables),
    fixture = true, maxWarm = 0)

  val Mixes: Map[String, Mix] = (Parts :+ Both).map(m => m.name -> m).toMap

  /** Row count and order-insensitive content hash of a query result, as a
    * one-row aggregate over it. Floating values are compared at 1e-6
    * (rounded to a scaled long) so summation order across tasks cannot
    * change the hash; the per-row hashes are summed, so row order does not
    * matter either. */
  def fingerprintOf(df: DataFrame): DataFrame = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType) * 1e6).cast(LongType)
      case _: DecimalType => round(c.cast(DoubleType) * 1e6).cast(LongType)
      case ArrayType(et, _) => transform(c, x => canon(x, et))
      case StructType(fs) => struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
      case TimestampType | TimestampNTZType | DateType => c.cast(StringType)
      case _ => c
    }
    val cols = df.schema.fields.toIndexedSeq.map(f => canon(col(f.name), f.dataType))
    df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))).cast(StringType))
  }

  def fingerprint(df: DataFrame): (Long, String) = {
    val r = fingerprintOf(df).head()
    (r.getLong(0), r.getString(1))
  }

  final case class Golden(rows: Long, hash: String)

  /** One query execution of a verification, warm-up, timed or traced pass. */
  final case class Exec(pass: Int, phase: String, query: String, buildNs: Long, planNs: Long,
      execNs: Long, rows: Long, ok: Boolean)

  def readGolden(path: String): Map[String, Golden] =
    Json.read(new File(path)).fields().asScala.map { e =>
      e.getKey -> Golden(e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
    }.toMap
}

/** One run of a batch workload: K set-up rounds; untimed warm-up passes,
  * the first of which checks every result's row count and content hash
  * against the golden file, until the pass time is steady; then timed
  * passes for the given seconds (on a traced run, alternating with as many
  * traced passes). Every later execution's row count is checked too. */
final class BatchRun(ctx: Harness.Ctx, mix: BatchMix.Mix) {
  import BatchMix._

  /** Warm-up stops when two consecutive passes agree within this share. */
  val SteadyShare = 0.05
  /** Timed passes per kind, however short `seconds` is: one order and its
    * reverse. The pass time is their median. */
  val MinTimedPasses = 2

  private val trace = ctx.trace
  private val golden = readGolden(ctx.golden)
  private val queries = graft.Queries.queries
  private val rnd = new scala.util.Random(ctx.seed)

  private val execs = ArrayBuffer.empty[Exec]
  private val passes = ArrayBuffer.empty[Json.Obj]
  private val cacheSeries = ArrayBuffer.empty[Json.Obj]
  private val errors = ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  /** Builds, plans and executes one query exactly as `Dataset.count()` does
    * (a global count over the query's plan), timing the three steps:
    * `build` calls the registry fn, `plan` forces the executed plan, `exec`
    * collects the count. The verification pass runs the fingerprint
    * aggregate instead of the count. */
  private def runQuery(spark: SparkSession, dir: String, pass: Int, phase: String, q: String): Exec = {
    spark.sparkContext.setJobGroup(q, q, interruptOnCancel = false)
    attempted += 1
    val verify = phase == "verify"
    try {
      val t0 = System.nanoTime()
      val df = trace.span(s"query.$q.build")(queries(q)(spark, dir))
      val t1 = System.nanoTime()
      val agg = if (verify) fingerprintOf(df) else df.groupBy().count()
      trace.span(s"query.$q.plan")(agg.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val r = trace.span(s"query.$q.exec")(agg.collect()(0))
      val t3 = System.nanoTime()
      val rows = r.getLong(0)
      val ok = golden.get(q).exists(g => if (verify) g == Golden(rows, r.getString(1)) else g.rows == rows)
      if (!ok) {
        failed += 1
        errors += s"$q ($phase): rows $rows${if (verify) s" hash ${r.getString(1)}" else ""}, golden ${golden.get(q)}"
      }
      Exec(pass, phase, q, t1 - t0, t2 - t1, t3 - t2, rows, ok)
    } catch {
      case t: Throwable =>
        failed += 1
        errors += s"$q: ${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(200)}"
        Exec(pass, phase, q, 0L, 0L, 0L, -1L, ok = false)
    } finally spark.sparkContext.clearJobGroup()
  }

  /** The last query order of each phase. */
  private val lastOrder = mutable.Map.empty[String, Seq[String]]

  /** The query order of the next pass of `phase`. The verification pass
    * runs the mix in its listed order, so the JIT and heap state the timed
    * passes start from does not depend on the seed. Other passes come in
    * pairs: a seed-drawn order, then its reverse, so that within a pair
    * every query runs once early and once late in a pass. */
  private def orderOf(phase: String): Seq[String] =
    if (phase == "verify") mix.queries
    else lastOrder.remove(phase).map(_.reverse).getOrElse {
      val drawn = rnd.shuffle(mix.queries)
      lastOrder(phase) = drawn
      drawn
    }

  /** One pass over the mix in [[orderOf]] order; returns its wall time.
    * The cache counters (and a full collection) follow, untimed. */
  private def pass(spark: SparkSession, dir: String, phase: String): Double = {
    val idx = passes.size
    trace.operation(s"$phase-$idx")
    val order = orderOf(phase)
    val host0 = Harness.cpuTimes()
    val t0 = System.nanoTime()
    execs ++= trace.span("pass")(order.map(q => runQuery(spark, dir, idx, phase, q)))
    val secs = (System.nanoTime() - t0) / 1e9
    val host1 = Harness.cpuTimes()
    passes += Json.obj("pass" -> idx, "phase" -> phase, "s" -> secs,
      "steal_share" -> Harness.stealShare(host0, host1))
    cacheSeries += Harness.cacheCounters(spark, idx, phase)
    secs
  }

  /** Timed passes in whole pairs (see [[orderOf]]) until `seconds` of them
    * have run, at least [[MinTimedPasses]]. A traced run alternates
    * untraced and traced passes until each kind has run that long, so both
    * see the same JIT and host state. */
  private def measure(spark: SparkSession, dir: String): Unit = {
    val phases = if (ctx.traced) Seq("timed", "traced") else Seq("timed")
    val spent = mutable.Map(phases.map(_ -> 0.0): _*)
    var i = 0
    while (spent.values.exists(_ < ctx.seconds) || i < MinTimedPasses * phases.size ||
        i % (2 * phases.size) != 0) {
      val phase = phases(i % phases.size)
      ctx.tracing(spark, on = phase == "traced")
      spent(phase) += pass(spark, dir, phase)
      i += 1
    }
  }

  def run(): Json.Obj = {
    val (spark, dir, setup) = Setup.rounds(ctx, mix.tables, mix.fixture, mix.queries)
    ctx.tracing(spark, on = false)
    // Warm-up: the verification pass, then untimed count passes until two
    // consecutive ones agree within 5%, at most `maxWarm` of them. On
    // betting_etl alone the JIT keeps shortening count passes for two passes
    // after the verification pass, whose fingerprint plans share little code
    // with the count plans over its large results. batch_mix and
    // llm_curation run none: there the verification pass runs the LLM
    // queries' operator work as a count pass would, and one more batch_mix
    // pass (about 10 s) in every run would not fit the run budget.
    pass(spark, dir, "verify")
    val warm = ArrayBuffer.empty[Double]
    def steady = warm.size >= 2 && {
      val Seq(a, b) = warm.takeRight(2).toSeq
      math.abs(a - b) / b < SteadyShare
    }
    while (!steady && warm.size < mix.maxWarm) warm += pass(spark, dir, "warm")
    measure(spark, dir)
    val result = Json.obj(
      "setup" -> setup,
      "warmup_steady" -> steady,
      "passes" -> passes.toSeq,
      "execs" -> execs.toSeq.map(e => Json.obj("pass" -> e.pass, "phase" -> e.phase,
        "query" -> e.query, "build_ns" -> e.buildNs, "plan_ns" -> e.planNs,
        "exec_ns" -> e.execNs, "rows" -> e.rows, "ok" -> e.ok)),
      "cache" -> cacheSeries.toSeq,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq)
    spark.stop()
    result
  }
}

/** Set-up, repeated: each round starts a fresh session over its own copy of
  * the input directory and an empty artifact root (`java.io.tmpdir`), loads
  * the tables, builds the nested fixture if the mix reads it, and builds
  * every query of the mix once, which writes the index artifacts. Round 0
  * is timed from JVM start. A full collection follows each round, untimed.
  * The last round's session is kept for the run. */
object Setup {
  def rounds(ctx: Harness.Ctx, tables: Seq[String], fixture: Boolean,
      build: Seq[String]): (SparkSession, String, Seq[Json.Obj]) = {
    val trace = ctx.trace
    var spark: SparkSession = null
    var dir = ""
    val rounds = (0 until ctx.setupRounds).map { r =>
      val t0 = if (r == 0) ctx.jvmStartNs else System.nanoTime()
      if (spark != null) spark.stop()
      trace.operation(s"setup-$r")
      val tmp = new File(ctx.work, s"tmp_$r")
      tmp.mkdirs()
      System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
      dir = new File(ctx.work, s"data_$r").getAbsolutePath
      val tSession = System.nanoTime()
      spark = trace.span("sources.session")(Harness.session(ctx))
      val tLoad = System.nanoTime()
      trace.span("sources.table_load")(tables.foreach(t => graft.Tables(spark, dir, t)))
      val tFixture = System.nanoTime()
      if (fixture) trace.span("sources.fixture_build") {
        graft.sources.BettingFixture.sportEventsCached(spark, dir)
      }
      val tBuild = System.nanoTime()
      val artifacts = new File(tmp, "graft_artifacts_v1")
      val perQuery = trace.span("sources.artifact_build")(build.map { q =>
        val t = System.nanoTime()
        graft.Queries.queries(q)(spark, dir)
        q -> (System.nanoTime() - t) / 1e9
      })
      val tEnd = System.nanoTime()
      Json.obj("round" -> r, "total_s" -> (tEnd - t0) / 1e9, "full_gc_s" -> Harness.fullGc(),
        "jvm_to_session_s" -> (if (r == 0) (tSession - t0) / 1e9 else 0.0),
        "session_s" -> (tLoad - tSession) / 1e9,
        "table_load_s" -> (tFixture - tLoad) / 1e9,
        "fixture_build_s" -> (tBuild - tFixture) / 1e9,
        "artifact_build_s" -> (tEnd - tBuild) / 1e9,
        "query_build_s" -> Json.obj(perQuery: _*),
        "artifact_bytes" -> FileUtil.bytesUnder(artifacts))
    }
    (spark, dir, rounds)
  }
}
