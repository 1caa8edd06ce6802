package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev tool over the query registry (not part of the Bench / Verify /
  * Smoke contract). `runMain graft.Dev <subcommand> …`:
  *
  *  - `time <q,…> [reps]` — run the list in order `reps` times (default 1)
  *    in one JVM and print each query's wall time, row count and the
  *    number of classes whole-stage codegen compiled during it (the
  *    change in Spark's codegen compile count; a warm rep that still
  *    compiles shows generated code evicted from the codegen cache). One
  *    name times a single query; a list bisects cross-query interference;
  *    a second rep gives the warm number.
  *  - `explain <outDir> <suffix> <q,…>` — write each query's formatted
  *    physical plan to `<outDir>/<q>_<suffix>.txt` (before/after evidence).
  *  - `final-plan <q>` — run the query to completion and print the FINAL
  *    adaptive plan: after AQE stage reuse, runtime broadcast conversion
  *    and skew-join splitting, which a pre-execution explain cannot show.
  *    Reading caveat: every InMemoryTableScan reprints its whole cached
  *    derivation inline (nested caches recursively), so a raw FileScan
  *    count overstates real I/O — a cached subtree's scans execute once at
  *    materialization however often they print. Count scans per distinct
  *    InMemoryRelation.
  *  - `plans` — regenerate PLANS.md in the working directory. Pinned to
  *    sf0.001 on `local[4]`: the plan text carries partition counts. All
  *    queries are called once, and the cache cleared, before any is
  *    explained, so the text does not depend on which index artifacts
  *    already sat under `java.io.tmpdir`.
  *  - `jobs [q,…] [--trace]` — per query (default: the bench rows), one
  *    warm run, then a measured run reporting its Spark jobs, stages and
  *    tasks plus wall seconds. At bench SFs the data is small, so the
  *    barrier structure is what a row's seconds are made of, and it is the
  *    term that matters at cluster scale (each job a scheduling round-trip,
  *    each stage a shuffle barrier). `--trace` prints every job and stage
  *    (stage time, GC, spill) as they complete.
  *
  * Queries read SPARK_GRAFT_SF_DIR (default sf0.1) on SPARK_GRAFT_CPUS
  * local cores (default 4), except `plans`. */
object Dev {

  /** The headline queries PLANS.md shows. Left out on purpose, because
    * their pre-execution explain does not show the executed shape (read
    * them with `final-plan` instead):
    *  - sim_graph_topk / sim_graph_adc_topk / sim_graph_filtered /
    *    sim_cross_graph_topk: the beam's per-hop pools are
    *    localCheckpoint-cut, so the explain shows only the rank window over
    *    the checkpointed RDD; the per-hop shape is pinned by the oracles +
    *    GraphAnnSpec ladders (see PlanShapeSpec's graph pins);
    *  - pipeline_crawl_frontier / pipeline_wet_clean: the extracted-pages
    *    persist boundary reprints the frontier subtree per consumer (print
    *    inflation); the executed shape is pinned in PlanShapeSpec;
    *  - dedup_survivor_quality: the converged label frame is a
    *    localCheckpoint (executed: broadcast label frame onto ONE corpus
    *    scan + one cluster window);
    *  - graph_pagerank: the final explain reprints each iteration's full
    *    InMemoryRelation ancestry (10k+ lines); executed, it is 5 small
    *    per-iteration join+aggregate jobs. */
  private val PlanNames: Seq[String] = Seq("x_flagship_flatten", "seeding_pipeline", "sim_brute_topk",
    "dedup_minhash_pairs", "j_asof_join", "wager_book_replay", "q1_pricing_summary",
    "w_topk_plan", "j_range_join", "sketch_cms_heavyhitters", "u_merge_upsert",
    "pipeline_docs_prep", "sketch_quantile_hist",
    "decode_roundtrip", "sim_lsh_multiprobe", "pipeline_pack_docs",
    "pipeline_chunk_docs", "pipeline_class_sample",
    "dedup_exact_substr", "pipeline_curate_full", "pipeline_decontam_lsh",
    "multimodal_decode", "dedup_multimodal", "sim_ivf_incr",
    "x_variant_shred", "dedup_multimodal_incr", "sketch_hll_shards",
    "u_snapshot_diff",
    "er_fuzzy_pairs", "er_fuzzy_incr", "text_quality_model",
    "agg_incr_maintain", "agg_incr_distinct", "pipeline_epoch_upsample",
    "graph_triangles", "text_collocations", "text_familiarity",
    "text_corpus_drift",
    "pipeline_pack_ids", "multimodal_jpeg", "dedup_url",
    "text_html_extract", "text_clean_lines", "text_boilerplate_incr",
    "pipeline_page_clean", "text_bm25_topk",
    "pipeline_robots_filter", "a_host_profile", "text_bm25_fielded",
    "text_bm25_snippets",
    "text_hybrid_topk", "text_bm25_prf", "text_positional_incr",
    "dedup_semantic", "text_retrieval_eval",
    "text_hybrid_lsh", "text_bm25_indexed", "text_positional_delta",
    "sim_cross_ivf_topk", "sim_cross_lsh_mp",
    "sim_topk_agg", "text_hybrid_lsh4", "text_hybrid_ivf",
    "sim_binq_topk", "sim_binq_rerank", "sim_sq8_topk",
    "sim_pq_topk_wide", "sim_ivfpq_residual_wide", "text_hybrid_trained",
    "sim_ivf_filtered",
    "sim_binq_incr", "sim_residual_gain", "text_hybrid_trained_sweep",
    "sim_opq_topk", "text_mmr_local", "dedup_hamming_pairs",
    "dedup_hamming_incr_bloom", "sim_opq_ivfpq_topk", "sim_opq_recall",
    "sim_graph_build")

  private val Usage =
    "usage: graft.Dev time <q,...> [reps] | explain <outDir> <suffix> <q,...> | " +
      "final-plan <q> | plans | jobs [q,...] [--trace]"

  private def names(list: String): Seq[String] =
    list.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Wall seconds of one evaluation of `body`, with its result. */
  private def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      Paths.get(Bench.WarmupSfDir).resolveSibling("sf0.1").toString)
    def run(cpus: Int)(body: SparkSession => Unit): Unit = {
      val spark = Sessions.local(cpus)
      try body(spark) finally spark.stop()
    }
    args.toList match {
      case "time" :: list :: rest =>
        val reps = rest.headOption.map(_.toInt).getOrElse(1)
        run(Sessions.envCpus)(time(_, sfDir, names(list), reps))
      case List("explain", outDir, suffix, list) =>
        run(Sessions.envCpus)(explain(_, sfDir, outDir, suffix, names(list)))
      case List("final-plan", name) =>
        run(Sessions.envCpus)(finalPlan(_, sfDir, name))
      case List("plans") =>
        run(4)(plans(_, Bench.WarmupSfDir))
      case "jobs" :: rest =>
        val list = rest.filterNot(_ == "--trace").headOption.map(names)
        run(Sessions.envCpus)(jobs(_, sfDir,
          list.getOrElse(Queries.benchNames), rest.contains("--trace")))
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
  }

  private def time(spark: SparkSession, sfDir: String, qs: Seq[String],
      reps: Int): Unit = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    for (i <- 1 to reps; name <- qs) {
      val before = compiles.getCount
      val (sec, n) = timed(Queries.queries(name)(spark, sfDir).count())
      val compiled = compiles.getCount - before
      println(f"[time] $name rep $i: $sec%.2f s, $n rows, $compiled classes compiled")
    }
  }

  private def explain(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, qs: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    qs.foreach { name =>
      val txt = Queries.queries(name)(spark, sfDir).queryExecution
        .explainString(FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"[explain] wrote $outDir/${name}_$suffix.txt")
    }
  }

  private def finalPlan(spark: SparkSession, sfDir: String, name: String): Unit = {
    val df = Queries.queries(name)(spark, sfDir)
    val n = df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    println(s"[final-plan] $name rows=$n")
    println(plan.toString)
  }

  private def plans(spark: SparkSession, sfDir: String): Unit = {
    val out = new StringBuilder
    out ++= "# PLANS — formatted physical plans of the headline queries\n\n"
    out ++= "Generated by `graft.Dev plans` at sf0.001 (shape is SF-independent).\n"
    out ++= "Things to look for: `PushedFilters`/`ReadSchema` pruning on scans,\n"
    out ++= "`BroadcastHashJoin` on dims, `WindowGroupLimit` before rank\n"
    out ++= "exchanges, narrow Generate chains with no duplicate subtrees.\n"
    // One untimed call of every query first writes each missing
    // write-once index artifact; clearing the cache then drops the frames
    // those builds left persisted, which later queries' plans would
    // otherwise reuse. The explained calls so print the same text
    // whatever an earlier run left under java.io.tmpdir.
    PlanNames.foreach(Queries.queries(_)(spark, sfDir))
    spark.catalog.clearCache()
    PlanNames.foreach { name =>
      val plan = Queries.queries(name)(spark, sfDir).queryExecution
        .explainString(FormattedMode)
      // Escape raw control characters (the text_link_density / sentinel
      // literals leak into plan text): grep binary-detects the whole file
      // on a single raw control byte.
      val clean = plan.flatMap {
        case c if c != '\n' && c != '\t' && c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      out ++= s"\n## $name\n\n```\n$clean```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), out.toString)
    println(s"[plans] wrote ${out.length} chars")
  }

  private def jobs(spark: SparkSession, sfDir: String, qs: Seq[String],
      trace: Boolean): Unit = {
    @volatile var nJobs = 0
    @volatile var nStages = 0
    @volatile var nTasks = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        synchronized {
          nJobs += 1
          if (trace) {
            val d = Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("")
            val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
            println(f"[job] ${js.jobId}%3d stages=${js.stageInfos.size}%2d $site%-60s $d")
          }
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        synchronized {
          nStages += 1; nTasks += sc.stageInfo.numTasks
          if (trace) {
            val si = sc.stageInfo
            val ms = (for (a <- si.completionTime; b <- si.submissionTime)
              yield a - b).getOrElse(-1L)
            val tm = si.taskMetrics
            val spillM = if (tm == null) -1L else tm.memoryBytesSpilled
            val spillD = if (tm == null) -1L else tm.diskBytesSpilled
            val gc = if (tm == null) -1L else tm.jvmGCTime
            println(f"[stage] ${si.stageId}%4d tasks=${si.numTasks}%3d ${ms}%6d ms gc=${gc}%5d spillM=$spillM spillD=$spillD ${si.name.take(60)}")
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    println(f"${"query"}%-28s ${"s"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s")
    qs.foreach { name =>
      val fn = Queries.queries(name)
      fn(spark, sfDir).count() // warm: caches, codegen, JIT
      Thread.sleep(300) // let the async listener bus drain
      synchronized { nJobs = 0; nStages = 0; nTasks = 0 }
      val (sec, _) = timed(fn(spark, sfDir).count())
      Thread.sleep(300)
      println(f"$name%-28s $sec%7.2f $nJobs%5d $nStages%6d $nTasks%6d")
    }
  }
}
