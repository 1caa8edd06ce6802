package graft

/** Headline benchmark: runs the bench-flagged subset of the query inventory
  * on SPARK_GRAFT_SF_DIR, prints one JSON line (driver contract). Queries
  * are forced with a `count()` (no results pulled to the driver).
  */
object Bench {

  /** Smallest driver-generated SF (TESTDATA.md): warmup compiles/JITs the
    * identical plans without touching the measured SF's data files. */
  val WarmupSfDir = "/root/testdata/sf0.001"

  /** The 19 queries benched since round 1. The bench set was widened in
    * round 8 (dedup/curation/decontam/profiling/multimodal families, per
    * the round-7 verdict), which changes what `value` sums over — this
    * subset's total is reported separately as `total_r1set` so every
    * historical BENCH_r*.json stays directly comparable. */
  val R1Set: Set[String] = Set(
    "q1_pricing_summary", "j3_chain_agg", "j_asof_join", "a4_last_wins",
    "w_topk_per_group", "w_topk_plan", "x_flagship_flatten",
    "seeding_pipeline", "wager_book_replay", "t_window_hourly",
    "t_session_windows", "decode_roundtrip", "dedup_minhash_pairs",
    "text_stats", "text_top_terms", "sim_brute_topk", "sim_topk_agg",
    "sim_ivf_topk", "sim_lsh_topk")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCpus)
    // Untimed warmup at the smallest SF: identical plans → codegen compiles
    // and JIT warm before the measured pass (same data files are NOT read).
    // Warmup and measurement are INTERLEAVED per query, so each query's
    // generated classes and JIT state are at their freshest when measured
    // (a separate warmup phase puts ~20 queries between a plan's compile
    // and its timing). Residual multi-second swings on single queries
    // (decode_roundtrip especially) tracked HOST load, not ordering —
    // re-run on a quiet box before treating one as a regression.
    // A query with NO successful repeat reports -1; one that succeeded
    // before a later repeat errored reports its min-of-successes AND its
    // error — so check the "errors" map, not the -1 sentinel alone, when
    // looking for failures.
    // Noise robustness: each query is measured `repeats` times in this one
    // JVM and the per-query MIN is reported — a single sample tracks host
    // CPU steal (documented 4.5 s ↔ 34 s swings on identical code), while
    // the min across repeats is the load-robust estimate of what the plan
    // actually costs. The repeat count is recorded in the JSON.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt.max(1)
    // Per-query repeat boost (VERDICT r15 #2): the rows that spiked 2–4×
    // under the r15 host-load burst get extra chances at a quiet sample,
    // so min-of-reps survives sustained contention without raising the
    // whole board's cost. The boost rides in the reps blob like any
    // other repeat — min(reps) stays the reported number.
    // r17 additions: the rows that spiked ≥8× in r16's contended driver
    // run (dedup_exact_substr 15.1 s vs 1.3 s quiet, pipeline_rag_retrieval
    // 24.1 vs 1.5, sim_ivf_topk 11.3 vs 1.1, sim_brute_topk 5.8 vs 0.7,
    // wager_book_replay 5.8 vs 0.7). Profiled (r17): zero spill at any
    // load — these are allocation-heavy stages (md5-per-anchor, per-pair
    // scoring) whose GC threads lose to CPU steal, so each rep is an
    // independent draw and min-of-6 under a synthetic 24-core load
    // measured within 1.5× of the quiet min (1.41 s vs 1.29 s for
    // dedup_exact_substr) where min-of-3 had landed at 15 s.
    val extraReps = Map(
      "er_fuzzy_pairs" -> 6, "t_session_windows" -> 6,
      "pipeline_curate_full" -> 6,
      "dedup_exact_substr" -> 6, "pipeline_rag_retrieval" -> 6,
      "sim_ivf_topk" -> 6, "sim_brute_topk" -> 6,
      "wager_book_replay" -> 6)
    // Host-contention evidence rides IN the artifact (VERDICT r13 #5):
    // /proc/loadavg at start/end plus every repeat's timing, so a spiked
    // min-of-reps is self-diagnosing (all reps high + load high = host;
    // all reps high + load low = code) without a judge re-run.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString("[", ",", "]")
      catch { case _: Throwable => "[]" }
    val loadStart = loadavg()
    val results = Queries.benchNames.map { name =>
      val fn = Queries.queries(name)
      try fn(spark, WarmupSfDir).count()
      catch { case t: Throwable =>
        System.err.println(s"[bench] warmup failed for $name: $t") }
      // A repeat that errors stops the loop, but timings already banked by
      // earlier successful repeats stand: the query reports min-of-successes
      // (and the error, for visibility); -1 only when NO repeat succeeded.
      var best = Double.MaxValue
      var successes = 0
      var err: Option[String] = None
      val reps = scala.collection.mutable.ArrayBuffer.empty[Double]
      val nReps = repeats.max(extraReps.getOrElse(name, 0))
      var i = 0
      while (i < nReps && err.isEmpty) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          // raw seconds, NOT rounded: `best` is min(reps), so the totals
          // line and the reps blob must agree to the last bit (ADVICE r14
          // — a ms-rounded rep could disagree with the reported min in
          // the final decimal)
          reps += sec
          best = math.min(best, sec)
          successes += 1
        } catch { case t: Throwable =>
          err = Some(s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(120)}") }
        i += 1
      }
      (name, if (successes == 0) -1.0 else best, err, reps.toSeq)
    }
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + v.toString }
      .mkString("{", ",", "}")
    val repsJson = results.map { case (k, _, _, rs) =>
        "\"" + k + "\":" + rs.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // Full RFC 8259 string escaping (same as Verify's): any raw control
    // char in an exception message would invalidate the whole JSON line.
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val errs = results.collect { case (k, _, Some(e), _) =>
        "\"" + k + "\":\"" + esc(e) + "\"" }
      .mkString("{", ",", "}")
    // Total counts only CLEAN queries (no error across all repeats): a query
    // that banked a timing and then errored mid-repeats keeps its per-query
    // min in `queries` (and its message in `errors`) but is excluded here,
    // so cross-round totals never silently compare a partially-failed run
    // against a healthy one.
    val total = results.collect { case (_, v, None, _) if v >= 0 => v }.sum
    val totalR1 = results.collect {
      case (k, v, None, _) if v >= 0 && R1Set(k) => v }.sum
    val loadEnd = loadavg()
    // TWO JSON lines, bulky blob FIRST (VERDICT r14 #4): the driver
    // captures the TAIL of stdout, and in r14 the single ever-growing
    // line was truncated mid-line, losing the headline fields. The
    // per-repeat samples (the big part) ride on their own leading line;
    // the compact totals line prints LAST so any tail capture always
    // holds a complete, parseable headline record.
    println(s"""{"metric":"reps","reps":$repsJson,"loadavg":{"start":$loadStart,"end":$loadEnd},"repeats":$repeats,"sf":"$sfDir"}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_r1set":$totalR1,"queries":$qs,"errors":$errs,"repeats":$repeats,"agg":"min","loadavg":{"start":$loadStart,"end":$loadEnd},"sf":"$sfDir"}""")
    spark.stop()
  }
}
