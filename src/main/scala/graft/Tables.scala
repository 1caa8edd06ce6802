package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * `events.parquet` carries an INT64 TIMESTAMP(NANOS) column which Spark's
  * parquet reader rejects by default; we read it as raw epoch-nanosecond
  * longs (`spark.sql.legacy.parquet.nanosAsLong`). That is also the shape
  * the reference pipeline works with: `updated_at` is an epoch-nanoseconds
  * integer divided by 1e9 at the edge (reference `src/main.py:126-128`), so
  * all nanosecond→timestamp conversion goes through
  * [[graft.functions.TimeFns.nanosToTimestamp]].
  */
object Tables {
  /** The driver's tables are single-file, single-row-group parquet, so the
    * file scan is one task no matter what `maxPartitionBytes` says (a row
    * group is the atomic split unit) — and every narrow pipeline above it
    * would run on one core. When the scan's planned parallelism is below
    * the session's, fan out with one cheap hash exchange on the leading id
    * column (tens of MB here; see [[load]]). On a real many-file/many-row-group
    * layout — the 100 TB case — the scan is already parallel and this is a
    * no-op. */
  /** Memo of loaded table frames, keyed (session, path) — r16 session 2.
    * `spark.read.parquet` runs an eager footer/schema-inference job on
    * every call, so before this every query BUILD re-listed and re-read
    * the footers of every table it touches, once per bench repeat (1–4
    * Spark jobs per row, measured with `graft.Dev jobs --trace`). A DataFrame
    * is an immutable plan — handing every caller the same instance
    * changes no result and no execution; only the redundant metadata
    * jobs disappear. Entries are per-session, so tests with fresh
    * sessions and multi-sfDir runs stay isolated. */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val key = (spark, s"$sfDir/$name.parquet")
    memo.computeIfAbsent(key, k => load(spark, k._2))
  }

  /** Memoized RAW parquet read — the [[apply]] job-dedup rationale for
    * serving/artifact paths that must not get the fan-out repartition or
    * the ts normalization (graph/PQ serving reads, artifact loads). The
    * paths handed here are immutable while a JVM runs: sfDirs by the
    * testdata contract, artifact dirs because they are fingerprint-keyed
    * and write-once (see QueriesBase.parquetArtifact). */
  private val memoRaw =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]

  def rawParquet(spark: SparkSession, path: String): DataFrame =
    memoRaw.computeIfAbsent((spark, path), k => k._1.read.parquet(k._2))

  private def load(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = normalizeTs(spark.read.parquet(path))
    val target = math.min(spark.sparkContext.defaultParallelism, 32)
    // Tiny dims (region/nation) stay single-partition — they broadcast
    // anyway, and a repartition exchange before a BroadcastExchange is
    // pure waste. The cutoff is bytes, not rows: even a small file (e.g.
    // documents) earns the fan-out when per-row compute is heavy.
    // Scan parallelism is estimated statically from file size (Spark bins
    // files into ceil(size / maxPartitionBytes) splits) rather than via
    // `df.rdd.getNumPartitions`, which would force physical planning and
    // RDD DAG construction eagerly on every table load.
    val bytes = fileBytes(path)
    val tiny = bytes < 64 * 1024
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val estScanParts = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
    // HASH fan-out on the table's leading id column (r17), not round-robin:
    // a keyless repartition(n) first LOCALLY SORTS its whole input so task
    // retries reproduce the same row→partition map (SPARK-23207) — a full
    // sort + wide exchange of every scanned table, paid per query execution.
    // Hashing the leading column (the natural key of every driver table:
    // l_orderkey, doc_id, event_id, vec_id, …) is deterministic per row, so
    // no sort is needed, retries are safe (guide §2.5 "derive the synthetic
    // key deterministically"), and downstream aggregates/joins keyed on the
    // same id reuse the fan-out partitioning outright (guide §2.4: two
    // operations keyed the same way share one exchange). Keys are
    // high-cardinality ids (unique, or a few rows per key: l_orderkey has
    // about 4 lineitems each), so the hash spread is even — PlanShapeSpec
    // guards distinct(leading column)/rows ≥ 0.2 on every fanned table.
    // The width is min(defaultParallelism, 32), and because downstream
    // joins/aggregates keyed on the same id REUSE this partitioning, they
    // run at that width too instead of spark.sql.shuffle.partitions — at
    // most 32 tasks, however many cores or shuffle partitions the session
    // has.
    if (!tiny && estScanParts < target)
      df.repartition(target, org.apache.spark.sql.functions.col(df.schema.head.name))
    else df
  }

  /** The engine-wide contract for `events.ts` is epoch-NANOSECOND longs
    * (the reference works with `updated_at` epoch-nanos integers —
    * `src/main.py:126-128`). The driver's parquet has carried that column
    * both as INT64 TIMESTAMP(NANOS) (read as raw longs via `nanosAsLong`)
    * and, since the 2026-08-13 regeneration, as TIMESTAMP(MICROS) NTZ —
    * so normalize here, at the single load boundary, instead of teaching
    * every query both shapes. A timestamp-typed `ts` becomes
    * `unix_micros * 1000`; the `to_utc_timestamp(cast, "UTC")` pair keeps
    * the wall-clock reading session-timezone-independent (NTZ→TIMESTAMP
    * cast attaches the session zone; to_utc_timestamp re-reads the same
    * wall clock as UTC — matching DuckDB's `epoch_ns(ts)` on the naive
    * column). Cheap scalar math inside whole-stage codegen; columns other
    * than `ts` are untouched, and a long-typed `ts` passes through. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) |
           Some(org.apache.spark.sql.types.TimestampNTZType) =>
        import org.apache.spark.sql.functions._
        df.withColumn("ts",
          unix_micros(to_utc_timestamp(col("ts").cast("timestamp"), "UTC")) * lit(1000L))
      case _ => df
    }

  /** Total bytes at `path` — a single parquet file or a directory tree of
    * them (recursive, so partitioned layouts with subdirectories are sized
    * by their contents, not by the unspecified `File.length` of the
    * directory entries themselves). */
  private def fileBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(path))
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = apply(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = apply(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = apply(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = apply(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = apply(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = apply(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame     = apply(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")
}
