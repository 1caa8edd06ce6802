package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-time data layout for multi-dimensional scan pruning — the storage
  * half of 100 TB performance. Parquet skips row groups / files by min-max
  * stats, but stats only help if the data is CLUSTERED on the filtered
  * columns; sorting on one column destroys locality on every other. The
  * Z-order curve interleaves the bits of two dimensions so rows close in
  * BOTH dimensions land in the same files — a filter on either column (or
  * both) touches a small fraction of files instead of all of them.
  *
  * The layout is a pure write-path concern: `zorderWrite` shapes
  * partitions with `repartitionByRange(zValue)` + a within-partition sort
  * and hands back the frame to write; queries need no changes and no
  * awareness of the curve — pruning falls out of the parquet stats. Cost
  * is one range shuffle at write time, amortized over every future scan.
  */
object Layout {

  /** Morton/Z-value of two non-negative integral columns, `bits` bits
    * each (bit i of `x` → bit 2i, bit i of `y` → bit 2i+1). Literal
    * shifts only — the whole expression stays in whole-stage codegen. */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val mask = (1L << bits) - 1
    val mx = x.cast("long").bitwiseAND(lit(mask))
    val my = y.cast("long").bitwiseAND(lit(mask))
    (0 until bits).map { i =>
      shiftright(mx, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(my, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** Hilbert-curve position of two non-negative integral columns on the
    * 2^bits × 2^bits grid. Unlike the Z-curve, consecutive Hilbert
    * positions are always grid-ADJACENT (no long diagonal jumps), so
    * range-partitioning the curve yields strictly tighter per-file
    * bounding boxes at the same bit budget.
    *
    * Backed by the native [[graft.plans.HilbertD]] expression: the
    * algorithm rebinds x/y per round, so a Column-combinator unrolling
    * multiplies the expression tree ~6× per bit and OOMs the driver at
    * useful bit widths (measured at 10 bits) — the one place in this
    * engine where tier (b) is forced, not preferred. */
  def hilbertValue(xc: Column, yc: Column, bits: Int): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      graft.plans.HilbertD(
        org.apache.spark.sql.graftbridge.GraftBridge.expression(xc.cast("long")),
        org.apache.spark.sql.graftbridge.GraftBridge.expression(yc.cast("long")),
        bits))

  /** Reference implementation of [[hilbertValue]] (same public-domain
    * algorithm, plain JVM) — the oracle the Column version is
    * property-tested against, and handy for driver-side checks. */
  def hilbertRef(xIn: Long, yIn: Long, bits: Int): Long = {
    var x = xIn & ((1L << bits) - 1)
    var y = yIn & ((1L << bits) - 1)
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Cluster `df` along the Z-curve of (`xCol`, `yCol`) into `nFiles`
    * range partitions, sorted within each — ready for
    * `.write.parquet(...)`: each output file covers a compact rectangle
    * of the (x, y) plane, so min-max stats prune scans filtered on either
    * dimension.
    *
    * Both dimensions are min-max scaled to the full `bits` range first —
    * without that, a dimension whose values occupy only the low bits
    * contributes constant zeros to the curve's high bits and the layout
    * degenerates to single-column ordering. Linear scaling is the cheap
    * two-pass choice (one tiny agg, broadcast back); heavily skewed
    * dimensions would want a range-sampled rank instead — same curve,
    * different normalizer. Scaling math stays in longs: safe while
    * (range × 2^bits) < 2⁶³, i.e. any epoch-scale domain at bits ≤ 16. */
  def zorderShape(df: DataFrame, xCol: String, yCol: String,
      bits: Int, nFiles: Int): DataFrame =
    curveShape(df, xCol, yCol, bits, nFiles, zValue)

  /** [[zorderShape]] on the Hilbert curve — same write-path contract,
    * tighter per-file boxes (no Z-shaped diagonal jumps). */
  def hilbertShape(df: DataFrame, xCol: String, yCol: String,
      bits: Int, nFiles: Int): DataFrame =
    curveShape(df, xCol, yCol, bits, nFiles, hilbertValue)

  /** Small-file compaction shape: one range shuffle that turns a
    * fragmented table (streaming sink output, thousands of KB-scale
    * incremental files whose open/footer overhead dominates scans) into
    * exactly `nFiles` files clustered on `key` — row-preserving, ready for
    * `.write.parquet(...)`. Each output file covers a disjoint `key`
    * range (range partitioning + within-partition sort), so the rewrite
    * also buys min-max file pruning for key filters — compaction and
    * clustering in the same pass. The single-dimension sibling of
    * [[zorderShape]]/[[hilbertShape]]; size `nFiles` ≈ table bytes /
    * desired file size (powers of ~512 MB–1 GB at cluster scale).
    *
    * `nFiles` is an UPPER bound: range partitioning never splits one key
    * value across partitions, so a key with fewer than `nFiles` distinct
    * values fills fewer partitions and the empty ones write no file —
    * compact on a high-cardinality key (an id, a timestamp), not an enum,
    * when the exact file count matters. */
  def compactShape(df: DataFrame, key: Column, nFiles: Int): DataFrame = {
    require(nFiles >= 1, s"need nFiles >= 1, got $nFiles")
    df.repartitionByRange(nFiles, key).sortWithinPartitions(key)
  }

  /** ANALYZE wrapper: table row count + per-column NDV/min/max/null stats
    * for Catalyst's cost-based optimizer. Stats are the third leg of
    * write-time layout (partitioning prunes, bucketing co-locates, stats
    * let the PLANNER choose): with `spark.sql.cbo.enabled` +
    * `spark.sql.cbo.joinReorder.enabled`, a multi-join is re-ordered by
    * estimated intermediate size — at 100 TB the difference between
    * filtering a dimension down to thousands of rows BEFORE it meets the
    * fact table and materializing a fact-sized intermediate first.
    * CostBasedJoinReorder silently skips any join whose inputs lack
    * rowCount stats, so an un-analyzed table quietly disables the whole
    * feature — run this after every bulk load/compaction, like the
    * bucketed-write shuffle it amortizes over every future query.
    * (CboSpec pins the reorder actually happening on an analyzed star.) */
  def analyzeTable(spark: SparkSession, table: String,
      columns: Seq[String] = Nil): Unit = {
    require(table.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"table name must be a plain identifier, got '$table'")
    spark.sql(s"ANALYZE TABLE `$table` COMPUTE STATISTICS")
    if (columns.nonEmpty) {
      val cols = columns.map(c => s"`${c.replace("`", "``")}`").mkString(", ")
      spark.sql(s"ANALYZE TABLE `$table` COMPUTE STATISTICS FOR COLUMNS $cols")
    }
  }

  private def curveShape(df: DataFrame, xCol: String, yCol: String,
      bits: Int, nFiles: Int, curve: (Column, Column, Int) => Column): DataFrame = {
    val hi = (1L << bits) - 1
    val stats = df.agg(
      min(col(xCol)).cast("long").as("_xmin"), max(col(xCol)).cast("long").as("_xmax"),
      min(col(yCol)).cast("long").as("_ymin"), max(col(yCol)).cast("long").as("_ymax"))
    def scaled(c: Column, mn: Column, mx: Column): Column =
      (c.cast("long") - mn) * lit(hi) / greatest(mx - mn, lit(1L))
    df.crossJoin(broadcast(stats))
      .withColumn("_z", curve(
        scaled(col(xCol), col("_xmin"), col("_xmax")),
        scaled(col(yCol), col("_ymin"), col("_ymax")), bits))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z", "_xmin", "_xmax", "_ymin", "_ymax")
  }
}
