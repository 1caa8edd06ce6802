package graftbench

import java.io.File
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic generator for the ten input tables the registry queries
  * read (`region nation customer supplier part orders lineitem events
  * documents embeddings`), in the shape `graft.Tables` loads: one parquet
  * file per table, one row group, timestamps as TIMESTAMP(MICROS) without
  * time zone.
  *
  * Row counts scale linearly with `sf` (sf 0.1 gives 600 000 lineitem
  * rows). Every row draws from its own `SplittableRandom` seeded by
  * (data seed, table, row id), so a table is identical however Spark
  * slices the id range. Value ranges follow the TPC-H-like star schema
  * plus the events/documents/embeddings side tables; documents carry a 5%
  * share of near-duplicates (another document's text plus " dup") so the
  * dedup operators have work to find.
  */
object DataGen {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Colors = Array("red", "blue", "green", "hot", "large", "small", "dark", "pale")
  private val Nouns = Array("bolt", "ring", "nut", "gear", "pipe", "wire", "valve", "spring")
  private val PartTypes = Array("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
  private val Statuses = Array("O", "F", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatuses = Array("O", "F")
  private val EventTypes = Array("view", "click", "purchase", "signup", "error")
  private val Vocab = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch").split(" ")
  private val Langs = Array("en", "en", "zh", "es", "fr", "de", "en", "zh", "es", "fr", "de", "en", "en")

  def rows(sf: Double, table: String): Long = {
    val base = table match {
      case "region" => return 5L
      case "nation" => return 25L
      case "customer" => 15000L
      case "supplier" => 1000L
      case "part" => 20000L
      case "orders" => 150000L
      case "lineitem" => 600000L
      case "events" => 100000L
      case "documents" => 5000L
      case "embeddings" => 2000L
    }
    math.max(1L, math.round(base * sf / 0.1))
  }

  private def rng(seed: Long, table: String, id: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ table.hashCode.toLong * 0xBF58476D1CE4E5B9L ^ id)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: SplittableRandom, from: LocalDate, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong).atStartOfDay()

  private def text(seed: Long, id: Long): String = {
    val r = rng(seed, "doctext", id)
    val n = 10 + r.nextInt(91)
    Iterator.fill(n)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
  }

  private def schema(table: String): StructType = {
    def f(n: String, t: DataType) = StructField(n, t, nullable = false)
    StructType(table match {
      case "region" => Seq(f("r_regionkey", IntegerType), f("r_name", StringType))
      case "nation" => Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))
      case "customer" => Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))
      case "supplier" => Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))
      case "part" => Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))
      case "orders" => Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))
      case "lineitem" => Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))
      case "events" => Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))
      case "documents" => Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))
      case "embeddings" => Seq(f("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
        f("label", IntegerType))
    })
  }

  private def row(seed: Long, sf: Double, table: String, id: Long): Row = {
    val r = rng(seed, table, id)
    table match {
      case "region" => Row(id.toInt, Regions(id.toInt))
      case "nation" => Row(id.toInt, s"NATION_$id", (id % 5).toInt)
      case "customer" => Row(id, f"Customer#$id%09d", r.nextInt(25), money(r, -999.99, 9999.99),
        Segments(r.nextInt(Segments.length)))
      case "supplier" => Row(id, f"Supplier#$id%09d", r.nextInt(25), money(r, -999.99, 9999.99))
      case "part" => Row(id, Colors(r.nextInt(8)) + " " + Nouns(r.nextInt(8)),
        s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(PartTypes.length)),
        1 + r.nextInt(50), 900.0 + (id % 1000) / 10.0)
      case "orders" => Row(id, r.nextLong(rows(sf, "customer")), Statuses(r.nextInt(3)),
        money(r, 1000.0, 500000.0), day(r, LocalDate.of(1995, 1, 1), 2404),
        Priorities(r.nextInt(Priorities.length)))
      case "lineitem" => Row(r.nextLong(rows(sf, "orders")), r.nextLong(rows(sf, "part")),
        r.nextLong(rows(sf, "supplier")), 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        money(r, 900.0, 105000.0), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        ReturnFlags(r.nextInt(3)), LineStatuses(r.nextInt(2)),
        day(r, LocalDate.of(1995, 1, 2), 2498))
      case "events" =>
        // ts strictly ordered by event_id over 30 days, jittered within each slot
        val slotUs = 30L * 86400L * 1000000L / rows(sf, "events")
        val us = id * slotUs + r.nextLong(slotUs)
        Row(id, LocalDateTime.ofEpochSecond(1704067200L + us / 1000000L,
            ((us % 1000000L) * 1000L).toInt, ZoneOffset.UTC),
          r.nextLong(1500L), EventTypes(r.nextInt(EventTypes.length)),
          math.round(-math.log(1.0 - r.nextDouble()) * 50.0 * 100) / 100.0,
          s"""{"k": ${r.nextInt(100)}}""")
      case "documents" =>
        val n = rows(sf, "documents")
        val t = if (r.nextInt(20) == 0) text(seed, r.nextLong(n)) + " dup" else text(seed, id)
        Row(id, t, Langs(r.nextInt(Langs.length)), s"src${id % 20}", t.length.toLong)
      case "embeddings" =>
        val label = r.nextInt(10)
        val c = rng(seed, "centroid", label.toLong)
        val v = Array.fill(64)(r.nextGaussian() + 0.1 * c.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(id, v.map(x => (x / norm).toFloat).toSeq, label)
    }
  }

  /** Writes every table as `<dir>/<table>.parquet` (a single file). */
  def generate(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    new File(dir).mkdirs()
    Tables.foreach { t =>
      val n = rows(sf, t)
      val slices = math.max(1, math.min(8, (n / 50000L).toInt))
      val rdd = spark.sparkContext.range(0L, n, 1L, slices).map(id => row(seed, sf, t, id))
      val tmp = new File(dir, s".$t.tmp")
      spark.createDataFrame(rdd, schema(t)).coalesce(1)
        .write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
      val target = new File(dir, s"$t.parquet")
      target.delete()
      require(part.renameTo(target), s"cannot move $part to $target")
      FileUtil.deleteTree(tmp)
    }
  }
}

/** Small file helpers shared by the harness. */
object FileUtil {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(bytesUnder).sum
    else f.length()
}
