package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Semi-structured processing on Spark 4's VARIANT type — the scale path
  * for the reference's JSON-attribute access (SURVEY.md §2.5 C10,
  * reference `src/mm_calls.py` reads `props`-style JSON attributes per
  * message).
  *
  * Why a separate tier when `get_json_object` already passes the oracle:
  * at 100 TB the JSON *string* is the bottleneck. `get_json_object` is a
  * full text parse per field per row — extracting k fields costs k parses.
  * `parse_json` converts the text ONCE into the binary variant encoding
  * (value + metadata dictionary); every subsequent `variant_get` is an
  * O(log fields) binary probe with no re-tokenization, and the parquet
  * writer persists the binary form so downstream jobs skip the text parse
  * entirely. The engine exposes both: gate-at-ingest parses to variant,
  * everything downstream shreds typed columns out of it.
  *
  * Determinism notes (oracle follows SURVEY §5.1 rules):
  *  - `to_json`/`parse_json` round-trip doubles via shortest-round-trip
  *    rendering, so a shredded DOUBLE is bit-identical to the column it
  *    came from — the DuckDB oracle can recompute from the base columns
  *    and never sees JSON at all (lossless-round-trip proof);
  *  - heterogeneous fields (same path, number in some rows, string in
  *    others) extract via `try_variant_get` (null on a failed typed read)
  *    — the oracle derives the expected nulls from the branch condition.
  */
object VariantOps {

  /** Nested, heterogeneously-typed JSON payload synthesized
    * deterministically from the event columns (fixture pattern — the
    * flagship does the same for nested odds). `$.tag` is a NUMBER on
    * `event_id % 3 == 0` rows and a STRING otherwise, so one path
    * exercises variant's per-row dynamic typing.
    *
    * Output: (event_id, payload STRING). */
  def eventPayload(events: DataFrame): DataFrame = {
    val k = coalesce(get_json_object(col("props"), "$.k"), lit("0"))
      .cast("int")
    def body(tag: Column) = struct(
      struct(col("event_type").as("type"), col("user_id").as("uid"))
        .as("meta"),
      k.as("k"),
      array(col("value"), col("value") * 2).as("vals"),
      tag.as("tag"))
    events.select(
      col("event_id"),
      when(col("event_id") % 3 === 0,
        to_json(body(col("event_id") % 100)))
        .otherwise(
          to_json(body(concat(lit("t-"), col("event_id") % 100))))
        .as("payload"))
  }

  /** Parse once → typed columns. The parse is routed through a
    * `plans.Stage` Generate barrier, which buys two things (both measured
    * at 10M rows, NOTES.md r8 VARIANT tier): (1) within one projection codegen CSE
    * already dedups the parse, but a downstream FILTER on a shredded
    * column gets pushed into the scan as a DataFilter that re-runs
    * `parse_json` in a different stage — no CSE across stages; the barrier
    * pins the parse structurally to once per row (filter-after-shred:
    * 3.5 s barriered vs 4.3 s inline); (2) every downstream reference
    * probes the materialized variant BINARY, the decode_roundtrip
    * one-core-pushdown fix applied to semi-structured data. */
  def shred(payloads: DataFrame): DataFrame =
    graft.plans.Stage(payloads, "v", parse_json(col("payload")))
      .select(
        col("event_id"),
        variant_get(col("v"), "$.meta.uid", "bigint").as("uid"),
        variant_get(col("v"), "$.meta.type", "string").as("etype"),
        variant_get(col("v"), "$.k", "int").as("k"),
        variant_get(col("v"), "$.vals[1]", "double").as("val2"),
        try_variant_get(col("v"), "$.tag", "int").as("tag_int"),
        variant_get(col("v"), "$.tag", "string").as("tag_str"))
}
