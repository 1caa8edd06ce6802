package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Message-decode vocabulary of the push leg (SURVEY.md §2.8 T4 / §2.6
  * C9–C10): websocket frame → JSON envelope → base64 `payload` → JSON event
  * (reference `src/mm_calls.py:164-174`). All built-in expressions — the
  * whole chain stays inside whole-stage codegen, which matters when the
  * decode sits on a 100 TB ingest path.
  */
object DecodeFns {

  /** C10 — extract a JSON path as a string (`json.loads(...).get(...)`). */
  def jsonGet(c: Column, path: String): Column = get_json_object(c, "$." + path)

  /** C9 — base64 payload → UTF-8 string (`base64.b64decode`,
    * `src/mm_calls.py:167,173`). */
  def decodeBase64(c: Column): Column = unbase64(c).cast(StringType)

  /** Encode side (used to build replay fixtures): inner struct → JSON →
    * base64 → JSON envelope with routing fields. */
  def encodeFrame(channel: Column, eventName: Column, inner: Column): Column =
    to_json(struct(
      channel.as("channel"),
      eventName.as("event_name"),
      base64(to_json(inner).cast("binary")).as("payload")))
}
