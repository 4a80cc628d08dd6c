package graft.ops

import graft.plans.WireBin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Binary wire-format adapter — the compact twin of [[WireJson]]
  * (reference parity: Kafka Connect's pluggable converters make the
  * reference's record stream converter-agnostic; JSON is the default,
  * Avro-style binary the production norm). The VALUE is the identical
  * logical envelope ([[WireJson.envelopeCol]] — before/after/source/
  * op/ts_ms) framed by [[graft.plans.WireBinEncode]] instead of
  * `to_json`; the KEY stays a JSON string (tiny, and log-compaction
  * tooling likes readable keys). A delete's tombstone is a NULL value
  * on the same key, exactly like the JSON wire.
  *
  * Both directions are pure per-row projections — zero shuffle, zero
  * driver work. At 10^10 events the difference is wire SIZE and parse
  * cost: no repeated field names, no number-to-text round trip
  * (~0.6x the JSON bytes on the engine's token streams — measured in
  * WireBinarySpec), and decode is a positional read, not a string
  * scan. `fromWire(toWire(x)) == x` for every committed data event
  * (the driver-checked `e_wirebin_roundtrip` invariant).
  */
object WireBinary {

  /** Envelope schema for a payload type (same logical shape as
    * [[WireJson.valueSchema]] — writer/reader schema for the frames).
    */
  def valueSchema(payload: DataType): StructType =
    WireJson.valueSchema(payload)

  /** Serialize an emitted record stream into (topic, key: string,
    * value: binary) — tombstones carry a NULL value.
    */
  def toWire(emitted: DataFrame, keyCol: String = "doc_id",
      db: String = "graft"): DataFrame = {
    val staged = emitted.withColumn("__envelope", WireJson.envelopeCol(emitted, db))
    staged.select(
      col("topic"),
      to_json(struct(col("key").as(keyCol))).as("key"),
      when(col("op") === "tombstone", lit(null).cast(BinaryType))
        .otherwise(WireBin.encode(col("__envelope"))).as("value"),
      col("commit_lsn"), col("change_lsn"), col("emit_seq"))
  }

  /** The decoded envelope as a Column over a `value: binary` frame
    * column (null on malformed frames) — the binary analog of
    * `from_json(col("value"), valueSchema(payload))`.
    */
  def decodeCol(payload: DataType): Column =
    WireBin.decode(col("value"), valueSchema(payload))

  private def decoded(wire: DataFrame, payload: DataType): DataFrame =
    wire.where(col("value").isNotNull)
      .withColumn("__env", decodeCol(payload))

  /** Parse binary wire records back into committed change events (the
    * same output shape as [[WireJson.fromWire]]). Null values
    * (tombstones) and malformed frames are dropped.
    */
  def fromWire(wire: DataFrame, payload: DataType): DataFrame =
    decoded(wire, payload)
      .where(col("__env").isNotNull && col("__env.op").isNotNull &&
        col("__env.source.commit_lsn").isNotNull)
      .select(
        col("__env.source.commit_lsn").as("commit_lsn"),
        col("__env.source.change_lsn").as("change_lsn"),
        col("__env.source.begin_lsn").as("begin_lsn"),
        col("__env.source.txId").as("tx_id"),
        col("__env.op").as("op"),
        col("__env.source.table").as("table"),
        col("__env.before").as("before"),
        col("__env.after").as("after"),
        col("__env.ts_ms").as("ts_ms"))

  /** Wire records that are neither valid frames nor tombstones. */
  def badRecords(wire: DataFrame, payload: DataType): DataFrame =
    decoded(wire, payload)
      .where(col("__env").isNull || col("__env.op").isNull ||
        col("__env.source.commit_lsn").isNull)
      .drop("__env")
}
