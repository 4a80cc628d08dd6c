package graft.stream

import graft.model.LogRecord
import org.apache.spark.sql.{DataFrame, Dataset, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._

/** Open-transaction state INTROSPECTION over a live (or stopped)
  * assembly checkpoint, via Spark's public state-store reader
  * (`spark.read.format("statestore")`, SPARK-45511) — no private API,
  * no checkpoint-format coupling beyond the state encoder the engine
  * itself wrote with.
  *
  * Two uses:
  *   - observability: WHICH transactions are open right now, how much
  *     is buffered, which are quarantined — the question the
  *     reference's operators answer by querying `syscdc` sessions
  *     (`InformixConnection.java:105-120`); here it is a DataFrame.
  *   - migration: the exported pending set seeds
  *     [[TwsAssembly.assemble]] — a strategy switch
  *     (flatMapGroupsWithState -> transformWithState/RocksDB) with
  *     zero log re-read.
  *
  * Scale: the reader plans one partition per state-store partition —
  * the same parallelism the stateful operator ran with; nothing is
  * collected to the driver.
  */
object StateInspect {

  /** One open transaction's exported state. */
  final case class PendingTx(tx_id: Long, records: Seq[LogRecord],
      quarantined: Boolean)

  /** Pending (open or quarantined) transactions of a
    * [[StatefulAssembly]] (flatMapGroupsWithState) checkpoint. The
    * value schema is the engine's own `TxBuffer` encoder under the
    * reader's `value.groupState` wrapper.
    *
    * Reads the checkpoint's STORED schema, so it also understands
    * checkpoints written by a pre-`quarantined` binary (the engine's
    * own state-schema evolution): the missing flag defaults to false.
    * That makes this export, as the `pending` seed of
    * [[TwsAssembly.stream]] / [[StatefulAssembly.stream]], the
    * zero-replay UPGRADE path for the engine's own state-schema
    * changes — Spark refuses to resume a stateful query whose state
    * schema changed, but the exported pending set seeds a
    * fresh-checkpoint query that continues exactly-once (MigrationSpec
    * pins it end to end).
    */
  def pendingFmgws(spark: SparkSession, checkpointDir: String): Dataset[PendingTx] = {
    import spark.implicits._
    val raw = spark.read.format("statestore").load(checkpointDir)
    val hasQuarantined = raw.schema("value").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("groupState").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("quarantined")
    raw.select(
      col("key.value").as("tx_id"),
      coalesce(col("value.groupState.records"),
        typedLit(Seq.empty[LogRecord])).as("records"),
      (if (hasQuarantined) col("value.groupState.quarantined")
       else lit(false)).as("quarantined"))
      .as[PendingTx]
  }

  /** Pending transactions of a [[TwsAssembly]] (transformWithState)
    * checkpoint — the named state variables (`buf` ListState, `meta`
    * ValueState) read through the same public reader. Quarantined txs
    * keep their (empty-buffer) marker; a left join from `meta` makes
    * them surface with `records = []`, exactly like the fMGWS export.
    */
  def pendingTws(spark: SparkSession, checkpointDir: String): Dataset[PendingTx] = {
    import spark.implicits._
    val buf = spark.read.format("statestore")
      .option("stateVarName", "buf").load(checkpointDir)
      .select(col("key.value").as("tx_id"), col("list_element").as("r"))
      .groupBy(col("tx_id")).agg(collect_list(col("r")).as("records"))
    val meta = spark.read.format("statestore")
      .option("stateVarName", "meta").load(checkpointDir)
      .select(col("key.value").as("tx_id"),
        col("value.quarantined").as("quarantined"))
    meta.join(buf, Seq("tx_id"), "left_outer")
      .select(col("tx_id"),
        coalesce(col("records"), typedLit(Seq.empty[LogRecord])).as("records"),
        col("quarantined"))
      .as[PendingTx]
  }

  /** `pending` keyed by tx id as assembly state: the initial state of a
    * migrated [[StatefulAssembly.assemble]] or [[TwsAssembly.assemble]].
    */
  private[stream] def seed(pending: Dataset[PendingTx]): KeyValueGroupedDataset[Long, TxBuffer] = {
    import pending.sparkSession.implicits._
    pending.groupByKey(_.tx_id)
      .mapValues(p => TxBuffer(p.records.sortBy(_.lsn), p.quarantined))
  }

  /** Summary view for operators: one row per pending tx — id, buffered
    * record count, LSN span, quarantine flag. Columns are flat scalars
    * so the result is directly oracle-checkable; a quarantined tx whose
    * exported buffer is empty (the fMGWS/TWS poison-marker shape) gets
    * the -1 sentinel instead of a null span, keeping the documented
    * non-null contract.
    */
  def pendingSummary(pending: Dataset[PendingTx]): DataFrame =
    pending.toDF()
      .select(col("tx_id"),
        size(col("records")).cast("long").as("n_buffered"),
        coalesce(array_min(col("records.lsn")), lit(-1L)).as("min_lsn"),
        coalesce(array_max(col("records.lsn")), lit(-1L)).as("max_lsn"),
        col("quarantined"))
}
