package graft.stream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stages T1-T7 + R1/R2 of SURVEY.md §2: assemble raw log records into
  * committed change events and apply the replay-skip watermark.
  *
  * The reference does this with a single-threaded state machine keyed by
  * transaction id (`DbzTransactionEngine.java:88-156`): BEGIN opens a
  * holder, ops buffer into it, COMMIT emits the whole transaction,
  * ROLLBACK drops it, savepoint DISCARD removes buffered records with
  * `sequenceId >= discardSeq` (`:108-119`), and empty transactions are
  * suppressed (`:137-143`).
  *
  * Spark-first re-expression: because the engine only ever emits closed
  * transactions, a micro-batch aligned to commit boundaries contains
  * every record of each transaction it mentions, so assembly is a
  * *single-shuffle* window computation over `tx_id` — no stateful
  * operator and no driver-side loop:
  *
  *   - commit/begin LSN of each op  = windowed max over its tx (T1, T5)
  *   - rollback discard             = "no COMMIT in window" filter (T2)
  *   - savepoint discard            = windowed collect of D-records +
  *                                    an `exists` range check (T3)
  *   - empty-transaction suppression falls out: a tx with no surviving
  *     ops contributes no rows (T4)
  */
object TxAssembler {

  /** Raw batch of LogRecord rows -> committed ChangeEvent rows.
    *
    * Scale path: transaction metadata (BEGIN/COMMIT/ROLLBACK/DISCARD)
    * is ~a few percent of log bytes, so it is aggregated from a
    * column-pruned scan of the control records only and BROADCAST to
    * the data ops — the heavy payload side is never shuffled for
    * assembly (its one and only shuffle is the merge's bucket
    * repartition). Rollback discard (T2) falls out of the inner join
    * (no COMMIT row -> no match); savepoint DISCARD ranges (T3) ride
    * along as a per-tx array.
    */
  /** @param slim broadcast ONLY what the MERGE consumes (commit_lsn +
    *             discard ranges): the broadcast build is per-batch
    *             SERIAL driver work (collect + serialize + ship), so on
    *             the engine's apply path the unused begin_lsn/commit_ts
    *             columns are dropped from the build side and emitted as
    *             nulls. Full emission surfaces use slim=false.
    */
  /** Position-marker op: one null-key row per CLOSED transaction (COMMIT
    * or ROLLBACK) at position (close_lsn, close_lsn). The reference
    * advances its offset on EVERY closed transaction — rollbacks and
    * empty commits included ("streaming source updates offset but emits
    * nothing", `InformixStreamingChangeEventSource.java:393-403`; R3
    * monotone advance) — so the engine's watermark must too, or a
    * restart replays chunks whose tail closed without surviving events.
    * Markers ride the existing null-key lane through the merge plan
    * (observed by the watermark metrics, filtered before the delta
    * write, never stored) and are dropped from emission surfaces.
    */
  val MarkerOp = "n"

  def assembleBroadcast(batch: DataFrame, slim: Boolean = false): DataFrame = {
    val ctrl = batch.where(col("op").isin("B", "C", "R", "D"))
      .select(col("tx_id"), col("op"), col("lsn"), col("discard_from"), col("ts_ms"))
    val fullAggs = if (slim) Nil else Seq(
      max(when(col("op") === "C", col("ts_ms"))).as("commit_ts"),
      max(when(col("op") === "B", col("lsn"))).as("begin_lsn"))
    // closed (C or R) transactions: data ops join against the committed
    // ones; close records themselves become position markers
    val txInfo = ctrl.groupBy(col("tx_id")).agg(
      max(when(col("op") === "C", col("lsn"))).as("commit_lsn"),
      (fullAggs ++ Seq(
        max(when(col("op").isin("C", "R"), col("lsn"))).as("__close_lsn"),
        collect_list(when(col("op") === "D",
          struct(col("discard_from").as("from"), col("lsn").as("at")))).as("__discards"))): _*)
      .where(col("__close_lsn").isNotNull)
    val isClose = col("op").isin("C", "R")
    val beforeType = batch.schema("before").dataType
    val afterType = batch.schema("after").dataType
    batch.where(col("op").isin("c", "u", "d", "t", "C", "R"))
      .join(broadcast(txInfo), Seq("tx_id"))
      // data ops require a COMMIT (T1/T2); close rows always pass (markers)
      .where(isClose || col("commit_lsn").isNotNull)
      // savepoint partial rollback (T3): drop ops covered by a later DISCARD
      .where(isClose || !exists(col("__discards"),
        d => col("lsn") >= d.getField("from") && col("lsn") < d.getField("at")))
      .select(
        when(isClose, col("__close_lsn")).otherwise(col("commit_lsn")).as("commit_lsn"),
        col("lsn").as("change_lsn"),
        (if (slim) lit(null).cast("long") else col("begin_lsn")).as("begin_lsn"),
        col("tx_id"),
        when(isClose, lit(MarkerOp)).otherwise(col("op")).as("op"),
        col("table"),
        when(isClose, lit(null).cast(beforeType)).otherwise(col("before")).as("before"),
        when(isClose, lit(null).cast(afterType)).otherwise(col("after")).as("after"),
        (if (slim) lit(null).cast("long") else col("commit_ts")).as("ts_ms"))
  }

  /** Default assembly: single window shuffle on tx_id. Robust for any
    * tx-count/batch shape; [[assembleBroadcast]] wins only when
    * transactions are large (few txs per batch -> small broadcast).
    */
  def assemble(batch: DataFrame): DataFrame = {
    val w = Window.partitionBy("tx_id")
    val isClose = col("op").isin("C", "R")
    val beforeType = batch.schema("before").dataType
    val afterType = batch.schema("after").dataType
    // all four expressions share one window spec and are defined in a
    // single select, so Catalyst plans ONE Window operator (one pass per
    // sorted partition) — sequential withColumn calls would plan four
    batch
      .select(col("*"),
        max(when(col("op") === "C", col("lsn"))).over(w).as("commit_lsn"),
        max(when(col("op") === "B", col("lsn"))).over(w).as("begin_lsn"),
        max(when(col("op") === "C", col("ts_ms"))).over(w).as("commit_ts"),
        collect_list(when(col("op") === "D",
          struct(col("discard_from").as("from"), col("lsn").as("at"))))
          .over(w).as("__discards"))
      // data ops of committed transactions (T1/T2); close records pass
      // through as position markers (see [[MarkerOp]]) — same pass, no
      // extra window or exchange
      .where((col("op").isin("c", "u", "d", "t") && col("commit_lsn").isNotNull) || isClose)
      // savepoint partial rollback (T3): drop ops covered by a later DISCARD
      .where(isClose || !exists(col("__discards"),
        d => col("lsn") >= d.getField("from") && col("lsn") < d.getField("at")))
      .select(
        when(isClose, col("lsn")).otherwise(col("commit_lsn")).as("commit_lsn"),
        col("lsn").as("change_lsn"),
        col("begin_lsn"),
        col("tx_id"),
        when(isClose, lit(MarkerOp)).otherwise(col("op")).as("op"),
        col("table"),
        when(isClose, lit(null).cast(beforeType)).otherwise(col("before")).as("before"),
        when(isClose, lit(null).cast(afterType)).otherwise(col("after")).as("after"),
        col("commit_ts").as("ts_ms"))
  }

  /** Transaction-metadata aggregate (E5): per-transaction event counts
    * per table, the analog of the reference's BEGIN/END metadata records
    * (`InformixTransactionMonitor.java:28-52` — txId adjusted to
    * `txId:commitLsn`, per-table event counts).
    */
  def transactionMetadata(events: DataFrame): DataFrame =
    events.where(col("op") =!= MarkerOp)
      .groupBy(col("tx_id"), col("commit_lsn"), col("table"))
      .agg(
        count(lit(1)).as("event_count"),
        min(col("change_lsn")).as("first_change_lsn"),
        max(col("change_lsn")).as("last_change_lsn"))
      .withColumn("tx_key", concat_ws(":", col("tx_id"), col("commit_lsn")))

  /** E5 over the RAW batch with the reference's
    * `cdc.return.empty.transactions` switch
    * (`InformixConnectorConfig.java:377-385`,
    * `TransactionMetadataIT.java:175-180`): committed transactions get a
    * metadata row; empty ones (zero surviving data ops) only when
    * `returnEmptyTransactions` is set.
    */
  def transactionMetadataAll(rawBatch: DataFrame,
      returnEmptyTransactions: Boolean): DataFrame =
    rawBatch.groupBy(col("tx_id"))
      .agg(
        max(when(col("op") === "C", col("lsn"))).as("commit_lsn"),
        min(when(col("op") === "B", col("lsn"))).as("begin_lsn"),
        sum(when(col("op").isin("c", "u", "d", "t"), 1L).otherwise(0L)).as("event_count"))
      .where(col("commit_lsn").isNotNull &&
        (if (returnEmptyTransactions) lit(true) else col("event_count") > 0))
      .withColumn("tx_key", concat_ws(":", col("tx_id"), col("commit_lsn")))

  /** E1/E2 emission surface with the reference's `tombstones.on.delete`
    * switch (`InformixConnectorIT.java:117-221`): the Kafka-facing
    * record stream — each committed event as (key, envelope); when
    * enabled, every delete is followed by a (key, null) tombstone record
    * (emit_seq orders it strictly after its delete at the same
    * position). The MERGE path never consumes tombstone records (they
    * are a log-compaction artifact); this is for users wiring the
    * emitted stream to a compacted topic or their own sink.
    */
  def emitRecords(events: DataFrame, tombstonesOnDelete: Boolean,
      keyCol: String = "doc_id",
      messageKeyColumns: Seq[(String, Seq[String])] = Nil,
      topicRouting: Option[(String, String)] = None,
      contentRouting: Option[Column] = None,
      keepBefore: Boolean = false,
      keepSource: Boolean = false): DataFrame = {
    val afterType = events.schema("after").dataType
    // message.key.columns: first matching table regex overrides the
    // record key with the listed fields joined by ':' (the structural
    // MERGE key itself is never rewritten). Override fields read from
    // whichever IMAGE the record carries — the after image when there
    // is one, the before image only when the record has no after image
    // at all (deletes/tombstones) — so a delete emits the SAME key its
    // create did and a compacted-topic consumer reconciles by key.
    // Deliberately NOT a per-field coalesce: an update that NULLs an
    // override column must emit the null (matching a create with the
    // null), not resurrect the stale pre-update value. The engine's
    // before-image pruning keeps the override fields
    // (CdcJob.prepareRaw keepBeforeFields). Caveat (as in the
    // reference): overriding on a MUTABLE column changes the key
    // across updates — a user footgun, not a mode.
    def fieldOf(c: String): Column =
      when(col("after").isNull, col("before").getField(c))
        .otherwise(col("after").getField(c)).cast("string")
    val defaultKey =
      coalesce(col("after").getField(keyCol), col("before").getField(keyCol)).cast("string")
    val keyExpr = messageKeyColumns.foldRight(defaultKey) { case ((re, cols), acc) =>
      when(col("table").rlike("^(?:" + re + ")$"),
        concat_ws(":", cols.map(fieldOf): _*)).otherwise(acc)
    }
    // ByLogicalTableRouter: topic = replacement on match (backrefs $1..)
    // else the table name (anchored regex — a non-match leaves the
    // string unchanged under regexp_replace)
    val topicExpr = topicRouting match {
      case None => col("table")
      case Some((re, repl)) => regexp_replace(col("table"), "^(?:" + re + ")$", repl)
    }
    // ContentBasedRouter: an expression over the record decides the
    // topic — a non-null string result reroutes, null keeps the topic
    // the regex router (or the table name) produced, so the two SMTs
    // chain exactly like the reference's transform list. The expression
    // sees the record columns (`topic`, `op`, `key`, `table`,
    // `commit_lsn`, `after.*`, `before.*`). Applied BEFORE the
    // tombstone explode, so a delete's tombstone lands on the same
    // routed topic — compaction on the target topic stays sound.
    // position markers are engine-internal (watermark advance), never
    // emitted records
    val keyed0 = events.where(col("op") =!= MarkerOp)
      .withColumn("key", keyExpr)
      .withColumn("topic", topicExpr)
    val keyed = contentRouting match {
      case None => keyed0
      case Some(e) =>
        keyed0.withColumn("topic", coalesce(e.cast("string"), col("topic")))
    }
    val base =
      if (!tombstonesOnDelete) keyed.withColumn("emit_seq", lit(0))
      else keyed
        .withColumn("emit_seq",
          explode(when(col("op") === "d", array(lit(0), lit(1))).otherwise(array(lit(0)))))
        .withColumn("op", when(col("emit_seq") === 1, "tombstone").otherwise(col("op")))
        .withColumn("after", when(col("emit_seq") === 1, lit(null).cast(afterType))
          .otherwise(col("after")))
    // keepBefore: ship the before image too (the downstream unwrap
    // SMT's rewrite mode resurrects it for deletes); a tombstone record
    // carries NO envelope at all, so both images null there
    val cols = Seq(col("commit_lsn"), col("change_lsn"), col("emit_seq"),
      col("op"), col("topic"), col("key"), col("after"), col("ts_ms"))
    val withBefore =
      if (!keepBefore) cols
      else cols :+
        when(col("op") === "tombstone", lit(null).cast(events.schema("before").dataType))
          .otherwise(col("before")).as("before")
    // keepSource: the wire serializer (ops.WireJson) needs the PHYSICAL
    // table (source.table — topic is the ROUTED name) and the tx
    // coordinates when the input carries them
    val withSource =
      if (!keepSource) withBefore
      else withBefore ++ (Seq("table", "tx_id", "begin_lsn")
        .filter(events.columns.contains).map(col))
    base.select(withSource: _*)
  }
}
