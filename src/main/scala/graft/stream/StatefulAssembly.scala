package graft.stream

import graft.icelite.IceLiteTable
import graft.model.{ChangeEvent, LogRecord, TokenDoc}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Buffered state of one open transaction (keyed by tx_id in the
  * Structured Streaming state store).
  */
case class TxBuffer(records: Seq[LogRecord], quarantined: Boolean = false)

/** T1 as TRUE streaming state: `flatMapGroupsWithState` keyed by tx_id
  * — the faithful distributed port of the reference's transaction
  * engine (`DbzTransactionEngine.java:88-156`): records buffer in the
  * state store until their COMMIT arrives (then the whole transaction
  * is emitted), ROLLBACK drops the buffer, savepoint DISCARD trims it.
  *
  * This is the third assembly strategy, for logs with no batch
  * alignment at all and unbounded tx lifetimes:
  *   - `TxAssembler.assemble` (window)      — whole txs per batch
  *   - carryover staging (CdcConfig)        — txs straddle batches,
  *                                            in-order delivery
  *   - this                                 — arbitrary splits; state
  *     survives restarts via the SS state store + checkpoint
  *
  * `getLowestBeginSequence` (T5, `DbzTransactionEngine.java:194-196`)
  * is the minimum BEGIN lsn across live state — exactly what the state
  * store retains across restarts here.
  */
object StatefulAssembly {

  /** Max records buffered per open transaction in the state store — the
    * engine analog of the reference's bounded transaction buffering
    * (`cdc.max.records`, `InformixConnectorConfig.java:44,387-394`). A
    * never-committing or runaway transaction would otherwise accumulate
    * state without limit; exceeding the cap either fails the query
    * naming the poison transaction (default — silent truncation would
    * be data loss when the COMMIT eventually arrives) or, with a DLQ
    * configured, QUARANTINES the transaction: its records are emitted
    * as [[DlqOp]] events (never merged; the stream writes them to the
    * dead-letter dir) and the stream keeps going.
    */
  val DefaultMaxBufferedPerTx: Int = 1 << 20

  /** Quarantined-record op marker (excluded from merge and emission). */
  val DlqOp = "x"

  private[stream] def toDlq(txId: Long)(o: LogRecord): ChangeEvent = ChangeEvent(
    commit_lsn = o.lsn, change_lsn = o.lsn, begin_lsn = -1L,
    tx_id = txId, op = DlqOp, table = o.table,
    before = o.before, after = o.after, ts_ms = o.ts_ms)

  private[stream] def positionMarker(txId: Long, c: LogRecord, begin: Long): ChangeEvent =
    ChangeEvent(
      commit_lsn = c.lsn, change_lsn = c.lsn, begin_lsn = begin,
      tx_id = txId, op = TxAssembler.MarkerOp, table = c.table,
      before = None, after = None, ts_ms = c.ts_ms)

  private[stream] def isClose(r: LogRecord): Boolean = r.op == "R" || r.op == "C"

  /** The per-tx state machine over a SORTED record buffer: collect data
    * ops, apply savepoint discards (T3), track BEGIN, find the close.
    * Shared by the flatMapGroupsWithState and transformWithState
    * assemblies so their semantics are identical by construction.
    */
  private[graft] def foldTx(sorted: Seq[LogRecord])
      : (Seq[LogRecord], Long, Option[LogRecord]) = {
    val ops = scala.collection.mutable.ArrayBuffer[LogRecord]()
    var begin = -1L
    var closed: Option[LogRecord] = None
    sorted.foreach { r =>
      r.op match {
        case "B" => begin = r.lsn
        case "D" => ops.filterInPlace(_.lsn < r.discard_from) // T3
        case "R" | "C" => closed = Some(r)
        case _ => ops += r
      }
    }
    (ops.toSeq, begin, closed)
  }

  /** Emission for a CLOSED tx: position marker always (R3 — the offset
    * advances on rollbacks and empty commits too, reference
    * `InformixStreamingChangeEventSource.java:393-403`); data events
    * only on commit (T2: rollback discards everything).
    */
  private[stream] def emitClosed(txId: Long, ops: Seq[LogRecord],
      begin: Long, c: LogRecord): Iterator[ChangeEvent] = {
    val marker = Iterator.single(positionMarker(txId, c, begin))
    if (c.op == "R") marker
    else ops.iterator.map(o => ChangeEvent(
      commit_lsn = c.lsn, change_lsn = o.lsn, begin_lsn = begin,
      tx_id = txId, op = o.op, table = o.table,
      before = o.before, after = o.after, ts_ms = c.ts_ms)) ++ marker
  }

  /** Replay the reference's per-tx state machine over newly arrived
    * records; emit the transaction's events iff it closed.
    */
  private def stepTx(maxBuffered: Int, quarantine: Boolean)(
      txId: Long,
      incoming: Iterator[LogRecord],
      state: GroupState[TxBuffer]
  ): Iterator[ChangeEvent] = {
    // A previously quarantined tx stays quarantined: later triggers'
    // records (and its eventual COMMIT/ROLLBACK) also route to the DLQ
    // — never merged — so a poison tx can't partially apply its tail.
    // The close still emits the position marker (R3) and clears state.
    if (state.getOption.exists(_.quarantined)) {
      val inc = incoming.toSeq.sortBy(_.lsn)
      val close = inc.find(isClose)
      if (close.isDefined) state.remove()
      else state.update(TxBuffer(Nil, quarantined = true))
      return inc.iterator.map(toDlq(txId)) ++
        close.iterator.map(c => positionMarker(txId, c, -1L))
    }
    val buf = scala.collection.mutable.ArrayBuffer[LogRecord]()
    state.getOption.foreach(b => buf ++= b.records)
    buf ++= incoming
    if (buf.size > maxBuffered) {
      if (!quarantine) {
        state.remove() // don't leave the oversized buffer behind
        throw new IllegalStateException(
          s"transaction $txId exceeded maxBufferedPerTx=$maxBuffered buffered records " +
            "without closing — poison transaction (raise the cap, repair the log, " +
            "or configure a DLQ dir to quarantine instead)")
      }
      // DLQ: surface every buffered record as an 'x' event (commit_lsn
      // unknown while the tx is open — each record carries its own
      // position); the stream routes these to the dead-letter dir. If
      // the close is already in the buffer the tx is done (emit its
      // marker); otherwise the quarantined flag persists so the tail
      // and eventual close are quarantined too.
      val all = buf.sortBy(_.lsn)
      val close = all.find(isClose)
      if (close.isDefined) state.remove()
      else state.update(TxBuffer(Nil, quarantined = true))
      val begin = all.collectFirst { case r if r.op == "B" => r.lsn }.getOrElse(-1L)
      return all.iterator.map(toDlq(txId)) ++
        close.iterator.map(c => positionMarker(txId, c, begin))
    }
    val sorted = buf.sortBy(_.lsn).toSeq
    val (ops, begin, closed) = foldTx(sorted)
    closed match {
      case Some(c) =>
        state.remove()
        emitClosed(txId, ops, begin, c)
      case None =>
        state.update(TxBuffer(sorted.toSeq))
        Iterator.empty
    }
  }

  /** Raw log stream -> committed ChangeEvent stream (stateful). */
  def assemble(raw: Dataset[LogRecord],
      maxBufferedPerTx: Int = DefaultMaxBufferedPerTx,
      quarantine: Boolean = false): Dataset[ChangeEvent] = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.groupByKey(_.tx_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        stepTx(maxBufferedPerTx, quarantine))
  }

  /** [[assemble]] seeded with a transformWithState checkpoint's
    * exported pending state ([[StateInspect.pendingTws]]) — the
    * REVERSE strategy migration (TWS → fMGWS, the downgrade path; see
    * [[TwsAssembly.assembleMigrated]] for the forward direction and
    * the shared zero-replay contract). The initial-state dataset seeds
    * each tx's `TxBuffer` before any input; `stepTx` treats it exactly
    * like carried-over state, so open txs resume mid-flight and
    * quarantined markers stay sticky.
    */
  def assembleMigrated(raw: Dataset[LogRecord],
      pending: Dataset[StateInspect.PendingTx],
      maxBufferedPerTx: Int = DefaultMaxBufferedPerTx,
      quarantine: Boolean = false): Dataset[ChangeEvent] = {
    val spark = raw.sparkSession
    import spark.implicits._
    val init = pending.groupByKey(_.tx_id)
      .mapValues(p => TxBuffer(p.records.sortBy(_.lsn), p.quarantined))
    raw.groupByKey(_.tx_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout,
        init)(stepTx(maxBufferedPerTx, quarantine))
  }

  /** Full stateful pipeline on [[assembleMigrated]]: the TWS → fMGWS
    * strategy switch as one call — same prepare/merge/DLQ wiring,
    * fresh checkpoint, the TWS checkpoint's pending state seeded in,
    * the sink's batch-id channel continued past its high-water mark
    * (same pinning discipline as [[TwsAssembly.streamMigrated]]).
    */
  def streamMigratedBack(
      spark: SparkSession,
      table: IceLiteTable,
      cfg: CdcConfig,
      pending: Dataset[StateInspect.PendingTx],
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    streamWith(spark, table, cfg, trigger,
      raw => assembleMigrated(raw, pending, cfg.maxTxRecords,
        quarantine = cfg.dlqDir.isDefined),
      batchIdBase = TwsAssembly.migratedBatchIdBase(table, cfg))

  /** Full stateful pipeline: tail the log, assemble transactions in the
    * state store, MERGE each emitted micro-batch. Raw records go through
    * the SAME prepare pipeline as the micro-batch path (F1 table filter
    * incl. sys* exclusion, PK-changing-update normalization, F3
    * masking/hash transforms) — configured privacy controls apply on
    * every ingest path.
    */
  def stream(
      spark: SparkSession,
      table: IceLiteTable,
      cfg: CdcConfig,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery =
    streamWith(spark, table, cfg, trigger,
      raw => assemble(raw, cfg.maxTxRecords, quarantine = cfg.dlqDir.isDefined))

  /** The stateful pipeline with a pluggable assembly operator — shared
    * by the flatMapGroupsWithState path (above) and the
    * transformWithState path ([[TwsAssembly.stream]]).
    */
  /** @param batchIdBase added to every micro-batch id before it meets
    *   the sink's idempotency gate — a MIGRATED query (fresh checkpoint,
    *   batch ids restart at 0) must continue the sink's batch-id channel
    *   or the gate would swallow its first batches as already applied.
    *   See [[TwsAssembly.streamMigrated]] for the restart-safe seeding.
    */
  private[stream] def streamWith(
      spark: SparkSession,
      table: IceLiteTable,
      cfg: CdcConfig,
      trigger: Trigger,
      assembler: Dataset[LogRecord] => Dataset[ChangeEvent],
      batchIdBase: Long = 0L
  ): StreamingQuery = {
    import spark.implicits._
    val env = Driver.Envelope(spark, table, cfg)
    val keyCol = table.current.keyCol
    val raw = CdcJob.prepareRaw(
      spark.readStream
        .schema(LogRecord.schema)
        .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
        .parquet(cfg.logDir),
      keyCol, cfg.tableInclude, cfg.columnTransforms, prune = false,
      filters = cfg.filters, rowFilter = cfg.rowFilter,
      skippedOperations = cfg.skippedOperations)
      .as[LogRecord]
    Driver.start(assembler(raw).toDF(), cfg.checkpointDir, trigger,
      Some("graft-cdc-stateful")) { (events, rawBatchId) =>
      val batchId = rawBatchId + batchIdBase
      env { inlineCompact =>
        // quarantined records go to the dead-letter dir, never the merge
        cfg.dlqDir match {
          case None => MergeApply.applyBatch(table, events, batchId, inlineCompact = inlineCompact)
          case Some(dlq) =>
            // persist once: the quarantine/apply split must not re-run
            // the assembled batch's lineage twice (linear waste at scale)
            val cached = events.persist()
            try {
              cached.where(col("op") === DlqOp)
                .write.mode("overwrite").parquet(f"$dlq/batch-$batchId%08d")
              MergeApply.applyBatch(table, cached.where(col("op") =!= DlqOp), batchId,
                inlineCompact = inlineCompact)
            } finally { cached.unpersist(); () }
        }
      }
      ()
    }
  }
}

/** E6 at stream level: watermarked, windowed event-rate metrics over
  * the change log — the continuous form of the heartbeat/lineage rows
  * (`InformixConnectorIT.java:1352-1427` heartbeats).
  */
object StreamMetrics {

  /** Events per `windowSec` seconds of source time, per op kind, with a
    * 1-minute watermark for late records.
    */
  def eventRate(spark: SparkSession, logDir: String, windowSec: Int = 60): DataFrame =
    spark.readStream
      .schema(LogRecord.schema)
      .parquet(logDir)
      .where(col("op").isin("c", "u", "d", "t"))
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", "1 minute")
      .groupBy(window(col("event_time"), s"$windowSec seconds"), col("op"))
      .agg(count(lit(1)).as("events"), min(col("lsn")).as("lsn_lo"),
        max(col("lsn")).as("lsn_hi"))
}
