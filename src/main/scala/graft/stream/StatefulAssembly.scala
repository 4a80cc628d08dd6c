package graft.stream

import graft.icelite.IceLiteTable
import graft.model.{ChangeEvent, LogRecord}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Buffered state of one open transaction (keyed by tx_id in the
  * Structured Streaming state store).
  */
case class TxBuffer(records: Seq[LogRecord], quarantined: Boolean = false)

/** A transaction's state after one trigger of [[StatefulAssembly.stepTx]]. */
private[stream] sealed trait TxNext
private[stream] object TxNext {
  /** Closed: drop the state. */
  case object Cleared extends TxNext
  /** Still open: append these records (the trigger's, sorted by lsn). */
  final case class Open(appended: Seq[LogRecord]) extends TxNext
  /** Quarantined and still open: drop the buffer, keep the sticky flag. */
  case object Quarantined extends TxNext
}

/** T1 as TRUE streaming state: `flatMapGroupsWithState` keyed by tx_id
  * — the faithful distributed port of the reference's transaction
  * engine (`DbzTransactionEngine.java:88-156`): records buffer in the
  * state store until their COMMIT arrives (then the whole transaction
  * is emitted), ROLLBACK drops the buffer, savepoint DISCARD trims it.
  *
  * The assembly strategies:
  *   - `TxAssembler.assemble` / `assembleBroadcast` — whole txs per
  *     batch; the log must be commit-aligned
  *   - this, and [[TwsAssembly]] (transformWithState) — arbitrary
  *     splits; open txs survive restarts in the SS state store +
  *     checkpoint. Both store the output of one per-tx step,
  *     [[stepTx]].
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

  /** One trigger of one transaction, written once for both state APIs.
    * Pure: it reads the tx's state as (sticky quarantine flag, buffered
    * count, buffered records) and returns the events to emit with the
    * next state, which each state API stores in its own encoding.
    * `buffered` is read only when the tx closes or passes the cap, so
    * a trigger that leaves the tx open never reads its buffer.
    *
    * A tx holding more than `maxBuffered` records fails the query
    * naming it, or with `quarantine` sends every record it holds to the
    * DLQ and stays QUARANTINED: its later records and its close go to
    * the DLQ too, so a poison tx never partially merges. The close
    * still emits the position marker (R3). A throw fails the task, so
    * the state store commits nothing of the trigger.
    */
  private[stream] def stepTx(txId: Long, maxBuffered: Int, quarantine: Boolean)(
      quarantined: Boolean, count: Long, buffered: => Seq[LogRecord],
      incoming: Iterator[LogRecord]): (Iterator[ChangeEvent], TxNext) = {
    val inc = incoming.toSeq.sortBy(_.lsn)
    val close = inc.find(isClose)
    // a DLQ event carries its record's own position: the commit_lsn is
    // unknown while the tx is open
    def toDlqAll(records: Seq[LogRecord], begin: Long) =
      (records.iterator.map(toDlq(txId)) ++
        close.iterator.map(c => positionMarker(txId, c, begin)),
        if (close.isDefined) TxNext.Cleared else TxNext.Quarantined)
    if (quarantined) toDlqAll(inc, -1L)
    else if (count + inc.size > maxBuffered) {
      if (!quarantine) throw new IllegalStateException(
        s"transaction $txId exceeded maxBufferedPerTx=$maxBuffered buffered records " +
          "without closing — poison transaction (raise the cap, repair the log, " +
          "or configure a DLQ dir to quarantine instead)")
      val all = (buffered ++ inc).sortBy(_.lsn)
      toDlqAll(all, all.collectFirst { case r if r.op == "B" => r.lsn }.getOrElse(-1L))
    } else if (close.isEmpty) (Iterator.empty, TxNext.Open(inc))
    else {
      val (ops, begin, closed) = foldTx((buffered ++ inc).sortBy(_.lsn))
      (emitClosed(txId, ops, begin, closed.get), TxNext.Cleared)
    }
  }

  /** [[stepTx]] on flatMapGroupsWithState: the tx's whole buffer is one
    * `TxBuffer`, rewritten on every trigger that touches it.
    */
  private def stepFmgws(maxBuffered: Int, quarantine: Boolean)(
      txId: Long,
      incoming: Iterator[LogRecord],
      state: GroupState[TxBuffer]
  ): Iterator[ChangeEvent] = {
    val b = state.getOption.getOrElse(TxBuffer(Nil))
    val (events, next) = stepTx(txId, maxBuffered, quarantine)(
      b.quarantined, b.records.size.toLong, b.records, incoming)
    next match {
      case TxNext.Cleared => state.remove()
      case TxNext.Open(added) => state.update(TxBuffer((b.records ++ added).sortBy(_.lsn)))
      case TxNext.Quarantined => state.update(TxBuffer(Nil, quarantined = true))
    }
    events
  }

  /** Raw log stream -> committed ChangeEvent stream (stateful).
    *
    * @param pending another checkpoint's exported open-tx state
    *   ([[StateInspect.pendingTws]]) to seed the state with before any
    *   input: the TWS → fMGWS strategy migration (the downgrade path;
    *   [[TwsAssembly.assemble]] takes the forward direction). Open txs
    *   resume mid-flight and quarantined ones stay quarantined.
    */
  def assemble(raw: Dataset[LogRecord],
      maxBufferedPerTx: Int = DefaultMaxBufferedPerTx,
      quarantine: Boolean = false,
      pending: Option[Dataset[StateInspect.PendingTx]] = None): Dataset[ChangeEvent] = {
    val spark = raw.sparkSession
    import spark.implicits._
    val grouped = raw.groupByKey(_.tx_id)
    val step = stepFmgws(maxBufferedPerTx, quarantine) _
    pending match {
      case None =>
        grouped.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(step)
      case Some(p) =>
        grouped.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout,
          StateInspect.seed(p))(step)
    }
  }

  /** Full stateful pipeline: tail the log, assemble transactions in the
    * state store, MERGE each emitted micro-batch. Raw records go through
    * the SAME prepare pipeline as the micro-batch path (F1 table filter
    * incl. sys* exclusion, PK-changing-update normalization, F3
    * masking/hash transforms) — configured privacy controls apply on
    * every ingest path.
    *
    * @param pending seeds the assembly ([[assemble]]) on a FRESH
    *   checkpoint: the TWS → fMGWS strategy switch as one call, the
    *   sink's batch-id channel continued past its high-water mark.
    */
  def stream(
      spark: SparkSession,
      table: IceLiteTable,
      cfg: CdcConfig,
      trigger: Trigger = Trigger.AvailableNow(),
      pending: Option[Dataset[StateInspect.PendingTx]] = None
  ): StreamingQuery =
    streamWith(spark, table, cfg, trigger,
      raw => assemble(raw, cfg.maxTxRecords, quarantine = cfg.dlqDir.isDefined, pending),
      migrated = pending.isDefined)

  /** The stateful pipeline with a pluggable assembly operator — shared
    * by the flatMapGroupsWithState path (above) and the
    * transformWithState path ([[TwsAssembly.stream]]).
    *
    * @param migrated the assembly is seeded from another checkpoint's
    *   pending state, on a fresh checkpoint whose batch ids restart at
    *   0: every micro-batch id is offset by [[migratedBatchIdBase]]
    *   before it meets the sink's idempotency gate, or the gate would
    *   swallow the first batches as already applied.
    */
  private[stream] def streamWith(
      spark: SparkSession,
      table: IceLiteTable,
      cfg: CdcConfig,
      trigger: Trigger,
      assembler: Dataset[LogRecord] => Dataset[ChangeEvent],
      migrated: Boolean = false
  ): StreamingQuery = {
    import spark.implicits._
    val env = Driver.Envelope(spark, table, cfg)
    val batchIdBase = if (migrated) migratedBatchIdBase(table, cfg) else 0L
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

  /** The migrated query's batch ids restart at 0 (fresh checkpoint),
    * but the SINK's idempotency gate tracks the OLD query's high-water
    * mark — so the new channel must start past it. The base is seeded
    * from the sink's `lastBatchId + 1` ONCE, then pinned in a file
    * beside the new checkpoint: on restart the same base is reused even
    * though the sink has advanced, keeping re-delivered micro-batches
    * idempotent (the same reason the base can't simply be re-read from
    * the sink each start). This is the migration analog of carrying
    * connector offsets across an upgrade.
    */
  private def migratedBatchIdBase(table: IceLiteTable, cfg: CdcConfig): Long = {
    val dir = java.nio.file.Paths.get(cfg.checkpointDir)
    val f = dir.resolve("graft-batchid-base")
    if (java.nio.file.Files.exists(f)) {
      // A torn pin would shift the batch-id channel BELOW the sink's
      // high-water mark and silently swallow real micro-batches — so the
      // write below is temp+ATOMIC_MOVE (a half-written file can never be
      // observed), and an unparseable/non-positive pin fails fast here
      // rather than being trusted.
      val raw = java.nio.file.Files.readString(f).trim
      val base = try raw.toLong catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"corrupt graft-batchid-base '$raw' at $f; delete the pin file " +
            "only if the migrated checkpoint is also discarded")
      }
      // base 0 is LEGITIMATE: a sink with no applied stream batches has
      // lastBatchId = -1 (snapshot commits keep it there), so the pin
      // can validly hold lastBatchId + 1 = 0 — rejecting it would
      // permanently block resume of that migrated query
      require(base >= 0, s"corrupt graft-batchid-base $base at $f")
      base
    } else {
      val base = table.refresh().summary.lastBatchId + 1L
      java.nio.file.Files.createDirectories(dir)
      val tmp = java.nio.file.Files.createTempFile(dir, "graft-batchid-base", ".tmp")
      java.nio.file.Files.writeString(tmp, base.toString)
      java.nio.file.Files.move(tmp, f,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      base
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
