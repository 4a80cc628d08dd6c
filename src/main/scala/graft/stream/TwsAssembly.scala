package graft.stream

import graft.icelite.IceLiteTable
import graft.model.{ChangeEvent, LogRecord}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming._

/** Small per-tx metadata kept in a ValueState beside the record buffer
  * (ListState has no O(1) size, so the cap check carries its own count;
  * firstTs anchors the retention timer, -1 when no timer is armed).
  */
case class TwsTxMeta(count: Long, quarantined: Boolean, firstTs: Long = -1L)

/** Transaction assembly as a Spark 4 `StatefulProcessor`
  * (`transformWithState`) — the stateful strategy that scales best for
  * long-running transactions: open-tx records land in a `ListState`
  * whose appends are INCREMENTAL in the RocksDB state store
  * (merge-style append), so a trigger that adds k records to a
  * transaction already holding N does O(k) state writes — the
  * flatMapGroupsWithState path rewrites the whole N-record buffer every
  * trigger, O(N) per touch, O(N²) over a transaction's lifetime. At
  * 10^10-event scale with multi-hour transactions that quadratic is the
  * difference between a bounded pipeline and one that drowns in state
  * I/O.
  *
  * Semantics are IDENTICAL to [[StatefulAssembly]] by construction: the
  * per-tx decision (savepoint discard, rollback, empty-commit marker,
  * DLQ quarantine with sticky flag) is the one `StatefulAssembly.stepTx`,
  * and TwsAssemblySpec pins event-for-event equality on a shared log.
  * `transformWithState` requires the RocksDB state store provider
  * ([[StateStores.useRocksDb]]); checkpoints are not interchangeable
  * with the fMGWS path's.
  */
object TwsAssembly {

  /** [[StatefulAssembly.stepTx]] on transformWithState: the records in
    * the `buf` ListState (appended, never rewritten), the count, sticky
    * flag and retention anchor in the `meta` ValueState.
    */
  private class TxProcessor(maxBuffered: Int, quarantine: Boolean,
      retentionMs: Option[Long])
      extends StatefulProcessorWithInitialState[
        Long, LogRecord, ChangeEvent, TxBuffer] {
    import StatefulAssembly.toDlq

    @transient private var buf: ListState[LogRecord] = _
    @transient private var meta: ValueState[TwsTxMeta] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[LogRecord]("buf",
        Encoders.product[LogRecord], TTLConfig.NONE)
      meta = getHandle.getValueState[TwsTxMeta]("meta",
        Encoders.product[TwsTxMeta], TTLConfig.NONE)
    }

    private def clearAll(): Unit = { buf.clear(); meta.clear() }

    private def disarmTimer(m: TwsTxMeta): Unit =
      if (retentionMs.isDefined && m.firstTs >= 0L)
        getHandle.deleteTimer(m.firstTs + retentionMs.get)

    override def handleInputRows(txId: Long, rows: Iterator[LogRecord],
        timerValues: TimerValues): Iterator[ChangeEvent] = {
      val m = if (meta.exists()) meta.get() else TwsTxMeta(0L, quarantined = false)
      val (events, next) = StatefulAssembly.stepTx(txId, maxBuffered, quarantine)(
        m.quarantined, m.count, buf.get().toSeq, rows)
      next match {
        case TxNext.Cleared =>
          disarmTimer(m)
          clearAll()
        case TxNext.Quarantined =>
          // the armed retention timer (if any) stays; its expiry finds
          // the tx already quarantined
          buf.clear()
          meta.update(m.copy(count = 0L, quarantined = true))
        case TxNext.Open(added) =>
          // still open: O(k) incremental append — the scale win
          buf.appendList(added.toArray)
          val firstTs =
            if (m.firstTs >= 0L) m.firstTs
            else {
              val t = added.head.ts_ms
              // arm the retention watchdog on first contact: abandon the
              // tx if the watermark passes firstTs + retention unclosed
              retentionMs.foreach(r => getHandle.registerTimer(t + r))
              t
            }
          meta.update(TwsTxMeta(m.count + added.size, quarantined = false, firstTs))
      }
      events
    }

    /** Seed this key's state from ANOTHER assembly strategy's exported
      * pending state (checkpoint migration — see
      * [[StateInspect.pendingFmgws]]): the open-tx record buffer and
      * the sticky quarantine flag carry over verbatim, so a poison tx
      * stays quarantined across the strategy switch and an open tx
      * resumes mid-flight with zero log replay. Runs once per key on
      * the migrated query's FIRST batch, before any input.
      */
    override def handleInitialState(txId: Long, initial: TxBuffer,
        timerValues: TimerValues): Unit = {
      // A quarantined seed must arrive with an EMPTY buffer (the fMGWS
      // exporter clears it at quarantine time): handleInitialState
      // cannot emit, so buffered records of a quarantined seed could
      // reach neither the merge nor the DLQ — fail fast instead of
      // silently dropping them.
      require(!initial.quarantined || initial.records.isEmpty,
        s"tx $txId: quarantined initial state must carry no buffered records " +
          s"(got ${initial.records.size}) — they could never be merged or DLQ'd")
      val sorted = initial.records.sortBy(_.lsn)
      if (sorted.nonEmpty) buf.appendList(sorted.toArray)
      val firstTs =
        if (sorted.isEmpty || initial.quarantined) -1L
        else {
          val t = sorted.head.ts_ms
          retentionMs.foreach(r => getHandle.registerTimer(t + r))
          t
        }
      meta.update(TwsTxMeta(sorted.size.toLong, initial.quarantined, firstTs))
    }

    /** Retention expiry (event-time timer): the tx has been open past
      * the horizon — the generalized Debezium abandonment contract
      * (`log.mining.transaction.retention.ms` in the Oracle sibling
      * connector; the Informix reference bounds open-tx exposure by
      * restart position instead). Buffered records surface to the DLQ
      * and the quarantined flag stays so any tail/close also routes
      * there — never a partial merge.
      */
    override def handleExpiredTimer(txId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[ChangeEvent] = {
      if (!meta.exists()) return Iterator.empty // closed before expiry
      val records = buf.get().toSeq.sortBy(_.lsn)
      buf.clear()
      meta.update(TwsTxMeta(0L, quarantined = true))
      records.iterator.map(toDlq(txId))
    }
  }

  /** Raw log stream -> committed ChangeEvent stream via
    * transformWithState (requires the RocksDB provider on the session).
    *
    * @param pending another checkpoint's exported open-tx state to seed
    *   the state with — ZERO-REPLAY CHECKPOINT MIGRATION. It is the
    *   (tx_id, buffer) set read from a [[StatefulAssembly]]
    *   (flatMapGroupsWithState) checkpoint via Spark's public
    *   state-store reader ([[StateInspect.pendingFmgws]]); the migrated
    *   query starts on a FRESH checkpoint, resumes every open
    *   transaction mid-flight and keeps quarantined ones quarantined.
    *   The operational story is the reference's connector-upgrade path
    *   (offsets + schema history carry over, the log is NOT re-read) —
    *   here the state itself carries over, so not even the open-tx tail
    *   is re-read.
    * @param retentionMs an OPEN-TRANSACTION RETENTION WATCHDOG on
    *   event-time timers: a transaction whose first record is older than
    *   `retentionMs` against the source-time watermark (delay 0) and
    *   that still has no COMMIT/ROLLBACK is ABANDONED — its buffered
    *   records surface to the DLQ ('x' events) and the sticky quarantine
    *   flag routes any later tail or close there too, so an abandoned tx
    *   can never partially merge. This is the generalized Debezium
    *   abandonment contract (the Oracle sibling connector's
    *   `log.mining.transaction.retention.ms`; the Informix reference
    *   instead bounds open-tx exposure via the restart position —
    *   `InformixStreamingChangeEventSource.java:139-152` — which the
    *   engine also implements as T5). Without the watchdog an unclosed
    *   tx pins state forever; with it, state occupancy is bounded by
    *   retention × ingest rate regardless of upstream pathology.
    *
    *   Late-filter interaction: the watermark that drives the timers
    *   also drops input records OLDER than itself before the processor
    *   (standard Spark semantics). An abandoned tx's straggler whose
    *   event time is stale therefore never reaches the DLQ — the DLQ
    *   captures the buffer at abandonment; the sticky quarantine catches
    *   any tail that passes the late filter (e.g. an eventual COMMIT,
    *   whose event time is the commit time and hence fresh). The
    *   quarantined marker itself is a few dozen bytes per abandoned tx
    *   and is cleared when such a close arrives.
    */
  def assemble(raw: Dataset[LogRecord],
      maxBufferedPerTx: Int = StatefulAssembly.DefaultMaxBufferedPerTx,
      quarantine: Boolean = false,
      pending: Option[Dataset[StateInspect.PendingTx]] = None,
      retentionMs: Option[Long] = None): Dataset[ChangeEvent] = {
    val spark = raw.sparkSession
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (input, timeMode) = retentionMs match {
      case None => (raw, TimeMode.None())
      case Some(_) =>
        (raw.withColumn("event_time", timestamp_millis(col("ts_ms")))
          .withWatermark("event_time", "0 milliseconds")
          .as[LogRecord], TimeMode.EventTime())
    }
    val grouped = input.groupByKey(_.tx_id)
    val processor = new TxProcessor(maxBufferedPerTx, quarantine, retentionMs)
    pending match {
      case None => grouped.transformWithState(processor, timeMode, OutputMode.Append())
      case Some(p) => grouped.transformWithState(processor, timeMode, OutputMode.Append(),
        StateInspect.seed(p))
    }
  }

  /** Full stateful pipeline (snapshot table + MERGE sink) on the
    * transformWithState assembly — the same prepare/merge/DLQ wiring as
    * [[StatefulAssembly.stream]]. `pending` seeds the assembly on a
    * fresh checkpoint (the strategy switch as one call, the sink's
    * batch-id channel continued); `retentionMs` arms the retention
    * watchdog, whose abandoned transactions surface in `cfg.dlqDir`
    * (required: without a DLQ dir the 'x' events would reach the merge,
    * which must never happen). See [[assemble]] for both.
    */
  def stream(
      spark: SparkSession,
      table: IceLiteTable,
      cfg: CdcConfig,
      trigger: Trigger = Trigger.AvailableNow(),
      pending: Option[Dataset[StateInspect.PendingTx]] = None,
      retentionMs: Option[Long] = None
  ): StreamingQuery = {
    require(retentionMs.isEmpty || cfg.dlqDir.isDefined,
      "a retention horizon needs cfg.dlqDir: abandoned-tx records route to the DLQ")
    StateStores.useRocksDb(spark)
    StatefulAssembly.streamWith(spark, table, cfg, trigger,
      raw => assemble(raw, cfg.maxTxRecords, quarantine = cfg.dlqDir.isDefined,
        pending, retentionMs),
      migrated = pending.isDefined)
  }
}
