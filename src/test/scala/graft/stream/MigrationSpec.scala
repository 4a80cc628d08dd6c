package graft.stream

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.model.{ChangeEvent, LogRecord, TokenDoc}
import graft.util.Fs

/** Checkpoint state migration between assembly strategies: the
  * flatMapGroupsWithState checkpoint's open-transaction state is read
  * through Spark's public state-store reader (StateInspect) and seeds a
  * transformWithState query via initial state — zero log re-read. Pins:
  * end-state parity with the replay oracle, pending-state inspection
  * correctness, quarantine carryover across the switch, and idempotent
  * re-drain of the migrated query (batch-id base pinned beside the new
  * checkpoint).
  */
/** The pre-round-4 `TxBuffer` state shape (no `quarantined` flag) — the
  * legacy checkpoint fixture for the self-upgrade test. File-scope so
  * the product encoder derives cleanly.
  */
case class TxBufferV0(records: Seq[LogRecord])

class MigrationSpec extends SparkSpec {

  private def stage(recs: Seq[LogRecord], dir: String)(implicit
      s: org.apache.spark.sql.SparkSession): Unit =
    ChangeLogGen.stageBatchFile(s, recs, dir)

  test("fMGWS half + migrated TWS half equals the full replay oracle; re-drain is a no-op") {
    implicit val s = spark.newSession()
    import s.implicits._
    val cfg = ChangeLogConfig(nTx = 80, nDocs = 60, seed = 331, maxOpsPerTx = 10)
    val base = Fs.tempDir("graft-mig")
    try {
      val log = (0L until cfg.nTx)
        .flatMap(i => ChangeLogGen.txRecords(cfg, i)).sortBy(_.lsn)
      val (first, second) = log.splitAt(log.size / 2)

      val cdc1 = CdcConfig(s"$base/log1", s"$base/table", s"$base/ckpt1",
        numBuckets = 4)
      stage(first, cdc1.logDir)
      val table = CdcJob.snapshot(s,
        ChangeLogGen.initialTable(s, cfg).toDF(), cdc1, ChangeLogGen.snapshotLsn)
      StatefulAssembly.stream(s, table, cdc1).awaitTermination()

      // pending state == the open transactions derivable from the prefix
      val pending = StateInspect.pendingFmgws(s, cdc1.checkpointDir).cache()
      val gotPending = pending.collect()
        .map(p => p.tx_id -> p.records.map(_.lsn).sorted).toMap
      val wantPending = first.groupBy(_.tx_id)
        .filter { case (_, rs) => !rs.exists(r => r.op == "C" || r.op == "R") }
        .map { case (tx, rs) => tx -> rs.map(_.lsn).sorted }
      assert(gotPending === wantPending)
      assert(gotPending.nonEmpty, "split must leave open txs or the test is vacuous")

      val cdc2 = cdc1.copy(logDir = s"$base/log2", checkpointDir = s"$base/ckpt2")
      stage(second, cdc2.logDir)
      TwsAssembly.stream(s, table, cdc2, pending = Some(pending)).awaitTermination()

      val initial = (0L until cfg.nDocs.toLong).map { k =>
        val t = ChangeLogGen.tokensFor(cfg.seed, k, 0L, cfg.maxTokens)
        ChangeLogGen.docId(k) -> TokenDoc(ChangeLogGen.docId(k), t, t.size, "seed")
      }.toMap
      val want = ReplayOracle.replay(initial, log, ChangeLogGen.snapshotLsn)
      def readState(): Map[String, Seq[Int]] =
        table.read().as[TokenDoc].collect().map(d => d.doc_id -> d.tokens).toMap
      val got = readState()
      assert(got.keySet === want.keySet,
        s"extra=${(got.keySet -- want.keySet).take(5)} missing=${(want.keySet -- got.keySet).take(5)}")
      want.foreach { case (k, w) => assert(got(k) === w.tokens, s"tokens mismatch $k") }

      // idempotent re-drain: the pinned batch-id base keeps the sink's
      // gate consistent — nothing re-applies, nothing is lost
      TwsAssembly.stream(s, table, cdc2, pending = Some(pending)).awaitTermination()
      assert(readState() === got)
    } finally Fs.deleteRecursively(base)
  }

  test("REVERSE migration (TWS -> fMGWS): pending state read from the TWS checkpoint, downgrade lands on the replay oracle") {
    implicit val s = spark.newSession()
    import s.implicits._
    val cfg = ChangeLogConfig(nTx = 80, nDocs = 60, seed = 409, maxOpsPerTx = 10)
    val base = Fs.tempDir("graft-migback")
    try {
      val log = (0L until cfg.nTx)
        .flatMap(i => ChangeLogGen.txRecords(cfg, i)).sortBy(_.lsn)
      val (first, second) = log.splitAt(log.size / 2)

      val cdc1 = CdcConfig(s"$base/log1", s"$base/table", s"$base/ckpt1",
        numBuckets = 4)
      stage(first, cdc1.logDir)
      val table = CdcJob.snapshot(s,
        ChangeLogGen.initialTable(s, cfg).toDF(), cdc1, ChangeLogGen.snapshotLsn)
      TwsAssembly.stream(s, table, cdc1).awaitTermination()

      // pending state from the TWS checkpoint == the open transactions
      // derivable from the prefix
      val pending = StateInspect.pendingTws(s, cdc1.checkpointDir).cache()
      val gotPending = pending.collect()
        .map(p => p.tx_id -> p.records.map(_.lsn).sorted).toMap
      val wantPending = first.groupBy(_.tx_id)
        .filter { case (_, rs) => !rs.exists(r => r.op == "C" || r.op == "R") }
        .map { case (tx, rs) => tx -> rs.map(_.lsn).sorted }
      assert(gotPending === wantPending)
      assert(gotPending.nonEmpty, "split must leave open txs or the test is vacuous")

      val cdc2 = cdc1.copy(logDir = s"$base/log2", checkpointDir = s"$base/ckpt2")
      stage(second, cdc2.logDir)
      StatefulAssembly.stream(s, table, cdc2, pending = Some(pending))
        .awaitTermination()

      val initial = (0L until cfg.nDocs.toLong).map { k =>
        val t = ChangeLogGen.tokensFor(cfg.seed, k, 0L, cfg.maxTokens)
        ChangeLogGen.docId(k) -> TokenDoc(ChangeLogGen.docId(k), t, t.size, "seed")
      }.toMap
      val want = ReplayOracle.replay(initial, log, ChangeLogGen.snapshotLsn)
      val got = table.read().as[TokenDoc].collect().map(d => d.doc_id -> d.tokens).toMap
      assert(got.keySet === want.keySet,
        s"extra=${(got.keySet -- want.keySet).take(5)} missing=${(want.keySet -- got.keySet).take(5)}")
      want.foreach { case (k, w) => assert(got(k) === w.tokens, s"tokens mismatch $k") }

      // idempotent re-drain on the pinned batch-id base
      StatefulAssembly.stream(s, table, cdc2, pending = Some(pending))
        .awaitTermination()
      assert(table.read().as[TokenDoc].collect()
        .map(d => d.doc_id -> d.tokens).toMap === got)
    } finally Fs.deleteRecursively(base)
  }

  test("quarantined state carries over: the poison tx's post-migration close is DLQ'd, never merged") {
    implicit val s = spark.newSession()
    import s.implicits._
    val base = Fs.tempDir("graft-migq")
    try {
      def doc(name: String) = Some(TokenDoc(name, Seq(1), 1, "cdc"))
      // tx 7: poison (5 records > cap 3, no close) -> quarantined in phase 1
      // tx 1: legitimately open at the boundary -> migrates normally
      val first =
        LogRecord(10L, 7L, "B", -1L, "token_docs", None, None, 0L) +:
        (1L to 4L).map(i => LogRecord(10L + i, 7L, "c", -1L, "token_docs",
          None, doc(s"poison$i"), 0L)) :+
        LogRecord(20L, 1L, "B", -1L, "token_docs", None, None, 0L) :+
        LogRecord(21L, 1L, "c", -1L, "token_docs", None, doc("alive"), 0L)
      val second = Seq(
        LogRecord(30L, 7L, "C", -1L, "token_docs", None, None, 0L),
        LogRecord(31L, 1L, "C", -1L, "token_docs", None, None, 0L),
        LogRecord(40L, 8L, "B", -1L, "token_docs", None, None, 0L),
        LogRecord(41L, 8L, "c", -1L, "token_docs", None, doc("late"), 0L),
        LogRecord(42L, 8L, "C", -1L, "token_docs", None, None, 0L))

      val cdc1 = CdcConfig(s"$base/log1", s"$base/table", s"$base/ckpt1",
        numBuckets = 2, maxTxRecords = 3, dlqDir = Some(s"$base/dlq1"))
      stage(first, cdc1.logDir)
      val table = CdcJob.snapshot(s,
        Seq(TokenDoc("seed0", Seq(0), 1, "seed")).toDS().toDF(),
        cdc1, 0L)
      StatefulAssembly.stream(s, table, cdc1).awaitTermination()

      val pending = StateInspect.pendingFmgws(s, cdc1.checkpointDir).cache()
      val byTx = pending.collect().map(p => p.tx_id -> p).toMap
      assert(byTx(7L).quarantined && byTx(7L).records.isEmpty)
      assert(!byTx(1L).quarantined && byTx(1L).records.size == 2)

      val cdc2 = cdc1.copy(logDir = s"$base/log2",
        checkpointDir = s"$base/ckpt2", dlqDir = Some(s"$base/dlq2"))
      stage(second, cdc2.logDir)
      TwsAssembly.stream(s, table, cdc2, pending = Some(pending)).awaitTermination()

      val docs = table.read().as[TokenDoc].collect().map(_.doc_id).toSet
      assert(docs === Set("seed0", "alive", "late"),
        s"poison rows must never merge, got $docs")
      // the late close itself went to the DLQ (sticky quarantine)
      val dlq2 = s.read.parquet(s"$base/dlq2/*")
        .as[ChangeEvent](org.apache.spark.sql.Encoders.product[ChangeEvent])
        .collect()
      assert(dlq2.exists(e =>
        e.tx_id == 7L && e.op == StatefulAssembly.DlqOp && e.change_lsn == 30L))
    } finally Fs.deleteRecursively(base)
  }

  test("SELF-UPGRADE: a pre-quarantined-field checkpoint migrates zero-replay and continues exactly-once") {
    implicit val s = spark.newSession()
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
    val cfg = ChangeLogConfig(nTx = 80, nDocs = 60, seed = 337, maxOpsPerTx = 10)
    val base = Fs.tempDir("graft-migv0")
    try {
      val log = (0L until cfg.nTx)
        .flatMap(i => ChangeLogGen.txRecords(cfg, i)).sortBy(_.lsn)
      val (first, second) = log.splitAt(log.size / 2)

      // Phase 1 runs a LEGACY binary's assembly: state is the pre-round-4
      // TxBuffer shape (records only, no `quarantined`), buffering
      // semantics identical for non-poison logs (shared foldTx/emitClosed
      // keep them aligned by construction). The checkpoint it leaves
      // behind is exactly what an upgraded deployment finds on disk.
      def legacyStep(txId: Long, incoming: Iterator[LogRecord],
          state: GroupState[TxBufferV0]): Iterator[ChangeEvent] = {
        val buf = scala.collection.mutable.ArrayBuffer[LogRecord]()
        state.getOption.foreach(b => buf ++= b.records)
        buf ++= incoming
        val sorted = buf.sortBy(_.lsn).toSeq
        val (ops, begin, closed) = StatefulAssembly.foldTx(sorted)
        closed match {
          case Some(c) =>
            state.remove(); StatefulAssembly.emitClosed(txId, ops, begin, c)
          case None =>
            state.update(TxBufferV0(sorted)); Iterator.empty
        }
      }
      val cdc1 = CdcConfig(s"$base/log1", s"$base/table", s"$base/ckpt1",
        numBuckets = 4)
      stage(first, cdc1.logDir)
      val table = CdcJob.snapshot(s,
        ChangeLogGen.initialTable(s, cfg).toDF(), cdc1, ChangeLogGen.snapshotLsn)
      StatefulAssembly.streamWith(s, table, cdc1, Trigger.AvailableNow(),
        raw => raw.groupByKey(_.tx_id).flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout)(legacyStep))
        .awaitTermination()

      // the NEW binary cannot resume the old checkpoint in place: Spark
      // rejects the state-schema change (this is WHY the upgrade path
      // exists); stage one extra closed tx so the resume has work to do
      ChangeLogGen.stageBatchFile(s, Seq(
        LogRecord(Long.MaxValue - 100L, 900001L, "B", -1L, "token_docs", None, None, 0L),
        LogRecord(Long.MaxValue - 99L, 900001L, "C", -1L, "token_docs", None, None, 0L)),
        cdc1.logDir, index = 999)
      val resumeFailure = intercept[Exception] {
        StatefulAssembly.stream(s, table, cdc1).awaitTermination()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(resumeFailure).exists(m =>
        m.toLowerCase.contains("schema") || m.toLowerCase.contains("state")),
        s"expected a state-schema incompatibility, got: ${messages(resumeFailure)}")

      // UPGRADE: export pending state through the stored-schema-tolerant
      // reader (quarantined defaults to false), seed a fresh-checkpoint
      // TWS query over the remaining log — zero re-read of applied log
      val pending = StateInspect.pendingFmgws(s, cdc1.checkpointDir).cache()
      assert(pending.collect().forall(!_.quarantined))
      assert(pending.count() > 0, "split must leave open txs or the test is vacuous")
      val cdc2 = cdc1.copy(logDir = s"$base/log2", checkpointDir = s"$base/ckpt2")
      stage(second, cdc2.logDir)
      TwsAssembly.stream(s, table, cdc2, pending = Some(pending)).awaitTermination()

      val initial = (0L until cfg.nDocs.toLong).map { k =>
        val t = ChangeLogGen.tokensFor(cfg.seed, k, 0L, cfg.maxTokens)
        ChangeLogGen.docId(k) -> TokenDoc(ChangeLogGen.docId(k), t, t.size, "seed")
      }.toMap
      val want = ReplayOracle.replay(initial, log, ChangeLogGen.snapshotLsn)
      def readState(): Map[String, Seq[Int]] =
        table.read().as[TokenDoc].collect().map(d => d.doc_id -> d.tokens).toMap
      val got = readState()
      assert(got.keySet === want.keySet,
        s"extra=${(got.keySet -- want.keySet).take(5)} missing=${(want.keySet -- got.keySet).take(5)}")
      want.foreach { case (k, w) => assert(got(k) === w.tokens, s"tokens mismatch $k") }
      // exactly-once across the upgrade: re-drain is a no-op
      TwsAssembly.stream(s, table, cdc2, pending = Some(pending)).awaitTermination()
      assert(readState() === got)
    } finally Fs.deleteRecursively(base)
  }
}
