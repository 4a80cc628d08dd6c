package graft.stream

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.model.{ChangeEvent, LogRecord, TokenDoc}
import graft.util.Fs
import org.apache.spark.sql.streaming.Trigger

/** transformWithState transaction assembly (Spark 4 StatefulProcessor on
  * RocksDB): end-to-end oracle convergence with mid-state restarts, and
  * event-for-event parity with the flatMapGroupsWithState assembly —
  * including the DLQ quarantine path under a poison transaction.
  */
class TwsAssemblySpec extends SparkSpec {

  private def sliceLog(log: Seq[LogRecord], logDir: String, slices: Int): Unit = {
    import spark.implicits._
    log.grouped(math.max(1, log.size / slices)).zipWithIndex.foreach { case (slice, i) =>
      val tmp = f"$logDir-stage/slice-$i%03d"
      slice.toDS().toDF().coalesce(1).write.parquet(tmp)
      val part = Fs.listParquet(tmp).head
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(logDir))
      java.nio.file.Files.move(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(f"$logDir/slice-$i%03d.parquet"))
    }
  }

  test("TWS assembly over row-sliced log equals the replay oracle (one file per trigger)") {
    import spark.implicits._
    val cfg = ChangeLogConfig(nTx = 120, nDocs = 80, seed = 307, maxOpsPerTx = 12)
    val base = Fs.tempDir("graft-tws")
    try {
      val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt",
        numBuckets = 4, maxFilesPerTrigger = 1)
      val log = (0L until cfg.nTx).flatMap(i => ChangeLogGen.txRecords(cfg, i)).sortBy(_.lsn)
      sliceLog(log, cdc.logDir, 6)
      val fresh = spark.newSession()
      val table = CdcJob.snapshot(fresh, ChangeLogGen.initialTable(fresh, cfg).toDF(),
        cdc, ChangeLogGen.snapshotLsn)
      TwsAssembly.stream(fresh, table, cdc).awaitTermination()

      val initial = (0L until cfg.nDocs.toLong).map { k =>
        val t = ChangeLogGen.tokensFor(cfg.seed, k, 0L, cfg.maxTokens)
        ChangeLogGen.docId(k) -> TokenDoc(ChangeLogGen.docId(k), t, t.size, "seed")
      }.toMap
      val want = ReplayOracle.replay(initial, log, ChangeLogGen.snapshotLsn)
      val got = table.read().as[TokenDoc].collect().map(d => d.doc_id -> d).toMap
      assert(got.keySet == want.keySet,
        s"extra=${(got.keySet -- want.keySet).take(5)} missing=${(want.keySet -- got.keySet).take(5)}")
      want.foreach { case (k, w) =>
        assert(got(k).tokens == w.tokens, s"tokens mismatch $k") }
    } finally Fs.deleteRecursively(base)
  }

  test("TWS and fMGWS assemblies emit identical event sets, including DLQ quarantine of a poison tx") {
    val cfg = ChangeLogConfig(nTx = 60, nDocs = 40, seed = 311, maxOpsPerTx = 8)
    val base = Fs.tempDir("graft-twscmp")
    try {
      // real tx mix plus one poison tx: records forever, never closes —
      // exceeds the cap mid-stream, so the sticky-quarantine path runs
      val poison = (1L to 40L).map(i =>
        LogRecord(900000L + i, 424242L, "c", -1L, "token_docs", None,
          Some(TokenDoc(s"poison$i", Seq(1), 1, "cdc")), 0L))
      val log = ((0L until cfg.nTx).flatMap(i => ChangeLogGen.txRecords(cfg, i))
        ++ poison).sortBy(_.lsn)

      def runAssembly(tag: String,
          doAssemble: org.apache.spark.sql.Dataset[LogRecord] =>
            org.apache.spark.sql.Dataset[ChangeEvent]): Seq[ChangeEvent] = {
        val dir = s"$base/$tag"
        sliceLog(log, s"$dir/log", 5)
        val fresh = StateStores.useRocksDb(spark.newSession())
        val raw = fresh.readStream.schema(LogRecord.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$dir/log")
          .as[LogRecord](org.apache.spark.sql.Encoders.product[LogRecord])
        doAssemble(raw).writeStream.format("parquet")
          .option("path", s"$dir/sink").option("checkpointLocation", s"$dir/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
        fresh.read.parquet(s"$dir/sink")
          .as[ChangeEvent](org.apache.spark.sql.Encoders.product[ChangeEvent])
          .collect().toSeq
          .sortBy(e => (e.commit_lsn, e.change_lsn, e.tx_id, e.op))
      }

      val cap = 16
      val tws = runAssembly("tws",
        raw => TwsAssembly.assemble(raw, cap, quarantine = true))
      val fmg = runAssembly("fmg",
        raw => StatefulAssembly.assemble(raw, cap, quarantine = true))
      assert(tws.nonEmpty)
      assert(tws === fmg)
      // the poison tx actually exercised the quarantine path
      assert(tws.exists(_.op == StatefulAssembly.DlqOp))
      // and real transactions still committed
      assert(tws.exists(e => e.op == "c" || e.op == "u"))
    } finally Fs.deleteRecursively(base)
  }

  test("retention watchdog: an open tx past the horizon is abandoned via event-time timer; its late close is quarantined") {
    import spark.implicits._
    val base = Fs.tempDir("graft-twsret")
    try {
      def doc(i: Long) = Some(TokenDoc(s"d$i", Seq(i.toInt), 1, "cdc"))
      // txA (id 1): opens and commits normally -> timer disarmed.
      // txB (id 2): opens at ts 1000, never closes before the watermark
      //   (delay 0) passes 1000 + 5000 -> abandoned when batch 3's
      //   watermark (9000, from batch 2's max ts) fires the timer.
      //   Its close finally arrives in batch 4 -> sticky quarantine:
      //   DLQ'd and marker emitted, never merged.
      // txC (id 3) and txD (id 4): watermark movers, commit normally.
      val b0 = Seq(
        LogRecord(1L, 1L, "B", -1L, "token_docs", None, None, 1000L),
        LogRecord(2L, 1L, "c", -1L, "token_docs", None, doc(1), 1000L),
        LogRecord(3L, 2L, "B", -1L, "token_docs", None, None, 1000L),
        LogRecord(4L, 2L, "c", -1L, "token_docs", None, doc(2), 1000L))
      val b1 = Seq(LogRecord(10L, 1L, "C", -1L, "token_docs", None, None, 2000L))
      val b2 = Seq(
        LogRecord(20L, 3L, "B", -1L, "token_docs", None, None, 9000L),
        LogRecord(21L, 3L, "c", -1L, "token_docs", None, doc(3), 9000L),
        LogRecord(22L, 3L, "C", -1L, "token_docs", None, None, 9000L))
      val b3 = Seq(
        LogRecord(25L, 4L, "B", -1L, "token_docs", None, None, 9500L),
        LogRecord(26L, 4L, "C", -1L, "token_docs", None, None, 9500L))
      val b4 = Seq(LogRecord(30L, 2L, "C", -1L, "token_docs", None, None, 9600L))

      val logDir = s"$base/log"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(logDir))
      val fresh = StateStores.useRocksDb(spark.newSession())
      def drain(): Unit =
        TwsAssembly.assemble(
            fresh.readStream.schema(LogRecord.schema).parquet(logDir)
              .as[LogRecord](org.apache.spark.sql.Encoders.product[LogRecord]),
            quarantine = true, retentionMs = Some(5000L))
          .writeStream.format("parquet")
          .option("path", s"$base/sink").option("checkpointLocation", s"$base/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
          .awaitTermination()
      Seq(b0, b1, b2, b3, b4).zipWithIndex.foreach { case (batch, i) =>
        val tmp = s"$base/stage-$i"
        batch.toDS().toDF().coalesce(1).write.parquet(tmp)
        java.nio.file.Files.move(
          java.nio.file.Paths.get(Fs.listParquet(tmp).head),
          java.nio.file.Paths.get(f"$logDir/batch-$i%03d.parquet"))
        drain()
      }
      val out = fresh.read.parquet(s"$base/sink")
        .as[ChangeEvent](org.apache.spark.sql.Encoders.product[ChangeEvent])
        .collect().toSeq
      // committed data events: txA, txC only (txD is an empty commit)
      assert(out.filter(e => e.op == "c").map(_.tx_id).toSet === Set(1L, 3L))
      // txB's buffered record surfaced to the DLQ when the timer fired,
      // and its late close was quarantined too (marker still emitted)
      val bEvents = out.filter(_.tx_id == 2L)
      assert(bEvents.exists(e => e.op == StatefulAssembly.DlqOp && e.change_lsn == 4L))
      assert(bEvents.exists(_.op == TxAssembler.MarkerOp))
      assert(!bEvents.exists(_.op == "c"))
      // position markers: every closed or quarantine-closed tx advanced
      assert(out.count(_.op == TxAssembler.MarkerOp) === 4)
    } finally Fs.deleteRecursively(base)
  }
}
