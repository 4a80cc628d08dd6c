package graft.stream

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.model.TokenDoc
import graft.util.Fs
import java.nio.file.{Files, Paths}

/** E7 — signal-driven snapshots interleaved with the live stream,
  * mirroring `IncrementalSnapshotIT` / `BlockingSnapshotIT` driven via
  * the signal table.
  */
class SignalsSpec extends SparkSpec {

  test("incremental-snapshot signal executed between stream batches; marked done") {
    import spark.implicits._
    val cfg = ChangeLogConfig(nTx = 120, nDocs = 80, seed = 97)
    val base = Fs.tempDir("graft-signals")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt",
      numBuckets = 4, snapshotMode = SnapshotMode.NoData,
      signalDir = Some(s"$base/signals"))
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 4)
    // empty start: base state must arrive via the signalled snapshot
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    // the consistent-at-pin source view: initial state, pin = 0
    val srcDir = s"$base/source"
    ChangeLogGen.initialTable(spark, cfg).toDF().write.parquet(srcDir)
    val sig = Signals.request(cdc.signalDir.get,
      Signals.Signal("incremental-snapshot", srcDir, ChangeLogGen.snapshotLsn, chunks = 3))

    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 2)

    // signal consumed exactly once
    assert(!Files.exists(sig))
    assert(Files.exists(Paths.get(sig.toString + ".done")))
    assert(Signals.pending(cdc.signalDir.get).isEmpty)

    // final state == initial + full stream replay
    val initial = (0L until cfg.nDocs.toLong).map { k =>
      val t = ChangeLogGen.tokensFor(cfg.seed, k, 0L, cfg.maxTokens)
      ChangeLogGen.docId(k) -> TokenDoc(ChangeLogGen.docId(k), t, t.size, "seed")
    }.toMap
    val want = ReplayOracle.replay(initial,
      (0L until cfg.nTx).flatMap(i => ChangeLogGen.txRecords(cfg, i)),
      ChangeLogGen.snapshotLsn)
    val got = table.read().as[TokenDoc].collect().map(d => d.doc_id -> d).toMap
    assert(got.keySet == want.keySet,
      s"extra=${(got.keySet -- want.keySet).take(5)} missing=${(want.keySet -- got.keySet).take(5)}")
    want.foreach { case (k, w) => assert(got(k).tokens == w.tokens) }

    // stream and signal channels kept separate ids
    val sm = table.refresh().summary
    assert(sm.lastBatchId >= 0 && sm.lastSignalBatchId >= 0)
    Fs.deleteRecursively(base)
  }

  test("signal-driven snapshot READ events are gated by the configured rowFilter (SMT parity)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cfg = ChangeLogConfig(nTx = 60, nDocs = 50, seed = 99)
    val base = Fs.tempDir("graft-signals-gate")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt",
      numBuckets = 4, snapshotMode = SnapshotMode.NoData,
      signalDir = Some(s"$base/signals"),
      rowFilter = Some(col("after").getField("n_tok") % 2 === 0))
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 2)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    val srcDir = s"$base/source"
    ChangeLogGen.initialTable(spark, cfg).toDF().write.parquet(srcDir)
    // blocking snapshot pinned ABOVE every stream event: its (gated)
    // rows win for every key they cover
    Signals.request(cdc.signalDir.get,
      Signals.Signal("blocking-snapshot", srcDir, Long.MaxValue - 1, 1))
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 2)

    val initial = (0L until cfg.nDocs.toLong).map { k =>
      val t = ChangeLogGen.tokensFor(cfg.seed, k, 0L, cfg.maxTokens)
      ChangeLogGen.docId(k) -> TokenDoc(ChangeLogGen.docId(k), t, t.size, "seed")
    }.toMap
    val log = (0L until cfg.nTx).flatMap(i => ChangeLogGen.txRecords(cfg, i))
    val gatedLog = log.filter(r =>
      !(r.op == "c" || r.op == "u") || r.after.exists(_.n_tok % 2 == 0))
    // sink started EMPTY (no_data): stream contributes the gated replay;
    // the pinned snapshot overlays its GATED source rows on top
    val gatedSource = initial.filter { case (_, d) => d.n_tok % 2 == 0 }
    val want = ReplayOracle.replay(Map.empty, gatedLog, ChangeLogGen.snapshotLsn) ++
      gatedSource
    // the gate actually bit on the snapshot lane
    assert(gatedSource.size < initial.size)
    val got = table.read().as[TokenDoc].collect().map(d => d.doc_id -> d).toMap
    assert(got.keySet == want.keySet,
      s"extra=${(got.keySet -- want.keySet).take(5)} missing=${(want.keySet -- got.keySet).take(5)}")
    want.foreach { case (k, w) => assert(got(k).tokens == w.tokens, s"tokens $k") }
    Fs.deleteRecursively(base)
  }

  // ---- control signals: stop / pause / resume / log ----

  private def controlFixture(name: String, seed: Long) = {
    val cfg = ChangeLogConfig(nTx = 10, nDocs = 40, seed = seed)
    val base = Fs.tempDir(name)
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt",
      numBuckets = 4, snapshotMode = SnapshotMode.NoData,
      signalDir = Some(s"$base/signals"))
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 1)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    val srcDir = s"$base/source"
    ChangeLogGen.initialTable(spark, cfg).toDF().write.parquet(srcDir)
    (base, cdc, table, srcDir, cfg)
  }

  private def notifData(table: graft.icelite.IceLiteTable): Seq[(String, String)] =
    table.readNotifications().collect()
      .map(r => (r.getAs[String]("type"), r.getAs[String]("data"))).toSeq

  test("stop-snapshot aborts the registered snapshot; nothing applies") {
    val (base, cdc, table, srcDir, _) = controlFixture("graft-sig-stop", 101)
    val dir = cdc.signalDir.get
    Signals.request(dir, Signals.Signal("incremental-snapshot", srcDir, 0L, 3))
    Signals.request(dir, Signals.Signal("stop-snapshot", "", 0L, 0))
    Signals.process(spark, table, dir)
    assert({ table.refresh(); table.read() }.count() == 0)
    assert(Signals.readInflight(dir).isEmpty)
    val types = notifData(table).map(_._1)
    assert(types.contains("STARTED") && types.contains("ABORTED"))
    assert(!types.contains("COMPLETED"))
    // a second stop with nothing in flight is recorded, never fails
    Signals.request(dir, Signals.Signal("stop-snapshot", "", 0L, 0))
    Signals.process(spark, table, dir)
    assert(notifData(table).exists { case (t, d) =>
      t == "SKIPPED" && d.contains("no snapshot in flight") })
    Fs.deleteRecursively(base)
  }

  test("pause persists the cursor across polls; resume completes the snapshot") {
    val (base, cdc, table, srcDir, cfg) = controlFixture("graft-sig-pause", 102)
    val dir = cdc.signalDir.get
    Signals.request(dir, Signals.Signal("incremental-snapshot", srcDir, 0L, 3))
    Signals.request(dir, Signals.Signal("pause-snapshot", "", 0L, 0))
    Signals.process(spark, table, dir)
    // paused before the first chunk boundary: cursor persisted, no rows
    assert({ table.refresh(); table.read() }.count() == 0)
    val st = Signals.readInflight(dir).get
    assert(st.paused && st.nextChunk == 0 && st.chunks == 3)
    // a poll while paused is a no-op
    Signals.process(spark, table, dir)
    assert({ table.refresh(); table.read() }.count() == 0)
    // resume -> runs the remaining chunks to completion
    Signals.request(dir, Signals.Signal("resume-snapshot", "", 0L, 0))
    Signals.process(spark, table, dir)
    assert(Signals.readInflight(dir).isEmpty)
    assert({ table.refresh(); table.read() }.count() == cfg.nDocs.toLong)
    val types = notifData(table).map(_._1)
    assert(types.contains("PAUSED") && types.contains("RESUMED")
      && types.contains("COMPLETED"))
    Fs.deleteRecursively(base)
  }

  test("a persisted cursor resumes from its chunk, not from scratch") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val (base, cdc, table, srcDir, _) = controlFixture("graft-sig-cursor", 103)
    val dir = cdc.signalDir.get
    // simulate a snapshot interrupted after 2 of 4 chunks (e.g. process
    // died between polls): only chunks 2..3 may apply on resume
    Signals.writeInflight(dir,
      Signals.Inflight(srcDir, 0L, chunks = 4, nextChunk = 2, paused = false))
    Signals.process(spark, table, dir)
    val expected = spark.read.parquet(srcDir)
      .where(pmod(graft.ops.TextOps.portableHash(col("doc_id").cast("string")),
        lit(4L)) >= 2L)
      .select("doc_id").collect().map(_.getString(0)).toSet
    val got = { table.refresh(); table.read() }.select("doc_id")
      .collect().map(_.getString(0)).toSet
    assert(got == expected && expected.nonEmpty)
    assert(Signals.readInflight(dir).isEmpty)
    Fs.deleteRecursively(base)
  }

  test("additional-condition filters the snapshot source (ad-hoc snapshot parity)") {
    val (base, cdc, table, srcDir, cfg) = controlFixture("graft-sig-cond", 105)
    val dir = cdc.signalDir.get
    Signals.request(dir, Signals.Signal("incremental-snapshot", srcDir, 0L, 2,
      where = "n_tok % 2 = 0"))
    Signals.process(spark, table, dir)
    val expected = spark.read.parquet(srcDir).where("n_tok % 2 = 0")
      .select("doc_id").collect().map(_.getString(0)).toSet
    val got = { table.refresh(); table.read() }.select("doc_id")
      .collect().map(_.getString(0)).toSet
    assert(got == expected && expected.nonEmpty && got.size < cfg.nDocs)
    Fs.deleteRecursively(base)
  }

  test("log signal lands on the notification channel") {
    val (base, cdc, table, _, _) = controlFixture("graft-sig-log", 104)
    val dir = cdc.signalDir.get
    Signals.request(dir, Signals.Signal("log", "", 0L, 0,
      message = "ad-hoc operator message"))
    Signals.process(spark, table, dir)
    assert(notifData(table).contains(("LOG", "ad-hoc operator message")))
    Fs.deleteRecursively(base)
  }
}
