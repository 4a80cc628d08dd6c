package graft.stream

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.icelite.IceLite
import graft.model.{LogRecord, TokenDoc}
import graft.util.Fs

/** Failure-window, mode, skew and ordering robustness — the hard parts
  * called out in SURVEY.md §7.4.
  */
class RobustnessSpec extends SparkSpec {

  private def oracle(cfg: ChangeLogConfig): Map[String, TokenDoc] = {
    val initial = (0L until cfg.nDocs.toLong).map { k =>
      val t = ChangeLogGen.tokensFor(cfg.seed, k, 0L, cfg.maxTokens)
      ChangeLogGen.docId(k) -> TokenDoc(ChangeLogGen.docId(k), t, t.size, "seed")
    }.toMap
    ReplayOracle.replay(initial,
      (0L until cfg.nTx).flatMap(i => ChangeLogGen.txRecords(cfg, i)),
      ChangeLogGen.snapshotLsn)
  }

  private def assertEqual(tableRoot: String, want: Map[String, TokenDoc]): Unit = {
    import spark.implicits._
    val got = IceLite.load(spark, tableRoot).read()
      .as[TokenDoc].collect().map(d => d.doc_id -> d).toMap
    assert(got.keySet == want.keySet,
      s"extra=${(got.keySet -- want.keySet).take(5)} missing=${(want.keySet -- got.keySet).take(5)}")
    want.foreach { case (k, w) => assert(got(k).tokens == w.tokens, s"tokens mismatch $k") }
  }

  test("crash between delta write and snapshot commit: retry converges (SURVEY §7.4.1)") {
    val cfg = ChangeLogConfig(nTx = 120, nDocs = 80, seed = 47)
    val base = Fs.tempDir("graft-crash")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 8)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 2)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    val files = Fs.listParquet(cdc.logDir).sorted
    CdcJob.processBatch(table, spark.read.schema(LogRecord.schema).parquet(files.head), 0L)

    // simulate the crash window for batch 1: delta files fully written,
    // commit never happened (orphan dir exactly where a retry will write)
    val raw1 = spark.read.schema(LogRecord.schema).parquet(files(1))
    val snapBefore = table.refresh().snapshotId
    val orphan = s"${cdc.tableRoot}/data/delta-00000001"
    TxAssembler.assemble(raw1).limit(10).write.mode("overwrite").parquet(orphan)
    assert(Fs.listParquet(orphan).nonEmpty)
    assert(table.refresh().snapshotId == snapBefore) // nothing committed

    // driver restarts, reprocesses batch 1 -> overwrites orphan, commits once
    val s1 = CdcJob.processBatch(table, raw1, 1L)
    assert(s1.committed && !s1.alreadyApplied)
    assertEqual(cdc.tableRoot, oracle(cfg))
    Fs.deleteRecursively(base)
  }

  test("snapshot modes: when_needed loads existing; always re-snapshots") {
    val cfg = ChangeLogConfig(nTx = 40, nDocs = 30, seed = 53)
    val base = Fs.tempDir("graft-modes")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt",
      numBuckets = 4, snapshotMode = SnapshotMode.WhenNeeded)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 1)
    val t1 = CdcJob.ensureTable(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, t1, cdc, filesPerBatch = 1)
    val v1 = t1.refresh().snapshotId
    // when_needed again: must load, not wipe
    val t2 = CdcJob.ensureTable(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    assert(t2.current.snapshotId == v1)
    // always: fresh table (v1 state discarded)
    val t3 = CdcJob.ensureTable(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc.copy(snapshotMode = SnapshotMode.Always), ChangeLogGen.snapshotLsn)
    assert(t3.current.snapshotId == 1L)
    assert(t3.current.summary.lastBatchId == -1L)
    Fs.deleteRecursively(base)
  }

  test("snapshot modes recovery / configuration_based / custom") {
    val cfg = ChangeLogConfig(nTx = 40, nDocs = 30, seed = 149)
    val base = Fs.tempDir("graft-modes2")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 4)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 1)
    // recovery without an existing table refuses (it never re-reads data)
    intercept[IllegalStateException] {
      CdcJob.ensureTable(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
        cdc.copy(snapshotMode = SnapshotMode.Recovery), ChangeLogGen.snapshotLsn)
    }
    val t1 = CdcJob.ensureTable(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, t1, cdc, filesPerBatch = 1)
    val rowsBefore = t1.read().count()
    // recovery on an existing table: schema metadata rebuilt, data intact
    val t2 = CdcJob.ensureTable(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc.copy(snapshotMode = SnapshotMode.Recovery), ChangeLogGen.snapshotLsn)
    assert(t2.current.summary.note == "recovery:schema-rebuilt")
    assert(t2.read().count() == rowsBefore)
    // configuration_based with data off + schema on = no_data semantics
    val cdcCb = cdc.copy(tableRoot = s"$base/table-cb", checkpointDir = s"$base/ckpt-cb",
      snapshotMode = SnapshotMode.ConfigurationBased, configSnapshotData = false)
    val t3 = CdcJob.ensureTable(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdcCb, ChangeLogGen.snapshotLsn)
    assert(t3.read().count() == 0 && t3.current.schema.fieldNames.contains("doc_id"))
    // custom: the hook decides (here: a plain snapshot with a marker note)
    var hookRan = false
    val cdcCu = cdc.copy(tableRoot = s"$base/table-cu", checkpointDir = s"$base/ckpt-cu",
      snapshotMode = SnapshotMode.Custom,
      customSnapshot = Some((s, src, c, pin) => { hookRan = true; CdcJob.snapshot(s, src, c, pin) }))
    val t4 = CdcJob.ensureTable(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdcCu, ChangeLogGen.snapshotLsn)
    assert(hookRan && t4.read().count() == cfg.nDocs)
    Fs.deleteRecursively(base)
  }

  test("heartbeat action SQL runs once per batch (heartbeat.action.query analog)") {
    val cfg = ChangeLogConfig(nTx = 60, nDocs = 40, seed = 151)
    val base = Fs.tempDir("graft-hb")
    val hbDir = s"$base/heartbeats"
    spark.sql(s"CREATE TABLE graft_hb_test (tick INT) USING parquet LOCATION '$hbDir'")
    try {
      val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 4,
        heartbeatActionSql = Some("INSERT INTO graft_hb_test VALUES (1)"))
      ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 3)
      val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
        cdc, ChangeLogGen.snapshotLsn)
      val stats = CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
      assert(spark.table("graft_hb_test").count() == stats.size.toLong)
      assertEqual(cdc.tableRoot, oracle(cfg))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_hb_test")
      Fs.deleteRecursively(base)
    }
  }

  test("heartbeat action SQL runs once per batch of the stateful-assembly stream") {
    val cfg = ChangeLogConfig(nTx = 60, nDocs = 40, seed = 151)
    val base = Fs.tempDir("graft-hb-stateful")
    spark.sql(s"CREATE TABLE graft_hb_stateful (tick INT) USING parquet " +
      s"LOCATION '$base/heartbeats'")
    try {
      Seq(false, true).foreach { async =>
        val run = s"$base/async-$async"
        val cdc = CdcConfig(s"$run/log", s"$run/table", s"$run/ckpt", numBuckets = 4,
          maxFilesPerTrigger = 1, asyncCompaction = async,
          heartbeatActionSql = Some("INSERT INTO graft_hb_stateful VALUES (1)"))
        ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 3)
        val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
          cdc, ChangeLogGen.snapshotLsn)
        // the heartbeat may insert from another session: re-list the table
        def ticks(): Long = {
          spark.catalog.refreshTable("graft_hb_stateful"); spark.table("graft_hb_stateful").count()
        }
        val ticks0 = ticks()
        val fresh = spark.newSession()
        StatefulAssembly.stream(fresh, table, cdc).awaitTermination()
        val applied = table.refresh().summary.lastBatchId + 1
        assert(applied >= 3)
        assert(ticks() - ticks0 == applied)
        assertEqual(cdc.tableRoot, oracle(cfg))
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_hb_stateful")
      Fs.deleteRecursively(base)
    }
  }

  test("heartbeat action SQL runs once per batch of the incremental wire consumer") {
    val cfg = ChangeLogConfig(nTx = 60, nDocs = 40, seed = 151)
    val base = Fs.tempDir("graft-hb-wire")
    spark.sql(s"CREATE TABLE graft_hb_wire (tick INT) USING parquet " +
      s"LOCATION '$base/heartbeats'")
    try {
      val producer = CdcConfig(s"$base/log", s"$base/ptable", s"$base/pckpt", numBuckets = 4,
        emitDir = Some(s"$base/emit"), emitWire = true)
      ChangeLogGen.writeLog(spark, cfg, producer.logDir, 3)
      CdcJob.runBatchIncremental(spark, CdcJob.snapshot(spark,
        ChangeLogGen.initialTable(spark, cfg).toDF(), producer, ChangeLogGen.snapshotLsn),
        producer, filesPerBatch = 1)
      val consumer = CdcConfig(s"$base/emit", s"$base/ctable", s"$base/cckpt",
        numBuckets = 4, heartbeatActionSql = Some("INSERT INTO graft_hb_wire VALUES (1)"))
      val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
        consumer, ChangeLogGen.snapshotLsn)
      val stats = WireSource.runIncremental(spark, table, consumer, filesPerBatch = 1)
      assert(stats.size >= 3)
      assert(spark.table("graft_hb_wire").count() == stats.size.toLong)
      assertEqual(consumer.tableRoot, oracle(cfg))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_hb_wire")
      Fs.deleteRecursively(base)
    }
  }

  test("heartbeat action SQL runs once per batch of the multi-table stream") {
    val cfg = ChangeLogConfig(nTx = 60, nDocs = 40, seed = 151)
    val base = Fs.tempDir("graft-hb-multi")
    spark.sql(s"CREATE TABLE graft_hb_multi (tick INT) USING parquet " +
      s"LOCATION '$base/heartbeats'")
    try {
      Seq(false, true).foreach { async =>
        val run = s"$base/async-$async"
        val cdc = CdcConfig(s"$run/log", s"$run/table", s"$run/ckpt", numBuckets = 4,
          maxFilesPerTrigger = 1, asyncCompaction = async,
          heartbeatActionSql = Some("INSERT INTO graft_hb_multi VALUES (1)"))
        ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 3)
        val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
          cdc, ChangeLogGen.snapshotLsn)
        // the heartbeat may insert from another session: re-list the table
        def ticks(): Long = {
          spark.catalog.refreshTable("graft_hb_multi"); spark.table("graft_hb_multi").count()
        }
        val ticks0 = ticks()
        MultiTable.stream(spark, Map(cfg.tableName -> table), cdc).awaitTermination()
        val applied = table.refresh().summary.lastBatchId + 1
        assert(applied >= 3)
        assert(ticks() - ticks0 == applied)
        assertEqual(cdc.tableRoot, oracle(cfg))
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_hb_multi")
      Fs.deleteRecursively(base)
    }
  }

  test("extreme hot-key skew (zipf alpha=6): correct and completes") {
    val cfg = ChangeLogConfig(nTx = 400, nDocs = 50, seed = 59, zipfAlpha = 6.0)
    // verify the fixture is actually skewed: most updates hit doc 0
    val log = (0L until cfg.nTx).flatMap(i => ChangeLogGen.txRecords(cfg, i))
    val updates = log.filter(r => r.op == "u" || r.op == "d")
    val hot = updates.count(r =>
      r.before.exists(_.doc_id == ChangeLogGen.docId(0L)))
    assert(hot.toDouble / updates.size > 0.5, s"fixture not skewed: $hot/${updates.size}")
    val base = Fs.tempDir("graft-skew")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 8)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 4)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 2)
    assertEqual(cdc.tableRoot, oracle(cfg))
    Fs.deleteRecursively(base)
  }

  test("random batch permutations converge (seeded, 3 shuffles)") {
    val cfg = ChangeLogConfig(nTx = 150, nDocs = 100, seed = 61)
    val want = oracle(cfg)
    val base = Fs.tempDir("graft-perm")
    val logDir = s"$base/log"
    ChangeLogGen.writeLog(spark, cfg, logDir, 6)
    val files = Fs.listParquet(logDir).sorted
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val cdc = CdcConfig(logDir, s"$base/table$trial", s"$base/ckpt$trial", numBuckets = 8)
      val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
        cdc, ChangeLogGen.snapshotLsn)
      rnd.shuffle(files).zipWithIndex.foreach { case (f, i) =>
        CdcJob.processBatch(table, spark.read.schema(LogRecord.schema).parquet(f), i.toLong)
      }
      assertEqual(cdc.tableRoot, want)
    }
    Fs.deleteRecursively(base)
  }

  test("R4: restart over a GC'd log gap refuses to stream; when_needed reconciles to oracle") {
    import spark.implicits._
    val cfg = ChangeLogConfig(nTx = 200, nDocs = 120, seed = 71)
    val base = Fs.tempDir("graft-r4")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 8)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 8)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    // apply the first 2 of 8 segments, then a long outage
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1, stopAfterBatches = 2)
    val wm = table.refresh().summary.watermarkCommit
    assert(CdcJob.validateRestartOffset(table, cdc)) // still fine

    // log GC truncates PAST the watermark: events in (wm, gcLsn) are lost
    val allLog = (0L until cfg.nTx).flatMap(i => ChangeLogGen.txRecords(cfg, i))
    val maxLsn = allLog.map(_.lsn).max
    val gcLsn = wm + (maxLsn - wm) / 2
    assert(LogRetention.truncate(spark, cdc.logDir, gcLsn) > 0, "no segments were GC'd")
    assert(LogRetention.minRetainedLsn(cdc.logDir) == gcLsn)
    assert(!CdcJob.validateRestartOffset(table, cdc))

    // default mode: refuses (silent gap = corruption)
    val ex = intercept[IllegalStateException] {
      CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
    }
    assert(ex.getMessage.contains("min retained LSN"))
    // the stateful paths refuse the same gap before starting a query
    // (each on its own session: the TWS path sets its state-store conf)
    val statefulEx = intercept[IllegalStateException] {
      StatefulAssembly.stream(spark.newSession(), table, cdc)
    }
    assert(statefulEx.getMessage.contains("min retained LSN"))
    val twsEx = intercept[IllegalStateException] {
      TwsAssembly.stream(spark.newSession(), table, cdc)
    }
    assert(twsEx.getMessage.contains("min retained LSN"))

    // when_needed: automatic reconciling re-snapshot from a CURRENT
    // consistent view (= the oracle's end state at pin maxLsn), then
    // applying the retained (older) segments is a version no-op
    val want = oracle(cfg)
    val sourceNow = want.values.toSeq.toDS().toDF()
    val did = CdcJob.validateOrResnapshot(table, cdc.copy(snapshotMode = SnapshotMode.WhenNeeded),
      sourceNow, maxLsn)
    assert(did)
    assert(CdcJob.validateRestartOffset(table, cdc))
    // retained segments re-deliver: all at or below the pin -> no-ops
    Fs.listParquet(cdc.logDir).sorted.zipWithIndex.foreach { case (f, i) =>
      CdcJob.processBatch(table,
        spark.read.schema(LogRecord.schema).parquet(f), 1000L + i)
    }
    assertEqual(cdc.tableRoot, want)
    // E7 notifications were emitted for the recovery snapshot
    val notes = graft.icelite.IceLite.load(spark, cdc.tableRoot).readNotifications()
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(notes.contains(("Blocking Snapshot", "STARTED")))
    assert(notes.contains(("Blocking Snapshot", "COMPLETED")))
    Fs.deleteRecursively(base)
  }

  test("E7 notifications: incremental snapshot emits STARTED/IN_PROGRESS/COMPLETED") {
    import spark.implicits._
    val cfg = ChangeLogConfig(nTx = 30, nDocs = 40, seed = 73)
    val base = Fs.tempDir("graft-notif")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 4)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 1)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
    val want = oracle(cfg)
    IncrementalSnapshot.run(table, want.values.toSeq.toDS().toDF(),
      pinLsn = Long.MaxValue - 1, nChunks = 3)
    val notes = graft.icelite.IceLite.load(spark, cdc.tableRoot).readNotifications()
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(notes.count(_ == ("Incremental Snapshot", "IN_PROGRESS")) == 3)
    assert(notes.contains(("Incremental Snapshot", "STARTED")))
    assert(notes.contains(("Incremental Snapshot", "COMPLETED")))
    assertEqual(cdc.tableRoot, want)
    Fs.deleteRecursively(base)
  }

  test("restart after LEGAL log GC below the watermark still applies every remaining segment") {
    val cfg = ChangeLogConfig(nTx = 200, nDocs = 120, seed = 79)
    val base = Fs.tempDir("graft-gcresume")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 8)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 8)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    // apply 4 of 8 segments, stop (simulated restart window)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1, stopAfterBatches = 4)
    val wm = table.refresh().summary.watermarkCommit
    // legal GC: truncate AT the watermark — deletes only applied segments,
    // passes offset validation, but shrinks + regroups the file listing
    val nBefore = Fs.listParquet(cdc.logDir).size
    assert(LogRetention.truncate(spark, cdc.logDir, wm) > 0, "no applied segments were GC'd")
    val nAfter = Fs.listParquet(cdc.logDir).size
    assert(nAfter < nBefore)
    assert(CdcJob.validateRestartOffset(table, cdc), "GC below watermark must stay valid")
    // resume: content-based skip must apply ALL retained-but-unapplied
    // segments (a positional drop would skip them and apply nothing)
    val resumed = CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
    assert(resumed.count(s => s.committed && s.events > 0) >= nAfter - 1,
      s"resume applied too little: ${resumed.map(s => (s.batchId, s.events))}")
    assertEqual(cdc.tableRoot, oracle(cfg))
    Fs.deleteRecursively(base)
  }

  test("log GC is bounded by the oldest OPEN transaction's records") {
    import spark.implicits._
    val base = Fs.tempDir("graft-gcopen")
    val logDir = s"$base/log"
    def rec(lsn: Long, tx: Long, op: String) =
      LogRecord(lsn, tx, op, -1L, "token_docs", None,
        if (op == "c") Some(TokenDoc(s"doc$lsn", Seq(1), 1, "cdc")) else None, 0L)
    // file1: tx1 fully closed (lsn 1-3); file2: tx2 OPEN (records 4,5 — its
    // commit hasn't been written yet); file3: tx3 closed (lsn 6-8)
    Seq(Seq(rec(1, 1, "B"), rec(2, 1, "c"), rec(3, 1, "C")),
        Seq(rec(4, 2, "B"), rec(5, 2, "c")),
        Seq(rec(6, 3, "B"), rec(7, 3, "c"), rec(8, 3, "C")))
      .zipWithIndex.foreach { case (rs, i) =>
        val tmp = f"$logDir-stage/f$i"
        rs.toDS().toDF().coalesce(1).write.parquet(tmp)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(logDir))
        java.nio.file.Files.move(
          java.nio.file.Paths.get(Fs.listParquet(tmp).head),
          java.nio.file.Paths.get(f"$logDir/seg-$i%03d.parquet"))
      }
    // caller asks to GC everything below 9 (e.g. the applied commit
    // watermark) — but tx2 is still open, so only records below ITS first
    // record (lsn 4) may go: file1 deleted, files 2-3 retained
    val deleted = LogRetention.truncate(spark, logDir, beforeLsn = 9L)
    assert(deleted == 1, s"expected exactly file1 deleted, got $deleted")
    assert(Fs.listParquet(logDir).size == 2)
    assert(LogRetention.minRetainedLsn(logDir) == 4L,
      "retention marker must stop at the open transaction's first record")
    Fs.deleteRecursively(base)
  }

  test("regex table include/exclude and column exclude (F1/F2 regex parity)") {
    import spark.implicits._
    val cfg = ChangeLogConfig(nTx = 60, nDocs = 40, seed = 89)
    val base = Fs.tempDir("graft-refilter")
    ChangeLogGen.writeLog(spark, cfg, s"$base/log", 1)
    // splice captured-by-regex and excluded-by-regex tables into the log
    val alien = Seq(
      LogRecord(Long.MaxValue - 10, 888888L, "B", -1L, "token_aux", None, None, 0L),
      LogRecord(Long.MaxValue - 9, 888888L, "c", -1L, "token_aux", None,
        Some(TokenDoc("docAUX", Seq(7), 1, "aux")), 0L),
      LogRecord(Long.MaxValue - 8, 888888L, "C", -1L, "token_aux", None, None, 0L),
      LogRecord(Long.MaxValue - 7, 888887L, "B", -1L, "token_tmp_scratch", None, None, 0L),
      LogRecord(Long.MaxValue - 6, 888887L, "c", -1L, "token_tmp_scratch", None,
        Some(TokenDoc("docTMP", Seq(8), 1, "tmp")), 0L),
      LogRecord(Long.MaxValue - 5, 888887L, "C", -1L, "token_tmp_scratch", None, None, 0L))
    alien.toDS().toDF().write.mode("append").parquet(s"$base/log")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 4,
      filters = CaptureFilters(
        tableIncludeRegex = Some(Seq("token_.*")),
        tableExcludeRegex = Seq("token_tmp_.*"),
        // excluded column: captured rows ship with source = NULL
        columnExcludeRegex = Seq("token_docs\\.source")))
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 10)
    val rows = table.read().as[TokenDoc].collect().map(d => d.doc_id -> d).toMap
    assert(rows.contains("docAUX"), "regex-included table must be captured")
    assert(!rows.contains("docTMP"), "regex-excluded table must not be captured")
    // every row written by the stream has its excluded column nulled;
    // seed (snapshot) rows keep theirs — exclusion is a capture-side rule
    val want = oracle(cfg)
    want.foreach { case (k, w) =>
      if (k != "docAUX" && rows.contains(k)) {
        assert(rows(k).tokens == w.tokens, s"tokens mismatch $k")
        if (w.source == "cdc") assert(rows(k).source == null, s"excluded column leaked on $k")
        else assert(rows(k).source == "seed")
      }
    }
    // the pattern is table-qualified: token_aux.source is NOT excluded
    assert(rows("docAUX").source == "aux")
    Fs.deleteRecursively(base)
  }

  test("table include filter (F1): uncaptured tables' ops never apply") {
    import spark.implicits._
    val cfg = ChangeLogConfig(nTx = 80, nDocs = 60, seed = 67)
    val base = Fs.tempDir("graft-tfilter")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt",
      numBuckets = 4, tableInclude = Some(Seq("token_docs")))
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 2)
    // splice extra events for an uncaptured table + a sys table into the log
    val alien = Seq(
      LogRecord(Long.MaxValue - 10, 999999L, "B", -1L, "other_tbl", None, None, 0L),
      LogRecord(Long.MaxValue - 9, 999999L, "c", -1L, "other_tbl", None,
        Some(TokenDoc("docALIEN", Seq(1), 1, "alien")), 0L),
      LogRecord(Long.MaxValue - 8, 999999L, "C", -1L, "other_tbl", None, None, 0L),
      LogRecord(Long.MaxValue - 7, 999998L, "B", -1L, "systables", None, None, 0L),
      LogRecord(Long.MaxValue - 6, 999998L, "c", -1L, "systables", None,
        Some(TokenDoc("docSYS", Seq(2), 1, "sys")), 0L),
      LogRecord(Long.MaxValue - 5, 999998L, "C", -1L, "systables", None, None, 0L))
    alien.toDS().toDF().write.mode("append").parquet(cdc.logDir)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 10)
    val got = table.read().as[TokenDoc].collect().map(_.doc_id).toSet
    assert(!got.contains("docALIEN") && !got.contains("docSYS"))
    assertEqual(cdc.tableRoot, oracle(cfg))
    Fs.deleteRecursively(base)
  }

  test("restart alignment reads the max-LSN manifest, not applied segment data") {
    val cfg = ChangeLogConfig(nTx = 120, nDocs = 80, seed = 83)
    val base = Fs.tempDir("graft-manifest")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 8)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 6)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1, stopAfterBatches = 3)
    val sm = table.refresh().summary
    val resume = math.max(sm.watermarkCommit, sm.floorCommit)
    val manifest = LsnManifest.readNative(cdc.logDir)
    val files = Fs.listParquet(cdc.logDir).sorted
    assert(files.forall(f => manifest.contains(
      java.nio.file.Paths.get(f).toAbsolutePath.normalize.toString)),
      "writeLog must record a manifest entry per segment")
    val applied = files.filter(f => manifest(
      java.nio.file.Paths.get(f).toAbsolutePath.normalize.toString) <= resume)
    assert(applied.nonEmpty && applied.size < files.size)
    // if resume alignment (or apply) opened an applied segment's DATA,
    // the parquet read would fail loudly on this garbage
    applied.foreach(f => java.nio.file.Files.write(
      java.nio.file.Paths.get(f), "not parquet".getBytes))
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
    assertEqual(cdc.tableRoot, oracle(cfg))
    Fs.deleteRecursively(base)
  }
}
