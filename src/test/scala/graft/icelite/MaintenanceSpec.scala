package graft.icelite

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.model.{ChangeEvent, TokenDoc}
import graft.stream.{CdcConfig, CdcJob, MergeApply}
import graft.util.Fs
import org.apache.spark.sql.functions.col

class MaintenanceSpec extends SparkSpec {

  test("compaction shrinks file count, purges old tombstones, preserves state") {
    import spark.implicits._
    val cfg = ChangeLogConfig(nTx = 150, nDocs = 100, seed = 43, deletePct = 25)
    val base = Fs.tempDir("graft-compact")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 8)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, numFiles = 6)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)

    val before = table.read().as[TokenDoc].collect().map(d => d.doc_id -> d.tokens).toMap
    val snap = table.refresh()
    val filesBefore = snap.allFiles.size
    val tombsBefore = table.readRaw(snap.buckets)
      .where(col(IceLite.TOMB)).count()
    assert(tombsBefore > 0, "fixture should have tombstones")

    // purge everything below the watermark (log fully retained beyond it)
    Maintenance.compact(table, retentionFloorLsn = snap.summary.watermarkCommit + 1)
    val after = table.refresh()
    assert(after.allFiles.size <= 8, s"expected <=1 file/bucket, got ${after.allFiles.size}")
    assert(after.allFiles.size < filesBefore)
    val tombsAfter = table.readRaw(after.buckets)
      .where(col(IceLite.TOMB)).count()
    assert(tombsAfter == 0)
    val got = table.read().as[TokenDoc].collect().map(d => d.doc_id -> d.tokens).toMap
    assert(got == before)

    // orphan GC: compaction inputs + a fake failed-attempt dir are swept,
    // referenced files and table state untouched
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"${table.root}/data/delta-zombie-attempt/__bucket=0"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"${table.root}/data/delta-zombie-attempt/__bucket=0/part-junk.parquet"),
      Array[Byte](1, 2, 3))
    val removed = Maintenance.gcOrphans(table)
    assert(removed > 0, "compaction inputs + zombie attempt should be orphans")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${table.root}/data/delta-zombie-attempt")))
    // the LIVE compaction commit keeps its zone-map sidecar (losing it
    // would silently disable file skipping + metadata-only aggregates)
    val liveSidecars = table.refresh().allFiles
      .map(_.split('/').take(2).mkString("/")).distinct
      .map(d => java.nio.file.Paths.get(s"${table.root}/$d/${ZoneMaps.SidecarName}"))
      .filter(java.nio.file.Files.exists(_))
    assert(liveSidecars.nonEmpty,
      "live commit dirs lost their _zonemaps.json to gcOrphans")
    val cur = table.refresh()
    cur.allFiles.foreach { f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"${table.root}/$f")), f)
    }
    val got2 = table.read().as[TokenDoc].collect().map(d => d.doc_id -> d.tokens).toMap
    assert(got2 == before)
    Fs.deleteRecursively(base)
  }

  test("poisoned background compaction surfaces: notification row + drain() throws") {
    val cfg = ChangeLogConfig(nTx = 40, nDocs = 30, seed = 91)
    val base = Fs.tempDir("graft-poisoncompact")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 2)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, numFiles = 4)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
    val snap = table.refresh()
    val delta = snap.deltas.values.flatten.headOption
      .getOrElse(fail("fixture needs a delta chain"))
    // poison: a referenced delta file disappears underneath the fold
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"${table.root}/$delta"))
    val daemon = new Maintenance.CompactionDaemon(table, chainThreshold = 1)
    daemon.poke()
    val ex = intercept[IllegalStateException] { daemon.drain() }
    assert(ex.getMessage.contains("background compaction failed"))
    daemon.close()
    val notes = table.readNotifications()
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(notes.exists(_ == ("compaction", "compaction-failed")),
      s"expected a compaction-failed notification, got ${notes.toSeq}")
    Fs.deleteRecursively(base)
  }

  test("the compaction daemon keeps no caller job group: cancelling the poking thread's group spares the fold") {
    val cfg = ChangeLogConfig(nTx = 80, nDocs = 40, seed = 97)
    val base = Fs.tempDir("graft-daemongroup")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 2)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, numFiles = 3)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
    val before = table.refresh().snapshotId
    assert(table.current.deltas.values.exists(_.nonEmpty), "fixture needs a delta chain")
    val sc = spark.sparkContext
    val jobs = new SparkJobs(sc)
    val callerGroup = s"caller-${java.util.UUID.randomUUID()}"
    val daemon = new Maintenance.CompactionDaemon(table, chainThreshold = 1)
    try {
      // the daemon's first poke comes from a thread that holds a job
      // group, as a streaming query's batch thread does
      val poker = new Thread(() => {
        sc.setJobGroup(callerGroup, "stream batch", interruptOnCancel = true)
        daemon.poke()
      })
      poker.start()
      poker.join()
      // once the fold runs, cancel the caller's group as stopping its
      // query does
      jobs.awaitJob(g => g == callerGroup || g == "graft-compaction")
      sc.cancelJobGroupAndFutureJobs(callerGroup)
      daemon.close()
      assert(daemon.lastError.isEmpty, s"the fold failed: ${daemon.lastError}")
      assert(((before + 1) to table.refresh().snapshotId).exists(v =>
        IceLite.readSnapshotFile(table.root, v).summary.note.startsWith("compact")),
        "the fold did not commit")
      jobs.sync()
      assert(jobs.jobs(callerGroup) == 0, "daemon jobs ran under the caller's job group")
      assert(jobs.jobs("graft-compaction") > 0, "daemon jobs should carry their own group")
    } finally {
      daemon.close()
      jobs.close()
      Fs.deleteRecursively(base)
    }
  }

  private def oracle(cfg: ChangeLogConfig) = {
    val initial = (0L until cfg.nDocs.toLong).map { k =>
      val t = ChangeLogGen.tokensFor(cfg.seed, k, 0L, cfg.maxTokens)
      ChangeLogGen.docId(k) -> TokenDoc(ChangeLogGen.docId(k), t, t.size, "seed")
    }.toMap
    graft.stream.ReplayOracle.replay(initial,
      (0L until cfg.nTx).flatMap(i => ChangeLogGen.txRecords(cfg, i)),
      ChangeLogGen.snapshotLsn)
  }

  private def assertEqual(table: IceLiteTable, want: Map[String, TokenDoc]): Unit = {
    import spark.implicits._
    val got = table.read().as[TokenDoc].collect().map(d => d.doc_id -> d).toMap
    assert(got.keySet == want.keySet,
      s"extra=${(got.keySet -- want.keySet).take(5)} missing=${(want.keySet -- got.keySet).take(5)}")
    want.foreach { case (k, w) => assert(got(k).tokens == w.tokens, s"tokens mismatch $k") }
  }

  test("compaction RACING a live ingest: per-bucket safety check converges, no throw") {
    val cfg = ChangeLogConfig(nTx = 240, nDocs = 120, seed = 137, deletePct = 15)
    val base = Fs.tempDir("graft-race")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 4)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 8)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    // ingest on a separate thread; maintenance loops compaction meanwhile —
    // both race on the same snapshot log with optimistic commits
    val ingest = new Thread(() => {
      CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1); ()
    }, "race-ingest")
    ingest.start()
    val maintTable = IceLite.load(spark, cdc.tableRoot)
    var rounds = 0
    while (ingest.isAlive && rounds < 50) {
      Maintenance.compact(maintTable, maxPasses = 1)
      rounds += 1
    }
    ingest.join(120000)
    assert(!ingest.isAlive, "ingest thread hung")
    Maintenance.compact(maintTable) // settle
    assertEqual(IceLite.load(spark, cdc.tableRoot), oracle(cfg))
    Fs.deleteRecursively(base)
  }

  test("async compaction daemon folds chains off the apply path; state equals oracle") {
    val cfg = ChangeLogConfig(nTx = 300, nDocs = 100, seed = 139, deletePct = 10)
    val base = Fs.tempDir("graft-async")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt",
      numBuckets = 2, asyncCompaction = true)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 12)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    // 12 single-file batches against 2 buckets: without compaction the
    // chains would reach 12 (> maxDeltaChain); the daemon must fold them
    val stats = CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
    assert(stats.forall(_.committed))
    val snap = table.refresh()
    assert(snap.deltas.values.forall(_.size < graft.stream.MergeApply.maxDeltaChain),
      s"daemon left an over-threshold chain: ${snap.deltas.view.mapValues(_.size).toMap}")
    assert((2L to snap.snapshotId).exists(v =>
      IceLite.readSnapshotFile(table.root, v).summary.note.startsWith("compact")),
      "no compaction commit found — daemon never folded")
    assertEqual(table, oracle(cfg))
    Fs.deleteRecursively(base)
  }

  test("a stream's compaction daemon leaves no thread behind once its query ends") {
    import scala.jdk.CollectionConverters._
    def daemonThreads(): Int = Thread.getAllStackTraces.keySet.asScala
      .count(t => t.getName == "graft-compaction" && t.isAlive)
    val cfg = ChangeLogConfig(nTx = 60, nDocs = 40, seed = 157)
    val base = Fs.tempDir("graft-daemon-idle")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt",
      numBuckets = 2, maxFilesPerTrigger = 1, asyncCompaction = true)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 3)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    val before = daemonThreads()
    CdcJob.stream(spark, table, cdc).awaitTermination()
    assert(table.refresh().summary.lastBatchId == 2L)
    val deadline = System.currentTimeMillis() +
      (Maintenance.CompactionDaemon.IdleKeepAliveSec + 55L) * 1000L
    while (daemonThreads() > before && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    assert(daemonThreads() <= before, "the daemon's thread outlived its stream")
    Fs.deleteRecursively(base)
  }

  test("inline fold cadence: the maxDeltaChain-th apply to a bucket folds its chain in its own commit") {
    import spark.implicits._
    val cfg = ChangeLogConfig(nTx = 10, nDocs = 20, seed = 47)
    val base = Fs.tempDir("graft-foldcadence")
    // one bucket: every apply touches it; no daemon, so folds are inline
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 1)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    def applyUpsert(i: Int): Unit = {
      val doc = TokenDoc(f"doc${i % 5}%09d", Seq(i), i, "cdc")
      MergeApply.applyBatch(table, Seq(ChangeEvent(100L + i, 1L, 100L + i, 100L + i,
        "u", "t", None, Some(doc), 0L)).toDS().toDF(), i.toLong)
      ()
    }
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def inlineFolds(s: IceSnapshot): Seq[String] =
      s.allFiles.filter(_.startsWith("data/base-")).filterNot(_.startsWith("data/base-snapshot"))
    val chain = MergeApply.maxDeltaChain

    (0 until chain - 1).foreach(applyUpsert)
    val unfolded = table.refresh()
    assert(unfolded.deltas.getOrElse(0, Nil).size == chain - 1)
    assert(inlineFolds(unfolded).isEmpty, s"folded before the chain filled: ${unfolded.allFiles}")

    applyUpsert(chain - 1)
    val folded = table.refresh()
    // the fold rides the apply's own commit: one new version
    assert(folded.snapshotId == unfolded.snapshotId + 1)
    assert(folded.summary.lastBatchId == chain - 1)
    assert(folded.deltas.getOrElse(0, Nil).isEmpty)
    assert(folded.base(0).size == 1 && inlineFolds(folded) == folded.base(0),
      s"expected one inline-folded base file: ${folded.allFiles}")
    // the visible rows are what merge-on-read of the unfolded chain plus
    // this apply's delta gives
    val unfoldedRows = IceLite.lwwFold(
      IceLite.readFiles(spark, table.root,
        unfolded.allFiles ++ folded.changed.values.flatten, IceLite.withMeta(folded.schema))
        .where(IceLite.visible(folded)), folded.keyCol)
      .where(!col(IceLite.TOMB)).drop(IceLite.metaColumns: _*)
    assert(sorted(table.read()) == sorted(unfoldedRows))
    assert(table.read().where(col("doc_id") === f"doc${(chain - 1) % 5}%09d")
      .select("n_tok").as[Int].collect().toSeq == Seq(chain - 1))
    Fs.deleteRecursively(base)
  }
}
