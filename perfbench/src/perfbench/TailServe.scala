package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.icelite.IceLite
import graft.model.LogRecord
import graft.stream.{CdcConfig, CdcJob, ReplayOracle}
import graft.util.Fs
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.streaming.Trigger

/** `tail_serve`: open loop with one closed-loop reader. Set-up stages
  * many small commit-aligned log files. One generator thread releases
  * them into the watched log directory by atomic rename on a fixed
  * schedule at the frozen offered rate (`--tail-files-per-s`); the
  * schedule never waits for the engine. The engine tails the directory
  * with `CdcJob.stream` (`Trigger.ProcessingTime(0)`, async compaction).
  * A reader with its own table handle refreshes before every request,
  * mostly zipf-hot lookups, and after every `--scan-every-ms` of lookups
  * (the frozen cadence) a full merge-on-read count plus a change-feed
  * count since its previous one. Each file's lag counts from its due
  * time until the committed watermark covers its last LSN. Small
  * triggers make the per-trigger floor dominate, and reads share the
  * cores with apply and compaction. Traced runs also decompose the
  * stages of sampled files and catch up the SCD2 and aggregate
  * maintainers over the tailed table ([[Views.history]]).
  */
object TailServe {
  val Docs = 4000
  val GroupsPerFile = 2
  val Interleave = 8
  val WarmFiles = 4
  val Buckets = 16
  /** A trigger takes every file that arrived since the previous one, up
    * to this many (about 8 at the frozen rate, see the README).
    */
  val MaxFilesPerTrigger = 64
  /** Released files whose stages a traced run decomposes afterwards. */
  val DecomposedFiles = 3
  /** A run whose generator falls this far behind its schedule is not a
    * valid open-loop measurement and fails.
    */
  val MaxLateMs = 250.0

  def config(seed: Long, files: Int): ChangeLogConfig =
    ChangeLogConfig(seed = seed, nDocs = Docs,
      nTx = files.toLong * GroupsPerFile * Interleave, maxOpsPerTx = 8,
      interleave = Interleave, zipfAlpha = 1.5)

  /** The transactions of file `i`: whole interleave groups, so every
    * file holds only closed transactions and files are in LSN order.
    */
  def fileRecords(cfg: ChangeLogConfig, i: Int): Seq[LogRecord] = {
    val perFile = GroupsPerFile * Interleave
    (i.toLong * perFile until (i + 1).toLong * perFile)
      .flatMap(tx => ChangeLogGen.txRecords(cfg, tx)).sortBy(_.lsn)
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val a = r.args
    val periodMs = 1000.0 / a.tailFilesPerS
    val timedFiles = math.ceil(a.seconds * a.tailFilesPerS).toInt
    val nFiles = WarmFiles + timedFiles
    val cfg = config(a.seed, nFiles)
    val batches = (0 until nFiles).map(fileRecords(cfg, _))
    val maxLsn = batches.map(_.map(_.lsn).max)

    // set-up (three times untraced): stage the files, write the source
    // table and take the engine's initial snapshot of it
    val staged = (0 until r.setups).map { i =>
      val stage = r.dir(s"setup$i/stage")
      val seed = r.dir(s"setup$i/seed")
      val cdc = CdcConfig(r.dir(s"setup$i/log"), r.dir(s"setup$i/table"),
        r.dir(s"setup$i/ckpt"), numBuckets = Buckets, maxFilesPerTrigger = MaxFilesPerTrigger,
        asyncCompaction = true)
      val (_, ms) = r.timeMs {
        ChangeLogGen.stageBatchFiles(spark, batches, stage)
        ChangeLogGen.initialTable(spark, cfg).write.parquet(seed)
        val (_, snapMs) = r.timeMs(r.op("snapshot")(
          CdcJob.snapshot(spark, spark.read.parquet(seed), cdc, ChangeLogGen.snapshotLsn)))
        r.add("snapshot_s", snapMs / 1000)
      }
      r.add("setup_s", ms / 1000)
      r.log(f"set-up $i: ${ms / 1000}%.2f s")
      (stage, cdc)
    }
    staged.init.foreach { case (s, c) =>
      Seq(s, c.tableRoot, c.logDir, c.checkpointDir).foreach(Fs.deleteRecursively)
    }
    val (stageDir, cdc) = staged.last
    Snapshots.sample(r, r.dir(s"setup${r.setups - 1}/seed"), Buckets)
    Files.createDirectories(Paths.get(cdc.logDir))
    val table = IceLite.load(spark, cdc.tableRoot)

    val released = new AtomicInteger(0)
    def release(i: Int): Unit = {
      val name = f"batch-$i%03d.parquet"
      val src = Paths.get(stageDir, name)
      // the file source orders new files by modification time
      Files.setLastModifiedTime(src, FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(src, Paths.get(cdc.logDir, name), StandardCopyOption.ATOMIC_MOVE)
      released.incrementAndGet(); ()
    }
    def covered: Int = {
      val wm = IceLite.readLatest(cdc.tableRoot).get.summary.watermarkCommit
      var n = 0
      while (n < released.get && maxLsn(n) <= wm) n += 1
      n
    }
    def awaitCovered(n: Int, timeoutMs: Long): Boolean = {
      val until = System.currentTimeMillis() + timeoutMs
      while (covered < n && System.currentTimeMillis() < until) Thread.sleep(5)
      covered >= n
    }

    val triggers = new TriggerLog
    spark.streams.addListener(triggers)
    val query = CdcJob.stream(spark, table, cdc, Trigger.ProcessingTime(0L))
    val reader = new Reader(r, cdc.tableRoot, Keys.hot(cfg), table.current.snapshotId,
      sliding = true)
    var applied = Seq.empty[Applied]
    try {
      // warm-up: JIT, codegen, the stream's first triggers, the reader
      (0 until WarmFiles).foreach(release)
      r.check("warm-up files applied")(awaitCovered(WarmFiles, 60000L))
      reader.lookup()
      reader.scanAndFeed()
      r.reset("snapshot_s")
      r.log("warm-up done")

      // the measured window; with tracing, its middle half is traced and
      // the quarters either side are not, so the table's growth and its
      // compaction cycle through the window weigh on both kinds alike
      val q = timedFiles / 4
      val segments =
        if (a.trace) Seq((WarmFiles, WarmFiles + q, false), (WarmFiles + q, nFiles - q, true),
          (nFiles - q, nFiles, false))
        else Seq((WarmFiles, nFiles, false))
      applied = segments.map { case (from, to, traced) =>
        r.traced(traced)(window(r, from, to, periodMs, release, () => covered, reader, triggers,
          cdc.tableRoot))
      }
      r.check("all released files applied")(awaitCovered(nFiles, 60000L))
      val late = r.get("gen.late_ms") ++ r.get("traced/gen.late_ms")
      r.check(s"generator kept its schedule (p99 lateness <= $MaxLateMs ms)")(
        Stats.q(late, 0.99) <= MaxLateMs)
    } finally query.stop()
    r.check("stream ended without error")(query.exception.isEmpty)
    // applied events per busy second of the triggers that applied each
    // segment's files; the events are the engine's own count, from the
    // lineage rows each apply commits
    val lineage = table.readLineage().groupBy("batch_id").agg(sum("event_count"))
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    applied.foreach { s =>
      r.add((if (s.traced) "traced/" else "") + "events_per_s",
        s.batches.map(lineage.getOrElse(_, 0L)).sum / (s.busyMs / 1000))
    }
    if (a.trace) r.traced(true) {
      // the stream's batches run inside the engine; force the stages of
      // a sample of the released files against the final table instead
      (0 until DecomposedFiles).map(k => WarmFiles + k * timedFiles / DecomposedFiles)
        .foreach { i =>
          val raw = spark.read.schema(LogRecord.schema)
            .parquet(Paths.get(cdc.logDir, f"batch-$i%03d.parquet").toString)
          Stages.decompose(r, table, raw, i.toLong, cdc.broadcastAssembly)
        }
      // the maintainer tier over the tailed table's history
      val dir = r.dir("views")
      Views.history(r, cdc.tableRoot, dir)
      Fs.deleteRecursively(dir)
    }

    val initial = ChangeLogGen.initialTable(spark, cfg).collect().map(d => d.doc_id -> d).toMap
    val expected = ReplayOracle.replay(initial, batches.flatten)
    r.check("tail_serve table equals the replay oracle over the released files")(
      Check.fingerprint(Check.docs({ table.refresh(); table.read() }), Check.docCols) ==
        Check.fingerprint(Check.oracleDocs(spark, expected), Check.docCols))
    if (a.trace) summarize(r)
  }

  /** The stream batches that applied one segment's files, and their
    * summed trigger time.
    */
  final case class Applied(traced: Boolean, batches: Seq[Long], busyMs: Double)

  /** Release files [from, to) on the fixed schedule while the reader
    * runs; record each file's lag from its due time.
    */
  private def window(r: Run, from: Int, to: Int, periodMs: Double, release: Int => Unit,
      covered: () => Int, reader: Reader, triggers: TriggerLog, root: String): Applied = {
    val gc0 = Jvm.gcMs
    val cg0 = Codegen.classes
    val run0 = r.counters.runMs.get
    val before = IceLite.readLatest(root).get
    val v0 = before.snapshotId
    val t0 = System.nanoTime() + 20000000L
    def due(i: Int): Long = t0 + ((i - from) * periodMs * 1e6).toLong
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val backlog = new java.util.concurrent.atomic.AtomicInteger(0)
    val generator = new Thread(() => {
      (from until to).foreach { i =>
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        r.add("gen.late_ms", (System.nanoTime() - due(i)) / 1e6)
        release(i)
        backlog.accumulateAndGet(i + 1 - covered(), math.max)
      }
    }, "perfbench-generator")
    val readerThread = new Thread(() => {
      var nextScan = System.nanoTime()
      // a failed read is counted by the reader; the loop keeps going
      while (!stop.get) {
        try {
          if (System.nanoTime() >= nextScan) {
            reader.scanAndFeed()
            // the cadence counts from the end of a scan, so lookups keep
            // their share of the reader even when scans slow down
            nextScan = System.nanoTime() + r.args.scanEveryMs * 1000000L
          } else reader.lookup()
        } catch { case _: Exception => () }
      }
    }, "perfbench-reader")
    generator.start()
    readerThread.start()
    // watcher: a file is fresh once the committed watermark covers it
    var next = from
    val lags = scala.collection.mutable.ArrayBuffer[Double]()
    val deadline = due(to) + 60000000000L
    while (next < to && System.nanoTime() < deadline) {
      val c = covered()
      val now = System.nanoTime()
      while (next < c) { lags += (now - due(next)) / 1e6; next += 1 }
      Thread.sleep(2)
    }
    lags.foreach(r.add("lag_ms", _))
    generator.join()
    stop.set(true)
    readerThread.join()
    val wallMs = (System.nanoTime() - t0) / 1e6
    r.check(s"files $from..$to applied within a minute of their due time")(next == to)
    // the stream batches that applied these files; each reports its
    // progress only after its offset commit, so wait for all of them
    val ids = (before.summary.lastBatchId + 1 to
      IceLite.readLatest(root).get.summary.lastBatchId).toSet
    val until = System.currentTimeMillis() + 10000L
    def reported = triggers.data.filter(t => ids.contains(t.batchId))
    while (reported.size < ids.size && System.currentTimeMillis() < until) Thread.sleep(5)
    val trig = reported
    r.check(s"progress of the batches that applied files $from..$to reported")(
      trig.size == ids.size)
    val busyMs = trig.map(_.ms("triggerExecution")).sum.toDouble
    // how close the offered rate runs to the stream's capacity: the
    // share of the window its triggers were busy, and the backlog
    if (lags.nonEmpty) r.log(f"window $from..$to (traced=${r.spans.on}): ${wallMs / 1000}%.2f s, " +
      f"${trig.size} triggers, ${(to - from).toDouble / trig.size.max(1)}%.1f files/trigger, " +
      f"stream busy ${busyMs / wallMs}%.2f of the window, backlog max ${backlog.get} files, " +
      f"lag p50 ${Stats.median(lags.toSeq)}%.0f ms, max ${lags.max}%.0f ms")
    r.add("gen.backlog_files", backlog.get.toDouble)
    r.add("gc_ms", (Jvm.gcMs - gc0).toDouble)
    r.add("layer.busy_share", (r.counters.runMs.get - run0) / (wallMs * r.args.cores))
    r.add("passes", 1)
    r.add("layer.classes_per_trigger", (Codegen.classes - cg0).toDouble / math.max(1, trig.size))
    if (r.spans.on) {
      Layers.triggers(r, trig)
      Layers.tables(r, Seq(root), v0, root)
    }
    Applied(r.spans.on, ids.toSeq.sorted, busyMs)
  }

  private def summarize(r: Run): Unit = {
    def t(k: String) = r.get(s"traced/$k")
    Stages.summarize(r)
    Layers.summarize(r)
    Views.summarize(r)
    r.setLayer("stream.apply.ms", Stats.median(t("layer.add_batch_ms")))
    r.setLayer("codegen.classes_per_trigger", Stats.median(r.get("layer.classes_per_trigger")))
    r.setLayer("gen.late_ms_p99", Stats.q(t("gen.late_ms"), 0.99))
    r.setLayer("gen.backlog_files_max", t("gen.backlog_files").max)
    r.setLayer("trace.overhead_ratio", Stats.median(t("lag_ms")) / Stats.median(r.get("lag_ms")))
  }
}
