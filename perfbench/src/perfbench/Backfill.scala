package perfbench

import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.icelite.Maintenance
import graft.model.LogRecord
import graft.stream.{CdcConfig, CdcJob, MergeApply, ReplayOracle}
import graft.util.Fs
import org.apache.spark.sql.DataFrame

/** `backfill`: closed loop, one caller. A skewed change log (zipf 1.5,
  * up to 32 ops per transaction, 16-way interleave, rollbacks and
  * savepoint discards at the generator defaults) is snapshotted with
  * `CdcJob.snapshot` and then applied in large chunks through
  * `CdcJob.processBatch` with the production async compaction daemon,
  * whose `drain()` is inside the timed region. Data volume dominates:
  * decode, assembly, the LWW fold and the delta write do most of the
  * work, and the per-batch fixed cost is a small share. The applied
  * table is then read: zipf-hot lookups and, in traced runs, full
  * merge-on-read counts and the change feed of the whole load. Traced
  * runs also catch up the join maintainers over the traced pass's
  * table ([[Views.joined]]).
  */
object Backfill {
  val Docs = 10000
  val Transactions = 9600L
  val Batches = 4
  val Buckets = 16
  val Lookups = 12
  val Scans = 2

  def config(seed: Long): ChangeLogConfig =
    ChangeLogConfig(seed = seed, nDocs = Docs, nTx = Transactions, maxOpsPerTx = 32,
      interleave = 16, zipfAlpha = 1.5)

  def run(r: Run): Unit = {
    val spark = r.spark
    val cfg = config(r.args.seed)
    lazy val expected = {
      val initial = ChangeLogGen.initialTable(spark, cfg).collect().map(d => d.doc_id -> d).toMap
      Check.fingerprint(Check.oracleDocs(spark, ReplayOracle.replay(initial,
        (0L until cfg.nTx).flatMap(i => ChangeLogGen.txRecords(cfg, i)))), Check.docCols)
    }

    /** Snapshot, apply `batches` of the log, drain, then read. */
    def pass(n: Int, logDir: String, seedDir: String, batches: Int, lookups: Int,
        scans: Int, views: Boolean = false): Unit = {
      val chunks = Fs.listParquet(logDir).sorted.take(batches).map(Seq(_))
      val base = r.dir(s"pass$n")
      val cdc = CdcConfig(logDir, s"$base/table", s"$base/ckpt", numBuckets = Buckets,
        broadcastAssembly = true, asyncCompaction = true)
      val gc0 = Jvm.gcMs
      val run0 = r.counters.runMs.get
      val w0 = System.nanoTime()
      val (table, snapMs) = r.timeMs(r.op("snapshot")(r.spans("stream.snapshot")(
        CdcJob.snapshot(spark, spark.read.parquet(seedDir), cdc, ChangeLogGen.snapshotLsn))))
      r.add("snapshot_s", snapMs / 1000)
      val v0 = table.current.snapshotId
      val daemon = new Maintenance.CompactionDaemon(table, MergeApply.maxDeltaChain,
        clusterBy = MergeApply.clusterBy, maxRowsPerFile = MergeApply.clusterMaxRowsPerFile)
      val raws = chunks.map(c => spark.read.schema(LogRecord.schema).parquet(c: _*))
      // a traced pass forces each chunk's stages before the timed apply,
      // so the apply does the same work traced and untraced; the fold
      // reads only the snapshot's schema and event floors, which these
      // applies leave unchanged (the log has no truncates)
      val forced = raws.zipWithIndex.map { case (raw, b) =>
        if (r.spans.on) Stages.decompose(r, table, raw, b.toLong, broadcastAssembly = true)
        else 0.0
      }
      var events = 0L
      var classes = 0L
      val a0 = System.nanoTime()
      try {
        def apply(raw: DataFrame, b: Int): Unit = {
          val c0 = Codegen.classes
          val (st, ms) = r.timeMs(r.op("apply")(r.spans("stream.apply", b)(
            CdcJob.processBatch(table, raw, b.toLong, broadcastAssembly = true,
              inlineCompact = false))))
          classes += Codegen.classes - c0
          daemon.poke()
          events += st.events
          r.add("lag_ms", ms)
          r.add("apply_events_per_s", st.events / (ms / 1000))
          if (r.spans.on) r.add("layer.write_commit_ms", ms - forced(b))
        }
        // a traced pass applies its first and last chunks untraced and
        // the middle ones traced, so the two kinds share the pass's
        // state and its drift weighs on both alike (the overhead)
        raws.zipWithIndex.foreach { case (raw, b) =>
          if (r.spans.on && (b == 0 || b == raws.size - 1)) r.untraced(apply(raw, b))
          else apply(raw, b)
        }
        val (_, drainMs) =
          r.timeMs(r.op("drain")(r.spans("icelite.maint.drain")(daemon.drain())))
        r.add("layer.drain_ms", drainMs)
      } finally daemon.close()
      r.add("events_per_s", events / ((System.nanoTime() - a0) / 1e9))
      r.add("layer.classes_per_trigger", classes.toDouble / chunks.size)

      val reader = new Reader(r, table.root, Keys.hot(cfg), v0, sliding = false)
      (1 to lookups).foreach(_ => reader.lookup())
      (1 to scans).foreach(_ => reader.scanAndFeed())
      r.add("layer.busy_share",
        (r.counters.runMs.get - run0) / ((System.nanoTime() - w0) / 1e6 * r.args.cores))
      r.add("gc_ms", (Jvm.gcMs - gc0).toDouble)
      r.add("passes", 1)
      if (r.spans.on) Layers.tables(r, Seq(table.root), v0, table.root)
      r.log(f"pass $n (traced=${r.spans.on}): ${events / 1000}k events, " +
        f"${(System.nanoTime() - w0) / 1e9}%.2f s")
      if (n > 0 && chunks.size == Batches) {
        table.refresh()
        val got = Check.fingerprint(Check.docs(table.read()), Check.docCols)
        r.check(s"backfill pass $n equals the replay oracle")(got == expected)
      }
      if (views) Views.joined(r, table.root, r.dir(s"pass$n/views"))
      Fs.deleteRecursively(base)
    }

    // set-up (three times untraced; the median is reported): generate
    // the log and the source table, and take the engine's snapshot of it
    val inputs = (0 until r.setups).map { i =>
      val log = r.dir(s"setup$i/log")
      val seed = r.dir(s"setup$i/seed")
      val (_, ms) = r.timeMs {
        ChangeLogGen.writeLog(spark, cfg, log, Batches)
        ChangeLogGen.initialTable(spark, cfg).write.parquet(seed)
        val cdc = CdcConfig(log, r.dir(s"setup$i/table"), r.dir(s"setup$i/ckpt"),
          numBuckets = Buckets)
        val (_, snapMs) = r.timeMs(r.op("snapshot")(
          CdcJob.snapshot(spark, spark.read.parquet(seed), cdc, ChangeLogGen.snapshotLsn)))
        r.add("snapshot_s", snapMs / 1000)
      }
      r.add("setup_s", ms / 1000)
      r.log(f"set-up $i: ${ms / 1000}%.2f s")
      (log, seed)
    }
    (0 until r.setups).foreach(i => Fs.deleteRecursively(r.dir(s"setup$i/table")))
    inputs.init.foreach { case (l, s) => Fs.deleteRecursively(l); Fs.deleteRecursively(s) }
    val (logDir, seedDir) = inputs.last
    Snapshots.sample(r, seedDir, Buckets)

    // warm-up (JIT, codegen cache, parquet footers): one batch, one read.
    // Full scans and change-feed reads feed only per-layer figures, so
    // only a traced run makes them
    pass(0, logDir, seedDir, 1, 1, if (r.args.trace) 1 else 0)
    r.reset("snapshot_s")
    if (r.args.trace) {
      // one traced pass, then the maintainers over its table
      r.traced(true)(pass(1, logDir, seedDir, Batches, Lookups, Scans, views = true))
      summarize(r)
    } else {
      // passes until `--seconds` is spent; a pass that would end past it
      // (by the last pass's length) is not started
      val until = System.nanoTime() + r.args.seconds * 1000000000L
      var n = 1
      var last = 0L
      while (n == 1 || System.nanoTime() + last < until) {
        val t0 = System.nanoTime()
        pass(n, logDir, seedDir, Batches, Lookups, 0)
        last = System.nanoTime() - t0
        n += 1
      }
    }
  }

  private def summarize(r: Run): Unit = {
    def t(k: String) = r.get(s"traced/$k")
    Stages.summarize(r)
    Layers.summarize(r)
    r.setLayer("stream.apply.ms", Stats.median(t("lag_ms")))
    r.setLayer("stream.write_commit.ms", Stats.median(t("layer.write_commit_ms")))
    r.setLayer("icelite.maint.drain_ms", Stats.median(t("layer.drain_ms")))
    r.setLayer("codegen.classes_per_trigger", Stats.median(t("layer.classes_per_trigger")))
    r.setLayer("trace.overhead_ratio",
      Stats.median(r.get("apply_events_per_s")) / Stats.median(t("apply_events_per_s")))
    Views.summarize(r)
  }
}
