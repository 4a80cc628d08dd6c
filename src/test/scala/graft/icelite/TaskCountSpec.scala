package graft.icelite

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.icelite.dsv2.IceLiteV2
import graft.model.LogRecord
import graft.stream.{CdcConfig, CdcJob}
import graft.util.Fs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spark tasks follow the cores, not the layout:
  *   - an engine read of committed files goes through the manifest file
  *     index, so building it starts no Spark job however many files it
  *     covers (a path list past 32 entries makes `spark.read.parquet`
  *     run a listing job with one task per path);
  *   - a bucketed write (snapshot, apply, DSv2 insert) runs at most
  *     `defaultParallelism` tasks, each holding whole buckets, and still
  *     writes one bucket-pure file per touched bucket;
  *   - an apply is one SQL execution with a single write stage.
  */
class TaskCountSpec extends SparkSpec {

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("manifest reads start no Spark job and equal a plain parquet read of the same files") {
    val base = Fs.tempDir("graft-manifestread")
    val sc = spark.sparkContext
    val jobs = new SparkJobs(sc)
    try {
      val cfg = ChangeLogConfig(nTx = 240, nDocs = 160, seed = 457, deletePct = 15)
      val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 8)
      // 6 applies stay below maxDeltaChain: no inline fold, so every
      // apply's delta files stay live
      ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 6)
      val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
        cdc, ChangeLogGen.snapshotLsn)
      CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
      val snap = table.refresh()
      val files = snap.allFiles
      assert(files.size > 32, s"fixture needs more than 32 live files, has ${files.size}")
      val fullSchema = IceLite.withMeta(snap.schema)
      def plain(rels: Seq[String]): DataFrame =
        spark.read.schema(fullSchema).parquet(rels.map(table.dataPath): _*)

      val (read, feed, fold) = SparkJobs.inGroup(sc, "manifest-read") {
        (table.read(),
          table.changesBetween(1L, snap.snapshotId),
          Maintenance.fold(spark, table, files, snap.schema,
            snap.summary.truncCommit, snap.summary.truncChange))
      }
      // the fixture is large enough that the plain path does list
      SparkJobs.inGroup(sc, "plain-read")(plain(files))
      jobs.sync()
      assert(jobs.jobs("plain-read") > 0, "a plain read of >32 paths should list them")
      assert(jobs.jobs("manifest-read") == 0,
        s"building manifest reads started ${jobs.jobs("manifest-read")} job(s)")

      assert(IceLite.readFiles(spark, table.root, files, fullSchema).schema ==
        plain(files).schema)
      val plainFold = IceLite.lwwFold(plain(files).where(IceLite.visible(snap)), snap.keyCol)
      assert(sorted(fold) == sorted(plainFold))
      assert(sorted(read) == sorted(plainFold.where(!col(IceLite.TOMB))
        .drop(IceLite.metaColumns: _*)))
      val changed = IceLite.changedDataFiles(table.root, 1L, snap.snapshotId)
      assert(changed.size > 32, s"feed fixture needs more than 32 files, has ${changed.size}")
      assert(sorted(feed) == sorted(plain(changed).where(col(snap.keyCol).isNotNull)
        .withColumn("_change_type", when(col(IceLite.TOMB), lit("d")).otherwise(lit("c")))))
    } finally {
      jobs.close()
      Fs.deleteRecursively(base)
    }
  }

  test("an apply is one SQL execution whose one write stage runs at most defaultParallelism tasks") {
    val sc = spark.sparkContext
    val numBuckets = 16
    val base = Fs.tempDir("graft-applystage")
    val jobs = new SparkJobs(sc)
    try {
      val cfg = ChangeLogConfig(nTx = 200, nDocs = 150, seed = 463, deletePct = 10)
      val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = numBuckets)
      ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 3)
      val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
        cdc, ChangeLogGen.snapshotLsn)
      val groups = Fs.listParquet(cdc.logDir).sorted.zipWithIndex.map { case (f, i) =>
        val raw = spark.read.schema(LogRecord.schema).parquet(f)
        val g = s"apply-$i"
        val st = SparkJobs.inGroup(sc, g)(CdcJob.processBatch(table, raw, i.toLong))
        assert(st.committed, s"$g did not commit")
        g
      }
      jobs.sync()
      groups.foreach { g =>
        // under adaptive execution each shuffle map stage is its own
        // job; all of them belong to the apply's one execution
        assert(jobs.jobs(g) > 0 && jobs.executions(g).size == 1 &&
          !jobs.executions(g).contains(""), s"$g executions: ${jobs.executions(g)}")
        val writes = jobs.writeStages(g)
        assert(writes.size == 1 && writes.head <= sc.defaultParallelism,
          s"$g write stages (tasks each): $writes on ${sc.defaultParallelism} cores")
      }
    } finally {
      jobs.close()
      Fs.deleteRecursively(base)
    }
  }

  test("bucketed writes run at most defaultParallelism tasks and one pure file per touched bucket") {
    val sc = spark.sparkContext
    val numBuckets = 16
    assert(sc.defaultParallelism < numBuckets, "the cap needs more buckets than cores")
    val base = Fs.tempDir("graft-writetasks")
    val jobs = new SparkJobs(sc)
    try {
      val cfg = ChangeLogConfig(nTx = 200, nDocs = 150, seed = 461, deletePct = 10)
      val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = numBuckets)
      ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 4)
      val table = SparkJobs.inGroup(sc, "snapshot-write") {
        CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
          cdc, ChangeLogGen.snapshotLsn)
      }
      val snapshotVersion = table.current.snapshotId
      val stats = SparkJobs.inGroup(sc, "apply-write") {
        CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
      }
      assert(stats.size == 4 && stats.forall(_.committed))
      // the DSv2 insert, of keys the log never writes, with more shuffle
      // partitions than cores and no adaptive coalescing: its task count
      // must still follow the cores, not the shuffle
      val v2Rows = spark.createDataFrame(
        java.util.Arrays.asList(table.read().limit(60).collect(): _*), table.read().schema)
        .withColumn(cdc.keyCol, concat(lit("v2-"), col(cdc.keyCol)))
      val conf = spark.conf
      val prev = Seq("spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.enabled").map(k => k -> conf.get(k))
      try {
        conf.set("spark.sql.shuffle.partitions", (2 * numBuckets).toString)
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        SparkJobs.inGroup(sc, "v2-insert") {
          IceLiteV2.append(spark, table.root, v2Rows, vc = Long.MaxValue / 2, vl = 0L)
        }
      } finally prev.foreach { case (k, v) => conf.set(k, v) }
      jobs.sync()

      val snapshotStages = jobs.writeStages("snapshot-write")
      val applyStages = jobs.writeStages("apply-write")
      val v2Stages = jobs.writeStages("v2-insert")
      assert(snapshotStages.size == 1, s"snapshot write stages: $snapshotStages")
      assert(applyStages.size >= stats.size, s"apply write stages: $applyStages")
      jobs.stages("v2-insert").foreach { n =>
        assert(n <= sc.defaultParallelism,
          s"a v2 insert stage ran $n tasks on ${sc.defaultParallelism} cores")
      }
      assert(v2Stages.size == 1, s"v2 insert write stages: $v2Stages")
      (snapshotStages ++ applyStages).foreach { n =>
        assert(n <= sc.defaultParallelism,
          s"a write stage ran $n tasks on ${sc.defaultParallelism} cores")
      }

      val fullSchema = IceLite.withMeta(table.current.schema)
      def assertPure(rel: String): Unit = {
        val rows = spark.read.schema(fullSchema).parquet(table.dataPath(rel))
        val foreign = SparkJobs.foreignKeys(rows, rel, table.current.keyCol, numBuckets)
        assert(foreign.isEmpty, s"$rel holds keys of other buckets: ${foreign.take(5)}")
      }
      val baseSnap = IceLite.readSnapshotFile(table.root, snapshotVersion)
      assert(baseSnap.base.size == numBuckets, s"snapshot buckets: ${baseSnap.base.keySet}")
      baseSnap.base.foreach { case (b, fs) =>
        assert(fs.size == 1, s"snapshot bucket $b has ${fs.size} files")
        fs.foreach(assertPure)
      }
      // the applies, then the v2 insert
      val versions = (snapshotVersion + 1) to table.refresh().snapshotId
      assert(versions.size == stats.size + 1 &&
        IceLite.readSnapshotFile(table.root, versions.last).summary.note == "v2-append")
      versions.foreach { v =>
        val changed = IceLite.readSnapshotFile(table.root, v).changed
        assert(changed.nonEmpty, s"v$v wrote no delta")
        changed.foreach { case (b, fs) =>
          assert(fs.size == 1, s"v$v wrote ${fs.size} files into bucket $b")
          fs.foreach(assertPure)
        }
        val touched = IceLite.bucketsOf(
          table.changesBetween(v - 1, v), table.current.keyCol, numBuckets).toSet
        assert(changed.keySet == touched, s"v$v: files for $changed, keys in $touched")
      }
    } finally {
      jobs.close()
      Fs.deleteRecursively(base)
    }
  }
}
