package graft.icelite

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.icelite.dsv2.IceLiteV2
import graft.stream.{CdcConfig, CdcJob, MergeApply}
import graft.util.Fs
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The bucketed write's own files ([[BucketWriter]]):
  *   - a commit directory holds exactly the data files its snapshot
  *     references, plus `_zonemaps.json`, and none of the Hadoop commit
  *     protocol's artifacts (`_temporary`, `_SUCCESS`, `.crc`);
  *   - files roll at `maxRowsPerFile` in input order;
  *   - a stray file in a commit directory is never referenced, and
  *     orphan GC removes it; a failed write leaves no data file;
  *   - the footer carries Spark's row metadata and the session codec.
  */
class BucketWriterSpec extends SparkSpec {

  private def fixture(name: String, seed: Long, numBuckets: Int = 8, logFiles: Int = 3)
      : (String, CdcConfig, IceLiteTable) = {
    val cfg = ChangeLogConfig(nTx = 160, nDocs = 100, seed = seed, deletePct = 10)
    val base = Fs.tempDir(name)
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = numBuckets)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, logFiles)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    (base, cdc, table)
  }

  /** Every file a version references: its layout plus its change feed. */
  private def referenced(root: String, v: Long): Set[String] = {
    val s = IceLite.readSnapshotFile(root, v)
    (s.allFiles ++ s.changed.values.flatten).toSet
  }

  /** Table-relative paths of every regular file under `root/rel`. */
  private def filesUnder(root: String, rel: String): Set[String] =
    Fs.walkAll(Paths.get(root, rel)).filter(Files.isRegularFile(_))
      .map(p => Paths.get(root).relativize(p).toString).toSet

  test("each commit directory holds exactly the files its snapshot references, plus its zone map") {
    // one apply per log file: the maxDeltaChain-th apply folds inline,
    // and the last one leaves live deltas for the compaction to fold
    val (base, cdc, table) = fixture("graft-bw-layout", seed = 601,
      logFiles = MergeApply.maxDeltaChain + 1)
    try {
      CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
      Maintenance.compact(table)
      Maintenance.rebucket(table, 4)
      val v2Rows = spark.createDataFrame(
        java.util.Arrays.asList(table.read().limit(20).collect(): _*), table.read().schema)
        .withColumn(cdc.keyCol, concat(lit("v2-"), col(cdc.keyCol)))
      IceLiteV2.append(spark, table.root, v2Rows, vc = Long.MaxValue / 2, vl = 0L)

      val head = table.refresh().snapshotId
      val notes = (1L to head).map(IceLite.readSnapshotFile(table.root, _).summary.note)
      Seq("snapshot:", "compact(", "rebucket(", "v2-append").foreach { n =>
        assert(notes.exists(_.startsWith(n)), s"no $n version in $notes")
      }
      val dirs = scala.collection.mutable.Set.empty[String]
      (1L to head).foreach { v =>
        val added = referenced(table.root, v) -- referenced(table.root, v - 1)
        added.groupBy(_.split('/').take(2).mkString("/")).foreach { case (dir, fs) =>
          dirs += dir
          assert(filesUnder(table.root, dir) == fs + s"$dir/${ZoneMaps.SidecarName}",
            s"v$v: $dir holds other files than the ${fs.size} it references")
        }
      }
      Seq("data/base-snapshot", "data/delta-", "data/base-0", "data/compact-",
        "data/rebucket-", "data/v2append-").foreach { p =>
        assert(dirs.exists(_.startsWith(p)), s"no $p commit was checked: $dirs")
      }
      val all = Fs.walkAll(Paths.get(table.root, "data")).map(_.getFileName.toString)
      assert(!all.exists(n => n == "_temporary" || n == "_SUCCESS" || n.endsWith(".crc")),
        s"commit protocol artifacts under data/: ${all.filter(_.startsWith("_")).distinct}")
    } finally Fs.deleteRecursively(base)
  }

  test("a clustered fold splits at maxRowsPerFile in input order: zone ranges are disjoint") {
    val (base, cdc, table) = fixture("graft-bw-roll", seed = 607, numBuckets = 4)
    try {
      CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
      val maxRows = 7L
      Maintenance.compact(table, clusterBy = Seq("n_tok"), maxRowsPerFile = maxRows)
      val snap = table.refresh()
      assert(snap.deltas.isEmpty && snap.base.values.exists(_.size > 2))
      snap.base.foreach { case (b, files) =>
        val st = files.map(rel => ZoneMaps.statsFor(table.root, rel).get("n_tok"))
        // every file but the bucket's last is full
        assert(st.init.forall(_.rows == maxRows) && st.last.rows <= maxRows,
          s"bucket $b rows per file: ${st.map(_.rows)}")
        // in the snapshot's order, each file starts where the last
        // ended; tombstones' null n_tok sort first
        val ranges = st.dropWhile(_.min.isEmpty).map(s => (s.min, s.max))
        assert(ranges.forall(_._1.nonEmpty), s"bucket $b: nulls after values: $ranges")
        ranges.map { case (mn, mx) => (mn.get.toInt, mx.get.toInt) }.sliding(2).foreach {
          case Seq((_, aMax), (cMin, _)) =>
            assert(aMax <= cMin, s"bucket $b ranges out of order: $ranges")
          case _ => ()
        }
      }
    } finally Fs.deleteRecursively(base)
  }

  test("a stray file in a commit directory is never referenced and gcOrphans deletes it") {
    val (base, cdc, table) = fixture("graft-bw-stray", seed = 613)
    try {
      val snap = table.refresh()
      // a killed attempt's partial file, where a retry of the same
      // commit writes its own
      val commitRel = "data/delta-retry"
      val stray = s"$commitRel/__bucket=0/part-00000-killed.parquet"
      Files.createDirectories(Paths.get(table.root, stray).getParent)
      Files.write(Paths.get(table.root, stray), Array[Byte](80, 65, 82, 49, 0, 0))
      val rows = table.readRaw(snap.buckets).limit(30)
        .withColumn(IceLite.VC, lit(Long.MaxValue / 2))
        .withColumn("__bucket", IceLite.bucketCol(col(snap.keyCol), snap.numBuckets))
      val written = IceLite.writeBucketed(rows, table.root, commitRel)
      assert(written.nonEmpty && !written.values.flatten.exists(_ == stray))
      table.commitNext(cur => Some(cur.copy(
        deltas = IceLite.appendDeltas(cur.deltas, written), changed = written)))
      val files = table.refresh().allFiles
      assert(!files.contains(stray))
      assert(!new String(Files.readAllBytes(Paths.get(table.root, commitRel,
        ZoneMaps.SidecarName))).contains("killed"))
      assert(table.read().count() == snap.summary.upserts) // the stray is never read

      assert(Maintenance.gcOrphans(table) == 1)
      assert(!Files.exists(Paths.get(table.root, stray)))
      assert(filesUnder(table.root, commitRel) ==
        written.values.flatten.toSet + s"$commitRel/${ZoneMaps.SidecarName}")
    } finally Fs.deleteRecursively(base)
  }

  test("a failed write deletes the data files its task had written") {
    val (base, _, table) = fixture("graft-bw-fail", seed = 617)
    try {
      val snap = table.refresh()
      // one task, whose input fails on its last row, after several files
      val last = table.read().select(snap.keyCol).collect().map(_.getString(0))
        .maxBy(k => (IceLite.bucketOf(k, snap.numBuckets), k))
      val rows = table.readRaw(snap.buckets).coalesce(1)
        .withColumn("__bucket", IceLite.bucketCol(col(snap.keyCol), snap.numBuckets))
        .sortWithinPartitions("__bucket", snap.keyCol)
        .withColumn(IceLite.VC, when(col(snap.keyCol) === last,
          raise_error(lit("boom"))).otherwise(col(IceLite.VC)))
      val commitRel = "data/delta-failed"
      intercept[Exception](IceLite.writeBucketed(rows, table.root, commitRel))
      val left = if (Files.exists(Paths.get(table.root, commitRel)))
        filesUnder(table.root, commitRel) else Set.empty[String]
      assert(left.isEmpty, s"a failed write left $left")
    } finally Fs.deleteRecursively(base)
  }

  test("the footer carries Spark's row metadata and the session's codec") {
    val key = "spark.sql.parquet.compression.codec"
    val prev = spark.conf.getOption(key)
    val base = Fs.tempDir("graft-bw-footer")
    try {
      spark.conf.set(key, "zstd")
      val cfg = ChangeLogConfig(nTx = 20, nDocs = 20, seed = 619)
      val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 2)
      val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
        cdc, ChangeLogGen.snapshotLsn)
      val files = table.current.allFiles
      assert(files.nonEmpty)
      files.foreach { rel =>
        val reader = ParquetFileReader.open(new LocalInputFile(Paths.get(table.root, rel)))
        try {
          val footer = reader.getFooter
          val meta = footer.getFileMetaData.getKeyValueMetaData.asScala
          assert(meta.contains("org.apache.spark.sql.parquet.row.metadata"), s"$rel: $meta")
          assert(meta.contains("org.apache.spark.version"), s"$rel: $meta")
          val codecs = footer.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec))
          assert(codecs.nonEmpty && codecs.forall(_.name == "ZSTD"), s"$rel: $codecs")
        } finally reader.close()
      }
      assert(table.read().count() == ChangeLogGen.initialTable(spark, cfg).count())
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      Fs.deleteRecursively(base)
    }
  }
}
