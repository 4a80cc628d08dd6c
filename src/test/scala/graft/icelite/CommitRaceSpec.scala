package graft.icelite

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.icelite.dsv2.IceLiteV2
import graft.model.TokenDoc
import graft.stream.{CdcConfig, CdcJob, ReplayOracle}
import graft.util.Fs

import java.nio.file.{Files, Paths}

/** Every version commits through `IceLiteTable.commitNext`: writers
  * that race for the same version (the apply, the compaction daemon and
  * a DSv2 insert) chain one after another, and no writer's files or rows
  * are lost to another's commit.
  */
class CommitRaceSpec extends SparkSpec {

  private def oracle(cfg: ChangeLogConfig): Map[String, TokenDoc] = {
    val initial = (0L until cfg.nDocs.toLong).map { k =>
      val t = ChangeLogGen.tokensFor(cfg.seed, k, 0L, cfg.maxTokens)
      ChangeLogGen.docId(k) -> TokenDoc(ChangeLogGen.docId(k), t, t.size, "seed")
    }.toMap
    ReplayOracle.replay(initial,
      (0L until cfg.nTx).flatMap(i => ChangeLogGen.txRecords(cfg, i)),
      ChangeLogGen.snapshotLsn)
  }

  private def docsOf(df: org.apache.spark.sql.DataFrame): Map[String, TokenDoc] = {
    import spark.implicits._
    df.as[TokenDoc].collect().map(d => d.doc_id -> d).toMap
  }

  /** Parquet files under one commit directory, table-relative. */
  private def filesUnder(root: String, commitDir: String): Set[String] =
    Fs.walkAll(Paths.get(root, commitDir))
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => Paths.get(root).relativize(p).toString).toSet

  test("racing committers chain and lose nothing: v2 appends beside applies and the compaction daemon") {
    import spark.implicits._
    val cfg = ChangeLogConfig(nTx = 300, nDocs = 100, seed = 149, deletePct = 10)
    val base = Fs.tempDir("graft-commitrace")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt",
      numBuckets = 2, asyncCompaction = true)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 12)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)

    // appends of keys the log never writes, each at its own version,
    // above every log position
    val appends: Seq[(Long, Seq[TokenDoc])] = (0 until 8).map { i =>
      ((1L << 40) + i) -> (0 until 20).map(j => TokenDoc(f"v2-$i%02d-$j%02d", Seq(i, j), 2, "v2"))
    }
    @volatile var appendError: Option[Throwable] = None
    val appender = new Thread(() => {
      try appends.foreach { case (vc, docs) =>
        IceLiteV2.append(spark, table.root, docs.toDF(), vc = vc, vl = 0L)
      } catch { case t: Throwable => appendError = Some(t) }
    }, "race-v2-append")
    appender.start()
    val stats = CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
    appender.join(120000)
    assert(!appender.isAlive, "append thread hung")
    assert(appendError.isEmpty, s"append failed: $appendError")
    assert(stats.size == 12 && stats.forall(_.committed))

    val root = table.root
    val head = table.refresh().snapshotId
    val versions = IceLite.retainedVersions(root)
    assert(versions == (0L to head), s"retained versions: $versions")
    val snaps = versions.map(IceLite.readSnapshotFile(root, _))
    snaps.foreach(s => assert(s.parentId == s.snapshotId - 1,
      s"v${s.snapshotId} has parent ${s.parentId}"))
    assert(snaps.exists(_.summary.note.startsWith("compact")), "the daemon never folded")

    appends.foreach { case (vc, docs) =>
      val mine = snaps.filter(s => s.summary.note == "v2-append" && s.summary.lsnLo == vc)
      assert(mine.size == 1, s"append at vc=$vc committed ${mine.size} versions")
      val s = mine.head
      assert(s.summary.lsnHi == vc && s.summary.upserts == docs.size && s.summary.deletes == 0)
      // the manifest lists exactly that insert's files, one per bucket
      val dirs = s.changed.values.flatten.map(_.split('/').take(2).mkString("/")).toSet
      assert(dirs.size == 1 && dirs.head.startsWith("data/v2append-"), s"v${s.snapshotId}: $dirs")
      assert(s.changed.values.flatten.toSet == filesUnder(root, dirs.head))
      assert(s.changed.values.forall(_.size == 1))
      val at = docsOf(table.readAt(s.snapshotId))
      docs.foreach(d => assert(at.get(d.doc_id).contains(d), s"v${s.snapshotId} lost ${d.doc_id}"))
    }

    val want = oracle(cfg) ++ appends.flatMap(_._2).map(d => d.doc_id -> d)
    val got = docsOf(table.read())
    val (extra, missing) = (got.keySet -- want.keySet, want.keySet -- got.keySet)
    assert(extra.isEmpty && missing.isEmpty, s"extra=${extra.take(5)} missing=${missing.take(5)}")
    want.foreach { case (k, w) => assert(got(k).tokens == w.tokens, s"tokens mismatch $k") }
    Fs.deleteRecursively(base)
  }

  test("commitNext re-asks after a lost race and chains on the winner's version") {
    val dir = Fs.tempDir("graft-commitnext")
    val table = IceLite.create(spark, s"$dir/table", TokenDoc.schema, "doc_id", 4)
    val rival = IceLite.load(spark, table.root)
    def withDelta(s: IceSnapshot, f: String) =
      Some(s.copy(deltas = IceLite.appendDeltas(s.deltas, Map(0 -> Seq(f)))))

    // a rival commits between our read of the head and our write
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    val mine = table.commitNext { cur =>
      seen += cur.snapshotId
      if (seen.size == 1) rival.commitNext(withDelta(_, "rival"))
      withDelta(cur, "mine")
    }.get
    assert(seen == Seq(0L, 1L), s"next saw heads $seen")
    assert(mine.snapshotId == 2L && mine.parentId == 1L)
    assert(IceLite.readLatest(table.root).get.deltas(0) == Seq("rival", "mine"),
      "the retry must build on the winner's content")

    // None commits nothing; endless lost races give up, losing nothing
    assert(table.commitNext(_ => None).isEmpty && table.refresh().snapshotId == 2L)
    intercept[IllegalStateException] {
      table.commitNext { cur =>
        rival.commitNext(withDelta(_, s"rival-${cur.snapshotId}"))
        withDelta(cur, "never")
      }
    }
    val head = table.refresh()
    assert(head.snapshotId == 2L + IceLite.commitAttempts &&
      !head.deltas(0).contains("never") && head.deltas(0).size == 2 + IceLite.commitAttempts)
    Fs.deleteRecursively(dir)
  }

  test("a failed v2 insert commits nothing and leaves no files") {
    import spark.implicits._
    val dir = Fs.tempDir("graft-v2fail")
    val table = IceLite.create(spark, s"$dir/table", TokenDoc.schema, "doc_id", 4)
    val bad = Seq(TokenDoc("ok", Seq(1), 1, "v2"), TokenDoc(null, Seq(2), 1, "v2")).toDF()
    intercept[Exception](IceLiteV2.append(spark, table.root, bad, vc = 1L, vl = 0L))
    assert(table.refresh().snapshotId == 0L)
    val data = Paths.get(table.root, "data")
    val left = if (Files.exists(data)) Fs.walkAll(data).filter(Files.isRegularFile(_)) else Nil
    assert(left.isEmpty, s"files left behind: $left")
    Fs.deleteRecursively(dir)
  }
}
