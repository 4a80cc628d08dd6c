package graft.icelite

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.model.{LogRecord, TokenDoc}
import graft.stream.{CdcConfig, CdcJob}
import graft.util.Fs
import org.apache.spark.sql.functions._

/** Read-path features: bucket-pruned point lookup and the change data
  * feed (the sink re-exposed as a CDC source).
  */
class ReadPathSpec extends SparkSpec {

  private def pipeline(seed: Int, nTx: Int = 150, nDocs: Int = 100) = {
    val cfg = ChangeLogConfig(nTx = nTx, nDocs = nDocs, seed = seed, deletePct = 20)
    val base = Fs.tempDir("graft-readpath")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 8)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 4)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
    (base, table)
  }

  test("driver-side bucketOf equals Spark's pmod(hash(key), n)") {
    import spark.implicits._
    val keys = (0 until 200).map(i => s"doc$i") ++ Seq("", "x", "doc-999", "ü日本")
    val sparkBuckets = keys.toDF("k")
      .select(col("k"), pmod(hash(col("k")), lit(8)).as("b")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    // the v2 catalog's `bucket` function, loaded and bound as Spark does
    import org.apache.spark.sql.connector.catalog.Identifier
    import org.apache.spark.sql.connector.catalog.functions.ScalarFunction
    import org.apache.spark.sql.types._
    val catalogBucket = new graft.icelite.dsv2.IceLiteCatalog()
      .loadFunction(Identifier.of(Array.empty[String], "bucket"))
      .bind(StructType(Seq(StructField("n", IntegerType), StructField("k", StringType))))
      .asInstanceOf[ScalarFunction[Integer]]
    keys.foreach { k =>
      assert(IceLite.bucketOf(k, 8) == sparkBuckets(k), s"bucket mismatch for '$k'")
      val v2 = catalogBucket.produceResult(org.apache.spark.sql.catalyst.InternalRow(
        8, org.apache.spark.unsafe.types.UTF8String.fromString(k)))
      assert(v2.intValue == sparkBuckets(k), s"catalog bucket mismatch for '$k'")
    }
  }

  test("lookup prunes to the keys' buckets and returns exactly those live rows") {
    import spark.implicits._
    val (base, table) = pipeline(seed = 91)
    val all = table.read().as[TokenDoc].collect().map(d => d.doc_id -> d).toMap
    val someKeys = all.keys.toSeq.sorted.take(3)
    val got = table.lookup(someKeys).as[TokenDoc].collect().map(d => d.doc_id -> d).toMap
    assert(got.keySet == someKeys.toSet)
    someKeys.foreach(k => assert(got(k).tokens == all(k).tokens))
    // a deleted/unknown key returns nothing
    assert(table.lookup(Seq("doc-does-not-exist")).isEmpty)
    // pruning is real: the lookup plan reads fewer files than the table scan
    val allFiles = table.current.allFiles.size
    val prunedBuckets = someKeys.map(k => IceLite.bucketOf(k, 8)).distinct
    val prunedFiles = prunedBuckets.flatMap(b =>
      table.current.base.getOrElse(b, Nil) ++ table.current.deltas.getOrElse(b, Nil)).size
    assert(prunedFiles < allFiles,
      s"expected bucket pruning: $prunedFiles pruned vs $allFiles total")
    Fs.deleteRecursively(base)
  }

  private def replayFeed(table: IceLiteTable, before: Map[String, TokenDoc],
      mid: Long, head: Long): Map[String, TokenDoc] = {
    import org.apache.spark.sql.Row
    val feed = table.changesBetween(mid, head)
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"),
        col(IceLite.VC), col(IceLite.VL), col("_change_type"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (k, rows) => k -> rows.maxBy(r => (r.getLong(4), r.getLong(5))) }
    val got = scala.collection.mutable.Map(before.toSeq: _*)
    feed.foreach { case (k, top: Row) =>
      if (top.getString(6) == "d") got.remove(k)
      else got(k) = TokenDoc(k, top.getSeq[Int](1), top.getInt(2), top.getString(3))
    }
    got.toMap
  }

  test("change feed stays exact across same-commit compaction (and after orphan GC)") {
    import spark.implicits._
    // small bucket count + many single-file batches force delta chains past
    // maxDeltaChain, so several applies compact buckets IN their own commit
    val cfg = ChangeLogConfig(nTx = 500, nDocs = 120, seed = 101, deletePct = 15)
    val base = Fs.tempDir("graft-cdfcompact")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 2)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 12)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
    val head = table.refresh().snapshotId
    // the fixture really exercised the bug path: some commit recorded
    // changed files for a bucket it compacted in the same commit
    val snaps = (2L to head).map(v => IceLite.readSnapshotFile(table.root, v))
    val compactingApplies = snaps.count { s =>
      s.changed.nonEmpty && s.changed.keys.exists(b =>
        s.deltas.getOrElse(b, Nil).isEmpty && s.base.getOrElse(b, Nil).nonEmpty)
    }
    assert(compactingApplies > 0,
      s"fixture never compacted inside an apply commit — raise nTx or lower maxDeltaChain")
    val want = table.readAt(head).as[TokenDoc].collect().map(d => d.doc_id -> d).toMap
    val before = table.readAt(2L).as[TokenDoc].collect().map(d => d.doc_id -> d).toMap
    val got = replayFeed(table, before, mid = 2L, head = head)
    assert(got.keySet == want.keySet,
      s"extra=${(got.keySet -- want.keySet).take(5)} missing=${(want.keySet -- got.keySet).take(5)}")
    want.foreach { case (k, w) => assert(got(k).tokens == w.tokens, s"tokens mismatch $k") }
    // orphan GC must preserve the retained feed (manifests are protected)
    Maintenance.gcOrphans(table)
    val got2 = replayFeed(table, before, mid = 2L, head = head)
    assert(got2.keySet == want.keySet)
    want.foreach { case (k, w) => assert(got2(k).tokens == w.tokens, s"tokens mismatch post-GC $k") }
    Fs.deleteRecursively(base)
  }

  test("snapshot expiry bounds the feed horizon; latest read survives the gap") {
    val (base, table) = pipeline(seed = 103)
    val head = table.refresh().snapshotId
    assert(Maintenance.expireSnapshots(table, keepLast = 2) > 0)
    // latest still resolves (directory scan, not v0 probing)
    assert(IceLite.load(spark, table.root).current.snapshotId == head)
    assert(IceLite.exists(table.root))
    // feed over the retained tail still works; expired range throws
    assert(table.changesBetween(head - 1, head).columns.contains("_change_type"))
    intercept[Exception](table.changesBetween(0L, head).collect())
    Fs.deleteRecursively(base)
  }

  test("change feed: readAt(v) + changes(v, head] replays to readAt(head)") {
    import spark.implicits._
    val (base, table) = pipeline(seed = 97)
    val head = table.refresh().snapshotId
    val mid = 2L // snapshot + first applied batch
    assert(head > mid)
    val before = table.readAt(mid).as[TokenDoc].collect().map(d => d.doc_id -> d).toMap
    val want = table.readAt(head).as[TokenDoc].collect().map(d => d.doc_id -> d).toMap

    val feed = table.changesBetween(mid, head)
    assert(feed.columns.contains("_change_type"))
    // LWW-apply the feed onto the old state (the consumer's merge)
    val changes = feed
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"),
        col(IceLite.VC), col(IceLite.VL), col("_change_type"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (k, rows) =>
        val top = rows.maxBy(r => (r.getLong(4), r.getLong(5)))
        k -> top
      }
    val got = scala.collection.mutable.Map(before.toSeq: _*)
    changes.foreach { case (k, top) =>
      if (top.getString(6) == "d") got.remove(k)
      else got(k) = TokenDoc(k, top.getSeq[Int](1), top.getInt(2), top.getString(3))
    }
    assert(got.keySet == want.keySet,
      s"extra=${(got.keySet -- want.keySet).take(5)} missing=${(want.keySet -- got.keySet).take(5)}")
    want.foreach { case (k, w) => assert(got(k).tokens == w.tokens, s"tokens mismatch $k") }
    // empty range -> empty feed
    assert(table.changesBetween(head, head).isEmpty)
    Fs.deleteRecursively(base)
  }
}
