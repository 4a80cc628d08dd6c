package graft.icelite

import graft.SparkSpec
import graft.icelite.dsv2.IceLiteV2
import graft.util.Fs
import org.apache.spark.sql.types._

/** The DSv2 WRITE path: INSERT/append commits versioned delta files
  * through the snapshot protocol — LWW-correct against engine data,
  * CDF-visible, bucket-pure files, one file per bucket per insert
  * (proving the requested clustering was honored), CDC offsets
  * untouched.
  */
class V2WriteSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("n", LongType)))

  private def freshTable(dir: String, buckets: Int = 8): IceLiteTable =
    IceLite.create(spark, s"$dir/table", schema, "doc_id", buckets)

  private def docs(from: Int, until: Int, nOf: Int => Long) = {
    import spark.implicits._
    (from until until).map(i => (f"d$i%04d", nOf(i))).toDF("doc_id", "n")
  }

  test("append is LWW-correct: higher versions win, lower are inert, tombstones delete") {
    import spark.implicits._
    val dir = Fs.tempDir("graft-v2write")
    val table = freshTable(dir)
    val root = table.root

    IceLiteV2.append(spark, root, docs(0, 100, _.toLong), vc = 10L, vl = 0L)
    // overwrite the first half at a HIGHER version
    IceLiteV2.append(spark, root, docs(0, 50, i => i + 1000L), vc = 20L, vl = 0L)
    // a LATE-arriving LOWER version must not override anything
    IceLiteV2.append(spark, root, docs(0, 100, _ => -1L), vc = 5L, vl = 0L)
    // tombstone ten keys at the top version
    IceLiteV2.append(spark, root, docs(90, 100, _.toLong), vc = 30L, vl = 0L,
      tombstone = true)

    val got = table.refresh()
    val rows = IceLite.load(spark, root).read()
      .as[(String, Long)].collect().toMap
    assert(rows.size == 90, s"expected 90 live keys, got ${rows.size}")
    assert(rows("d0010") == 1010L, "vc=20 upsert must win over vc=10")
    assert(rows("d0060") == 60L, "untouched key keeps its vc=10 value")
    assert(!rows.contains("d0095"), "tombstoned key must be gone")
    assert(got.summary.note == "v2-append")
    // CDC offset state untouched: inserts are data, not log progress
    assert(got.summary.watermarkCommit == IceSummary.empty.watermarkCommit &&
      got.summary.lastBatchId == IceSummary.empty.lastBatchId)
    Fs.deleteRecursively(dir)
  }

  test("v2 insert surfaces in the change feed and is readable via the v2 scan") {
    import spark.implicits._
    val dir = Fs.tempDir("graft-v2write-cdf")
    val table = freshTable(dir)
    val root = table.root

    IceLiteV2.append(spark, root, docs(0, 40, _.toLong), vc = 1L, vl = 0L)
    val v1 = table.refresh().snapshotId
    IceLiteV2.append(spark, root, docs(20, 60, i => i + 7L), vc = 2L, vl = 0L)
    val v2 = table.refresh().snapshotId

    val feed = table.changesBetween(v1, v2)
      .select("doc_id", "n", "_change_type").as[(String, Long, String)].collect()
    assert(feed.length == 40 && feed.forall(_._3 == "c"),
      s"CDF must surface exactly the 40 inserted rows, got ${feed.length}")
    assert(feed.map(_._1).toSet == (20 until 60).map(i => f"d$i%04d").toSet)

    val merged = IceLiteV2.readMerged(spark, root)
      .select("doc_id", "n").as[(String, Long)].collect().toMap
    assert(merged.size == 60 && merged("d0030") == 37L && merged("d0010") == 10L)
    Fs.deleteRecursively(dir)
  }

  test("files are bucket-pure and exactly one per bucket per insert (clustering honored)") {
    val dir = Fs.tempDir("graft-v2write-files")
    val table = freshTable(dir, buckets = 4)
    val root = table.root
    IceLiteV2.append(spark, root, docs(0, 200, _.toLong), vc = 1L, vl = 0L)

    val snap = table.refresh()
    val deltas = snap.deltas
    assert(deltas.nonEmpty)
    deltas.foreach { case (b, files) =>
      assert(files.size == 1,
        s"bucket $b: expected ONE file per insert (clustered write), got ${files.size}")
      val keys = spark.read.schema(IceLite.withMeta(schema))
        .parquet(files.map(f => s"$root/$f"): _*)
        .select("doc_id").collect().map(_.getString(0))
      assert(keys.nonEmpty &&
        keys.forall(k => IceLite.bucketOf(k, snap.numBuckets) == b),
        s"bucket $b contains foreign keys")
    }
    // CDF manifest set at this commit site too
    assert(snap.changed == deltas)
    Fs.deleteRecursively(dir)
  }

  test("SQL INSERT INTO the catalog table works with explicit meta columns") {
    import spark.implicits._
    val dir = Fs.tempDir("graft-v2write-sql")
    val table = freshTable(dir)
    val root = table.root
    IceLiteV2.register(spark)
    (0 until 30).map(i => (f"s$i%03d", i.toLong)).toDF("doc_id", "n")
      .createOrReplaceTempView("v2w_src")
    spark.sql(
      s"""INSERT INTO graft.`$root`
         |SELECT doc_id, n, 3L AS __vc, 0L AS __vl, false AS __tomb
         |FROM v2w_src""".stripMargin)
    val rows = IceLite.load(spark, root).read().as[(String, Long)].collect().toMap
    assert(rows.size == 30 && rows("s007") == 7L)
    spark.catalog.dropTempView("v2w_src")
    Fs.deleteRecursively(dir)
  }

  test("null keys and null meta columns are rejected") {
    import spark.implicits._
    val dir = Fs.tempDir("graft-v2write-null")
    val table = freshTable(dir)
    val bad = Seq((null.asInstanceOf[String], 1L)).toDF("doc_id", "n")
    val e = intercept[Exception] {
      IceLiteV2.append(spark, table.root, bad, vc = 1L, vl = 0L)
    }
    assert(e.getMessage != null)
    // a failed write must not commit a snapshot
    assert(table.refresh().snapshotId == 0L)
    Fs.deleteRecursively(dir)
  }
}
