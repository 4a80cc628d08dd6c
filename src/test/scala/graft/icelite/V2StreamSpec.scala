package graft.icelite

import graft.SparkSpec
import graft.icelite.dsv2.IceLiteV2
import graft.util.Fs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The DSv2 MICRO-BATCH streaming read: the IceLite commit log as a
  * Structured Streaming source (the table-as-topic surface downstream
  * consumers of the CDC sink tail instead of re-reading states).
  * Offsets are snapshot versions in the SS checkpoint — restart-safe,
  * exactly-once, admission-controlled, and fail-fast past the
  * retention horizon.
  */
class V2StreamSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("n", LongType)))

  private def freshTable(dir: String, buckets: Int = 8): IceLiteTable =
    IceLite.create(spark, s"$dir/table", schema, "doc_id", buckets)

  private def docs(from: Int, until: Int, nOf: Int => Long): DataFrame = {
    import spark.implicits._
    (from until until).map(i => (f"d$i%04d", nOf(i))).toDF("doc_id", "n")
  }

  private def drain(df: DataFrame, ckpt: String, name: String): Unit =
    df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()

  private def rowsOf(name: String): Set[(String, Long, Long, Boolean)] =
    spark.table(name).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet

  test("streamed change feed equals changesBetween over the full history") {
    val dir = Fs.tempDir("graft-v2stream")
    val table = freshTable(dir)
    IceLiteV2.append(spark, table.root, docs(0, 60, _.toLong), vc = 1L, vl = 0L)
    IceLiteV2.append(spark, table.root, docs(30, 90, i => i + 5L), vc = 2L, vl = 0L)
    IceLiteV2.append(spark, table.root, docs(0, 10, _.toLong), vc = 3L, vl = 0L,
      tombstone = true)
    val head = table.refresh().snapshotId

    val want = table.changesBetween(0L, head)
      .select(col("doc_id"), col("n"), col(IceLite.VC), col(IceLite.TOMB))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet

    // the select exercises column pruning through the streaming scan
    val st = IceLiteV2.readChangesStream(spark, table.root)
      .select(col("doc_id"), col("n"), col(IceLite.VC), col(IceLite.TOMB))
    drain(st, s"$dir/ckpt1", "v2s_all")
    val got = rowsOf("v2s_all")
    assert(want.nonEmpty && got == want,
      s"extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
    Fs.deleteRecursively(dir)
  }

  test("a feed over many small changed files plans about one partition per core") {
    val dir = Fs.tempDir("graft-v2stream-pack")
    val table = freshTable(dir)
    (1 to 10).foreach(i =>
      IceLiteV2.append(spark, table.root, docs(0, 80, _ + i.toLong), vc = i.toLong, vl = 0L))
    val head = table.refresh().snapshotId
    val files = IceLite.changedDataFiles(table.root, 0L, head)
    val cores = spark.sparkContext.defaultParallelism
    assert(files.size > 4 * cores, s"fixture needs many files per core, has ${files.size}")

    val fullSchema = IceLiteV2.readRaw(spark, table.root).schema
    val parts = new graft.icelite.dsv2.IceLiteMicroBatchStream(spark, table.root, 0L,
      Long.MaxValue, fullSchema, fullSchema)
      .planInputPartitions(graft.icelite.dsv2.IceLiteVersionOffset(0L),
        graft.icelite.dsv2.IceLiteVersionOffset(head))
      .map(_.asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition])
    assert(parts.length <= cores + 1,
      s"${files.size} changed files planned ${parts.length} partitions on $cores cores")
    assert(parts.flatMap(_.files.map(_.toPath.getName)).sorted.toSeq ==
      files.map(f => java.nio.file.Paths.get(f).getFileName.toString).sorted,
      "every changed file is read exactly once")

    val want = table.changesBetween(0L, head)
      .select(col("doc_id"), col("n"), col(IceLite.VC), col(IceLite.TOMB))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    drain(IceLiteV2.readChangesStream(spark, table.root)
      .select(col("doc_id"), col("n"), col(IceLite.VC), col(IceLite.TOMB)),
      s"$dir/ckpt", "v2s_pack")
    assert(want.size == 800 && rowsOf("v2s_pack") == want)
    Fs.deleteRecursively(dir)
  }

  test("maxVersionsPerTrigger bounds catch-up to one commit per micro-batch") {
    val dir = Fs.tempDir("graft-v2stream-adm")
    val table = freshTable(dir)
    IceLiteV2.append(spark, table.root, docs(0, 30, _.toLong), vc = 1L, vl = 0L)
    IceLiteV2.append(spark, table.root, docs(30, 60, _.toLong), vc = 2L, vl = 0L)
    IceLiteV2.append(spark, table.root, docs(60, 90, _.toLong), vc = 3L, vl = 0L)

    val perBatch = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long], Long)]()
    val q = IceLiteV2.readChangesStream(spark, table.root, maxVersionsPerTrigger = 1)
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (df: DataFrame, id: Long) =>
        val vcs = df.select(col(IceLite.VC)).distinct()
          .collect().map(_.getLong(0)).toSeq.sorted
        val n = df.count()
        perBatch.synchronized { perBatch += ((id, vcs, n)) }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val nonEmpty = perBatch.filter(_._3 > 0)
    assert(nonEmpty.size == 3, s"expected 3 one-commit batches, got $perBatch")
    assert(nonEmpty.forall(_._2.size == 1),
      s"each micro-batch must carry exactly one commit: $perBatch")
    assert(nonEmpty.map(_._3).sum == 90L)
    Fs.deleteRecursively(dir)
  }

  test("restart from checkpoint resumes after the committed version — no dup, no loss") {
    val dir = Fs.tempDir("graft-v2stream-resume")
    val table = freshTable(dir)
    IceLiteV2.append(spark, table.root, docs(0, 40, _.toLong), vc = 1L, vl = 0L)

    // memory sink can't recover from a checkpoint; foreachBatch can
    def run(): Set[(String, Long, Long, Boolean)] = {
      val buf = scala.collection.mutable.Set[(String, Long, Long, Boolean)]()
      val q = IceLiteV2.readChangesStream(spark, table.root)
        .select(col("doc_id"), col("n"), col(IceLite.VC), col(IceLite.TOMB))
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (df: DataFrame, _: Long) =>
          val rows = df.collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
          buf.synchronized { buf ++= rows }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      buf.toSet
    }
    assert(run().size == 40)

    // new commits land while the consumer is down
    IceLiteV2.append(spark, table.root, docs(100, 120, _.toLong), vc = 2L, vl = 0L)
    IceLiteV2.append(spark, table.root, docs(0, 5, _.toLong), vc = 3L, vl = 0L,
      tombstone = true)

    val got = run()
    assert(got.map(_._3).forall(vc => vc == 2L || vc == 3L),
      s"resume must deliver ONLY post-checkpoint commits, got vcs=${got.map(_._3)}")
    assert(got.count(_._3 == 2L) == 20 && got.count(_._3 == 3L) == 5)

    // a third restart with nothing new delivers nothing
    assert(run().isEmpty)
    Fs.deleteRecursively(dir)
  }

  test("a resume point expired by retention fails at planning — never silently skips") {
    val dir = Fs.tempDir("graft-v2stream-exp")
    val table = freshTable(dir)
    (1 to 6).foreach(i =>
      IceLiteV2.append(spark, table.root, docs(0, 10, _.toLong), vc = i.toLong, vl = 0L))
    assert(Maintenance.expireSnapshots(table, keepLast = 2) > 0)

    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(IceLiteV2.readChangesStream(spark, table.root)
        .select(col("doc_id"), col("n"), col(IceLite.VC), col(IceLite.TOMB)),
        s"$dir/ckpt", "v2s_exp")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      c.isInstanceOf[java.nio.file.NoSuchFileException] ||
        Option(c.getMessage).exists(_.contains("NoSuchFile"))),
      s"expected a missing-version failure, got: $ex")
    Fs.deleteRecursively(dir)
  }
}
