package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Correctness of the custom TypedImperativeAggregate against a
  * reference argmax, across random shards/orders, plus the plan-shape
  * guarantee (ObjectHashAggregate, not SortAggregate).
  */
class LwwMaxBySpec extends SparkSpec {

  test("lww_max_by equals reference argmax for random data, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(83)
    val rows = (1 to 5000).map { i =>
      (s"k${rnd.nextInt(200)}", rnd.nextInt(50).toLong, rnd.nextInt(50).toLong, s"payload$i", i)
    }
    // unique (key, vc, vl) like the engine's unique-LSN contract
    val unique = rows.groupBy(r => (r._1, r._2, r._3)).map(_._2.head).toSeq
    val want = unique.groupBy(_._1).map { case (k, rs) =>
      k -> rs.maxBy(r => (r._2, r._3))._4
    }
    for (parts <- Seq(1, 7, 32)) {
      val df = unique.toDF("k", "vc", "vl", "payload", "i").repartition(parts)
      val got = df.groupBy($"k")
        .agg(LwwMaxBy.agg(struct($"payload"), $"vc", $"vl").as("w"))
        .select($"k", $"w.payload")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == want, s"mismatch at parts=$parts")
    }
  }

  test("null positions are skipped; all-null group yields null") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(1L), 1L, "x"), ("a", None, 9L, "IGNORED"),
      ("b", None, 1L, "IGNORED")
    ).toDF("k", "vc", "vl", "p")
    val got = df.groupBy($"k")
      .agg(LwwMaxBy.agg(struct($"p"), $"vc", $"vl").as("w"))
      .select($"k", $"w.p").collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got("a") == Some("x"))
    assert(got("b") == None)
  }

  test("plans as ObjectHashAggregate (never SortAggregate)") {
    import spark.implicits._
    val df = Seq(("a", 1L, 1L, "x")).toDF("k", "vc", "vl", "p")
    val plan = df.groupBy($"k")
      .agg(LwwMaxBy.agg(struct($"p", $"vc"), $"vc", $"vl").as("w"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("an apply and a merged read register no session function") {
    import graft.changelog._
    import graft.model.LogRecord
    import graft.stream._
    import graft.util.Fs
    val fresh = spark.newSession()
    def functions = fresh.sessionState.functionRegistry.listFunction().toSet
    val before = functions
    val base = Fs.tempDir("graft-noreg")
    val cfg = ChangeLogConfig(nTx = 20, nDocs = 20, seed = 97)
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 2)
    ChangeLogGen.writeLog(fresh, cfg, cdc.logDir, 1)
    val table = CdcJob.snapshot(fresh, ChangeLogGen.initialTable(fresh, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.processBatch(table, fresh.read.schema(LogRecord.schema).parquet(cdc.logDir), 0L)
    assert(table.current.deltas.values.exists(_.nonEmpty), "the read must merge deltas")
    assert(table.read().count() > 0)
    val added = functions -- before
    assert(added.isEmpty && functions.size == before.size, s"registered: $added")
    Fs.deleteRecursively(base)
  }

  test("schema history records additive evolution (E4 history analog)") {
    import graft.changelog._
    import graft.stream._
    import graft.util.Fs
    val base = Fs.tempDir("graft-hist")
    val cfg = ChangeLogConfig(nTx = 10, nDocs = 10, seed = 89)
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 2)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    import spark.implicits._
    val widened = Seq(
      EventV2(100L, 10L, 1L, 1L, "u", "t", None,
        Some(DocV2("doc000000001", Seq(1), 1, "cdc", "en")), 0L)).toDS().toDF()
    MergeApply.applyBatch(table, widened, 0L)
    val hist = table.schemaHistory()
    assert(hist.head._2.fieldNames.length == 4)
    assert(hist.last._2.fieldNames.contains("lang"))
    Fs.deleteRecursively(base)
  }
}
