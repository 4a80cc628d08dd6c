package graft.stream

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.icelite.IceLite
import graft.model.{LogRecord, TokenDoc}
import graft.util.Fs

/** Multi-table capture: one shared change log feeding N independent
  * sink tables, each converging to its own oracle.
  */
class MultiTableSpec extends SparkSpec {

  test("two captured tables from one log both converge; cross-routing never happens") {
    import spark.implicits._
    val cfg = ChangeLogConfig(nTx = 120, nDocs = 80, seed = 101)
    val base = Fs.tempDir("graft-multi")
    val logDir = s"$base/log"
    ChangeLogGen.writeLog(spark, cfg, logDir, 4)

    // second captured table: its own transactions + docs spliced into the log
    val t2tx = 888000L
    val t2 = (0 until 10).flatMap { i =>
      val tx = t2tx + i
      val lsnBase = Long.MaxValue / 2 + i * 10
      Seq(
        LogRecord(lsnBase, tx, "B", -1L, "table_two", None, None, 0L),
        LogRecord(lsnBase + 1, tx, "c", -1L, "table_two", None,
          Some(TokenDoc(s"t2doc$i", Seq(i, i + 1), 2, "t2")), 0L),
        LogRecord(lsnBase + 2, tx, "C", -1L, "table_two", None, None, 0L))
    }
    t2.toDS().toDF().write.mode("append").parquet(logDir)

    // sink1 seeded with the initial snapshot; sink2 starts empty
    val sink1 = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      CdcConfig(logDir, s"$base/sink1", s"$base/ckpt1"), ChangeLogGen.snapshotLsn)
    val sink2 = IceLite.create(spark, s"$base/sink2",
      MergeApply.asNullable(ChangeLogGen.initialTable(spark, cfg).toDF().schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType], "doc_id", 4)
    val tables = Map("token_docs" -> sink1, "table_two" -> sink2)

    val files = Fs.listParquet(logDir).sorted
    files.zipWithIndex.foreach { case (f, i) =>
      val stats = MultiTable.processBatch(tables,
        spark.read.schema(LogRecord.schema).parquet(f), i.toLong)
      assert(stats.keySet == Set("token_docs", "table_two"))
    }

    // table 1 equals its replay oracle
    val initial = (0L until cfg.nDocs.toLong).map { k =>
      val t = ChangeLogGen.tokensFor(cfg.seed, k, 0L, cfg.maxTokens)
      ChangeLogGen.docId(k) -> TokenDoc(ChangeLogGen.docId(k), t, t.size, "seed")
    }.toMap
    val want1 = ReplayOracle.replay(initial,
      (0L until cfg.nTx).flatMap(i => ChangeLogGen.txRecords(cfg, i)),
      ChangeLogGen.snapshotLsn)
    val got1 = tables("token_docs").read().as[TokenDoc].collect()
      .map(d => d.doc_id -> d).toMap
    assert(got1.keySet == want1.keySet)
    want1.foreach { case (k, w) => assert(got1(k).tokens == w.tokens) }
    assert(!got1.keySet.exists(_.startsWith("t2doc")), "cross-routed table_two rows")

    // table 2 holds exactly its 10 spliced docs
    val got2 = tables("table_two").read().as[TokenDoc].collect()
      .map(d => d.doc_id -> d).toMap
    assert(got2.keySet == (0 until 10).map(i => s"t2doc$i").toSet)
    assert(got2("t2doc3").tokens == Seq(3, 4))
    Fs.deleteRecursively(base)
  }
}
