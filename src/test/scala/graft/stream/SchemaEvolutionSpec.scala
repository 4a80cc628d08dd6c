package graft.stream

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.model.{ChangeEvent, TokenDoc}
import graft.util.Fs

/** Wider row shape for the additive-evolution fixture (FIXTURES.md §4:
  * "mid-stream ALTER adds `lang string`; later events carry it; sink
  * schema widens; old rows null").
  */
case class DocV2(doc_id: String, tokens: Seq[Int], n_tok: Int, source: String, lang: String)
case class EventV2(
    commit_lsn: Long, change_lsn: Long, begin_lsn: Long, tx_id: Long,
    op: String, table: String, before: Option[DocV2], after: Option[DocV2], ts_ms: Long)

/** Widened row shape: `n_tok` arrives as int64 mid-stream. */
case class DocW(doc_id: String, tokens: Seq[Int], n_tok: Long, source: String)
case class EventW(
    commit_lsn: Long, change_lsn: Long, begin_lsn: Long, tx_id: Long,
    op: String, table: String, before: Option[DocW], after: Option[DocW], ts_ms: Long)

/** E4 — additive schema evolution propagated to the sink
  * (`InformixStreamingChangeEventSource.java:407-428`,
  * `InformixDatabaseSchema.java:59-78`,
  * `SchemaHistoryTopicIT.java:74-127`).
  */
class SchemaEvolutionSpec extends SparkSpec {

  test("additive column mid-stream: sink schema widens, old rows read null, new rows carry value") {
    import spark.implicits._
    val base = Fs.tempDir("graft-evo")
    val cfg = ChangeLogConfig(nTx = 10, nDocs = 20, seed = 31)
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 4)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    assert(table.current.schema.fieldNames.toSeq ==
      Seq("doc_id", "tokens", "n_tok", "source"))

    // batch 0: plain events (old schema)
    val e0 = Seq(
      ChangeEvent(100L, 10L, 1L, 1L, "u", "t", None,
        Some(TokenDoc("doc000000001", Seq(1, 2, 3), 3, "cdc")), 0L)
    ).toDS().toDF()
    MergeApply.applyBatch(table, e0, 0L)

    // batch 1: events carry the new `lang` column (post-ALTER)
    val e1 = Seq(
      EventV2(200L, 20L, 2L, 2L, "u", "t", None,
        Some(DocV2("doc000000002", Seq(9, 9), 2, "cdc", "en")), 0L),
      EventV2(200L, 21L, 2L, 2L, "c", "t", None,
        Some(DocV2("docNEW", Seq(7), 1, "cdc", "fr")), 0L)
    ).toDS().toDF()
    val s = MergeApply.applyBatch(table, e1, 1L)
    assert(s.committed)

    val cur = table.refresh()
    assert(cur.schema.fieldNames.toSeq ==
      Seq("doc_id", "tokens", "n_tok", "source", "lang"))

    val rows = table.read().collect().map(r =>
      r.getString(0) -> Option(r.getString(4))).toMap
    assert(rows("doc000000002") == Some("en"))
    assert(rows("docNEW") == Some("fr"))
    assert(rows("doc000000001") == None) // pre-ALTER write: null lang
    assert(rows("doc000000000") == None) // snapshot row: null lang

    // a LATER batch still on the old shape (straggler) must still apply
    val e2 = Seq(
      ChangeEvent(300L, 30L, 3L, 3L, "u", "t", None,
        Some(TokenDoc("doc000000003", Seq(5), 1, "cdc")), 0L)
    ).toDS().toDF()
    MergeApply.applyBatch(table, e2, 2L)
    val rows2 = table.read().where("doc_id = 'doc000000003'").collect()
    assert(rows2.length == 1 && rows2(0).isNullAt(4))

    Fs.deleteRecursively(base)
  }

  test("numeric widening mid-stream: int column becomes long; old files still read; stragglers upcast") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    import spark.implicits._
    val base = Fs.tempDir("graft-evo-widen")
    val cfg = ChangeLogConfig(nTx = 10, nDocs = 20, seed = 37)
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 4)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    assert(table.current.schema("n_tok").dataType == IntegerType)

    // batch 0: old int32 shape — committed as int32 data files
    val e0 = Seq(
      ChangeEvent(100L, 10L, 1L, 1L, "u", "t", None,
        Some(TokenDoc("doc000000001", Seq(1, 2, 3), 3, "cdc")), 0L)
    ).toDS().toDF()
    MergeApply.applyBatch(table, e0, 0L)

    // batch 1: the column arrives as int64 with a value > Int.MaxValue —
    // the sink schema widens; earlier int32 files stay valid (Spark 4
    // parquet readers serve widened reads without a rewrite)
    val big = 5000000000L
    val e1 = Seq(
      EventW(200L, 20L, 2L, 2L, "u", "t", None,
        Some(DocW("docBIG", Seq(9), big, "cdc")), 0L)
    ).toDS().toDF()
    assert(MergeApply.applyBatch(table, e1, 1L).committed)
    val cur = table.refresh()
    assert(cur.schema("n_tok").dataType == LongType)

    val byId = table.read().collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(byId("docBIG") == big)
    assert(byId("doc000000001") == 3L) // pre-widening int32 file, read as long

    // a straggler batch still on the int32 shape upcasts on write —
    // data files never drift from the committed (widened) schema
    val e2 = Seq(
      ChangeEvent(300L, 30L, 3L, 3L, "u", "t", None,
        Some(TokenDoc("doc000000002", Seq(5), 7, "cdc")), 0L)
    ).toDS().toDF()
    assert(MergeApply.applyBatch(table, e2, 2L).committed)
    val after = table.read().collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(after("doc000000002") == 7L && after("docBIG") == big)

    // the DSv2 merged scan serves the same widened view
    val v2 = graft.icelite.dsv2.IceLiteV2.readMerged(spark, table.root)
      .select("doc_id", "n_tok").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v2("docBIG") == big && v2("doc000000001") == 3L)

    Fs.deleteRecursively(base)
  }

  test("the KEY column never widens: a long-typed key event keeps the int key and one bucket layout") {
    import org.apache.spark.sql.types.IntegerType
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = Fs.tempDir("graft-evo-key")
    val seed = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt",
      keyCol = "k", numBuckets = 4)
    val table = CdcJob.snapshot(spark, seed, cdc, snapshotLsn = 0L)
    assert(table.current.schema("k").dataType == IntegerType)

    // the key arrives as int64: pmod(hash(2:long), n) != pmod(hash(2:int), n)
    // in general, so widening the key would place the same logical key in
    // a second bucket (duplicate rows past the clean-bucket bypass)
    val after = Seq((2L, "B2")).toDF("k", "v")
    val ev = after.select(
      lit("u").as("op"),
      lit(null).cast(after.schema).as("before"),
      struct(col("k"), col("v")).as("after"),
      lit(10L).as("commit_lsn"), lit(1L).as("change_lsn"))
    assert(MergeApply.applyBatch(table, ev, 0L).committed)
    assert(table.refresh().schema("k").dataType == IntegerType,
      "key type is load-bearing for the bucket layout and must not widen")
    val got = table.read().collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(got == Map(1 -> "a", 2 -> "B2", 3 -> "c"),
      "one row per logical key — the update must land in the key's original bucket")
    Fs.deleteRecursively(base)
  }

  test("widenType: chains, recursion, and incompatible types keep the table side") {
    import org.apache.spark.sql.types._
    assert(MergeApply.widenType(IntegerType, LongType) == LongType)
    assert(MergeApply.widenType(LongType, IntegerType) == LongType)
    assert(MergeApply.widenType(ByteType, ShortType) == ShortType)
    assert(MergeApply.widenType(FloatType, DoubleType) == DoubleType)
    // int/float cross-domain is NOT a parquet-served widening: keep table
    assert(MergeApply.widenType(IntegerType, DoubleType) == IntegerType)
    assert(MergeApply.widenType(StringType, LongType) == StringType)
    assert(MergeApply.widenType(ArrayType(IntegerType), ArrayType(LongType)) ==
      ArrayType(LongType, containsNull = true))
    val t = StructType(Seq(StructField("a", IntegerType)))
    val in = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val m = MergeApply.widenType(t, in).asInstanceOf[StructType]
    assert(m("a").dataType == LongType && m.fieldNames.contains("b"))
  }
}
