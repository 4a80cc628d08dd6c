package graft.icelite

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.icelite.dsv2.IceLiteV2
import graft.model.TokenDoc
import graft.stream.{CdcConfig, CdcJob}
import graft.util.Fs
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** The DSv2 read path: reported KeyGroupedPartitioning over the bucket
  * layout must make the merged read — and downstream key-grouping —
  * plan with ZERO exchange, while returning exactly the rows the
  * classic read path returns.
  */
class V2ReadSpec extends SparkSpec {

  private def pipeline(seed: Int) = {
    val cfg = ChangeLogConfig(nTx = 200, nDocs = 120, seed = seed, deletePct = 15)
    val base = Fs.tempDir("graft-v2read")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 8)
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 4)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
    (base, table)
  }

  private def shufflesOf(df: org.apache.spark.sql.DataFrame): Seq[ShuffleExchangeExec] =
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }

  test("v2 merged read equals the classic read and plans with ZERO exchange") {
    import spark.implicits._
    val (base, table) = pipeline(seed = 151)
    assert(table.refresh().deltas.values.exists(_.nonEmpty), "fixture needs delta chains")
    val want = table.read().as[TokenDoc].collect().map(d => d.doc_id -> d).toMap

    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val v2 = IceLiteV2.readMerged(spark, table.root)
      assert(shufflesOf(v2).isEmpty,
        s"v2 merged read must not shuffle:\n${v2.queryExecution.executedPlan}")
      val got = v2.as[TokenDoc].collect().map(d => d.doc_id -> d).toMap
      assert(got.keySet == want.keySet,
        s"extra=${(got.keySet -- want.keySet).take(5)} missing=${(want.keySet -- got.keySet).take(5)}")
      want.foreach { case (k, w) => assert(got(k).tokens == w.tokens, s"tokens mismatch $k") }

      // downstream aggregation on the key keeps the property
      val downstream = IceLiteV2.readMerged(spark, table.root)
        .groupBy(col("doc_id")).agg(sum(col("n_tok")).as("s"))
      assert(shufflesOf(downstream).isEmpty,
        s"downstream key-grouping must reuse the layout:\n${downstream.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    Fs.deleteRecursively(base)
  }

  test("key-equality predicates prune the scan to the keys' buckets (v2 point lookup)") {
    import spark.implicits._
    val (base, table) = pipeline(seed = 163)
    val all = table.read().as[TokenDoc].collect().map(d => d.doc_id -> d).toMap
    val k = all.keys.min
    val df = IceLiteV2.readRaw(spark, table.root)
      .where(col("doc_id") === k && !col(IceLite.TOMB))
    // pruning is visible in the scan description and in the result
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("prunedToBuckets=["),
      s"expected bucket pruning in the scan:\n$desc")
    assert(desc.contains(s"buckets=1/8"), s"expected exactly one bucket scanned:\n$desc")
    val got = df.as[TokenDoc].collect()
    assert(got.map(_.doc_id).distinct.toSeq == Seq(k))
    // multi-key IN prunes to the union of buckets; unknown keys scan nothing extra
    val ks = all.keys.toSeq.sorted.take(3)
    val got3 = IceLiteV2.readRaw(spark, table.root)
      .where(col("doc_id").isin(ks.map(x => x: Any): _*) && !col(IceLite.TOMB))
      .as[TokenDoc].collect().map(_.doc_id).toSet
    assert(got3 == ks.toSet)
    Fs.deleteRecursively(base)
  }

  test("SPJ across two tables with DIFFERENT bucket counts (8 vs 4) plans without a shuffle") {
    // 8-bucket "fact" sink and 4-bucket "dim" sink over the same keys
    val cfg = ChangeLogConfig(nTx = 120, nDocs = 80, seed = 167)
    val base = Fs.tempDir("graft-v2xbuckets")
    def build(nb: Int, tag: String) = {
      val cdc = CdcConfig(s"$base/log$tag", s"$base/table$tag", s"$base/ckpt$tag",
        numBuckets = nb)
      ChangeLogGen.writeLog(spark, cfg, cdc.logDir, 2)
      val t = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
        cdc, ChangeLogGen.snapshotLsn)
      CdcJob.runBatchIncremental(spark, t, cdc, filesPerBatch = 1)
      t
    }
    val fact = build(8, "F")
    val dim = build(4, "D")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = IceLiteV2.readRaw(spark, fact.root)
        .where(!col(IceLite.TOMB)).select(col("doc_id"), col("n_tok"))
      val b = IceLiteV2.readRaw(spark, dim.root)
        .where(!col(IceLite.TOMB)).select(col("doc_id"), col("source"))
      val joined = a.join(b, Seq("doc_id"))
      assert(shufflesOf(joined).isEmpty,
        s"8-bucket x 4-bucket SPJ must co-partition via the reducer:\n${joined.queryExecution.executedPlan}")
      // correctness: the join matches the key intersection semantics
      val expect = a.select("doc_id").distinct().join(
        b.select("doc_id").distinct(), Seq("doc_id")).count()
      assert(joined.select("doc_id").distinct().count() == expect && expect > 0)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
    Fs.deleteRecursively(base)
  }

  test("runtime V2 filter() prunes to the keys' buckets; foreign predicates are ignored") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    import org.apache.spark.unsafe.types.UTF8String
    import spark.implicits._

    val (base, table) = pipeline(seed = 173)
    val all = table.read().as[TokenDoc].collect().map(_.doc_id).sorted
    val df = IceLiteV2.readRaw(spark, table.root)
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.head.asInstanceOf[SupportsRuntimeV2Filtering]

    assert(scan.filterAttributes().map(_.fieldNames().mkString(".")).toSeq == Seq("doc_id"))

    def inPredicate(colName: String, keys: Seq[String]) = new Predicate("IN",
      (Expressions.column(colName) +: keys.map(k =>
        Expressions.literal(UTF8String.fromString(k)): org.apache.spark.sql
          .connector.expressions.Expression)).toArray)

    // a predicate on a non-key column must NOT prune anything
    val before = scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length
    scan.filter(Array(inPredicate("source", Seq("x"))))
    assert(scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length == before, "non-key predicate must be ignored")

    // runtime IN on the key prunes to exactly the keys' buckets
    val ks = all.take(2)
    val wantBuckets = ks.map(k => IceLite.bucketOf(k, 8)).toSet
    scan.filter(Array(inPredicate("doc_id", ks)))
    val parts = scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length
    assert(parts == wantBuckets.size,
      s"expected ${wantBuckets.size} bucket partitions after runtime filter, got $parts")
    assert(scan.asInstanceOf[org.apache.spark.sql.connector.read.Scan].description()
      .contains(s"prunedToBuckets=${wantBuckets.toSeq.sorted.mkString("[", ",", "]")}"))
    Fs.deleteRecursively(base)
  }

  test("dynamic partition pruning: a selective broadcast join runtime-prunes the v2 scan") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import spark.implicits._
    val (base, table) = pipeline(seed = 179)
    val all = table.read().as[TokenDoc].collect().map(_.doc_id).sorted
    val wanted = all.take(3)

    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // selective build side: tiny, broadcastable, with a real filter so
      // the optimizer's PartitionPruning rule considers it pruning-worthy.
      // The dim goes through parquet: over a local relation the filter
      // constant-folds away (ConvertToLocalRelation) and DPP never fires.
      (wanted.toSeq.map(k => (k, 1)) ++ all.takeRight(2).toSeq.map(k => (k, 0)))
        .toDF("doc_id", "flag").write.mode("overwrite").parquet(s"$base/dim")
      val dim = spark.read.parquet(s"$base/dim").where(col("flag") === 1)
      val fact = IceLiteV2.readRaw(spark, table.root).where(!col(IceLite.TOMB))
      val joined = fact.join(broadcast(dim), Seq("doc_id")).select("doc_id", "n_tok")

      val scans = joined.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      assert(scans.nonEmpty && scans.head.runtimeFilters.nonEmpty,
        s"expected a runtime filter on the v2 scan:\n${joined.queryExecution.executedPlan}")

      // collect() on THIS dataset (a .as[...] would re-plan with a fresh
      // scan instance and the runtime-pruning evidence would vanish);
      // readRaw returns every stored row version — compare the key set
      val got = joined.collect().map(_.getString(0)).distinct.sorted.toSeq
      assert(got == wanted.toSeq, s"got=$got want=${wanted.toSeq}")
      // post-execution, the scan instance reports the buckets it was pruned to
      val desc = joined.queryExecution.executedPlan.toString
      assert(desc.contains("prunedToBuckets=["),
        s"expected runtime bucket pruning to show in the executed scan:\n$desc")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    Fs.deleteRecursively(base)
  }

  test("metadata-only aggregates: COUNT/MIN/MAX answered from zone-map stats, no file read") {
    val (base, table) = pipeline(seed = 181)

    val snap = table.refresh()
    val allFiles = (snap.base.values.flatten ++ snap.deltas.values.flatten).toSeq
    val raw = spark.read.parquet(allFiles.map(r => s"${table.root}/$r"): _*)
    val expect = raw.agg(
      count(lit(1)), min(col("n_tok")), max(col("n_tok")), count(col("n_tok")),
      min(col(IceLite.VC)), max(col(IceLite.VC))).collect()(0)

    val q = IceLiteV2.readRaw(spark, table.root).agg(
      count(lit(1)).as("cnt"), min(col("n_tok")).as("mn"), max(col("n_tok")).as("mx"),
      count(col("n_tok")).as("cnn"),
      min(col(IceLite.VC)).as("vmin"), max(col(IceLite.VC)).as("vmax"))
    assert(q.queryExecution.executedPlan.toString.contains("metadata-only"),
      s"expected the stats scan:\n${q.queryExecution.executedPlan}")
    val got = q.collect()(0)
    (0 until 6).foreach { i =>
      assert(got.get(i) == expect.get(i), s"agg $i: got ${got.get(i)}, want ${expect.get(i)}")
    }

    // a FILTERED aggregate must not push (stats can't apply predicates):
    // plan falls back to the normal scan, result stays exact
    val cut = raw.agg(avg(col("n_tok"))).collect()(0).getDouble(0).toInt
    val fq = IceLiteV2.readRaw(spark, table.root)
      .where(col("n_tok") > cut).agg(count(lit(1)))
    assert(!fq.queryExecution.executedPlan.toString.contains("metadata-only"),
      s"filtered aggregates must not be answered from stats:\n${fq.queryExecution.executedPlan}")
    assert(fq.collect()(0).getLong(0) == raw.where(col("n_tok") > cut).count())

    // string min/max must not push (parquet may truncate binary stats)
    val sq = IceLiteV2.readRaw(spark, table.root).agg(min(col("doc_id")))
    assert(!sq.queryExecution.executedPlan.toString.contains("metadata-only"))
    assert(sq.collect()(0).getString(0) ==
      raw.agg(min(col("doc_id"))).collect()(0).getString(0))

    // group-by aggregates keep the normal (exchange-free) path
    val gq = IceLiteV2.readRaw(spark, table.root)
      .groupBy(col("doc_id")).agg(count(lit(1)))
    assert(!gq.queryExecution.executedPlan.toString.contains("metadata-only"))
    assert(gq.count() == raw.select("doc_id").distinct().count())
    Fs.deleteRecursively(base)
  }

  test("storage-partitioned self-join on the key plans without a shuffle") {
    val (base, table) = pipeline(seed = 157)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a real join
    try {
      val a = IceLiteV2.readRaw(spark, table.root)
        .where(!col(IceLite.TOMB)).select(col("doc_id"), col("n_tok"))
      val b = IceLiteV2.readRaw(spark, table.root)
        .where(!col(IceLite.TOMB)).select(col("doc_id"), col("tokens"))
      val joined = a.join(b, Seq("doc_id"))
      assert(shufflesOf(joined).isEmpty,
        s"SPJ must co-locate both sides on the bucket layout:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
    Fs.deleteRecursively(base)
  }
}
