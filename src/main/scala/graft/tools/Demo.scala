package graft.tools

import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.model.LogRecord
import graft.stream._
import graft.util.Fs
import org.apache.spark.sql.SparkSession

/** Drives the whole engine through its public API: generate a CDC log,
  * snapshot, stream-apply, read back, time-travel, then probe duplicate
  * delivery and out-of-order batches. `sbt "runMain graft.tools.Demo"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = Fs.tempDir("graft-demo")
    val cfg = ChangeLogConfig(nTx = 400, nDocs = 300, truncateAtTx = -1)
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 16,
      maxFilesPerTrigger = 2)

    println(s"== workdir $base")
    ChangeLogGen.writeLog(spark, cfg, cdc.logDir, numFiles = 8)
    println(s"== log written: ${Fs.listParquet(cdc.logDir).size} segment files")

    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    println(s"== snapshot committed: v${table.current.snapshotId}, rows=${table.read().count()}")

    CdcJob.runAvailable(spark, table, cdc)
    val snap = table.refresh()
    println(s"== stream applied: v${snap.snapshotId} lastBatchId=${snap.summary.lastBatchId} " +
      s"watermark=(${snap.summary.watermarkCommit},${snap.summary.watermarkChange})")
    println(s"== final row count: ${table.read().count()}")
    table.read().orderBy("doc_id").show(5, truncate = 60)

    // oracle equality
    val initial = (0L until cfg.nDocs.toLong).map { k =>
      val t = ChangeLogGen.tokensFor(cfg.seed, k, 0L, cfg.maxTokens)
      ChangeLogGen.docId(k) -> graft.model.TokenDoc(ChangeLogGen.docId(k), t, t.size, "seed")
    }.toMap
    val log = (0L until cfg.nTx).flatMap(i => ChangeLogGen.txRecords(cfg, i))
    val want = ReplayOracle.replay(initial, log, ChangeLogGen.snapshotLsn)
    import spark.implicits._
    val got = table.read().as[graft.model.TokenDoc].collect().map(d => d.doc_id -> d).toMap
    val equal = got.keySet == want.keySet && want.forall { case (k, w) => got(k).tokens == w.tokens }
    println(s"== ORACLE EQUALITY: $equal (${got.size} rows)")

    // probe 1: duplicate batch replay (zombie driver)
    val files = Fs.listParquet(cdc.logDir).sorted
    val dup = CdcJob.processBatch(table,
      spark.read.schema(LogRecord.schema).parquet(files.head), 0L)
    println(s"== PROBE duplicate batch0 re-delivery: alreadyApplied=${dup.alreadyApplied} committed=${dup.committed}")

    // probe 2: out-of-order fresh batches (last file first) on a second table
    val cdc2 = cdc.copy(tableRoot = s"$base/table2", checkpointDir = s"$base/ckpt2")
    val t2 = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc2, ChangeLogGen.snapshotLsn)
    files.reverse.zipWithIndex.foreach { case (f, i) =>
      CdcJob.processBatch(t2, spark.read.schema(LogRecord.schema).parquet(f), i.toLong)
    }
    val got2 = t2.read().as[graft.model.TokenDoc].collect().map(d => d.doc_id -> d).toMap
    val equal2 = got2.keySet == want.keySet && want.forall { case (k, w) => got2(k).tokens == w.tokens }
    println(s"== PROBE out-of-order (reversed) batch application equality: $equal2")

    // probe 3: time travel back to the snapshot version
    println(s"== PROBE time-travel to v1 rows: ${table.readAt(1L).count()} (initial=${cfg.nDocs})")

    // probe 4: lineage emitted
    val lineage = table.readLineage()
    println(s"== lineage rows: ${lineage.count()}")
    lineage.orderBy("batch_id", "bucket").show(5)

    // probe 5: streaming near-dup index — register a corpus, then probe
    // a batch holding one near-dup (one word changed) and one fresh doc
    locally {
      import spark.implicits._
      val words = (0 until 40).map(i => s"tok$i")
      val corpus = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val ndx = graft.ops.NearDupIndex.create(spark, s"$base/ndidx", corpus, numBuckets = 4)
      val batch = Seq(
        (100L, words.updated(20, "changed").mkString(" ")),
        (101L, (0 until 40).map(i => s"fresh$i").mkString(" "))).toDF("doc_id", "text")
      val flagged = graft.ops.NearDupIndex.probe(ndx, batch)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      println(s"== PROBE near-dup index: flagged=${flagged.mkString(",")} " +
        s"(expect doc 100 -> owner 1, matches in (26,128); doc 101 clean)")
    }

    // probe 6: wire interchange — re-run the pipeline with the Debezium
    // wire emit sink on, then a THIRD engine instance consumes the topic
    // dump through the wire source and must reconverge exactly
    locally {
      val cdcW = cdc.copy(tableRoot = s"$base/tableW", checkpointDir = s"$base/ckptW",
        emitDir = Some(s"$base/emit"), emitWire = true)
      val tw = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
        cdcW, ChangeLogGen.snapshotLsn)
      CdcJob.runBatchIncremental(spark, tw, cdcW, filesPerBatch = 2)
      val cdcC = CdcConfig(s"$base/emit/batch-*", s"$base/tableC", s"$base/ckptC",
        numBuckets = 16, maxFilesPerTrigger = 4)
      val tc = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
        cdcC, ChangeLogGen.snapshotLsn)
      WireSource.stream(spark, tc, cdcC).awaitTermination()
      val gotW = tc.read().as[graft.model.TokenDoc].collect().map(d => d.doc_id -> d).toMap
      val equalW = gotW.keySet == want.keySet &&
        want.forall { case (k, w) => gotW(k).tokens == w.tokens }
      println(s"== PROBE wire interchange (engine -> Debezium JSON topic -> engine): $equalW")
    }

    // probe 7: downstream replication — bootstrap + DSv2 change-feed
    // tail into a 4-bucket replica must converge to the sink's state
    locally {
      val dst = graft.icelite.IceLite.create(spark, s"$base/replica",
        table.refresh().schema, table.refresh().keyCol, numBuckets = 4)
      graft.stream.Replicate.replicate(spark, table.root, dst,
        s"$base/ckptReplica", maxVersionsPerTrigger = 2,
        bootstrapAtVersion = Some(1L))
      val gotR = dst.read().as[graft.model.TokenDoc].collect().map(d => d.doc_id -> d).toMap
      val equalR = gotR.keySet == want.keySet &&
        want.forall { case (k, w) => gotR(k).tokens == w.tokens }
      println(s"== PROBE replica (bootstrap + table-as-topic feed tail): $equalR")
    }

    // probe 8: incremental view maintenance — a per-source aggregate
    // maintained from the feed's deltas must equal the full recompute
    locally {
      import org.apache.spark.sql.functions._
      val vd = graft.stream.Ivm.ViewDef("source",
        Seq("total_tok" -> col("n_tok").cast("long")))
      val (rep, view) = graft.stream.Ivm.maintain(spark, table.root, vd,
        s"$base/ivmRep", s"$base/ivmView", s"$base/ckptIvm",
        maxVersionsPerTrigger = 2, bootstrapAtVersion = Some(1L))
      val got = view.read().collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      val wantV = graft.stream.Ivm.aggregateOf(rep.read(), vd)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      println(s"== PROBE ivm (feed-maintained aggregate == recompute): ${got == wantV}")
    }

    Fs.deleteRecursively(base)
    spark.stop()
    println("== DONE")
  }
}
