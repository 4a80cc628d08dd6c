package graft.stream

import graft.SparkSpec
import graft.changelog.{ChangeLogConfig, ChangeLogGen}
import graft.model.TokenDoc
import graft.util.Fs

/** T1 cross-batch: log files that split transactions mid-flight. The
  * batch path (`TxAssembler.assemble` per batch) assembles whole
  * transactions only, so its log must be aligned to commit boundaries;
  * a log cut at arbitrary ROW positions is served by the stateful
  * assemblies (StatefulAssemblySpec, TwsAssemblySpec). This test pins
  * that contract: the batch path diverges from the oracle on such a log.
  */
class CarryoverSpec extends SparkSpec {

  private def writeSlicedLog(cfg: ChangeLogConfig, dir: String, nSlices: Int): Unit = {
    import spark.implicits._
    val log = (0L until cfg.nTx).flatMap(i => ChangeLogGen.txRecords(cfg, i)).sortBy(_.lsn)
    val per = math.max(1, log.size / nSlices)
    log.grouped(per).zipWithIndex.foreach { case (slice, i) =>
      slice.toDS().toDF().coalesce(1).write.parquet(f"$dir/slice-$i%03d")
    }
  }

  private def oracle(cfg: ChangeLogConfig): Map[String, TokenDoc] = {
    val initial = (0L until cfg.nDocs.toLong).map { k =>
      val t = ChangeLogGen.tokensFor(cfg.seed, k, 0L, cfg.maxTokens)
      ChangeLogGen.docId(k) -> TokenDoc(ChangeLogGen.docId(k), t, t.size, "seed")
    }.toMap
    ReplayOracle.replay(initial,
      (0L until cfg.nTx).flatMap(i => ChangeLogGen.txRecords(cfg, i)),
      ChangeLogGen.snapshotLsn)
  }

  test("negative control: same sliced log WITHOUT carryover loses straddling transactions") {
    import spark.implicits._
    val cfg = ChangeLogConfig(nTx = 150, nDocs = 100, seed = 101, maxOpsPerTx = 12)
    val base = Fs.tempDir("graft-carry-neg")
    val cdc = CdcConfig(s"$base/log", s"$base/table", s"$base/ckpt", numBuckets = 4)
    writeSlicedLog(cfg, cdc.logDir, nSlices = 7)
    val table = CdcJob.snapshot(spark, ChangeLogGen.initialTable(spark, cfg).toDF(),
      cdc, ChangeLogGen.snapshotLsn)
    CdcJob.runBatchIncremental(spark, table, cdc, filesPerBatch = 1)
    val want = oracle(cfg)
    val got = table.read().as[TokenDoc].collect().map(d => d.doc_id -> d.tokens).toMap
    val diffs = want.count { case (k, w) => got.get(k).forall(_ != w.tokens) } +
      (got.keySet -- want.keySet).size
    assert(diffs > 0, "expected divergence without carryover on a misaligned log")
    Fs.deleteRecursively(base)
  }
}
