package graft.ops

import graft.icelite.{IceLite, IceLiteTable}
import graft.stream.MergeApply
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental exact dedup against the corpus — the operator an
  * ALWAYS-GROWING 100 TB corpus actually needs. One-shot `dedup_exact`
  * re-groups the whole corpus per run; here the corpus's content
  * fingerprints are maintained as a fingerprint-KEYED IceLite table
  * (the same engine sink the CDC path writes), and each incoming batch
  * is checked with work proportional to the BATCH:
  *
  *   - probe: the batch's fingerprints are hashed to buckets with the
  *     table's own bucket function, the DISTINCT BUCKET IDS (bounded by
  *     numBuckets — never the keys) are collected, and only those index
  *     bucket file-sets are read ([[IceLiteTable.readMerged]] pruning).
  *     The small batch side broadcasts into the join; the index is
  *     never shuffled, and at production bucket counts (4096+) a batch
  *     touches a small fraction of the index files.
  *   - update: fingerprints new to the corpus are merged through the
  *     ENGINE's idempotent batch apply (versioned, replay-safe,
  *     concurrent-compaction-compatible) — the index is just another
  *     IceLite sink, so retention/compaction/time-travel apply.
  *
  * The canonical owner of a fingerprint is the smallest doc_id that
  * ever carried it (deterministic under replay and batch reordering at
  * the fingerprint level).
  */
object DedupIndex {

  val FpCol = "fp"

  /** Content fingerprints of a batch: (doc_id, fp) with the portable
    * normalized-text hash rendered as a string key.
    */
  def fingerprints(batch: DataFrame, textCol: String = "text"): DataFrame =
    batch.select(col("doc_id"),
      TextOps.portableHash(TextOps.normalized(col(textCol)))
        .cast("string").as(FpCol))

  /** Create the index table from an initial corpus (one pass): key =
    * fingerprint, payload = canonical owner doc_id.
    */
  def create(spark: SparkSession, root: String, corpus: DataFrame,
      textCol: String = "text", numBuckets: Int = 64): IceLiteTable = {
    val rows = fingerprints(corpus, textCol)
      .groupBy(col(FpCol)).agg(min(col("doc_id")).as("doc_id"))
    val cfg = graft.stream.CdcConfig(
      logDir = s"$root/_nolog", tableRoot = root,
      checkpointDir = s"$root/_nockpt", keyCol = FpCol, numBuckets = numBuckets)
    graft.stream.CdcJob.snapshot(spark, rows, cfg, snapshotLsn = 0L)
  }

  /** Batch docs whose content already exists in the index:
    * (doc_id, fp, dup_of). Reads ONLY the index buckets the batch's
    * fingerprints hash to.
    */
  def probe(index: IceLiteTable, batch: DataFrame,
      textCol: String = "text"): DataFrame = {
    val snap = index.refresh()
    val fps = fingerprints(batch, textCol)
    // distinct BUCKET ids of the batch (≤ numBuckets ints — driver-safe
    // at any batch size, unlike collecting keys)
    val buckets = IceLite.bucketsOf(fps, FpCol, snap.numBuckets)
    val idx = index.readMerged(buckets)
      .where(!col(IceLite.TOMB))
      .select(col(FpCol), col("doc_id").as("dup_of"))
    // broadcast the BATCH side: the pruned index is read in place, never
    // shuffled — the probe costs one pass over the touched buckets
    idx.join(broadcast(fps), Seq(FpCol))
      .select(col("doc_id"), col(FpCol), col("dup_of"))
  }

  /** Merge a batch's fingerprints into the index through the engine's
    * idempotent apply: op='c' events at `commitLsn` (must exceed the
    * index watermark), within-batch canonicalized to min doc_id. An
    * existing fingerprint keeps its original owner (its snapshot/older
    * version wins only if `commitLsn` is below the floor — callers pass
    * a fresh LSN, so LWW would replace it; to preserve first-owner
    * semantics, update with `probe`-filtered NEW fingerprints only).
    * Returns the engine's MergeStats (idempotent per batchId).
    */
  def update(index: IceLiteTable, newDocs: DataFrame, batchId: Long,
      commitLsn: Long, textCol: String = "text"): MergeApply.MergeStats = {
    // a commit at or below the replay floor is SKIPPED by R1 semantics —
    // a registration there would vanish silently (no error, just dups
    // surviving later probes); fail loudly instead of losing state
    val floor = index.refresh().summary.floorCommit
    require(commitLsn > floor,
      s"DedupIndex.update: commitLsn=$commitLsn must exceed the index's " +
        s"replay floor ($floor) or the registration is replay-skipped")
    val fps = fingerprints(newDocs, textCol)
      .groupBy(col(FpCol)).agg(min(col("doc_id")).as("doc_id"))
    val events = fps.select(
      lit("c").as("op"),
      struct(col(FpCol), col("doc_id")).as("after"),
      lit(null).cast(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(FpCol,
          org.apache.spark.sql.types.StringType)))).as("before"),
      graft.plans.StableLit.long(commitLsn).as("commit_lsn"),
      // deterministic per fingerprint (not monotonically_increasing_id,
      // which varies across retries/partitionings): a same-commitLsn
      // collision must tie-break the same way on every replay
      TextOps.portableHash(col(FpCol)).as("change_lsn"))
    MergeApply.applyBatch(index, events, batchId)
  }

  /** The full incremental step: dedup `batch` against the index AND
    * within itself, register the survivors' fingerprints, and return
    * the clean (first-seen) rows. One probe + one engine apply.
    */
  def dedupAndUpdate(index: IceLiteTable, batch: DataFrame, batchId: Long,
      commitLsn: Long, textCol: String = "text"): DataFrame = {
    val dups = probe(index, batch, textCol).select(col("doc_id"))
    val fresh = batch.join(broadcast(dups), Seq("doc_id"), "left_anti")
    val canon = fingerprints(fresh, textCol)
      .groupBy(col(FpCol)).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val clean = fresh.join(broadcast(canon), Seq("doc_id"), "left_semi")
    update(index, clean, batchId, commitLsn, textCol)
    clean
  }
}
