package graft.stream

import graft.icelite.{IceLite, IceLiteTable}
import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StructField, StructType, StringType}

/** INCREMENTAL SCD Type-2 maintenance — the history table kept current
  * from the change feed's deltas alone ([[graft.ops.Scd2]] is the
  * batch recompute over the full event log; this is its maintained
  * form, the "SCD2 merge" a warehouse runs per micro-batch).
  *
  * Two engine tables from ONE exactly-once checkpoint:
  *
  *   - the CURRENT side is simply a [[Replicate]] replica — a row's
  *     stored (__vc,__vl) version IS its open interval's valid_from,
  *     so the engine's own LWW merge maintains the open intervals with
  *     zero extra machinery (a tombstone = no current row);
  *   - the HISTORY side is an APPEND-ONLY table of CLOSED intervals,
  *     keyed by doc|valid_from (closed intervals are immutable, so no
  *     pre-state read ever touches history).
  *
  * Per feed batch (the feed delivers EVERY stored version, not just
  * winners): the batch's fresh versions per key are chained in
  * (commit, change) order — each non-tombstone version with a
  * successor in the batch closes at that successor's position; the
  * pre-batch current row (replica, bucket-pruned read) closes at the
  * batch's FIRST fresh version. Tombstone versions emit no interval
  * row of their own (a delete only closes its predecessor —
  * reinsertion later re-opens the key with a validity gap, exactly the
  * batch operator's semantics).
  *
  * Crash convergence without a rebuild path: history applies FIRST.
  * If the replica committed but history's apply for the same batch has
  * no commit, the closed-row set was EMPTY (a non-empty set commits
  * before the replica does), and recomputing it against the
  * post-batch replica yields empty again — every fresh version is now
  * at-or-below the stored current, so the stale filter drops it. The
  * two orders converge by construction.
  *
  * Scale shape: per trigger — one bucket-pruned broadcast probe of the
  * batch keys against the replica, one batch-local window (partitioned
  * by key), one append of the closed rows, and the replica's own
  * O(batch) apply. History is never read on the hot path. Truncates
  * are a whole-table epoch, not per-row intervals (same stance as the
  * batch operator) — out of scope here.
  */
object Scd2Maintain {

  /** Closed-interval 'c' events for one feed batch, computed against
    * the replica's PRE-batch state. Columns of the history payload:
    * the source payload + (valid_from_commit, valid_from_change,
    * valid_to_commit, valid_to_change) + the composite key `k`.
    */
  private[stream] def deltaHistory(rep: IceLiteTable, feed: DataFrame,
      batchId: Long): DataFrame = {
    val snap = rep.current
    val keyCol = snap.keyCol
    val payloadCols = feed.columns.filterNot(IceLite.metaColumns.contains).toIndexedSeq

    // fresh versions only (strictly above the stored current version);
    // bucket-pruned replica read, batch side broadcasts
    val bkts = IceLite.bucketsOf(feed, keyCol, snap.numBuckets)
    val pre = rep.readMerged(bkts)
      .join(broadcast(feed.select(col(keyCol)).distinct()), Seq(keyCol), "left_semi")
      .select((payloadCols.map(col) ++ Seq(col(IceLite.VC), col(IceLite.VL),
        col(IceLite.TOMB))): _*)
      .persist()
    val preMeta = pre.select(col(keyCol).as("__pk"),
      col(IceLite.VC).as("__pc"), col(IceLite.VL).as("__pl"))
    val fresh = feed.join(broadcast(preMeta), feed(keyCol) === col("__pk"), "left_outer")
      .where(col("__pk").isNull ||
        col(IceLite.VC) > col("__pc") ||
        (col(IceLite.VC) === col("__pc") && col(IceLite.VL) > col("__pl")))
      .drop("__pk", "__pc", "__pl")

    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(IceLite.VC), col(IceLite.VL))
    val chained = fresh.select(col("*"),
      lead(col(IceLite.VC), 1).over(w).as("__nc"),
      lead(col(IceLite.VL), 1).over(w).as("__nl"),
      row_number().over(w).as("__rn"))

    // versions closed WITHIN the batch (tombstones emit no row)
    val inBatch = chained
      .where(col("__nc").isNotNull && !col(IceLite.TOMB))
      .select((payloadCols.map(col) ++ Seq(
        col(IceLite.VC).as("valid_from_commit"),
        col(IceLite.VL).as("valid_from_change"),
        col("__nc").as("valid_to_commit"),
        col("__nl").as("valid_to_change"))): _*)
    // the pre-batch current (alive) closes at the batch's first version
    val firstPos = chained.where(col("__rn") === 1)
      .select(col(keyCol).as("__fk"),
        col(IceLite.VC).as("__fc"), col(IceLite.VL).as("__fl"))
    val closePre = pre.where(!col(IceLite.TOMB))
      .join(broadcast(firstPos), pre(keyCol) === col("__fk"))
      .select((payloadCols.map(col) ++ Seq(
        col(IceLite.VC).as("valid_from_commit"),
        col(IceLite.VL).as("valid_from_change"),
        col("__fc").as("valid_to_commit"),
        col("__fl").as("valid_to_change"))): _*)

    val rows = inBatch.unionByName(closePre)
      .withColumn("k", concat_ws("|", col(keyCol),
        col("valid_from_commit"), col("valid_from_change")))
    val fields = rows.schema.fields.toIndexedSeq
    val out = rows.select(
      lit("c").as("op"),
      lit(null).cast(StructType(Seq(StructField("k", StringType)))).as("before"),
      struct(fields.map(f => col(f.name)): _*).as("after"),
      graft.plans.StableLit.long(batchId + 1L).as("commit_lsn"),
      TextOps.portableHash(col("k")).as("change_lsn"))
    out.cache(); out.count() // materialize before the pre-state cache drops
    pre.unpersist()
    out
  }

  /** Apply one feed batch to history (first) and replica, idempotently
    * per batchId; see the object doc for why the orders converge.
    */
  def applyScd2Batch(hist: IceLiteTable, rep: IceLiteTable,
      feed: DataFrame, batchId: Long): Unit = {
    val hDone = batchId <= hist.refresh().summary.lastBatchId
    val rDone = batchId <= rep.refresh().summary.lastBatchId
    if (rDone) return // history either committed first or was empty
    feed.persist()
    try {
      if (!hDone) {
        val ev = deltaHistory(rep, feed, batchId)
        try MergeApply.applyBatch(hist, ev, batchId)
        finally { ev.unpersist(); () }
      }
      Replicate.applyFeedBatch(rep, feed, batchId, None)
      ()
    } finally { feed.unpersist(); () }
  }

  /** The maintainer lifecycle: bootstrap the replica from the source's
    * pinned raw state on the first run (no history rows yet — nothing
    * is closed at bootstrap; snapshot rows sit at their pinned
    * versions and become pre-currents), then tail the feed. Returns
    * (replica, history).
    */
  def maintain(spark: SparkSession, srcRoot: String, repRoot: String,
      histRoot: String, checkpointDir: String, repBuckets: Int = 4,
      histBuckets: Int = 4, maxVersionsPerTrigger: Long = 64L,
      bootstrapAtVersion: Option[Long] = None): (IceLiteTable, IceLiteTable) = {
    val (rep, hist, pin) =
      Replicate.bootstrapOnce(checkpointDir, Seq(repRoot, histRoot)) {
        val src = IceLite.load(spark, srcRoot)
        val r = IceLite.create(spark, repRoot, src.refresh().schema,
          src.refresh().keyCol, numBuckets = repBuckets)
        val p = Replicate.bootstrap(spark, srcRoot, r, bootstrapAtVersion)
        // history schema = source payload + interval columns + key `k`
        val payload = src.refresh().schema.fields.toIndexedSeq
        val histSchema = StructType(payload ++ Seq(
          StructField("valid_from_commit", org.apache.spark.sql.types.LongType),
          StructField("valid_from_change", org.apache.spark.sql.types.LongType),
          StructField("valid_to_commit", org.apache.spark.sql.types.LongType),
          StructField("valid_to_change", org.apache.spark.sql.types.LongType),
          StructField("k", StringType)))
        val h = IceLite.create(spark, histRoot,
          MergeApply.asNullable(histSchema).asInstanceOf[StructType],
          "k", numBuckets = histBuckets)
        (r, h, p)
      } {
        (IceLite.load(spark, repRoot), IceLite.load(spark, histRoot), 0L)
      }
    graft.icelite.dsv2.IceLiteV2
      .readChangesStream(spark, srcRoot, pin, maxVersionsPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        applyScd2Batch(hist, rep, df, batchId)
      }
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    (rep, hist)
  }

  /** The maintained SCD2 view: closed intervals from history ∪ open
    * intervals from the replica (valid_from = the stored row version,
    * valid_to null, is_current true) — the batch operator's output
    * shape minus the event `op` (the upsert feed does not distinguish
    * creates from updates).
    */
  def view(rep: IceLiteTable, hist: IceLiteTable): DataFrame = {
    rep.refresh(); hist.refresh()
    val keyCol = rep.current.keyCol
    val payloadCols = rep.current.schema.fieldNames.toIndexedSeq
    val open = rep.readMerged(rep.current.buckets)
      .where(!col(IceLite.TOMB))
      .select((payloadCols.map(col) ++ Seq(
        col(IceLite.VC).as("valid_from_commit"),
        col(IceLite.VL).as("valid_from_change"),
        lit(null).cast("long").as("valid_to_commit"),
        lit(null).cast("long").as("valid_to_change"))): _*)
    val closed = hist.read().drop("k")
    closed.unionByName(open)
      .withColumn("is_current", col("valid_to_commit").isNull)
      .orderBy(col(keyCol), col("valid_from_commit"), col("valid_from_change"))
  }
}
