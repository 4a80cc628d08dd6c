package graft.stream

import graft.icelite.{IceLite, IceLiteTable}
import graft.ops.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Incremental view maintenance (IVM) over the change feed: a
  * downstream AGGREGATE table (group-by counts + sums) kept current
  * from the sink's deltas alone — never a rescan of the source. This
  * is the consumer the reference ecosystem builds out of Kafka
  * Streams / ksqlDB over the connector's topic (a continuously
  * maintained materialized view; the connector side of the contract is
  * the same topic the sink connectors read —
  * debezium-connector-informix's IT suites assert the topic content
  * that such consumers fold), re-expressed over the engine's
  * table-as-topic DSv2 feed.
  *
  * The feed is an UPSERT stream (new row images + tombstones, no
  * before images), so retraction needs the pre-image: the maintainer
  * keeps a row-level REPLICA (the [[Replicate]] consumer) and converts
  * upserts to +/- deltas by joining each batch against the replica's
  * pre-batch state — Flink's upsert-changelog conversion, done with
  * bucket-pruned reads instead of operator state:
  *
  *   - per batch, the incoming keys' bucket ids (≤ numBuckets ints)
  *     select which replica buckets to read; the batch side broadcasts
  *     into both probe joins — the replica is never shuffled;
  *   - count and sum retract exactly, so the view delta is one
  *     batch-proportional groupBy; the view table is then upserted
  *     through the ENGINE's idempotent apply (one write of the
  *     affected groups, `'d'` when a group's count reaches zero).
  *
  * Exactly-once across TWO tables from one SS checkpoint: both applies
  * are gated by the same batchId, and the apply ORDER makes every
  * crash-replay converge:
  *
  *   - incremental path: view first, replica second. Replay after a
  *     crash in between recomputes the same deltas (replica still
  *     pre-batch), the view gate skips, the replica applies.
  *   - if a replay finds the REPLICA already applied but the view not
  *     (a truncate-path crash, or an empty-delta batch that never
  *     committed a view snapshot), the view is REBUILT from the
  *     replica — the full recompute is the view invariant itself, so
  *     the fallback is correct regardless of which path was running.
  *
  * Truncates are metadata, not feed rows: a source-floor advance takes
  * the rebuild path (replica first — its apply floors the wiped rows —
  * then one aggregate pass over the replica). Stale feed rows (at or
  * below the replica's floor, or not newer than the stored version —
  * the strict (commit, change) pair compare [[MergeApply]] itself
  * uses) contribute nothing, exactly as they change nothing on the
  * replica.
  *
  * Scale shape: per trigger the maintainer pays the replica apply
  * (one exchange into its bucket layout), two broadcast probes over
  * the touched buckets, one batch-sized groupBy, and a write of the
  * AFFECTED view groups — a 100 TB source maintains its aggregates at
  * the cost of its change rate.
  */
object Ivm {

  /** A maintained view: one group column plus named SUM measures, each
    * a Column over the source payload row (cast to long by the
    * caller); row count is implicit as [[RowsCol]]. Counts and sums
    * are the self-maintainable aggregates (exact retraction); min/max
    * are not (a retracted max needs the runner-up) — compose those
    * over the replica instead.
    */
  final case class ViewDef(groupCol: String, sums: Seq[(String, Column)])

  val RowsCol = "n_rows"

  /** Group key rendered as the view table's string key (null groups
    * get a sentinel: a null IceLite key is the position-marker
    * convention, never a stored row).
    */
  private def groupKey(vd: ViewDef): Column =
    coalesce(col(vd.groupCol).cast("string"), lit("__null__"))

  /** Full recompute of the view from a row-level state — the bootstrap
    * seed, the truncate-rebuild path, and the invariant tests' oracle.
    */
  def aggregateOf(state: DataFrame, vd: ViewDef): DataFrame =
    state.groupBy(groupKey(vd).as(vd.groupCol))
      .agg(count(lit(1)).as(RowsCol),
        vd.sums.map { case (n, e) => sum(e.cast("long")).as(n) }: _*)

  /** (key, version, tombstone, group, measures) projection of rows
    * carrying the engine meta columns; group/measures are null on
    * tombstones (a tombstone retracts via the REPLICA's old image, not
    * its own payload).
    */
  private def contrib(df: DataFrame, keyCol: String, vd: ViewDef,
      p: String): DataFrame = {
    val t = col(IceLite.TOMB)
    val ms = vd.sums.zipWithIndex.map { case ((_, e), i) =>
      when(!t, e.cast("long")).as(s"${p}m$i") }
    df.select(Seq(
      col(keyCol).as(s"${p}k"),
      col(IceLite.VC).as(s"${p}c"),
      col(IceLite.VL).as(s"${p}l"),
      t.as(s"${p}t"),
      when(!t, groupKey(vd)).as(s"${p}g")) ++ ms: _*)
  }

  /** The view-delta events for one feed batch, computed against the
    * replica's PRE-batch state. Empty when every row is stale.
    */
  private[stream] def deltaEvents(view: IceLiteTable, replica: IceLiteTable,
      vd: ViewDef, feed: DataFrame, batchId: Long): DataFrame = {
    val rSnap = replica.refresh()
    val keyCol = rSnap.keyCol
    // LWW-collapse the batch per key; drop rows at/below the replica's
    // truncate floor (they are invisible to the replica apply too)
    val win = Window.partitionBy(col(keyCol))
      .orderBy(col(IceLite.VC).desc, col(IceLite.VL).desc)
    val incoming = feed
      .where(IceLite.visible(rSnap))
      .withColumn("__rn", row_number().over(win))
      .where(col("__rn") === 1).drop("__rn")
    val newC = contrib(incoming, keyCol, vd, "n_")

    // pre-state of the batch's keys: distinct BUCKET ids (≤ numBuckets
    // ints, driver-safe at any batch size) prune the replica read; the
    // batch side broadcasts — the replica is never shuffled
    val bkts = IceLite.bucketsOf(incoming, keyCol, rSnap.numBuckets)
    val oldC = contrib(replica.readMerged(bkts), keyCol, vd, "o_")
      .join(broadcast(incoming.select(col(keyCol).as("o_k")).distinct()),
        Seq("o_k"), "left_semi")

    val j = newC.join(broadcast(oldC), col("n_k") === col("o_k"), "left_outer")
    // the same strict-pair predicate the replica apply uses: equal
    // versions lose (replays are no-ops on both tables)
    val effective = col("o_k").isNull ||
      col("n_c") > col("o_c") ||
      (col("n_c") === col("o_c") && col("n_l") > col("o_l"))
    val eff = j.where(effective)
    def sumName(i: Int) = s"__dm$i"
    val adds = eff.where(!col("n_t")).select(
      Seq(col("n_g").as("__g"), lit(1L).as("__dn")) ++
        vd.sums.indices.map(i => col(s"n_m$i").as(sumName(i))): _*)
    val rets = eff.where(col("o_k").isNotNull && !col("o_t")).select(
      Seq(col("o_g").as("__g"), lit(-1L).as("__dn")) ++
        vd.sums.indices.map(i => (-col(s"o_m$i")).as(sumName(i))): _*)
    val d = adds.unionByName(rets).groupBy(col("__g"))
      .agg(sum(col("__dn")).as("__dn"),
        vd.sums.indices.map(i => sum(col(sumName(i))).as(sumName(i))): _*)

    // absolute new values of the AFFECTED groups: current view + delta
    // (both probe sides are batch-bounded — broadcast)
    val cur = view.read()
    val curAff = cur.join(broadcast(d.select(col("__g"))),
      cur(vd.groupCol) === col("__g"), "left_semi")
    val u = d.join(broadcast(curAff), col("__g") === col(vd.groupCol), "left_outer")
    val newRows = coalesce(col(RowsCol), lit(0L)) + col("__dn")
    val newSums = vd.sums.zipWithIndex.map { case ((n, _), i) =>
      (coalesce(col(n), lit(0L)) + coalesce(col(sumName(i)), lit(0L))).as(n) }
    val after = struct(
      Seq(col("__g").as(vd.groupCol), newRows.as(RowsCol)) ++ newSums: _*)
    u.select(
      when(newRows === 0L, lit("d")).otherwise(lit("c")).as("op"),
      lit(null).cast(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(vd.groupCol,
          org.apache.spark.sql.types.StringType)))).as("before"),
      after.as("after"),
      graft.plans.StableLit.long(batchId + 1L).as("commit_lsn"),
      // deterministic per group under replay/repartitioning
      TextOps.portableHash(col("__g")).as("change_lsn"))
  }

  /** Rebuild the view wholesale from the replica's current state —
    * the truncate path and the crash-replay fallback. One aggregate
    * pass over the replica; groups that disappeared get tombstones.
    */
  private def rebuild(view: IceLiteTable, replica: IceLiteTable,
      vd: ViewDef, batchId: Long): Unit = {
    val full = aggregateOf(replica.read(), vd)
    val gone = view.read()
      .join(full.select(col(vd.groupCol)), Seq(vd.groupCol), "left_anti")
    def ev(df: DataFrame, op: String): DataFrame = df.select(
      lit(op).as("op"),
      lit(null).cast(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(vd.groupCol,
          org.apache.spark.sql.types.StringType)))).as("before"),
      struct(df.columns.toIndexedSeq.map(col): _*).as("after"),
      graft.plans.StableLit.long(batchId + 1L).as("commit_lsn"),
      TextOps.portableHash(col(vd.groupCol)).as("change_lsn"))
    MergeApply.applyBatch(view, ev(full, "c").unionByName(ev(gone, "d")), batchId)
    ()
  }

  /** Does the SOURCE's truncate floor sit ahead of the replica's? */
  private def floorAdvanced(srcRoot: String, replica: IceLiteTable): Boolean = {
    val sm = IceLite.readLatest(srcRoot).getOrElse(
      throw new IllegalStateException(s"no source table at $srcRoot")).summary
    Replicate.floorAhead(sm, replica.refresh().summary)
  }

  /** Apply one feed batch to BOTH tables with crash-convergent
    * ordering (see the object doc). Idempotent per batchId.
    */
  def applyIvmBatch(view: IceLiteTable, replica: IceLiteTable, vd: ViewDef,
      feed: DataFrame, batchId: Long, srcRoot: String): Unit = {
    val vDone = batchId <= view.refresh().summary.lastBatchId
    val rDone = batchId <= replica.refresh().summary.lastBatchId
    if (vDone && rDone) return
    if (rDone) { rebuild(view, replica, vd, batchId); return }
    if (vDone) {
      // finish the interrupted incremental order: replica only. The
      // floor must NOT propagate here (same as the fresh incremental
      // path below) — a truncate that committed on the source between
      // the crash and this replay would otherwise advance the
      // replica's floor without the view rebuild, and the next batch's
      // floorAdvanced() check would see equal floors and never rebuild.
      Replicate.applyFeedBatch(replica, feed, batchId, None); return
    }
    feed.persist()
    try {
      if (floorAdvanced(srcRoot, replica)) {
        // truncate: replica first (its apply floors the wiped rows),
        // then one aggregate pass — deltas can't see a wipe
        Replicate.applyFeedBatch(replica, feed, batchId, Some(srcRoot))
        rebuild(view, replica, vd, batchId)
      } else {
        val ev = deltaEvents(view, replica, vd, feed, batchId)
        MergeApply.applyBatch(view, ev, batchId)
        // floor propagation rides the REBUILD path only: a truncate
        // committed after the check above is caught at the next batch
        // (a truncate commit is a new feed version, so one arrives)
        Replicate.applyFeedBatch(replica, feed, batchId, None)
      }
    } finally { feed.unpersist(); () }
  }

  /** The whole maintainer lifecycle: on the FIRST run (no stream
    * checkpoint) bootstrap the replica from the source's pinned raw
    * state and seed the view with one aggregate pass, then tail the
    * feed from the pin; later runs resume from the checkpoint. Returns
    * (replica, view).
    *
    * `replicaRoot` and `viewRoot` are MAINTAINER-OWNED paths: until
    * the stream checkpoint's first offset exists, anything under them
    * is the scratch of a crashed bootstrap attempt (the view seed's
    * versions are locally generated, so a half-seeded view is not
    * re-enterable) and is recreated from the source — the checkpoint,
    * not the table roots, is the bootstrap phase's commit point.
    */
  def maintain(spark: SparkSession, srcRoot: String, vd: ViewDef,
      replicaRoot: String, viewRoot: String, checkpointDir: String,
      replicaBuckets: Int = 4, viewBuckets: Int = 2,
      maxVersionsPerTrigger: Long = 64L,
      bootstrapAtVersion: Option[Long] = None): (IceLiteTable, IceLiteTable) = {
    val (replica, view, pin) =
      Replicate.bootstrapOnce(checkpointDir, Seq(replicaRoot, viewRoot)) {
        val src = IceLite.load(spark, srcRoot)
        val dst = IceLite.create(spark, replicaRoot, src.refresh().schema,
          src.refresh().keyCol, numBuckets = replicaBuckets)
        val p = Replicate.bootstrap(spark, srcRoot, dst, bootstrapAtVersion)
        val vCfg = CdcConfig(logDir = s"$viewRoot/_nolog", tableRoot = viewRoot,
          checkpointDir = s"$viewRoot/_nockpt", keyCol = vd.groupCol,
          numBuckets = viewBuckets)
        val v = CdcJob.snapshot(spark, aggregateOf(dst.read(), vd), vCfg,
          snapshotLsn = 0L)
        (dst, v, p)
      } {
        (IceLite.load(spark, replicaRoot), IceLite.load(spark, viewRoot), 0L)
      }
    graft.icelite.dsv2.IceLiteV2
      .readChangesStream(spark, srcRoot, pin, maxVersionsPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        applyIvmBatch(view, replica, vd, df, batchId, srcRoot)
      }
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    (replica, view)
  }
}
