package graft.stream

import graft.icelite.{IceLite, IceLiteTable}
import graft.ops.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StructField, StructType}

/** Incremental view maintenance of a JOIN: a FACT ⨝ DIM enrichment
  * view (inner join on a fact foreign-key column = the dim table's
  * primary key) kept current from BOTH tables' change feeds — the
  * two-input sibling of [[Ivm]]'s aggregate maintainer, and the view
  * shape the reference ecosystem builds with Kafka Streams KTable-KTable
  * foreign-key joins over two connector topics (the connector side of
  * that contract is the per-table topic the reference's IT suites
  * assert; here both topics are the engine's table-as-topic DSv2 feeds).
  *
  * The view is keyed by the FACT key (each fact row joins at most one
  * dim row), so the maintained state is the denormalized fact: fact
  * payload columns plus the dim payload columns under a `d_` prefix.
  *
  * Differential maintenance, per micro-batch (ΔF = fact feed rows,
  * ΔD = dim feed rows, both LWW-collapsed and stale-filtered against
  * their replica's pre-batch state):
  *
  *   - affected fact keys = keys(ΔF) ∪ { k ∈ F_old : F_old(k).fk ∈
  *     keys(ΔD) } — the second term is the dim-change fan-out (a dim
  *     update/delete touches every fact row pointing at it; a dim
  *     INSERT makes dangling facts join in);
  *   - new view rows = F_new(affected) ⨝ D_new, where F_new/D_new are
  *     the post-batch states assembled from replica-pre-state ⊕ Δ
  *     (never from the sink tables mid-apply);
  *   - every affected key present in the new join emits 'c' with the
  *     freshly joined row; every affected key absent emits 'd' (fact
  *     deleted, fk re-pointed away, dim partner gone, or never-present
  *     — the last stores an inert tombstone rather than paying an
  *     old-presence probe; merged reads never see tombstones and
  *     compaction folds them away).
  *
  * Exactly-once across THREE tables (view + two replicas) from ONE SS
  * checkpoint: both feeds union into a single tagged stream, so one
  * batchId covers all three applies, each gated idempotently by
  * [[MergeApply.applyBatch]]. Apply order view → fact replica → dim
  * replica makes every crash replay converge:
  *
  *   - crash before the view commit: replicas still pre-batch, the
  *     replay recomputes byte-identical deltas;
  *   - view committed, replicas not: the view gate skips, replicas
  *     catch up (floor propagation deliberately NOT taken on this
  *     path — a truncate committed between crash and replay must ride
  *     the NEXT batch's rebuild, same reasoning as [[Ivm]]);
  *   - a replica committed but the view not (empty-delta batch that
  *     never committed a view snapshot, or a crash mid-order): bring
  *     both replicas to post-batch, then REBUILD the view from them —
  *     the full recompute is the view invariant itself, so the
  *     fallback is correct from any intermediate state.
  *
  * Truncates are metadata (version floors), not feed rows: when either
  * source's floor advanced, the batch takes the rebuild path (replicas
  * first, with floor propagation; then one join pass).
  *
  * Scale shape: per trigger the maintainer pays the two replica
  * applies (each one exchange into its own bucket layout), broadcast
  * probes of the batch against bucket-pruned replica reads, and a
  * write of the AFFECTED view rows. The dim table is treated as
  * broadcast-scale (it is a dimension); the one batch-UNbounded read
  * is the dim-change fan-out scan of the fact replica — inherent to
  * the operation (Kafka Streams pays a re-keyed repartition topic for
  * the same step) and prunable by clustering the fact replica on the
  * fk column (zone maps then skip non-matching files).
  */
object IvmJoin {

  /** Dim payload columns surface in the view as `d_<name>`; the dim
    * key itself is dropped (it equals the fact's fk column).
    */
  private def dimRenamed(dim: DataFrame, dimKey: String, as: String): DataFrame = {
    val cols = dim.columns.toIndexedSeq.map { c =>
      if (c == dimKey) col(c).as(as) else col(c).as(s"d_$c")
    }
    dim.select(cols: _*)
  }

  /** Full recompute of the view — the bootstrap seed, the rebuild
    * path, and the invariant tests' oracle. Inner join; the dim side
    * broadcasts (a dimension table by assumption).
    */
  def joinOf(fact: DataFrame, dim: DataFrame, fkCol: String,
      dimKey: String): DataFrame =
    fact.join(broadcast(dimRenamed(dim, dimKey, "__dk")),
      fact(fkCol) === col("__dk"), "inner").drop("__dk")

  /** LWW-collapse a feed batch per key and drop rows at/below the
    * replica's truncate floor (invisible to the replica apply too).
    * Reads the replica's CURRENT snapshot — [[deltaEvents]] refreshes
    * both replicas once at batch entry, so every probe in one batch
    * sees the same pre-batch state.
    */
  private def collapsed(feed: DataFrame, rep: IceLiteTable): DataFrame = {
    val keyCol = rep.current.keyCol
    val win = Window.partitionBy(col(keyCol))
      .orderBy(col(IceLite.VC).desc, col(IceLite.VL).desc)
    feed
      .where(IceLite.visible(rep.current))
      .withColumn("__rn", row_number().over(win))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Keep only batch rows strictly newer than the replica's stored
    * version (the strict (commit, change) pair compare the apply
    * itself uses) — a stale row must not enter the post-state
    * assembly. The replica read is bucket-pruned by the batch keys'
    * bucket ids (≤ numBuckets ints on the driver); the batch side
    * broadcasts into both probes — the replica is never shuffled.
    */
  private def freshOnly(ch: DataFrame, rep: IceLiteTable): DataFrame = {
    val snap = rep.current
    val keyCol = snap.keyCol
    val bkts = IceLite.bucketsOf(ch, keyCol, snap.numBuckets)
    val old = rep.readMerged(bkts)
      .select(col(keyCol).as("__ok"), col(IceLite.VC).as("__oc"),
        col(IceLite.VL).as("__ol"))
      .join(broadcast(ch.select(col(keyCol).as("__ok")).distinct()),
        Seq("__ok"), "left_semi")
    ch.join(broadcast(old), ch(keyCol) === col("__ok"), "left_outer")
      .where(col("__ok").isNull ||
        col(IceLite.VC) > col("__oc") ||
        (col(IceLite.VC) === col("__oc") && col(IceLite.VL) > col("__ol")))
      .drop("__ok", "__oc", "__ol")
  }

  private def payload(df: DataFrame): DataFrame =
    df.drop(IceLite.metaColumns: _*)

  /** The view-delta events for one micro-batch, computed against the
    * replicas' PRE-batch states (see the object doc for the algebra).
    * Materialized (cached + counted) before returning, so the caller's
    * apply cannot observe the replicas mid-mutation.
    */
  private[stream] def deltaEvents(repF: IceLiteTable, repD: IceLiteTable,
      fkCol: String, factBatch: DataFrame, dimBatch: DataFrame,
      batchId: Long): DataFrame = {
    // ONE snapshot read per replica per batch: every probe below sees
    // the same pre-batch state (and the driver metadata I/O stays O(1))
    repF.refresh(); repD.refresh()
    val chF = freshOnly(collapsed(factBatch, repF), repF).persist()
    val chD = freshOnly(collapsed(dimBatch, repD), repD).persist()
    try {
      val out = deltaEventsPlan(repF, repD, fkCol, chF, chD, batchId)
      out.cache(); out.count() // materialize before the Δ caches release
      out
    } finally { chF.unpersist(); chD.unpersist(); () }
  }

  /** The uncached delta-event plan over pre-collapsed fresh batches —
    * split out so plan-shape tests can inspect the joins directly.
    */
  private[stream] def deltaEventsPlan(repF: IceLiteTable, repD: IceLiteTable,
      fkCol: String, chF: DataFrame, chD: DataFrame,
      batchId: Long): DataFrame = {
    val fKey = repF.current.keyCol
    val dKey = repD.current.keyCol
    // dim post-state: replica minus changed keys, plus new images —
    // broadcast-scale by the dimension assumption
    val dNew = payload(repD.read())
      .join(broadcast(chD.select(col(dKey)).distinct()), Seq(dKey), "left_anti")
      .unionByName(payload(chD.where(!col(IceLite.TOMB))))

    // dim-change fan-out: unchanged facts pointing at a changed dim
    val fFan = payload(repF.read())
      .join(broadcast(chD.select(col(dKey).as(fkCol)).distinct()),
        Seq(fkCol), "left_semi")
      .join(broadcast(chF.select(col(fKey)).distinct()), Seq(fKey), "left_anti")

    val fNewAff = payload(chF.where(!col(IceLite.TOMB))).unionByName(fFan)
    val affected = chF.select(col(fKey)).unionByName(fFan.select(col(fKey)))
      .distinct()

    val joined = joinOf(fNewAff, dNew, fkCol, dKey)
      .withColumn("__hit", lit(true))
    // both sides are affected-set-bounded; the joined side broadcasts
    // (left-outer can only broadcast its right side)
    val ev = affected.join(broadcast(joined), Seq(fKey), "left_outer")

    val viewFields = joined.drop("__hit").schema.fields.toIndexedSeq
    val after = struct(viewFields.map { f =>
      (if (f.name == fKey) col(fKey)
       else when(col("__hit"), col(f.name)).otherwise(lit(null).cast(f.dataType)))
        .as(f.name)
    }: _*)
    val keyType = viewFields.find(_.name == fKey).get.dataType
    ev.select(
      when(col("__hit"), lit("c")).otherwise(lit("d")).as("op"),
      lit(null).cast(StructType(Seq(StructField(fKey, keyType)))).as("before"),
      after.as("after"),
      graft.plans.StableLit.long(batchId + 1L).as("commit_lsn"),
      // deterministic per key under replay/repartitioning
      TextOps.portableHash(col(fKey).cast("string")).as("change_lsn"))
  }

  /** Rebuild the view wholesale from the replicas' current states —
    * the truncate path and the crash-replay fallback. One join pass;
    * view rows that disappeared get tombstones.
    */
  private def rebuild(view: IceLiteTable, repF: IceLiteTable,
      repD: IceLiteTable, fkCol: String, batchId: Long): Unit = {
    val fKey = repF.refresh().keyCol
    val full = joinOf(payload(repF.read()), payload(repD.read()),
      fkCol, repD.refresh().keyCol)
    val gone = view.read().select(col(fKey))
      .join(full.select(col(fKey)), Seq(fKey), "left_anti")
    val viewFields = full.schema.fields.toIndexedSeq
    val keyType = viewFields.find(_.name == fKey).get.dataType
    def ev(df: DataFrame, op: String): DataFrame = {
      val after = struct(viewFields.map { f =>
        (if (df.columns.contains(f.name)) col(f.name)
         else lit(null).cast(f.dataType)).as(f.name)
      }: _*)
      df.select(
        lit(op).as("op"),
        lit(null).cast(StructType(Seq(StructField(fKey, keyType)))).as("before"),
        after.as("after"),
        graft.plans.StableLit.long(batchId + 1L).as("commit_lsn"),
        TextOps.portableHash(col(fKey).cast("string")).as("change_lsn"))
    }
    MergeApply.applyBatch(view, ev(full, "c").unionByName(ev(gone, "d")), batchId)
    ()
  }

  private def floorAdvanced(srcRoot: String, rep: IceLiteTable): Boolean = {
    val sm = IceLite.readLatest(srcRoot).getOrElse(
      throw new IllegalStateException(s"no source table at $srcRoot")).summary
    Replicate.floorAhead(sm, rep.refresh().summary)
  }

  /** Apply one unioned micro-batch to all THREE tables with
    * crash-convergent ordering (see the object doc). Idempotent per
    * batchId.
    */
  def applyIvmJoinBatch(view: IceLiteTable, repF: IceLiteTable,
      repD: IceLiteTable, fkCol: String, factBatch: DataFrame,
      dimBatch: DataFrame, batchId: Long, factRoot: String,
      dimRoot: String): Unit = {
    val vDone = batchId <= view.refresh().summary.lastBatchId
    val fDone = batchId <= repF.refresh().summary.lastBatchId
    val dDone = batchId <= repD.refresh().summary.lastBatchId
    if (sys.env.contains("GRAFT_DEBUG_IVMJ"))
      println(s"[ivmj] gates batch=$batchId v=$vDone f=$fDone d=$dDone")
    if (vDone && fDone && dDone) return
    if (vDone) {
      // view committed; finish the replicas. Floors must NOT propagate
      // here (a truncate committed between the crash and this replay
      // would otherwise advance a replica's floor without the view
      // rebuild — the next batch's floorAdvanced check would then see
      // equal floors and never rebuild).
      if (!fDone) Replicate.applyFeedBatch(repF, factBatch, batchId, None)
      if (!dDone) Replicate.applyFeedBatch(repD, dimBatch, batchId, None)
      return
    }
    if (fDone || dDone) {
      // a replica is ahead of the view (crash mid-order, or an
      // empty-delta batch that never committed a view snapshot): bring
      // both replicas to post-batch, then the rebuild — correct from
      // any intermediate state.
      if (!fDone) Replicate.applyFeedBatch(repF, factBatch, batchId, Some(factRoot))
      if (!dDone) Replicate.applyFeedBatch(repD, dimBatch, batchId, Some(dimRoot))
      rebuild(view, repF, repD, fkCol, batchId)
      return
    }
    if (floorAdvanced(factRoot, repF) || floorAdvanced(dimRoot, repD)) {
      // truncate on either source: replicas first (their applies floor
      // the wiped rows), then one join pass — deltas can't see a wipe
      Replicate.applyFeedBatch(repF, factBatch, batchId, Some(factRoot))
      Replicate.applyFeedBatch(repD, dimBatch, batchId, Some(dimRoot))
      rebuild(view, repF, repD, fkCol, batchId)
    } else {
      val ev = deltaEvents(repF, repD, fkCol, factBatch, dimBatch, batchId)
      try {
        MergeApply.applyBatch(view, ev, batchId)
        Replicate.applyFeedBatch(repF, factBatch, batchId, None)
        Replicate.applyFeedBatch(repD, dimBatch, batchId, None)
      } finally { ev.unpersist(); () }
    }
  }

  /** The whole maintainer lifecycle: on the FIRST run (no stream
    * checkpoint) bootstrap both replicas from the sources' pinned raw
    * states and seed the view with one join pass; later runs resume
    * from the checkpoint. Both feeds union into ONE tagged stream so a
    * single batchId governs all three applies. Returns
    * (factReplica, dimReplica, view).
    *
    * The three table roots are MAINTAINER-OWNED (same contract as
    * [[Ivm.maintain]]): until the stream checkpoint's first offset
    * exists, anything under them is the scratch of a crashed bootstrap
    * and is recreated — the checkpoint is the bootstrap commit point.
    */
  def maintain(spark: SparkSession, factRoot: String, dimRoot: String,
      fkCol: String, repFRoot: String, repDRoot: String, viewRoot: String,
      checkpointDir: String, repFBuckets: Int = 4, repDBuckets: Int = 2,
      viewBuckets: Int = 4, maxVersionsPerTrigger: Long = 64L,
      bootstrapFAt: Option[Long] = None, bootstrapDAt: Option[Long] = None)
      : (IceLiteTable, IceLiteTable, IceLiteTable) = {
    val (repF, repD, view, pinF, pinD) =
      Replicate.bootstrapOnce(checkpointDir,
        Seq(repFRoot, repDRoot, viewRoot)) {
        val srcF = IceLite.load(spark, factRoot)
        val srcD = IceLite.load(spark, dimRoot)
        val rf = IceLite.create(spark, repFRoot, srcF.refresh().schema,
          srcF.refresh().keyCol, numBuckets = repFBuckets)
        val rd = IceLite.create(spark, repDRoot, srcD.refresh().schema,
          srcD.refresh().keyCol, numBuckets = repDBuckets)
        val pf = Replicate.bootstrap(spark, factRoot, rf, bootstrapFAt)
        val pd = Replicate.bootstrap(spark, dimRoot, rd, bootstrapDAt)
        val vCfg = CdcConfig(logDir = s"$viewRoot/_nolog", tableRoot = viewRoot,
          checkpointDir = s"$viewRoot/_nockpt", keyCol = srcF.refresh().keyCol,
          numBuckets = viewBuckets)
        val v = CdcJob.snapshot(spark,
          joinOf(payload(rf.read()), payload(rd.read()), fkCol,
            srcD.refresh().keyCol), vCfg, snapshotLsn = 0L)
        (rf, rd, v, pf, pd)
      } {
        (IceLite.load(spark, repFRoot), IceLite.load(spark, repDRoot),
          IceLite.load(spark, viewRoot), 0L, 0L)
      }

    val ff = graft.icelite.dsv2.IceLiteV2
      .readChangesStream(spark, factRoot, pinF, maxVersionsPerTrigger)
    val fd = graft.icelite.dsv2.IceLiteV2
      .readChangesStream(spark, dimRoot, pinD, maxVersionsPerTrigger)
    val fType = StructType(ff.schema.fields)
    val dType = StructType(fd.schema.fields)
    val tagged = ff
      .select(lit("f").as("__side"),
        struct(ff.columns.toIndexedSeq.map(col): _*).as("__f"),
        lit(null).cast(dType).as("__d"))
      .unionByName(fd.select(lit("d").as("__side"),
        lit(null).cast(fType).as("__f"),
        struct(fd.columns.toIndexedSeq.map(col): _*).as("__d")))
    tagged.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        df.persist()
        try {
          val factBatch = df.where(col("__side") === "f").select("__f.*")
          val dimBatch = df.where(col("__side") === "d").select("__d.*")
          if (sys.env.contains("GRAFT_DEBUG_IVMJ"))
            println(s"[ivmj] batch=$batchId f=${factBatch.count()} " +
              s"d=${dimBatch.count()}")
          applyIvmJoinBatch(view, repF, repD, fkCol, factBatch, dimBatch,
            batchId, factRoot, dimRoot)
        } finally { df.unpersist(); () }
      }
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    (repF, repD, view)
  }
}
