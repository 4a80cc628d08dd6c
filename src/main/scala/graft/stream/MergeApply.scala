package graft.stream

import graft.icelite.{IceLite, IceLiteTable, IceSnapshot, IceSummary, Maintenance}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.sql.types._

/** MERGE INTO apply — the sink half of the CDC contract, re-created as
  * an engine operation (no Iceberg SQL exists here): last-writer-wins
  * upsert/delete of a deduplicated change batch into a hash-bucketed
  * IceLite table, with additive schema evolution, truncate handling,
  * batch-id idempotent commits and per-bucket lineage rows.
  *
  * Ordering model. The reference applies events strictly in
  * (commit_lsn, change_lsn) order on a single thread
  * (`TxLogPosition.java:106-109`). A distributed engine cannot assume
  * its micro-batches arrive in log order (a file-source batch may
  * contain later segments than a batch that follows it), so ordering is
  * enforced by DATA, not by coordination:
  *
  *   - every stored row carries the version (__vc, __vl) that wrote it;
  *   - an incoming event only wins against a stored row if its
  *     (commit_lsn, change_lsn) is strictly greater — the monotone
  *     "never regress" rule of `TxLogPosition.cloneAndSet`
  *     (`TxLogPosition.java:53-60`) applied per key;
  *   - deletes leave tombstones so a late-arriving older upsert cannot
  *     resurrect a deleted key (replay-skip R1/R2 as data);
  *   - truncate raises a table-wide version FLOOR recorded in snapshot
  *     metadata: rows and events at or below it are invisible/dead, in
  *     any batch order — truncate costs zero data movement (E3).
  *
  * With that, apply is commutative and idempotent across batches, and
  * replay after failure converges to the sequential-replay state.
  *
  * Scale design (must survive 1000 executors / 100 TB):
  *
  *   - LWW dedup (A2) is `groupBy(key).agg(max_by(payload, pos))`, NOT a
  *     window + row_number: hash aggregation does map-side partial
  *     aggregation, so a hot doc_id is reduced to one row per map task
  *     before the shuffle — Zipf skew never lands on a single reducer.
  *   - ONE full-data Spark job per batch: scan -> single shuffle
  *     (repartition to numBuckets on the key; Spark's HashPartitioning
  *     is pmod(murmur3(key), n) — exactly the bucket function — so the
  *     groupBy reuses the exchange AND every shuffle partition is one
  *     bucket). The delta write's tasks hold whole buckets, at most
  *     `defaultParallelism` of them (`IceLite.writeTasks`): a coalesce
  *     after the dedup packs the bucket partitions without another
  *     exchange, so a small batch on few cores runs one wave of tasks,
  *     not numBuckets tiny ones, and still writes one file per bucket.
  *   - the write path is merge-on-read: an apply only WRITES the
  *     deduped batch as per-bucket delta files — it never reads or
  *     rewrites existing data, so apply cost is O(batch) regardless of
  *     table size. Readers resolve key -> max-version row; per-bucket
  *     compaction (threshold `maxDeltaChain`) bounds read amplification
  *     at amortized O(table/threshold) write cost.
  *   - batch statistics, the watermark advance AND the per-bucket
  *     lineage rows are observed DURING the write (CollectMetrics for
  *     the global stats, a per-bucket AccumulatorV2 for lineage) — no
  *     post-commit job, no second pass, no extra stage barrier. The
  *     only serial per-batch work left is the O(buckets) snapshot-JSON
  *     commit and a driver-local lineage append, which is what lets
  *     throughput scale with cores (Amdahl) and, on a cluster, with
  *     executors.
  */
object MergeApply {

  final case class MergeStats(
      batchId: Long,
      committed: Boolean,
      alreadyApplied: Boolean,
      events: Long,
      upserts: Long,
      deletes: Long,
      truncated: Boolean,
      lsnLo: Long,
      lsnHi: Long,
      snapshotId: Long
  )

  /** Delta files per bucket before the chain is folded into base. */
  val maxDeltaChain: Int = 8

  /** Cluster columns of the engine's folds: none. The inline fold and
    * the compaction daemon write one unsorted file per bucket (the
    * `Maintenance` defaults); a caller that wants clustered folds
    * passes `clusterBy`/`maxRowsPerFile` to `Maintenance.compact` or to
    * its own `CompactionDaemon`.
    */
  val clusterBy: Seq[String] = Nil

  /** File-split bound of the engine's folds; 0 = one file per bucket. */
  val clusterMaxRowsPerFile: Long = 0L

  /** Per-batch diagnostic notes in the `Bench` main (read once at
    * startup; 1/true/TRUE). No engine code branches on it. A bad value
    * reads as false: an ExceptionInInitializerError here would poison
    * every MergeApply caller.
    */
  val debugTiming: Boolean = sys.env.get("GRAFT_DEBUG_TIMING")
    .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  import IceLite.{TOMB, VC, VL}

  /** Deep-nullable canonical form so schema comparisons and unions never
    * trip over containsNull/nullable flags that differ between in-memory
    * Datasets and parquet round trips.
    */
  def asNullable(dt: DataType): DataType =
    dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = asNullable(a.elementType), containsNull = true)
      case m: MapType =>
        m.copy(keyType = asNullable(m.keyType), valueType = asNullable(m.valueType),
          valueContainsNull = true)
      case other => other
    }

  /** Rows as committed events, the apply's input contract (op, before,
    * after, commit_lsn, change_lsn), for the engine's own derived tables
    * (views, history, indexes, stores): one event per row at
    * `commitLsn`, `after` = the whole row unless given, a null `before`
    * keyed by `keyCol`. change_lsn is the key's portable hash, so a
    * replay of a half-applied batch tie-breaks the same way on any
    * partitioning.
    */
  def committedEvents(rows: DataFrame, keyCol: String, commitLsn: Long,
      op: Column = lit("c"), after: Option[Column] = None): DataFrame =
    rows.select(
      op.as("op"),
      lit(null).cast(StructType(Seq(StructField(keyCol, rows.schema(keyCol).dataType))))
        .as("before"),
      after.getOrElse(struct(rows.columns.toIndexedSeq.map(col): _*)).as("after"),
      graft.plans.StableLit.long(commitLsn).as("commit_lsn"),
      graft.ops.TextOps.portableHash(col(keyCol).cast("string")).as("change_lsn"))

  /** Widening-aware type merge (E4 extension): numeric widenings the
    * parquet reader serves WITHOUT rewriting committed files (verified
    * on Spark 4's vectorized reader: the int8/16/32→int64 chain and
    * float→double, recursively inside arrays and structs). Anything
    * else keeps the table's type — destructive type changes need a
    * table rebuild, exactly as in the reference (Debezium propagates
    * additive ALTERs; incompatible changes require re-snapshot).
    */
  private val intChain = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
  private val fpChain = Seq[DataType](FloatType, DoubleType)
  def widenType(table: DataType, incoming: DataType,
      widenNumeric: Boolean = true): DataType = (table, incoming) match {
    case (a, b) if a == b => a
    case (a: StructType, b: StructType) => mergedSchema(a, b, widenNumeric)
    case (a: ArrayType, b: ArrayType) =>
      ArrayType(widenType(a.elementType, b.elementType, widenNumeric),
        containsNull = true)
    case (a, b) if widenNumeric && intChain.contains(a) && intChain.contains(b) =>
      intChain(math.max(intChain.indexOf(a), intChain.indexOf(b)))
    case (a, b) if widenNumeric && fpChain.contains(a) && fpChain.contains(b) =>
      fpChain(math.max(fpChain.indexOf(a), fpChain.indexOf(b)))
    case (a, _) => a
  }

  /** Additive schema merge: table schema + any new after-struct fields
    * (reference: ALTERs arrive as CDC metadata and are additive, new
    * columns nullable — `InformixStreamingChangeEventSource.java:407-428`,
    * `InformixDatabaseSchema.java:59-78`), with numeric widening on
    * common fields ([[widenType]]).
    *
    * `widenNumeric = false` for callers whose incoming schema is
    * INFERRED from untyped text (the Debezium-JSON wire consumer): JSON
    * integrals always infer as bigint, so widening there would promote
    * every int column on the first consumed batch — common fields keep
    * the table's type, new fields still land.
    */
  def mergedSchema(table: StructType, after: StructType,
      widenNumeric: Boolean = true,
      keepTypeFor: Set[String] = Set.empty): StructType = {
    val byName = after.fields.map(f => f.name -> f).toMap
    val known = table.fieldNames.toSet
    val widened = table.fields.map { f =>
      byName.get(f.name) match {
        // the KEY column's type is load-bearing for the physical
        // layout: pmod(hash(key), n) differs between int and long for
        // the same value, so widening the key would split one logical
        // key across two bucket layouts (and falsify the DSv2 scan's
        // reported KeyGroupedPartitioning). Callers pin it; the written
        // key is cast back to the table's type like any other column.
        case Some(_) if keepTypeFor.contains(f.name) => f
        case Some(g) => f.copy(dataType = widenType(f.dataType, g.dataType, widenNumeric))
        case None => f
      }
    }
    asNullable(StructType(widened ++ after.fields.filterNot(f => known.contains(f.name))))
      .asInstanceOf[StructType]
  }

  private def posGt(c: Column, l: Column, c0: Long, l0: Long): Column =
    (c > c0) || (c === c0 && l > l0)

  /** Build (NOT execute) the ONE full-data plan of a batch apply:
    * floor filter -> key extraction -> single bucket exchange ->
    * `lww_max_by` hash dedup -> delta projection with riding stats and
    * the per-bucket lineage accumulator, observed by CollectMetrics.
    * Returns (plan, lineage accumulator, global-stats observation,
    * post-evolution schema). `applyBatch` writes the plan; plan-shape
    * tests inspect it without executing (the exchange count and
    * aggregate strategy here ARE the engine's scale claims).
    */
  def buildDeltaPlan(snap: IceSnapshot, events: DataFrame, batchId: Long)
      : (DataFrame, BucketStatsAcc, org.apache.spark.sql.Observation, StructType) = {
    val spark = events.sparkSession
    val keyCol = snap.keyCol
    val numBuckets = snap.numBuckets
    val sm = snap.summary

    // ---- event floor: snapshot pin (S2) + truncate floor (E3).
    // READ events (op='r', a consistent source view at their pin) are
    // exempt from the snapshot-pin floor — a signal-driven snapshot may
    // legitimately re-deliver base state AT the pin; they still lose
    // version ties against existing rows, so re-delivery is a no-op.
    // The truncate floor applies to everything: a pre-truncate view
    // must never resurrect wiped rows. ----
    val floored = events.where(
      (col("op") === "r" ||
        posGt(col("commit_lsn"), col("change_lsn"), sm.floorCommit, sm.floorChange)) &&
        posGt(col("commit_lsn"), col("change_lsn"), sm.truncCommit, sm.truncChange))

    // ---- schema evolution (E4): widen table schema additively ----
    val afterSchema = floored.schema("after").dataType.asInstanceOf[StructType]
    val newSchema = mergedSchema(snap.schema, afterSchema, keepTypeFor = Set(keyCol))
    val userFields = newSchema.fields.toSeq
    val afterHas = afterSchema.fieldNames.toSet

    // ---- LWW dedup. Truncate records keep their null key and ride
    // along as marker rows (readers drop null keys); their max position
    // is recovered by the riding stats, so no pre-scan is needed. ----
    val posCol = struct(col("commit_lsn").as("c"), col("change_lsn").as("l"))
    val keyed = floored
      .withColumn("__key", coalesce(col("after").getField(keyCol), col("before").getField(keyCol)))
    // lww_max_by is the custom TypedImperativeAggregate: the presence of
    // one typed-imperative function upgrades this whole aggregation from
    // SortAggregate to ObjectHashAggregate — hash-based, map-side
    // combined, no sort of the payload (see graft.plans.LwwMaxBy).
    val deduped = keyed.repartition(numBuckets, col("__key")).groupBy(col("__key"))
      .agg(graft.plans.LwwMaxBy.agg(
          struct(col("op"), col("after"), col("commit_lsn"), col("change_lsn")),
          col("commit_lsn"), col("change_lsn")).as("w"),
        max(when(col("op") === "t", posCol)).as("__trunc"),
        count(lit(1)).as("__cnt"),
        min(col("commit_lsn")).as("__minc"))
    val last0 = IceLite.packBuckets(deduped, numBuckets)
      .select(col("__key"), col("w.op").as("__op"), col("w.after").as("__after"),
        col("w.commit_lsn").as("__cvc"), col("w.change_lsn").as("__cvl"),
        col("__trunc"), col("__cnt"), col("__minc"))

    val changeCols: Seq[Column] = userFields.map { f =>
      // the cast pins every written column to the MERGED type: a batch
      // narrower than a previously-widened column upcasts, so data files
      // never drift from the committed schema
      // the KEY cast also pins the physical layout: __bucket below
      // hashes this column, and pmod(hash(2:int), n) != pmod(
      // hash(2:long), n) — an uncast long-typed key would write the
      // same logical key into a second bucket. The key's type is fixed
      // at table creation (the additive contract; a key value that
      // cannot fit it is a source schema violation).
      val v =
        if (f.name == keyCol) col("__key").cast(f.dataType)
        else if (afterHas.contains(f.name)) col("__after").getField(f.name).cast(f.dataType)
        else lit(null).cast(f.dataType)
      when(col("__op") === "d",
          if (f.name == keyCol) col("__key").cast(f.dataType) else lit(null).cast(f.dataType))
        .otherwise(v).as(f.name)
    }
    // Per-bucket lineage statistics accumulate DURING this same job via
    // the codegen'd graft_stats_tap expression on the bucket column (one
    // inlined call per deduped key row, after the aggregation) — replaces
    // the former post-commit readback job, which was a pure serial
    // ~0.3-2s/batch tax that Amdahl-capped scaling, and the Scala UDF
    // that was the write plan's last non-codegen operator.
    val acc = new BucketStatsAcc
    spark.sparkContext.register(acc, s"graft.bucketStats.$batchId")
    val statsTap = Seq(
      coalesce(IceLite.bucketCol(col(keyCol), numBuckets), lit(0)),
      col(keyCol).isNull, col("__cnt"), col("__op") === "d", col("__minc"),
      col(VC), col(VL))
    val deltaRows = last0.select(
      (changeCols ++ Seq(
        col("__cvc").as(VC), col("__cvl").as(VL), (col("__op") === "d").as(TOMB),
        col("__op"), col("__trunc"), col("__cnt"), col("__minc"))): _*)
      .withColumn("__bucket", SparkInternals.column(
        BucketStatsTap(statsTap.map(SparkInternals.expression), acc)))

    // batch statistics are observed DURING the write (CollectMetrics on
    // the write plan) — no separate stats pass blocks the commit
    val obs = org.apache.spark.sql.Observation()
    val observed = deltaRows.observe(obs,
      count(when(col(keyCol).isNotNull, lit(1))).as("n_keys"),
      sum(when(col(keyCol).isNotNull && col("__op") === "d", 1L).otherwise(0L)).as("n_del"),
      sum(when(col(keyCol).isNotNull, col("__cnt")).otherwise(0L)).as("n_events"),
      min(when(col(keyCol).isNotNull, col("__minc"))).as("lsn_lo"),
      max(struct(col(VC), col(VL))).as("max_pos"),
      max(col("__trunc")).as("trunc_pos"))
    // the stat columns and the null-key truncate-marker rows exist ONLY
    // for the metrics above (collected by the same job) — no reader
    // consumes them, so they are projected/filtered away ABOVE the
    // CollectMetrics node and never encoded into the delta parquet
    val slim = observed
      .drop("__op", "__trunc", "__cnt", "__minc")
      .where(col(keyCol).isNotNull)
    (slim, acc, obs, newSchema)
  }

  /** Apply one batch of committed ChangeEvent rows. Idempotent by
    * batchId within its channel (stream batches and signal-driven
    * snapshot chunks carry independent monotone counters) AND by row
    * version; advances watermark and floors.
    */
  /** @param inlineCompact fold over-threshold delta chains inside this
    *                      apply (default). With a [[graft.icelite
    *                      .Maintenance.CompactionDaemon]] running, pass
    *                      false: the fold happens concurrently off the
    *                      batch latency path, protected by the same
    *                      changed-file-set commit check.
    */
  def applyBatch(table: IceLiteTable, events: DataFrame, batchId: Long,
      signalChannel: Boolean = false, inlineCompact: Boolean = true): MergeStats = {
    val t0 = System.nanoTime()
    // use the batch's own session: inside foreachBatch the DataFrame
    // belongs to the stream's cloned SparkSession, whose conf is the
    // query's, not that of the session the table was opened with
    val spark = events.sparkSession
    val snap = table.refresh()

    // ---- idempotency gate (Iceberg replace-snapshot semantics) ----
    val lastInChannel =
      if (signalChannel) snap.summary.lastSignalBatchId else snap.summary.lastBatchId
    if (batchId <= lastInChannel) {
      return MergeStats(batchId, committed = false, alreadyApplied = true,
        0L, 0L, 0L, truncated = false, -1L, -1L, snap.snapshotId)
    }

    val (observed, acc, obs, newSchema) = buildDeltaPlan(snap, events, batchId)
    val sm = snap.summary

    // The delta directory is unique PER ATTEMPT (not just per batch): a
    // zombie driver reprocessing the same batch can therefore never
    // overwrite the data files a just-committed snapshot references —
    // only the attempt that wins the snapshot commit publishes its files;
    // a loser's directory is unreferenced garbage (GC'd by Maintenance).
    val channelTag = if (signalChannel) "sig-" else ""
    val attemptTag = java.util.UUID.randomUUID().toString.take(8)
    val commitRel = f"data/delta-$channelTag$batchId%08d-$attemptTag"
    // a losing attempt's files and sidecar are unreferenced garbage
    val written = IceLite.writeBucketed(observed, table.root, commitRel)

    val m = obs.get
    def mLong(k: String, dflt: Long): Long = m.get(k) match {
      case Some(v: java.lang.Long) => v
      case Some(v: java.lang.Number) => v.longValue()
      case _ => dflt
    }
    def mPos(k: String): Option[(Long, Long)] = m.get(k) match {
      case Some(r: org.apache.spark.sql.Row) if r != null && !r.isNullAt(0) =>
        Some((r.getLong(0), r.getLong(1)))
      case _ => None
    }
    val nKeys = mLong("n_keys", 0L)
    val nDel = mLong("n_del", 0L)
    val nEvents = mLong("n_events", 0L)
    val maxPos = mPos("max_pos")
    val truncPos = mPos("trunc_pos")
    val nUpserts = nKeys - nDel
    val lsnLoOut = mLong("lsn_lo", -1L)
    val lsnHi = maxPos.map(_._1).getOrElse(-1L)

    // monotone advances
    val (wmC, wmL) = maxPos match {
      case Some((c, l)) if c > sm.watermarkCommit ||
        (c == sm.watermarkCommit && l > sm.watermarkChange) => (c, l)
      case _ => (sm.watermarkCommit, sm.watermarkChange)
    }
    val (trC, trL) = truncPos match {
      case Some((tc, tl)) if tc > sm.truncCommit ||
        (tc == sm.truncCommit && tl > sm.truncChange) => (tc, tl)
      case _ => (sm.truncCommit, sm.truncChange)
    }

    // ---- opportunistic compaction: buckets whose delta chain reaches
    // the threshold fold base+deltas into a fresh base (bounded read
    // amplification; amortized O(table/threshold) per batch). Truncated
    // and null-key marker rows are purged during the fold. ----
    val cur0 = table.current
    val toCompact: Seq[Int] =
      if (!inlineCompact) Nil
      else written.keys.toSeq.filter { b =>
        cur0.deltas.getOrElse(b, Nil).size + written.getOrElse(b, Nil).size >= maxDeltaChain
      }
    // record the exact pre-existing file set each compaction folds, so
    // the commit can detect a concurrent writer changing those buckets
    // underneath us and fall back to a written-only commit for them
    val compactInputs: Map[Int, Set[String]] =
      toCompact.map(b => b -> cur0.filesOf(b).toSet).toMap
    // the fold reads with the post-evolution schema and the batch's
    // raised truncate floor, and publishes inside this apply's commit
    val compacted: Map[Int, Seq[String]] =
      if (toCompact.isEmpty) Map.empty
      else Maintenance.foldAndWrite(spark, table,
        toCompact.flatMap(b => cur0.filesOf(b) ++ written.getOrElse(b, Nil)),
        newSchema, trC, trL, snap.numBuckets, toCompact.size,
        f"data/base-$channelTag$batchId%08d-$attemptTag")

    // ---- snapshot commit (atomic, idempotent by batch id). On a lost
    // race the gate is re-checked against the new head: a concurrent
    // duplicate driver may have committed this batch (single logical
    // writer is the normal mode, as in the reference,
    // `InformixConnector.java:53-58`; the gate keeps a zombie driver
    // from double-applying). ----
    val committed = table.commitNext { cur =>
      val last = if (signalChannel) cur.summary.lastSignalBatchId else cur.summary.lastBatchId
      if (batchId <= last) None
      else {
        // a fold is published only for the buckets it still describes
        val folded = IceLite.unchangedBuckets(cur, compactInputs)
        val note =
          if (truncPos.isDefined) "truncate" else if (nKeys == 0L) "empty" else ""
        Some(cur.copy(
          schema = newSchema,
          base = (cur.base -- folded ++ compacted.filter(c => folded(c._1)))
            .filter(_._2.nonEmpty),
          deltas = IceLite.appendDeltas(cur.deltas, written) -- folded,
          // CDF manifest: what this apply wrote, even where folded into base
          changed = written.filter(_._2.nonEmpty),
          summary = IceSummary(batchId,
            if (signalChannel) cur.summary.lastBatchId else batchId,
            if (signalChannel) batchId else cur.summary.lastSignalBatchId,
            wmC, wmL,
            sm.floorCommit, sm.floorChange, trC, trL,
            lsnLoOut, lsnHi, nUpserts, nDel, note)))
      }
    }
    val snapId = committed.fold(-1L)(_.snapshotId)

    // ---- per-bucket lineage rows (E5/E6), zero extra Spark jobs: the
    // statistics were accumulated inside the write job; the rows are a
    // driver-local JSONL append (the payload is never re-read) ----
    val latencyMs = (System.nanoTime() - t0) / 1000000L
    if (committed.nonEmpty && written.nonEmpty) {
      val rows = acc.value.toSeq.sortBy(_._1).map { case (b, st) =>
        IceLite.LineageRow(b, st.events, st.deletes, st.keys, st.lsnLo, st.hiCommit,
          batchId, snapId, latencyMs, System.currentTimeMillis())
      }
      table.appendLineageRows(rows)
    }

    MergeStats(batchId, committed.nonEmpty, alreadyApplied = committed.isEmpty,
      nEvents, nUpserts, nDel, truncPos.isDefined, lsnLoOut, lsnHi, snapId)
  }
}
