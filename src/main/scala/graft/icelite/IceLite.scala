package graft.icelite

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, expr, hash, lit, pmod}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Per-snapshot summary — carries the engine's exactly-once state:
  *
  *   - `batchId` / `lastBatchId`: idempotent-commit guard. Streaming
  *     batch ids are monotone, so re-committing a batchId <= lastBatchId
  *     is a no-op — the Iceberg replace-snapshot idempotence contract
  *     the north star invokes, re-created from scratch.
  *   - `watermarkCommit`/`watermarkChange`: the applied high-water mark
  *     in (commit_lsn, change_lsn) total order — the analog of the
  *     reference's offset map {commit_lsn, change_lsn, begin_lsn}
  *     (`InformixOffsetContext.java:58-71`) persisted in the table
  *     itself, used for the replay-skip filters (R1/R2,
  *     `InformixStreamingChangeEventSource.java:142-163, 295-300`).
  */
final case class IceSummary(
    batchId: Long,
    lastBatchId: Long,
    lastSignalBatchId: Long,
    watermarkCommit: Long,
    watermarkChange: Long,
    floorCommit: Long,
    floorChange: Long,
    truncCommit: Long,
    truncChange: Long,
    lsnLo: Long,
    lsnHi: Long,
    upserts: Long,
    deletes: Long,
    note: String
)

object IceSummary {
  val empty: IceSummary = IceSummary(-1L, -1L, -1L, -1L, -1L, -1L, -1L, -1L, -1L, -1L, -1L, 0L, 0L, "")
}

/** One committed table version: Iceberg-style snapshot metadata with a
  * merge-on-read layout (the Iceberg v2 equality-delete idea, rebuilt):
  *
  *   - `base`: per hash-bucket data files with at most one row per key;
  *   - `deltas`: per-bucket ordered chains of change files (deduped
  *     upserts + tombstones, each row carrying its (__vc,__vl) version).
  *
  * A MERGE apply only WRITES the deduped batch as delta files — it
  * never reads or rewrites the table, so apply cost is O(batch), not
  * O(touched table). Readers resolve key -> max-version row across
  * base+deltas; compaction folds long chains back into base. This is
  * what makes 10^10-event ingest feasible: the write path scales with
  * the change rate while the read amplification is bounded by the
  * compaction threshold.
  * bucket(key) = pmod(murmur3(key), numBuckets).
  */
final case class IceSnapshot(
    snapshotId: Long,
    parentId: Long,
    schema: StructType,
    keyCol: String,
    numBuckets: Int,
    base: Map[Int, Seq[String]],
    deltas: Map[Int, Seq[String]],
    summary: IceSummary,
    /** Change-data-feed manifest: the delta files THIS commit's apply
      * wrote, per bucket — recorded even when the same commit folded a
      * bucket's chain into base (the files then appear in neither `base`
      * nor `deltas`, but the change feed must still surface them:
      * without this, every change to a bucket compacted in its own
      * commit would silently vanish from [[IceLiteTable.changesBetween]]).
      * Empty for commits that change no rows (snapshot, compaction,
      * rebucket, metadata); set by the apply and the v2 insert.
      */
    changed: Map[Int, Seq[String]] = Map.empty
) {
  def allFiles: Seq[String] = (base.values ++ deltas.values).flatten.toSeq
  def buckets: Seq[Int] = (base.keySet ++ deltas.keySet).toSeq
  /** One bucket's files: its base, then its delta chain. */
  def filesOf(b: Int): Seq[String] = base.getOrElse(b, Nil) ++ deltas.getOrElse(b, Nil)
}

/** Minimal Iceberg-semantics table format ("IceLite"): parquet data
  * files + a JSON snapshot log under `_metadata/`, atomic commits via
  * hard-link-create (fails if the target version exists — optimistic
  * concurrency), time travel by snapshot id. Built from scratch because
  * this environment ships no Iceberg/Delta jars; the *semantics* (atomic
  * snapshot commit, idempotent replace by batch id, additive schema
  * evolution) follow the Iceberg spec the north star requires.
  */
final class IceLiteTable private[icelite] (
    val spark: SparkSession,
    val root: String
) {
  @volatile private var snap: IceSnapshot = IceLite.readLatest(root).getOrElse {
    throw new IllegalStateException(s"no IceLite table at $root")
  }

  def current: IceSnapshot = snap
  def refresh(): IceSnapshot = { snap = IceLite.readLatest(root).get; snap }

  def dataPath(rel: String): String = s"$root/$rel"

  /** User-facing read at the current snapshot: merge-on-read resolved
    * live rows, no engine metadata columns.
    */
  def read(): DataFrame = {
    import org.apache.spark.sql.functions.{col, not}
    readMerged(snap.buckets)
      .where(not(col(IceLite.TOMB)))
      .drop(IceLite.metaColumns: _*)
  }

  /** Raw scan of the given buckets (base + delta files) INCLUDING the
    * engine metadata columns — multiple versions per key possible.
    */
  def readRaw(buckets: Seq[Int]): DataFrame = readSnapshot(snap, buckets)

  /** Merge-on-read of the given buckets: one row per key, max (__vc,
    * __vl) version wins (tombstones included — caller filters). When no
    * bucket has deltas the groupBy is skipped entirely (base files hold
    * unique keys), so a freshly compacted table reads at raw scan cost.
    */
  def readMerged(buckets: Seq[Int]): DataFrame = mergedOf(snap, buckets)

  /** The merge-on-read plan, scale-shaped: the BASE of the table is
    * never shuffled.
    *
    *   - buckets without deltas stream straight off their base files
    *     (unique keys by construction);
    *   - for buckets WITH deltas, the deltas are LWW-reduced (a shuffle
    *     of O(delta) rows — bounded by maxDeltaChain x batch size, never
    *     by table size), their key set is BROADCAST against the base,
    *     splitting it into untouched rows (left_anti — emitted as-is,
    *     zero exchange) and touched rows (left_semi — O(delta) of them),
    *     and only touched ∪ delta rows go through the final LWW.
    *
    * The previous shape — one global `groupBy(key)` over base + deltas —
    * re-shuffled the WHOLE table on every read with deltas; at 100 TB
    * that is a table-wide exchange to reconcile a few delta files. The
    * broadcast plan's exchanges scale with the delta chain instead.
    * When the delta bytes exceed [[IceLite.broadcastDeltaReadBytes]]
    * (not broadcastable), it falls back to the global groupBy for the
    * dirty buckets only — clean buckets always bypass.
    */
  private def mergedOf(s: IceSnapshot, buckets: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.functions._
    def visible(df: DataFrame): DataFrame = df.where(IceLite.visible(s))
    def lww(df: DataFrame): DataFrame = IceLite.lwwFold(df, s.keyCol)
    val (dirty, clean) = buckets.partition(b => s.deltas.getOrElse(b, Nil).nonEmpty)
    val cleanDf = visible(scanFiles(s, clean.flatMap(b => s.base.getOrElse(b, Nil))))
    if (dirty.isEmpty) return cleanDf
    val deltaFiles = dirty.flatMap(b => s.deltas.getOrElse(b, Nil))
    val baseFiles = dirty.flatMap(b => s.base.getOrElse(b, Nil))
    // Any unreadable file size => treat the chain as unbroadcastable
    // (a summed sentinel like MaxValue/1024 overflows Long once two
    // files fail, flipping the decision the WRONG way).
    def bytesOf(files: Seq[String]): Long = {
      val sizes = files.map { f =>
        try Some(Files.size(Paths.get(dataPath(f))))
        catch { case NonFatal(_) => None }
      }
      if (sizes.exists(_.isEmpty)) Long.MaxValue
      else sizes.flatten.foldLeft(0L)((a, b) =>
        try math.addExact(a, b) catch { case _: ArithmeticException => Long.MaxValue })
    }
    val deltaBytes = bytesOf(deltaFiles)
    // Small-read fast path (optimization round, guide §2.4): when the
    // DIRTY buckets' total bytes (base + delta) are tiny, the broadcast
    // split costs more than it saves — each merged read then pays two
    // broadcast-exchange sub-jobs (serial driver collects) plus an
    // anti/semi join pair to avoid shuffling a few KB. One global LWW
    // exchange over the dirty buckets is strictly cheaper below the
    // threshold and returns identical rows. The 100 TB shape is
    // untouched: a dirty bucket's base at scale exceeds any sane
    // threshold, so production reads keep the untouched-base-
    // never-shuffled plan (PlanShapeSpec pins it with the threshold
    // zeroed; the small path has its own spec).
    val dirtyBytes =
      if (deltaBytes == Long.MaxValue) Long.MaxValue
      else {
        val bb = bytesOf(baseFiles)
        if (bb == Long.MaxValue) Long.MaxValue
        else try math.addExact(bb, deltaBytes)
        catch { case _: ArithmeticException => Long.MaxValue }
      }
    if (deltaBytes > IceLite.broadcastDeltaReadBytes ||
        dirtyBytes <= IceLite.smallMergedReadBytes) {
      // chain too large to broadcast (or whole dirty set too small to
      // be worth the split): global LWW over the dirty buckets
      val raw = visible(scanFiles(s, baseFiles ++ deltaFiles))
      return cleanDf.unionByName(lww(raw))
    }
    val deltaW = lww(visible(scanFiles(s, deltaFiles)))
    // the fold projects the key as its grouping attribute, so a bare
    // key select would let the optimizer drop the LWW and plan a second
    // distinct-keys shuffle over the deltas; reading a winner column
    // (never null for a folded key) keeps the key set on the fold's own
    // exchange, which the merged branch below reuses
    val deltaKeys = deltaW.where(col(IceLite.VC).isNotNull).select(col(s.keyCol))
    val baseDf = visible(scanFiles(s, baseFiles))
    val untouched = baseDf.join(broadcast(deltaKeys), Seq(s.keyCol), "left_anti")
    val touched = baseDf.join(broadcast(deltaKeys), Seq(s.keyCol), "left_semi")
    val merged = lww(touched.unionByName(deltaW))
    cleanDf.unionByName(untouched).unionByName(merged)
  }

  /** Point lookup with bucket pruning: the bucket of each key is
    * computable on the driver (murmur3, the same function Spark's
    * HashPartitioning uses), so a lookup of k keys scans at most k of
    * the numBuckets bucket file sets instead of the table — the
    * metadata-only pruning a 100 TB table needs for serving-style reads.
    */
  def lookup(keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, not}
    val buckets = keys.map(k => IceLite.bucketOf(k, snap.numBuckets)).distinct
    readMerged(buckets)
      .where(not(col(IceLite.TOMB)) &&
        col(snap.keyCol).isin(keys.map(x => x: Any): _*))
      .drop(IceLite.metaColumns: _*)
  }

  /** Change data feed: the committed changes BETWEEN two snapshot ids
    * (fromExclusive, toInclusive] as upsert/delete events — the sink
    * re-exposed as a CDC SOURCE, so downstream tables can chain the
    * same merge machinery instead of re-reading full states. Reads ONLY
    * the delta files those commits added (metadata diff), never the
    * table. Each row: op ('c' upsert / 'd' delete), the row image, and
    * its (commit_lsn, change_lsn) version.
    *
    * Compaction commits add no logical changes and contribute no rows
    * (their files land in `base`); truncate floors are metadata-only and
    * surface via the snapshots' summaries.
    *
    * Each apply commit carries its own change manifest
    * ([[IceSnapshot.changed]]), so the feed is exact even when the same
    * commit folded a changed bucket's delta chain into base (the
    * parent-diff of `deltas` would miss those files entirely). The
    * parent-diff remains as the fallback for snapshots written before
    * the manifest existed. Feed horizon: `Maintenance.expireSnapshots` +
    * `gcOrphans` bound how far back the feed reaches.
    */
  def changesBetween(fromExclusive: Long, toInclusive: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val newFiles = IceLite.changedDataFiles(root, fromExclusive, toInclusive)
    val latest =
      if (toInclusive > fromExclusive) IceLite.readSnapshotFile(root, toInclusive)
      else snap
    IceLite.readFiles(spark, root, newFiles, IceLite.withMeta(latest.schema))
      .where(col(latest.keyCol).isNotNull) // truncate markers are not row changes
      .withColumn("_change_type",
        when(col(IceLite.TOMB), lit("d")).otherwise(lit("c")))
  }

  /** Raw rows (engine meta columns included, possibly several versions
    * per key, tombstones included, NOT floor-filtered) of the table AT
    * a pinned snapshot — the bootstrap surface for change-feed
    * consumers ([[graft.stream.Replicate]]): a replica seeds from this
    * state, then tails `changesBetween(snapshotId, …)`; feeding the raw
    * versions through the LWW apply reproduces the merged state AND its
    * version vector, so subsequent feed batches replay correctly.
    */
  def readRawAt(snapshotId: Long): DataFrame = {
    val s = IceLite.readSnapshotFile(root, snapshotId)
    readSnapshot(s, s.buckets)
  }

  /** Time travel: read the table as of an older snapshot id. */
  def readAt(snapshotId: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, not}
    val s = IceLite.readSnapshotFile(root, snapshotId)
    mergedOf(s, s.buckets)
      .where(not(col(IceLite.TOMB)))
      .drop(IceLite.metaColumns: _*)
  }

  private def readSnapshot(s: IceSnapshot, buckets: Seq[Int]): DataFrame =
    scanFiles(s, buckets.flatMap(s.filesOf))

  private def scanFiles(s: IceSnapshot, files: Seq[String]): DataFrame =
    IceLite.readFiles(spark, root, files, IceLite.withMeta(s.schema))

  /** The commit of every successor version. `next` sees the head and
    * returns the new version's content, or None to commit nothing;
    * `commitNext` numbers it (head + 1, parent = head) and publishes it
    * with [[IceLite.writeSnapshotAtomic]]. A writer that loses the race
    * for the version re-reads the head and asks `next` again, so `next`
    * re-checks whatever its commit rests on: the batch-id gate, the
    * fold inputs ([[IceLite.unchangedBuckets]]) or the version it read.
    * Returns the committed version, or None when `next` declined;
    * throws after [[IceLite.commitAttempts]] lost races.
    */
  def commitNext(next: IceSnapshot => Option[IceSnapshot]): Option[IceSnapshot] = {
    var attempts = 0
    while (attempts < IceLite.commitAttempts) {
      attempts += 1
      val cur = refresh()
      next(cur) match {
        case None => return None
        case Some(n) =>
          val s = n.copy(snapshotId = cur.snapshotId + 1, parentId = cur.snapshotId)
          if (IceLite.writeSnapshotAtomic(root, s)) { snap = s; return Some(s) }
      }
    }
    throw new IllegalStateException(
      s"commit contention on $root: gave up after ${IceLite.commitAttempts} attempts")
  }

  /** Schema history: every committed snapshot's schema, oldest first —
    * the analog of Debezium's schema-history topic replayed on restart
    * (`InformixDatabaseSchema.java:59-78`; `SchemaHistoryTopicIT`).
    */
  def schemaHistory(): Seq[(Long, org.apache.spark.sql.types.StructType)] = {
    (0L to current.snapshotId).flatMap { v =>
      try Some(v -> IceLite.readSnapshotFile(root, v).schema)
      catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  def lineagePath: String = s"$root/_lineage"

  /** Append per-partition lineage/metrics rows (LSN range, counts, apply
    * latency) — the analog of the reference's heartbeat + transaction
    * monitor (`InformixTransactionMonitor.java:28-52`). Driver-local
    * JSONL (one file per batch, unique name, atomic via temp+move):
    * lineage is O(buckets) metadata and must not cost a Spark job on the
    * apply path.
    */
  def appendLineageRows(rows: Seq[IceLite.LineageRow]): Unit = {
    if (rows.isEmpty) return
    val dir = Paths.get(lineagePath)
    Files.createDirectories(dir)
    val sb = new StringBuilder
    rows.foreach { r =>
      sb.append(s"""{"bucket":${r.bucket},"event_count":${r.event_count},""" +
        s""""deleted_keys":${r.deleted_keys},"rows_written":${r.rows_written},""" +
        s""""lsn_lo":${r.lsn_lo},"lsn_hi":${r.lsn_hi},"batch_id":${r.batch_id},""" +
        s""""snapshot_id":${r.snapshot_id},"apply_latency_ms":${r.apply_latency_ms},""" +
        s""""committed_at_ms":${r.committed_at_ms}}""").append('\n')
    }
    val tmp = dir.resolve(s".tmp-${java.util.UUID.randomUUID()}.jsonl")
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(f"batch-${rows.head.batch_id}%08d-${java.util.UUID.randomUUID().toString.take(8)}.jsonl"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Lineage rows as a DataFrame (explicit schema — no inference job). */
  def readLineage(): DataFrame =
    if (!Files.isDirectory(Paths.get(lineagePath)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        IceLite.lineageSchema)
    else spark.read.schema(IceLite.lineageSchema).json(lineagePath)

  def notificationsPath: String = s"$root/_notifications"

  /** E7 (outbound half) — progress notifications, the analog of the
    * reference's snapshot-progress notification channel
    * (`InformixConnectorTask.java:142-148`, `NotificationsIT.java:25-80`):
    * one JSONL row per event {id, aggregate_type, type, data, ts_ms}.
    * Driver-local append (notifications are metadata, never a Spark job).
    */
  def appendNotification(aggregateType: String, notifType: String, data: String): Unit = {
    val dir = Paths.get(notificationsPath)
    Files.createDirectories(dir)
    val id = java.util.UUID.randomUUID().toString
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val line = s"""{"id":"$id","aggregate_type":"${esc(aggregateType)}",""" +
      s""""type":"${esc(notifType)}","data":"${esc(data)}",""" +
      s""""ts_ms":${System.currentTimeMillis()}}""" + "\n"
    val tmp = dir.resolve(s".tmp-$id.jsonl")
    Files.write(tmp, line.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(s"n-$id.jsonl"), StandardCopyOption.ATOMIC_MOVE)
  }

  def readNotifications(): DataFrame =
    if (!Files.isDirectory(Paths.get(notificationsPath)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        IceLite.notificationSchema)
    else spark.read.schema(IceLite.notificationSchema).json(notificationsPath)
}

object IceLite {

  /** One lineage row: per-bucket per-batch apply metrics (E5/E6). */
  final case class LineageRow(
      bucket: Int,
      event_count: Long,
      deleted_keys: Long,
      rows_written: Long,
      lsn_lo: Long,
      lsn_hi: Long,
      batch_id: Long,
      snapshot_id: Long,
      apply_latency_ms: Long,
      committed_at_ms: Long
  )

  val lineageSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("bucket", IntegerType),
      StructField("event_count", LongType),
      StructField("deleted_keys", LongType),
      StructField("rows_written", LongType),
      StructField("lsn_lo", LongType),
      StructField("lsn_hi", LongType),
      StructField("batch_id", LongType),
      StructField("snapshot_id", LongType),
      StructField("apply_latency_ms", LongType),
      StructField("committed_at_ms", LongType)))
  }

  val notificationSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("id", StringType),
      StructField("aggregate_type", StringType),
      StructField("type", StringType),
      StructField("data", StringType),
      StructField("ts_ms", LongType)))
  }

  /** Engine metadata columns stored with every row:
    *   __vc/__vl — the (commit_lsn, change_lsn) version that wrote the
    *               row; makes MERGE order-insensitive and row-level
    *               idempotent (an event can never overwrite a newer row,
    *               the distributed restatement of the reference's
    *               monotone-offset rule, `TxLogPosition.java:53-60`).
    *   __tomb   — delete tombstone: the key was deleted at this version;
    *              kept so a late-arriving older upsert cannot resurrect
    *              the row (the reference's replay-skip R1/R2 expressed as
    *              data, not coordination). Purged by compaction once the
    *              log retention floor passes the version (R4 analog).
    */
  val VC = "__vc"
  val VL = "__vl"
  val TOMB = "__tomb"
  val metaColumns: Seq[String] = Seq(VC, VL, TOMB)

  /** Ceiling (total delta file bytes per read) up to which merge-on-read
    * uses the broadcast-delta plan; larger chains fall back to a global
    * LWW groupBy over the dirty buckets. The broadcast ships only the
    * delta KEY column, a small fraction of these bytes.
    */
  var broadcastDeltaReadBytes: Long = 256L << 20

  /** Floor (total DIRTY-bucket bytes, base + delta) below which
    * merge-on-read skips the broadcast split and runs one global LWW
    * exchange over the dirty buckets: shuffling a few KB once is
    * cheaper than two broadcast-exchange sub-jobs per read. Identical
    * rows either way; `GRAFT_SMALL_MERGED_READ_BYTES` overrides (0
    * disables — the plan-shape specs pin the broadcast path that way).
    */
  var smallMergedReadBytes: Long =
    sys.env.get("GRAFT_SMALL_MERGED_READ_BYTES").map(_.toLong).getOrElse(8L << 20)

  // ---- the physical layout: every commit path and every reader uses
  // these definitions, never a copy of them ----

  /** The bucket function, column form: `pmod(hash(key), n)`. It is also
    * Spark's HashPartitioning of the key, so `repartition(n, key)` puts
    * each bucket in one task. The scalar [[bucketOf]] and the v2
    * catalog's `bucket` function compute the same value.
    */
  def bucketCol(key: Column, numBuckets: Int): Column =
    pmod(hash(key), lit(numBuckets))

  /** Scalar form of [[bucketCol]] (driver-side pruning and the catalog
    * `bucket` function): UTF8String's hashCode is murmur3 seed 42, the
    * same as catalyst `hash()`.
    */
  def bucketOf(key: UTF8String, numBuckets: Int): Int = {
    val h = key.hashCode()
    ((h % numBuckets) + numBuckets) % numBuckets
  }

  def bucketOf(key: String, numBuckets: Int): Int =
    bucketOf(UTF8String.fromString(key), numBuckets)

  /** Lost races [[IceLiteTable.commitNext]] tolerates before it gives up. */
  private[icelite] val commitAttempts = 20

  /** The fold-validity rule: the buckets of `foldInputs` whose file set
    * at `cur` is still exactly the set their fold read. Only those folds
    * may be published; a commit that touched a bucket since would lose
    * its rows to the fold. A bucket that folded to no files is included
    * like any other (publishing it empties the bucket).
    */
  def unchangedBuckets(cur: IceSnapshot, foldInputs: Map[Int, Set[String]]): Set[Int] =
    foldInputs.collect { case (b, in) if cur.filesOf(b).toSet == in => b }.toSet

  /** `deltas` with `written` appended to each bucket's chain. */
  def appendDeltas(deltas: Map[Int, Seq[String]],
      written: Map[Int, Seq[String]]): Map[Int, Seq[String]] =
    (deltas.keySet ++ written.keySet).map { b =>
      b -> (deltas.getOrElse(b, Nil) ++ written.getOrElse(b, Nil))
    }.toMap.filter(_._2.nonEmpty)

  /** Distinct bucket ids of `df`'s keys: at most numBuckets ints, so
    * driver-safe at any batch size (unlike collecting the keys). The
    * pruning set of a bucket-pruned `readMerged`.
    */
  def bucketsOf(df: DataFrame, keyCol: String, numBuckets: Int): Seq[Int] =
    df.select(bucketCol(col(keyCol), numBuckets).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq

  /** Visibility of a stored row: null-key rows are truncate markers,
    * and rows at or below the truncate floor were wiped by a TRUNCATE
    * (E3). Both are invisible to every reader and every fold.
    */
  def visible(keyCol: String, truncCommit: Long, truncChange: Long): Column =
    col(keyCol).isNotNull &&
      (col(VC) > truncCommit || (col(VC) === truncCommit && col(VL) > truncChange))

  def visible(s: IceSnapshot): Column =
    visible(s.keyCol, s.summary.truncCommit, s.summary.truncChange)

  /** The stored-row LWW fold: one max-(__vc, __vl) row per key,
    * tombstones kept (callers filter them). The key is projected as the
    * grouping attribute itself (a simple alias), not as a field of the
    * winning struct: Catalyst tracks partitioning through aliases but
    * not through field extraction, so over a bucket-reporting scan the
    * fold — and any downstream groupBy/join on the key — needs no
    * exchange. Output columns keep the input order.
    */
  def lwwFold(rows: DataFrame, keyCol: String): DataFrame = {
    graft.plans.LwwMaxBy.register(rows.sparkSession)
    val payloadSql = rows.columns.map(c => s"`$c`").mkString("struct(", ", ", ")")
    rows.groupBy(col(keyCol).as("__k"))
      .agg(expr(s"lww_max_by($payloadSql, `$VC`, `$VL`)").as("w"))
      .select(rows.columns.toSeq.map(c =>
        if (c == keyCol) col("__k").as(c) else col("w").getField(c).as(c)): _*)
  }

  /** Write tasks of a bucketed write over `buckets` buckets: one per
    * bucket, capped at the cluster's default parallelism. A bucket is
    * never split across tasks, so below the cap a task holds several
    * whole buckets and writes one file for each; at cluster scale
    * (parallelism >= buckets) every task holds exactly one bucket.
    */
  def writeTasks(spark: SparkSession, buckets: Int): Int =
    math.max(1, math.min(buckets, spark.sparkContext.defaultParallelism))

  /** Packs `rows`, hash-partitioned on the key into `numBuckets`
    * partitions (partition i = bucket i), into [[writeTasks]] tasks
    * without another exchange: a coalesce only groups whole partitions.
    * It drops any within-partition order, so it goes before a sort.
    */
  def packBuckets(rows: DataFrame, numBuckets: Int): DataFrame = {
    val tasks = writeTasks(rows.sparkSession, numBuckets)
    if (tasks < numBuckets) rows.coalesce(tasks) else rows
  }

  /** The bucketed file write of every table commit path, the DSv2
    * insert included. `rows` carry a `__bucket` column ([[bucketCol]])
    * and are partitioned so that each task holds whole buckets, in at
    * most [[writeTasks]] tasks.
    * Writes `root/commitRel/__bucket=N/`, leaves the zone-map sidecar
    * (deferred to its daemon on the apply latency path, otherwise
    * written before returning) and returns the files per bucket for the
    * snapshot commit.
    */
  def writeBucketed(rows: DataFrame, root: String, commitRel: String,
      maxRowsPerFile: Long = 0L, asyncSidecar: Boolean = false): Map[Int, Seq[String]] = {
    val w = rows.write.mode("overwrite").partitionBy("__bucket")
    (if (maxRowsPerFile > 0) w.option("maxRecordsPerFile", maxRowsPerFile) else w)
      .parquet(s"$root/$commitRel")
    if (asyncSidecar) ZoneMaps.writeSidecarAsync(rows.sparkSession, root, commitRel)
    else ZoneMaps.writeSidecar(rows.sparkSession, root, commitRel)
    listCommittedFiles(root, commitRel)
  }

  /** Threads of the table's background workers (the compaction daemon,
    * the zone-map sidecar writer). A worker is started lazily, usually
    * from a streaming query's batch thread, and a thread normally
    * inherits its creator's Spark local properties: the query's job
    * group, SQL execution id and call site. Stopping the query would
    * then cancel the worker's jobs. These threads inherit no thread
    * locals; each worker names its jobs with its own job group.
    */
  private[icelite] def backgroundThreads(name: String): java.util.concurrent.ThreadFactory =
    (r: Runnable) => {
      val t = new Thread(null, r, name, 0L, false)
      t.setDaemon(true)
      t
    }

  /** Driver-side stat of table-relative data files. The manifest names
    * every committed file, so nothing is ever listed. Shared by the
    * classic reads ([[readFiles]]) and the DSv2 scan and stream.
    */
  def fileStatuses(spark: SparkSession, root: String, rels: Seq[String]): Seq[FileStatus] = {
    val fs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    rels.map(rel => fs.getFileStatus(new HPath(s"$root/$rel")))
  }

  /** Parquet scan of exactly the given table-relative files, read with
    * `schema` (files written before an additive ALTER read the new
    * column as null). A plain `FileSourceScanExec` — pruning, pushdown,
    * the vectorized reader and file packing are Spark's — over a
    * [[ManifestFileIndex]], so building the frame starts no Spark job
    * (a path list handed to `spark.read.parquet` is listed again, by a
    * parallel listing job once it passes 32 paths).
    */
  def readFiles(spark: SparkSession, root: String, rels: Seq[String],
      schema: StructType): DataFrame = {
    // file sources read every column as nullable, as `spark.read` does
    val dataSchema = graft.stream.MergeApply.asNullable(schema).asInstanceOf[StructType]
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new ManifestFileIndex(fileStatuses(spark, root, rels)),
      StructType(Nil), dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  def withMeta(schema: StructType): StructType =
    StructType(schema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(VC, org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(VL, org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(TOMB, org.apache.spark.sql.types.BooleanType, nullable = false)))

  private val mapper = new ObjectMapper()

  def metaDir(root: String): Path = Paths.get(root, "_metadata")
  def versionFile(root: String, v: Long): Path = metaDir(root).resolve(f"v$v%09d.json")

  def create(
      spark: SparkSession,
      root: String,
      schema: StructType,
      keyCol: String,
      numBuckets: Int
  ): IceLiteTable = {
    Files.createDirectories(metaDir(root))
    val s0 = IceSnapshot(0L, -1L, schema, keyCol, numBuckets, Map.empty, Map.empty, IceSummary.empty)
    if (!writeSnapshotAtomic(root, s0))
      throw new IllegalStateException(s"table already exists at $root")
    new IceLiteTable(spark, root)
  }

  def load(spark: SparkSession, root: String): IceLiteTable = new IceLiteTable(spark, root)

  def exists(root: String): Boolean =
    Files.exists(versionFile(root, 0L)) || retainedVersions(root).nonEmpty

  // ---- snapshot (de)serialization ----

  private def toJson(s: IceSnapshot): String = {
    val n: ObjectNode = mapper.createObjectNode()
    n.put("snapshotId", s.snapshotId)
    n.put("parentId", s.parentId)
    n.put("schema", s.schema.json)
    n.put("keyCol", s.keyCol)
    n.put("numBuckets", s.numBuckets)
    val base = n.putObject("base")
    s.base.toSeq.sortBy(_._1).foreach { case (b, fs) =>
      val arr = base.putArray(b.toString)
      fs.foreach(arr.add)
    }
    val deltas = n.putObject("deltas")
    s.deltas.toSeq.sortBy(_._1).foreach { case (b, fs) =>
      val arr = deltas.putArray(b.toString)
      fs.foreach(arr.add)
    }
    val changed = n.putObject("changed")
    s.changed.toSeq.sortBy(_._1).foreach { case (b, fs) =>
      val arr = changed.putArray(b.toString)
      fs.foreach(arr.add)
    }
    val sm = n.putObject("summary")
    sm.put("batchId", s.summary.batchId)
    sm.put("lastBatchId", s.summary.lastBatchId)
    sm.put("lastSignalBatchId", s.summary.lastSignalBatchId)
    sm.put("watermarkCommit", s.summary.watermarkCommit)
    sm.put("watermarkChange", s.summary.watermarkChange)
    sm.put("floorCommit", s.summary.floorCommit)
    sm.put("floorChange", s.summary.floorChange)
    sm.put("truncCommit", s.summary.truncCommit)
    sm.put("truncChange", s.summary.truncChange)
    sm.put("lsnLo", s.summary.lsnLo)
    sm.put("lsnHi", s.summary.lsnHi)
    sm.put("upserts", s.summary.upserts)
    sm.put("deletes", s.summary.deletes)
    sm.put("note", s.summary.note)
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n)
  }

  private def fromJson(js: String): IceSnapshot = {
    val n = mapper.readTree(js)
    def fileMap(field: String): Map[Int, Seq[String]] =
      if (!n.has(field)) Map.empty
      else n.get(field).properties().asScala.map { e =>
        e.getKey.toInt -> e.getValue.elements().asScala.map(_.asText()).toSeq
      }.toMap
    val base = fileMap("base")
    val deltas = fileMap("deltas")
    val changed = fileMap("changed")
    val sm = n.get("summary")
    IceSnapshot(
      n.get("snapshotId").asLong(),
      n.get("parentId").asLong(),
      DataType.fromJson(n.get("schema").asText()).asInstanceOf[StructType],
      n.get("keyCol").asText(),
      n.get("numBuckets").asInt(),
      base,
      deltas,
      IceSummary(
        sm.get("batchId").asLong(), sm.get("lastBatchId").asLong(),
        sm.get("lastSignalBatchId").asLong(),
        sm.get("watermarkCommit").asLong(), sm.get("watermarkChange").asLong(),
        sm.get("floorCommit").asLong(), sm.get("floorChange").asLong(),
        sm.get("truncCommit").asLong(), sm.get("truncChange").asLong(),
        sm.get("lsnLo").asLong(), sm.get("lsnHi").asLong(),
        sm.get("upserts").asLong(), sm.get("deletes").asLong(),
        sm.get("note").asText()),
      changed
    )
  }

  def readSnapshotFile(root: String, v: Long): IceSnapshot =
    fromJson(new String(Files.readAllBytes(versionFile(root, v)), StandardCharsets.UTF_8))

  /** Relative data-file paths carrying the row changes committed in
    * versions (fromExclusive, toInclusive] — the change-data-feed file
    * manifest shared by [[IceLiteTable.changesBetween]] and the
    * streaming read (`graft.icelite.dsv2.IceLiteMicroBatchStream`).
    * Exact per commit via [[IceSnapshot.changed]]; falls back to the
    * parent delta-diff for pre-manifest snapshots. A version expired by
    * retention throws (missing version file): a consumer whose resume
    * point fell off the retention horizon must re-bootstrap, never
    * silently skip commits.
    */
  def changedDataFiles(root: String, fromExclusive: Long, toInclusive: Long): Seq[String] = {
    require(fromExclusive <= toInclusive, s"bad range ($fromExclusive, $toInclusive]")
    ((fromExclusive + 1) to toInclusive).flatMap { v =>
      val s = readSnapshotFile(root, v)
      if (s.changed.nonEmpty) s.changed.values.flatten.toSeq
      else {
        // legacy fallback: files newly referenced as DELTAS vs the parent
        val parent = readSnapshotFile(root, s.parentId)
        val before = parent.deltas.values.flatten.toSet
        s.deltas.values.flatten.filterNot(before.contains).toSeq
      }
    }
  }

  /** All snapshot version numbers still on disk (ascending). Expired
    * versions leave gaps — see `Maintenance.expireSnapshots`.
    */
  def retainedVersions(root: String): Seq[Long] = {
    val dir = metaDir(root)
    if (!Files.isDirectory(dir)) return Nil
    graft.util.Fs.listDir(dir)
      .flatMap { p =>
        val name = p.getFileName.toString
        if (name.startsWith("v") && name.endsWith(".json"))
          scala.util.Try(name.stripPrefix("v").stripSuffix(".json").toLong).toOption
        else None
      }.sorted
  }

  /** Latest committed snapshot: follow the version-hint then probe
    * forward (hint is advisory — a crash between commit and hint update
    * must not lose the commit). When the hint is missing or stale, fall
    * back to a directory scan for the max retained version — probing
    * forward from v0 would stop at the first gap left by snapshot
    * expiry and resurrect an ancient version.
    */
  def readLatest(root: String): Option[IceSnapshot] = {
    if (!Files.exists(metaDir(root))) return None
    val hinted = try {
      val p = metaDir(root).resolve("version-hint.text")
      if (Files.exists(p)) new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong else -1L
    } catch { case NonFatal(_) => -1L }
    var v = hinted
    if (v < 0 || !Files.exists(versionFile(root, v))) {
      v = retainedVersions(root).lastOption.getOrElse(return None)
    }
    while (Files.exists(versionFile(root, v + 1))) v += 1
    Some(readSnapshotFile(root, v))
  }

  /** Atomic commit of version `s.snapshotId`:
    * write a temp file, then hard-link it to the version path.
    * `Files.createLink` fails atomically (EEXIST) when another writer
    * already committed this version — our optimistic lock; readers never
    * observe a partial file because the link appears fully-written.
    */
  def writeSnapshotAtomic(root: String, s: IceSnapshot): Boolean = {
    val dir = metaDir(root)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".tmp-${java.util.UUID.randomUUID()}.json")
    Files.write(tmp, toJson(s).getBytes(StandardCharsets.UTF_8))
    val target = versionFile(root, s.snapshotId)
    val ok =
      try { Files.createLink(target, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    Files.deleteIfExists(tmp)
    if (ok) {
      // best-effort hint update (atomic replace so readers never see torn bytes)
      try {
        val hintTmp = dir.resolve(s".hint-${java.util.UUID.randomUUID()}")
        Files.write(hintTmp, s.snapshotId.toString.getBytes(StandardCharsets.UTF_8))
        Files.move(hintTmp, dir.resolve("version-hint.text"),
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      } catch { case NonFatal(_) => () }
    }
    ok
  }

  /** List data files (relative paths) under a commit directory, grouped
    * by the `__bucket=N` partition dir they were written into.
    */
  private def listCommittedFiles(root: String, commitRel: String): Map[Int, Seq[String]] = {
    val base = Paths.get(root, commitRel)
    if (!Files.exists(base)) return Map.empty
    val out = scala.collection.mutable.Map[Int, List[String]]().withDefaultValue(Nil)
    graft.util.Fs.walkAll(base)
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .foreach { p =>
        val rel = Paths.get(root).relativize(p).toString
        val bucketDir = p.getParent.getFileName.toString
        if (bucketDir.startsWith("__bucket=")) {
          val b = bucketDir.stripPrefix("__bucket=").toInt
          out(b) = rel :: out(b)
        }
      }
    out.toMap.map { case (k, v) => k -> v.sorted.toSeq }
  }
}

/** The file index of a manifest read: the committed files, already
  * stat-ed, with no partition columns and nothing to list or refresh.
  * Equal to another index over the same files, as Spark's own
  * `InMemoryFileIndex` is, so identical scans still canonicalize alike.
  */
private[icelite] final class ManifestFileIndex(files: Seq[FileStatus]) extends FileIndex {
  override def rootPaths: Seq[HPath] = files.map(_.getPath)
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    // a zero-byte file holds no parquet; Spark's own index skips it too
    Seq(PartitionDirectory(InternalRow.empty,
      files.filter(_.getLen > 0).map(FileStatusWithMetadata(_))))
  override def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.getLen).sum
  override def partitionSchema: StructType = StructType(Nil)
  override def equals(other: Any): Boolean = other match {
    case o: ManifestFileIndex => rootPaths == o.rootPaths
    case _ => false
  }
  override def hashCode(): Int = rootPaths.hashCode()
}
