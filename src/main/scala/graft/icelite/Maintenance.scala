package graft.icelite

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Table maintenance: file compaction and tombstone GC.
  *
  * Merge batches accumulate a few small files per touched bucket
  * (survivor file + upsert file); compaction rewrites buckets back to
  * one file each. Tombstones (deleted keys kept so late-arriving older
  * events cannot resurrect rows) are purged once their version falls
  * below the log-retention floor — the analog of the reference's
  * offset-validity rule R4 (`InformixConnection.java:105-120`: a
  * restart LSN older than the retained log forces a re-snapshot, so no
  * event below the floor can ever arrive again).
  */
object Maintenance {

  /** The LWW fold of the given data files (table-relative), as a frame:
    * reads them with `schema` plus the meta columns through the
    * manifest index, keeps the visible rows above the truncate floor
    * (`truncCommit`, `truncChange`) and resolves LWW per key (tombstones
    * KEPT, except those whose commit LSN is below `retentionFloorLsn`
    * when it is >= 0). Building it starts no Spark job.
    */
  private[graft] def fold(spark: SparkSession, table: IceLiteTable,
      files: Seq[String], schema: StructType, truncCommit: Long, truncChange: Long,
      retentionFloorLsn: Long = -1L): DataFrame = {
    val keyCol = table.current.keyCol
    val raw = IceLite.readFiles(spark, table.root, files, IceLite.withMeta(schema))
      .where(IceLite.visible(keyCol, truncCommit, truncChange))
    val folded = IceLite.lwwFold(raw, keyCol)
    if (retentionFloorLsn < 0) folded
    else folded.where(!col(IceLite.TOMB) || col(IceLite.VC) >= retentionFloorLsn)
  }

  /** Fold the given data files into fresh bucketed base files under
    * `commitRel` — the one rewrite shared by the apply's inline fold,
    * [[compactBucketsOnce]] and [[rebucket]], so a change to the fold,
    * the floor or the layout lands in every rewrite path at once.
    * Writes the [[fold]] into `numBuckets` buckets in
    * `IceLite.writeTasks(spark, foldBuckets)` tasks, `foldBuckets` being
    * how many buckets the fold covers. A task holds several buckets
    * after the repartition, so its rows are sorted by bucket: the
    * writer then keeps one file open per task and writes one file per
    * bucket. `clusterBy` sorts each bucket's rows further by those
    * columns and `maxRowsPerFile` splits the files, so consecutive
    * files carry DISJOINT value ranges and zone maps prune range
    * predicates (on unsorted data every file spans the whole domain);
    * a bucket's rows all live in one task after the repartition, and
    * the sort comes after it, so the sorted runs never interleave
    * across tasks. Returns the files per bucket.
    */
  private[graft] def foldAndWrite(spark: SparkSession, table: IceLiteTable,
      files: Seq[String], schema: StructType, truncCommit: Long, truncChange: Long,
      numBuckets: Int, foldBuckets: Int, commitRel: String,
      retentionFloorLsn: Long = -1L, clusterBy: Seq[String] = Nil,
      maxRowsPerFile: Long = 0L): Map[Int, Seq[String]] = {
    val bucketed = fold(spark, table, files, schema, truncCommit, truncChange,
        retentionFloorLsn)
      .withColumn("__bucket", IceLite.bucketCol(col(table.current.keyCol), numBuckets))
      .repartition(IceLite.writeTasks(spark, foldBuckets), col("__bucket"))
      .sortWithinPartitions((col("__bucket") +: clusterBy.map(col)): _*)
    IceLite.writeBucketed(bucketed, table.root, commitRel, maxRowsPerFile)
  }

  /** One fold pass over `todo` buckets: read base+deltas, resolve LWW,
    * optionally purge tombstones below the retention floor, write fresh
    * per-bucket base files, and commit — keeping, per bucket, ONLY the
    * results whose input file set is still exactly what was folded
    * ([[IceLite.unchangedBuckets]], the rule the apply's inline fold
    * uses too): a concurrent apply that touched a bucket invalidates its
    * fold, never the whole pass. Returns the buckets actually published.
    * So compaction is safe to run CONCURRENTLY with ingest: the loser of
    * any per-bucket race simply refolds later.
    */
  def compactBucketsOnce(table: IceLiteTable, todo: Seq[Int],
      retentionFloorLsn: Long = -1L, clusterBy: Seq[String] = Nil,
      maxRowsPerFile: Long = 0L): Seq[Int] = {
    if (todo.isEmpty) return Nil
    val spark = table.spark
    val snap = table.refresh()
    val inputs: Map[Int, Set[String]] = todo.map(b => b -> snap.filesOf(b).toSet).toMap
    val files = todo.flatMap(snap.filesOf)
    if (files.isEmpty) return Nil
    val sm = snap.summary
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val commitRel = f"data/compact-${snap.snapshotId}%08d-$attempt"
    val written = foldAndWrite(spark, table, files, snap.schema,
      sm.truncCommit, sm.truncChange, snap.numBuckets,
      todo.size, commitRel,
      retentionFloorLsn, clusterBy, maxRowsPerFile)
    var published = Set.empty[Int]
    val committed = table.commitNext { cur =>
      published = IceLite.unchangedBuckets(cur, inputs)
      // a concurrent TRUNCATE is metadata-only (file sets unchanged) but
      // raises the visibility floor the fold baked in — invalidate all
      if (cur.summary.truncCommit != sm.truncCommit ||
        cur.summary.truncChange != sm.truncChange || published.isEmpty) None
      else Some(cur.copy(
        base = (cur.base -- published ++ written.filter(w => published(w._1)))
          .filter(_._2.nonEmpty),
        deltas = cur.deltas -- published,
        changed = Map.empty, // compaction adds no logical changes
        summary = cur.summary.copy(note = s"compact(purge<$retentionFloorLsn)")))
    }
    if (committed.isDefined) published.toSeq else Nil
  }

  /** Buckets worth compacting: any delta chain, a multi-file base, or —
    * when purging — any base at all (tombstones may hide inside).
    */
  private def needsFold(s: IceSnapshot, b: Int, purging: Boolean): Boolean =
    s.deltas.getOrElse(b, Nil).nonEmpty ||
      s.base.getOrElse(b, Nil).size > 1 ||
      (purging && s.base.getOrElse(b, Nil).nonEmpty)

  /** Compact every bucket that needs it; drop tombstones whose version
    * commit-LSN is strictly below `retentionFloorLsn`. Incremental and
    * retrying: each pass folds the still-dirty buckets and publishes the
    * ones whose inputs didn't change underneath (no throw-on-conflict —
    * schedulable next to a live ingest). Returns the current snapshot id.
    */
  def compact(table: IceLiteTable, retentionFloorLsn: Long = -1L,
      maxPasses: Int = 5, clusterBy: Seq[String] = Nil,
      maxRowsPerFile: Long = 0L): Long = {
    val snap0 = table.refresh()
    // clustering must rewrite even a clean single-file bucket (the
    // point is the new file layout), so it folds like a purge does
    var remaining = snap0.buckets
      .filter(b => needsFold(snap0, b, retentionFloorLsn >= 0 || clusterBy.nonEmpty))
      .sorted
    var pass = 0
    while (remaining.nonEmpty && pass < maxPasses) {
      pass += 1
      val done = compactBucketsOnce(table, remaining, retentionFloorLsn,
        clusterBy, maxRowsPerFile).toSet
      // raced buckets refold against their NEW input set next pass
      remaining = remaining.filterNot(done)
    }
    table.current.snapshotId
  }

  /** BUCKET EVOLUTION: rewrite the table into a different hash-bucket
    * count — the operation a growing table eventually needs (a layout
    * chosen at 1 TB starves parallelism at 100 TB), done as ONE
    * LWW-folding pass and an atomic metadata commit, with the CDC
    * stream free to resume immediately after (every downstream
    * consumer — merge apply, DSv2 bucket function, key-grouped
    * partitioning reports, dedup-index probes — derives the bucket
    * function from the snapshot's `numBuckets`, so the switch is one
    * field). The Iceberg analog is a partition-spec evolution followed
    * by a rewrite; Kafka Connect has no counterpart (topics cannot
    * change partition count without manual re-keying).
    *
    * Semantics: the fold keeps TOMBSTONES (a late event older than a
    * deleted key's version must stay suppressed after the rewrite) and
    * bakes in the truncate floor exactly as compaction does; the
    * rebucket itself is NOT a change-feed entry (`changed` empty, like
    * compaction), so feed consumers never observe it. Version floors,
    * watermarks and batch-id gates carry over untouched.
    *
    * Concurrency: the rewrite is whole-table, so the commit is a
    * strict CAS against the snapshot the fold read; a concurrent apply
    * invalidates the attempt and the fold retries against the new
    * snapshot (up to `maxAttempts`). Schedule it in a quiet window —
    * unlike per-bucket compaction it cannot publish partial results.
    * Returns the new snapshot id, or throws after `maxAttempts` races.
    */
  def rebucket(table: IceLiteTable, newBuckets: Int,
      maxAttempts: Int = 5): Long = {
    require(newBuckets > 0, s"newBuckets must be positive, got $newBuckets")
    val spark = table.spark
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val snap = table.refresh()
      if (newBuckets == snap.numBuckets) return snap.snapshotId
      val files = snap.buckets.flatMap(snap.filesOf)
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val commitRel = f"data/rebucket-${snap.snapshotId}%08d-$tag"
      val written =
        if (files.isEmpty) Map.empty[Int, Seq[String]]
        else foldAndWrite(spark, table, files, snap.schema,
          snap.summary.truncCommit, snap.summary.truncChange,
          newBuckets, newBuckets, commitRel)
      // strict CAS: any concurrent commit (apply, compaction, truncate)
      // invalidates the whole-table fold — refold against the new state
      val committed = table.commitNext { cur =>
        if (cur.snapshotId != snap.snapshotId) None
        else Some(cur.copy(
          numBuckets = newBuckets,
          base = written,
          deltas = Map.empty,
          changed = Map.empty, // a rebucket adds no logical changes
          summary = cur.summary.copy(
            note = s"rebucket(${snap.numBuckets}->$newBuckets)")))
      }
      if (committed.nonEmpty) return committed.get.snapshotId
      // A losing attempt's files are a WHOLE-TABLE copy (unlike the
      // per-batch delta garbage gcOrphans was sized for) — reclaim them
      // now instead of letting up to maxAttempts full copies pile up.
      if (written.nonEmpty)
        graft.util.Fs.deleteRecursively(table.dataPath(commitRel))
    }
    throw new IllegalStateException(
      s"rebucket lost the commit race $maxAttempts times — run it in a quieter window")
  }

  /** Background compaction: a single daemon thread that, when poked,
    * folds every bucket whose delta chain reached `chainThreshold` —
    * the concurrent alternative to the apply path's inline fold, so the
    * batch that happens to trip the threshold no longer pays the
    * compaction latency (the spike the inline fold put on exactly one
    * batch per `maxDeltaChain` applies). Safe next to ingest by the
    * changed-file-set commit check; a raced fold is simply retried on
    * the next poke. `drain()` waits for quiescence (deterministic
    * tests / shutdown). The thread exits after [[CompactionDaemon
    * .IdleKeepAliveSec]] without work and the next poke starts a new
    * one, so a daemon whose stream has ended holds no thread (and,
    * through it, no table).
    */
  final class CompactionDaemon(table: IceLiteTable,
      chainThreshold: Int, retentionFloorLsn: () => Long = () => -1L,
      clusterBy: Seq[String] = Nil, maxRowsPerFile: Long = 0L)
      extends AutoCloseable {
    private val exec = {
      val e = new java.util.concurrent.ThreadPoolExecutor(1, 1,
        CompactionDaemon.IdleKeepAliveSec, java.util.concurrent.TimeUnit.SECONDS,
        new java.util.concurrent.LinkedBlockingQueue[Runnable](),
        IceLite.backgroundThreads("graft-compaction"))
      e.allowCoreThreadTimeOut(true)
      e
    }
    private val queued = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile private var err: Option[Throwable] = None
    def lastError: Option[Throwable] = err

    private val sweep: Runnable = () => {
      queued.set(false)
      try {
        table.spark.sparkContext.setJobGroup("graft-compaction",
          s"background fold of ${table.root}", interruptOnCancel = false)
        val snap = table.refresh()
        val hot = snap.buckets
          .filter(b => snap.deltas.getOrElse(b, Nil).size >= chainThreshold).sorted
        if (hot.nonEmpty) {
          compactBucketsOnce(table, hot, retentionFloorLsn(),
            clusterBy, maxRowsPerFile); ()
        }
      } catch {
        case t: Throwable =>
          // Surface, don't swallow: a persistently failing compaction
          // means delta chains grow unbounded while reads slow down.
          // Operators watch the table's notification channel (E7).
          err = Some(t)
          System.err.println(s"[graft-compaction] background fold failed: $t")
          try table.appendNotification("compaction", "compaction-failed",
            Option(t.getMessage).getOrElse(t.getClass.getName))
          catch { case _: Throwable => () }
      }
    }

    /** Schedule a sweep unless one is already queued (coalescing). */
    def poke(): Unit =
      if (queued.compareAndSet(false, true)) { exec.submit(sweep); () }

    /** Wait until every queued sweep has finished; rethrows (and
      * clears) any sweep failure so batch runners fail loudly instead
      * of silently accumulating delta chains.
      */
    def drain(): Unit = {
      val f = exec.submit(new Runnable { def run(): Unit = () })
      f.get()
      val e = err
      err = None
      e.foreach(t =>
        throw new IllegalStateException("background compaction failed", t))
    }

    override def close(): Unit = {
      exec.shutdown()
      exec.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
      err.foreach(t => System.err.println(
        s"[graft-compaction] closing with unsurfaced failure: $t"))
    }
  }

  object CompactionDaemon {
    /** Idle seconds before the daemon's thread exits: above a stream's
      * trigger interval, so a running stream keeps one thread. */
    val IdleKeepAliveSec: Long = 5L
  }

  /** Expire old snapshot version files, bounding metadata growth and the
    * change-feed / time-travel horizon — the analog of Iceberg's
    * expire-snapshots. Keeps the most recent `keepLast` versions (and
    * always the current one). After expiry, `gcOrphans` may reclaim data
    * files only the expired versions referenced. Returns the number of
    * version files deleted.
    */
  def expireSnapshots(table: IceLiteTable, keepLast: Int): Int = {
    require(keepLast >= 1, "keepLast must be >= 1")
    import java.nio.file.Files
    val cur = table.refresh().snapshotId
    val cutoff = cur - keepLast + 1
    var deleted = 0
    IceLite.retainedVersions(table.root).foreach { v =>
      if (v < cutoff && Files.deleteIfExists(IceLite.versionFile(table.root, v)))
        deleted += 1
    }
    deleted
  }

  /** Garbage-collect data files not referenced by the CURRENT snapshot:
    * failed-attempt delta directories (attempt-unique names can orphan a
    * dir when a zombie driver loses the commit race), compaction inputs
    * and superseded bases. The analog of Iceberg's
    * remove-orphan-files maintenance.
    *
    * The change-data-feed manifests (`IceSnapshot.changed`) of every
    * RETAINED snapshot version are also protected, so `changesBetween`
    * keeps working over the retained history even for delta files that
    * a same-commit compaction folded into base. Run `expireSnapshots`
    * first to bound that horizon.
    *
    * Single-writer maintenance operation: must not run concurrently with
    * an in-flight apply (an uncommitted attempt's files look orphaned).
    * Time travel to snapshots older than current loses any file only
    * they reference. Returns the number of deleted files.
    */
  def gcOrphans(table: IceLiteTable): Int = {
    import java.nio.file.{Files, Paths}
    val snap = table.refresh()
    val cdfProtected = IceLite.retainedVersions(table.root).flatMap { v =>
      try IceLite.readSnapshotFile(table.root, v).changed.values.flatten
      catch { case scala.util.control.NonFatal(_) => Nil }
    }
    val referenced = snap.allFiles.toSet ++ cdfProtected
    // commit dirs (data/<commit>) that still hold referenced data keep
    // their metadata files too: deleting a LIVE commit's _zonemaps.json
    // would silently disable file skipping and metadata-only aggregates
    // for that commit (never wrong — absence means "skip nothing" — but
    // a maintenance op must not degrade the layout it maintains)
    val liveCommitDirs = referenced.map(_.split('/').take(2).mkString("/"))
    val root = Paths.get(table.root)
    val dataDir = root.resolve("data")
    if (!Files.isDirectory(dataDir)) return 0
    var deleted = 0
    // materialized walks/listings (graft.util.Fs closes the underlying
    // streams): an unclosed Files.list leaks one directory fd per call,
    // and this sweep visits thousands of bucket dirs per run — the 10x
    // scale run died with "Too many open files" before this was fixed
    graft.util.Fs.walkAll(dataDir)
      .filter(p => Files.isRegularFile(p))
      .foreach { p =>
        val rel = root.relativize(p).toString
        val inLiveDir = liveCommitDirs.contains(rel.split('/').take(2).mkString("/"))
        // non-parquet commit markers (_SUCCESS, _zonemaps.json) ride with
        // their dir: swept when the whole commit is orphaned, kept while
        // any of its data files is referenced
        if (!referenced.contains(rel) && (rel.endsWith(".parquet") || !inLiveDir)) {
          Files.deleteIfExists(p)
          if (rel.endsWith(".parquet")) deleted += 1
        }
      }
    // sweep now-empty directories bottom-up
    graft.util.Fs.walkAll(dataDir).reverse
      .filter(p => Files.isDirectory(p) && p != dataDir)
      .foreach { d =>
        if (graft.util.Fs.listDir(d).isEmpty) Files.deleteIfExists(d)
      }
    deleted
  }
}
