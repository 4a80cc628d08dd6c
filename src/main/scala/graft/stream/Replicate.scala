package graft.stream

import graft.icelite.{IceLite, IceLiteTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Downstream table replication over the table-as-topic change feed:
  * a second IceLite table (possibly with a different bucket count, on
  * different storage) tails the CDC sink's commit log through the DSv2
  * micro-batch stream and applies each batch with the SAME merge
  * machinery the engine itself uses — the role the reference delegates
  * to its Kafka consumers (a sink connector replaying the connector's
  * topic into another store, `InformixConnectorIT` asserts topic
  * contents for exactly this consumption contract).
  *
  * Exactly-once end to end, by composition of two existing guarantees:
  *   - the SOURCE side: stream offsets (snapshot versions) live in the
  *     SS checkpoint — a restart replans from the committed version and
  *     immutable commits make every replay byte-identical;
  *   - the SINK side: [[MergeApply.applyBatch]]'s batchId gate + row
  *     versions make re-application of a replayed batch a no-op.
  *
  * Truncate propagation: truncates are metadata on the source (a
  * version floor in the snapshot summary), not feed rows. Each batch
  * compares the source's floor with the replica's and, when advanced,
  * injects a synthetic 't' marker at the source's floor position — the
  * apply path then floors exactly as the source did. Rows wiped on the
  * source were either delivered earlier (now re-floored away) or will
  * arrive with post-truncate versions; both orders converge.
  *
  * Scale shape: per trigger the replica pays one metadata read (the
  * changed-file manifests), one scan of the delta bytes, and ONE
  * exchange into its own bucket layout — a 100 TB source table
  * replicates at the cost of its change rate, never its size.
  */
object Replicate {

  /** ONE definition of the maintainer bootstrap commit point, shared
    * by every feed consumer lifecycle (replication, aggregate IVM,
    * join IVM, SCD2): until the stream checkpoint's first offset
    * exists, anything under the maintainer-owned roots is the scratch
    * of a crashed bootstrap attempt (bootstrap-written versions are
    * locally generated, so a half-seeded table is not re-enterable)
    * and is deleted before `boot` re-creates it — the checkpoint, not
    * the table roots, is the bootstrap phase's commit point.
    */
  private[stream] def bootstrapOnce[T](checkpointDir: String,
      ownedRoots: Seq[String])(boot: => T)(resume: => T): T =
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(checkpointDir, "offsets"))) {
      ownedRoots.foreach(graft.util.Fs.deleteRecursively)
      boot
    } else resume

  /** Drain a maintainer's change feed to now through the [[Driver]],
    * resuming from `checkpointDir`: the tail of every feed consumer
    * lifecycle, after [[bootstrapOnce]].
    */
  private[stream] def drainFeed(feed: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): Unit =
    Driver.start(feed, checkpointDir, Trigger.AvailableNow(), None)(body)
      .awaitTermination()

  /** One replica of an [[orderedApply]]: its table, its slice of the
    * batch, and the source whose truncate floor a recovery propagates
    * into it (None: never propagated).
    */
  private[stream] final case class Replica(table: IceLiteTable, feed: DataFrame,
      floorFrom: Option[String])

  /** The maintainers' multi-table exactly-once rule, written once. A
    * batch commits `head` (the view or history table) first, then the
    * `replicas` in order, each gated by the same batchId, so a replay
    * finds one of four states:
    *
    *   - every table done: skip the batch;
    *   - the head done: finish the pending replicas WITHOUT floor
    *     propagation — a truncate committed on a source between the
    *     crash and this replay would otherwise advance a replica's
    *     floor without the head's rebuild, and the next batch's
    *     [[floorAdvanced]] check would see equal floors and never
    *     rebuild;
    *   - the head not done but a replica done (a crash mid-order, or an
    *     empty-delta batch that never committed the head): bring the
    *     pending replicas to post-batch with their floors, then run the
    *     maintainer's `recover` (a rebuild of the head, or nothing);
    *   - nothing done: `apply` runs the batch in commit order.
    */
  private[stream] def orderedApply(batchId: Long, head: IceLiteTable,
      replicas: Seq[Replica])(recover: => Unit)(apply: => Unit): Unit = {
    def done(t: IceLiteTable): Boolean = batchId <= t.refresh().summary.lastBatchId
    val headDone = done(head)
    val pending = replicas.filterNot(r => done(r.table))
    if (headDone) pending.foreach(r => applyFeedBatch(r.table, r.feed, batchId, None))
    else if (pending.size < replicas.size) {
      pending.foreach(r => applyFeedBatch(r.table, r.feed, batchId, r.floorFrom))
      recover
    } else apply
  }

  /** Change-feed rows (payload + `__vc`/`__vl`/`__tomb`) re-shaped into
    * the engine's committed-event contract (op, before, after,
    * commit_lsn, change_lsn): the LWW version becomes the event
    * position, tombstones become 'd' events.
    */
  def toEvents(feed: DataFrame): DataFrame = {
    val userFields = feed.schema.fields.filterNot(f => IceLite.metaColumns.contains(f.name))
    val afterType = StructType(userFields)
    feed.select(
      when(col(IceLite.TOMB), lit("d")).otherwise(lit("c")).as("op"),
      lit(null).cast(afterType).as("before"),
      struct(userFields.toSeq.map(f => col(f.name)): _*).as("after"),
      col(IceLite.VC).as("commit_lsn"),
      col(IceLite.VL).as("change_lsn"))
  }

  /** Strict truncate-floor comparison — ONE definition of "the source's
    * floor sits ahead of the consumer's", shared by the replication and
    * IVM consumers so the propagation decision can never drift from the
    * apply path's floor semantics.
    */
  def floorAhead(src: graft.icelite.IceSummary,
      dst: graft.icelite.IceSummary): Boolean =
    src.truncCommit > dst.truncCommit ||
      (src.truncCommit == dst.truncCommit && src.truncChange > dst.truncChange)

  /** [[floorAhead]] of the latest committed table at `srcRoot` against
    * `dst`'s current head — the IVM consumers' rebuild test.
    */
  def floorAdvanced(srcRoot: String, dst: IceLiteTable): Boolean = {
    val sm = IceLite.readLatest(srcRoot).getOrElse(
      throw new IllegalStateException(s"no source table at $srcRoot")).summary
    floorAhead(sm, dst.refresh().summary)
  }

  /** One synthetic truncate marker at the given position, in the events
    * schema (null key: rides as a marker, never stored).
    */
  private def truncMarker(spark: SparkSession, schema: StructType,
      c: Long, l: Long): DataFrame =
    spark.range(1).select(
      lit("t").as("op"),
      lit(null).cast(schema("before").dataType).as("before"),
      lit(null).cast(schema("after").dataType).as("after"),
      lit(c).as("commit_lsn"),
      lit(l).as("change_lsn"))

  /** Apply one micro-batch of feed rows to the replica. Idempotent by
    * batchId; when `truncateFromRoot` is set, the source's truncate
    * floor is propagated ahead of the rows.
    */
  def applyFeedBatch(dst: IceLiteTable, feed: DataFrame, batchId: Long,
      truncateFromRoot: Option[String] = None): MergeApply.MergeStats = {
    val spark = feed.sparkSession
    val events0 = toEvents(feed)
    val events = truncateFromRoot.flatMap { src =>
      val sm = IceLite.readLatest(src).getOrElse(
        throw new IllegalStateException(s"no source table at $src")).summary
      val cur = dst.refresh().summary
      if (floorAhead(sm, cur))
        Some(events0.unionByName(
          truncMarker(spark, events0.schema, sm.truncCommit, sm.truncChange)))
      else None
    }.getOrElse(events0)
    MergeApply.applyBatch(dst, events, batchId)
  }

  /** Bootstrap the replica from the source's CURRENT state and return
    * the pinned snapshot version to stream from: the feed excludes the
    * source's snapshot-phase base commit (base state is not a change),
    * so a replica must seed from a pinned full state, then tail
    * `(pin, …]` — the Delta/Iceberg CDF consumer contract. Feeding the
    * RAW rows (all stored versions + tombstones, [[IceLiteTable
    * .readRawAt]]) through the LWW apply reproduces both the merged
    * state and its version vector; the source's truncate floor rides
    * along, so raw pre-truncate rows stay invisible on the replica too.
    * Runs on the signal-batch channel: its id never collides with the
    * stream's SS batch ids, and re-running bootstrap is idempotent.
    */
  def bootstrap(spark: SparkSession, srcRoot: String, dst: IceLiteTable,
      atVersion: Option[Long] = None): Long = {
    val src = IceLite.load(spark, srcRoot)
    val pin = atVersion.getOrElse(src.refresh().snapshotId)
    // the floor AS OF the pin (not the current one): truncates committed
    // after the pin arrive through the feed batches' own propagation
    val pinSummary = IceLite.readSnapshotFile(srcRoot, pin).summary
    val events = toEvents(src.readRawAt(pin))
    val withFloor =
      if (pinSummary.truncCommit >= 0)
        events.unionByName(truncMarker(spark, events.schema,
          pinSummary.truncCommit, pinSummary.truncChange))
      else events
    MergeApply.applyBatch(dst, withFloor,
      dst.refresh().summary.lastSignalBatchId + 1, signalChannel = true)
    pin
  }

  /** Start the replication stream: `srcRoot`'s change feed →
    * `dst`, resuming from the checkpoint (first run starts after
    * `fromVersionExclusive`). `Trigger.AvailableNow` by default — a
    * drain-to-now run; pass `availableNow = false` for a continuous
    * tail. `maxVersionsPerTrigger` bounds catch-up batch size so
    * recovery after downtime is a sequence of bounded applies.
    */
  def stream(spark: SparkSession, srcRoot: String, dst: IceLiteTable,
      checkpointDir: String,
      fromVersionExclusive: Long = 0L,
      maxVersionsPerTrigger: Long = 64L,
      propagateTruncate: Boolean = true,
      availableNow: Boolean = true): StreamingQuery = {
    val feed = graft.icelite.dsv2.IceLiteV2.readChangesStream(
      spark, srcRoot, fromVersionExclusive, maxVersionsPerTrigger)
    val src = if (propagateTruncate) Some(srcRoot) else None
    Driver.start(feed, checkpointDir,
      if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(0L), None) {
      (df, batchId) => applyFeedBatch(dst, df, batchId, src); ()
    }
  }

  /** Drain the feed to the current head and return. */
  def run(spark: SparkSession, srcRoot: String, dst: IceLiteTable,
      checkpointDir: String,
      fromVersionExclusive: Long = 0L,
      maxVersionsPerTrigger: Long = 64L,
      propagateTruncate: Boolean = true): Unit =
    stream(spark, srcRoot, dst, checkpointDir, fromVersionExclusive,
      maxVersionsPerTrigger, propagateTruncate).awaitTermination()

  /** The whole consumer lifecycle in one call: bootstrap on the FIRST
    * run (no stream checkpoint yet), then drain the feed to now. Safe
    * to call repeatedly — later calls skip the bootstrap and resume
    * from the checkpoint.
    */
  def replicate(spark: SparkSession, srcRoot: String, dst: IceLiteTable,
      checkpointDir: String, maxVersionsPerTrigger: Long = 64L,
      bootstrapAtVersion: Option[Long] = None): Unit = {
    val pin = bootstrapOnce(checkpointDir, Nil)(
      bootstrap(spark, srcRoot, dst, bootstrapAtVersion))(0L)
    run(spark, srcRoot, dst, checkpointDir,
      fromVersionExclusive = pin, maxVersionsPerTrigger = maxVersionsPerTrigger)
  }
}
