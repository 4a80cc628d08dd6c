package graft.stream

import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types._

/** Streaming SESSION PROFILES on `transformWithState` MapState: per
  * user, gap-based sessions whose per-event-type counts accumulate in
  * a MapState (one entry per type seen in the LIVE session — bounded
  * by the type alphabet, not the session length), closed either
  * in-handler (the next event's gap splits the session) or by an
  * event-time timer that RESCHEDULES on every event (delete old,
  * register last + gap — the dynamic-deadline pattern a fixed-window
  * timer can't express). Each closed session emits one profile row:
  * (user, session_start, n_events, n_types, top_type), top_type =
  * max count with ties broken on the type name.
  *
  * This is the third state shape of the TWS family in the engine —
  * ListState (tx assembly), ValueState + fixed timer (funnel), and
  * now MapState + rescheduling timer — and the aggregation-in-state
  * pattern a per-entity profile store (feature store ingestion) runs
  * on the connector's topic.
  *
  * Determinism contract (mirrored by the SQL oracle): per-user events
  * arrive in event-time order across micro-batches (batch b times in
  * segment b), rows sort by time in the handler, and the operating
  * point is tie-free — event times ≡ 1 (mod 4), gap ≡ 2, delay ≡ 3 —
  * so the gap compare and the timer-vs-watermark compare can never
  * land on equality in either engine. Sessions therefore equal the
  * batch gaps-and-islands partition exactly.
  *
  * Scale shape: state per user = one (start, last, n) triple + one
  * map entry per event type in the live session; cleared wholesale at
  * every close, so steady state is bounded by LIVE sessions. Timers
  * are the store's event-time index.
  */
object SessionProfile {
  /** Deterministic operating point (shared: engine, spec, oracle). */
  val NumBatches = 5
  val SegmentMs = 20000L
  val GapMs = 2002L // session gap (≡ 2 mod 4)
  val DelayMs = 2003L // watermark delay (≡ 3 mod 4)
  val Types = Seq("view", "click", "buy", "err")
  val SentinelMs1: Long = NumBatches * SegmentMs + GapMs + 10001L
  val SentinelMs2: Long = SentinelMs1 + 4L

  final case class SpEvent(u: Long, typ: String, m: Long)
  final case class SpProfile(u: Long, session_start: Long, n_events: Long,
      n_types: Long, top_type: String)
  final case class SessMeta(start: Long, last: Long, n: Long)

  private class Processor
      extends StatefulProcessor[Long, SpEvent, SpProfile] {
    @transient private var meta: ValueState[SessMeta] = _
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      meta = getHandle.getValueState[SessMeta]("meta",
        Encoders.product[SessMeta], TTLConfig.NONE)
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    private def profile(u: Long, s: SessMeta): SpProfile = {
      val cs = counts.iterator().toSeq
      val nTypes = cs.size.toLong
      val top = cs.minBy { case (t, c) => (-c, t) }._1
      SpProfile(u, s.start, s.n, nTypes, top)
    }

    private def close(u: Long, s: SessMeta): SpProfile = {
      val p = profile(u, s)
      counts.clear(); meta.clear()
      p
    }

    /** Per-(key, batch) state hoisting (guide §1.2 "per-task work"):
      * the straightforward handler touched RocksDB ~8 times PER EVENT
      * (meta get/update, counts contains/get/update, timer
      * delete/register) — at 20k events/batch that is the dominant
      * addBatch cost. This form reads state ONCE per key-batch (one
      * meta get + one counts scan), replays the session logic on local
      * variables, and writes back once: the open session's meta, its
      * counts (bounded by the type alphabet), and the single surviving
      * timer — the per-event delete/register chain nets to exactly one
      * live timer (intermediate registrations were each deleted by the
      * next event; the stale-expiry guard in [[handleExpiredTimer]] is
      * unchanged). Emission order, session splits and all profile
      * values are bit-identical (SessionProfileSpec + the SQL oracle
      * pin them).
      */
    override def handleInputRows(u: Long, rows: Iterator[SpEvent],
        timerValues: TimerValues): Iterator[SpProfile] = {
      if (u < 0L) return Iterator.empty // watermark sentinels
      val sorted = rows.toSeq.sortBy(_.m)
      if (sorted.isEmpty) return Iterator.empty
      val hadOpen = meta.exists()
      var cur: Option[SessMeta] = if (hadOpen) Some(meta.get()) else None
      // the open session's counts: state entries (if any) merged into a
      // local map; ALL later mutation is local until the write-back
      val localCounts = scala.collection.mutable.Map.empty[String, Long]
      if (hadOpen) {
        // the state session's pending deadline is superseded no matter
        // what this batch does (extend, split, or both)
        getHandle.deleteTimer(cur.get.last + GapMs)
        counts.iterator().foreach { case (t, c) => localCounts(t) = c }
      }
      def closeLocal(s: SessMeta): SpProfile = {
        val cs = localCounts.toSeq
        val top = cs.minBy { case (t, c) => (-c, t) }._1
        val p = SpProfile(u, s.start, s.n, cs.size.toLong, top)
        localCounts.clear()
        p
      }
      var out = List.empty[SpProfile]
      sorted.foreach { ev =>
        cur match {
          case Some(s) if ev.m - s.last < GapMs =>
            localCounts(ev.typ) = localCounts.getOrElse(ev.typ, 0L) + 1L
            cur = Some(SessMeta(s.start, ev.m, s.n + 1L))
          case Some(s) =>
            // the gap splits: close the old session in-handler (its
            // timer may not have fired yet — the watermark can lag)
            out ::= closeLocal(s)
            localCounts(ev.typ) = 1L
            cur = Some(SessMeta(ev.m, ev.m, 1L))
          case None =>
            localCounts(ev.typ) = 1L
            cur = Some(SessMeta(ev.m, ev.m, 1L))
        }
      }
      // write-back: exactly one live session remains (rows non-empty)
      val s = cur.get
      if (hadOpen) counts.clear()
      localCounts.foreach { case (t, c) => counts.updateValue(t, c) }
      meta.update(s)
      getHandle.registerTimer(s.last + GapMs)
      out.reverseIterator
    }

    /** The idle deadline: the watermark passed last + gap with the
      * session still live — close and emit.
      */
    override def handleExpiredTimer(u: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SpProfile] = {
      if (!meta.exists()) return Iterator.empty
      val s = meta.get()
      if (expiredTimerInfo.getExpiryTimeInMs() != s.last + GapMs)
        return Iterator.empty // superseded registration
      Iterator.single(close(u, s))
    }
  }

  private def h(suffix: String) = TextOps.portableHash(
    concat(col("event_id").cast("string"), lit(suffix)))

  /** Deterministic derivation: arrival batch b, one of four event
    * types, and an event time in segment b with every time ≡ 1 mod 4.
    */
  def derive(events: DataFrame): DataFrame = {
    val b = pmod(h(":spb"), lit(NumBatches.toLong))
    val typIdx = pmod(h(":spt"), lit(Types.size.toLong))
    val typ = Types.zipWithIndex.foldLeft(lit(Types.head)) {
      case (acc, (t, i)) => when(typIdx === i.toLong, lit(t)).otherwise(acc)
    }
    events.select(
      col("user_id").cast("long").as("u"),
      b.as("b"),
      typ.as("typ"),
      (b * SegmentMs + pmod(h(":spm"), lit(SegmentMs / 4 - 4)) * 4L + 1L).as("m"))
  }

  private val stagedSchema = StructType(Seq(
    StructField("u", LongType), StructField("typ", StringType),
    StructField("m", LongType)))

  /** Stage per-batch files + the two watermark-flush sentinels. */
  def stage(spark: SparkSession, batches: Seq[DataFrame], dir: String): Unit =
    StagedStream.stage(spark, stagedSchema, batches, dir,
      Seq(Row(-1L, "view", SentinelMs1), Row(-2L, "view", SentinelMs2)))

  /** The shared stream head: staged file source (one staged file per
    * micro-batch) → watermark → transformWithState profiles. ONE
    * definition of the determinism-critical wiring (staged schema,
    * watermark delay, time/output mode) for BOTH sinks — the parquet
    * append sink and the feature store must produce identical
    * profiles against one oracle.
    */
  private def profiles(spark: SparkSession, stagedDir: String): DataFrame = {
    import spark.implicits._
    StagedStream.source(spark, stagedSchema, stagedDir, DelayMs)
      .as[SpEvent]
      .groupByKey(_.u)
      .transformWithState(new Processor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** The REAL streaming pipeline over a staged dir (parquet sink). */
  def run(spark: SparkSession, stagedDir: String, workDir: String): DataFrame = StateStores.withRocksDb(spark) {
    StagedStream.drainToParquet(spark, Seq(stagedDir), workDir,
        StagedStream.TwsBytesPerPartition)(profiles(spark, stagedDir))
      .orderBy(col("u"), col("session_start"))
  }

  /** The feature-store table's declared schema: the profile columns
    * plus the composite merge key. */
  private val storeSchema = StructType(Seq(
    StructField("u", LongType), StructField("session_start", LongType),
    StructField("n_events", LongType), StructField("n_types", LongType),
    StructField("top_type", StringType), StructField("k", StringType)))

  /** FEATURE-STORE SINK: the same streaming pipeline, but each
    * micro-batch of closed profiles MERGES into an IceLite table
    * (key = "u|session_start") through the engine's idempotent apply —
    * the per-entity profile store a feature-ingestion pipeline keeps
    * at the end of the connector topic. Exactly-once by composition:
    * the SS checkpoint replans the same batches, and the batch-id gate
    * + row versions make re-application a no-op. Profiles are
    * append-only facts, so the LWW merge is trivially stable; the
    * store is bucket-pruned readable / feed-consumable like any
    * engine table (a downstream Ivm could stack on it).
    */
  def runToStore(spark: SparkSession, stagedDir: String, workDir: String,
      numBuckets: Int = 4): graft.icelite.IceLiteTable = StateStores.withRocksDb(spark) {
    val table = graft.icelite.IceLite.create(spark, s"$workDir/store",
      MergeApply.asNullable(storeSchema).asInstanceOf[StructType],
      "k", numBuckets)
    StagedStream.drain(spark, Seq(stagedDir), StagedStream.TwsBytesPerPartition) {
      Driver.start(profiles(spark, stagedDir), s"$workDir/ckpt", Trigger.AvailableNow(), None) {
        (df, batchId) =>
          MergeApply.applyBatch(table, MergeApply.committedEvents(
            df.withColumn("k", concat_ws("|", col("u"), col("session_start"))), "k",
            batchId + 1L,
            after = Some(struct(storeSchema.fieldNames.toIndexedSeq.map(col): _*))),
            batchId)
          ()
      }
    }
    table
  }

  /** The whole pipeline over the testdata events table. */
  def overEvents(spark: SparkSession, events: DataFrame): DataFrame =
    StagedStream.overEvents("graft-sprofile", NumBatches, derive(events))(
      stage(spark, _, _))(run(spark, _, _))

  /** [[overEvents]] through the FEATURE-STORE path: the profile table
    * read back — same oracle as the parquet-sink form, plus the
    * exactly-once store ingestion in the loop.
    */
  def overEventsStore(spark: SparkSession, events: DataFrame): DataFrame =
    StagedStream.overEvents("graft-sprofile-store", NumBatches, derive(events))(
      stage(spark, _, _)) { (staged, work) =>
      runToStore(spark, staged, work).read().drop("k")
        .orderBy(col("u"), col("session_start"))
    }
}
