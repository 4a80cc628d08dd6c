package graft.stream

import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types._
import scala.reflect.runtime.universe.TypeTag

/** Streaming FUNNEL detection — a two-step CEP (complex event
  * processing) pattern over the event stream, the Flink-CEP/ksqlDB
  * surface a CDC-fed analytics pipeline runs downstream of the
  * connector topic: per user, did a `signup` (step A) convert into a
  * `purchase` (step B) within the funnel window, and when?
  *
  * Built on `transformWithState` with per-user ValueState and an
  * EVENT-TIME TIMER as the abandonment deadline:
  *
  *   - the first A arms the funnel (state = its event time) and
  *     registers a timer at `ta + WindowMs`;
  *   - the first later B with `ta < tb <= ta + WindowMs` emits
  *     `(u, ta, tb, 'converted')` immediately — no watermark wait;
  *   - the timer firing with the funnel still open emits
  *     `(u, ta, -1, 'abandoned')` — exactly once, watermark-driven;
  *   - either verdict marks the user DONE (one verdict per user; later
  *     events are ignored); B before any A is ignored.
  *
  * Determinism contract (mirrored by the SQL oracle): per-user events
  * arrive in event-time order across micro-batches (the derivation
  * assigns batch b times in segment b) and each batch's rows are
  * sorted by time inside the handler, so "first qualifying B in
  * arrival order" == "min qualifying B". The operating point is
  * tie-free: A-times ≡ 1 and B-times ≡ 2 (mod 4), window ≡ 0, delay
  * ≡ 3 — no comparison in either engine can land on equality.
  *
  * Scale shape: state is one (firstA, done) pair per user that ever
  * armed a funnel — the done marker is what suppresses re-emission,
  * so the pattern inherently pays a few dozen bytes per VERDICTED
  * user until the marker expires. Deployments bound it with
  * `doneTtl` (a processing-time TTL on the state; choose it ≫ the
  * funnel window so an armed funnel can never expire mid-flight —
  * after expiry the same user may legitimately re-arm, i.e. the
  * contract is one verdict per user per retention period). The
  * harness runs TTL-less so every run is bit-deterministic. Timers
  * are the state store's own event-time index; no scan finds expired
  * funnels. The staging (one file per micro-batch) replaces Kafka for
  * the sandbox, exactly as the other streaming surfaces.
  */
object Funnel {
  /** Deterministic operating point (shared: engine, spec, oracle). */
  val NumBatches = 5
  val SegmentMs = 20000L
  val WindowMs = 8000L // funnel window (≡ 0 mod 4)
  val DelayMs = 2003L // watermark delay (≡ 3 mod 4)
  /** Sentinels sit past every possible timer (max ta + window + delay)
    * on a key no real user carries; they only advance the watermark.
    */
  val SentinelMs1: Long = NumBatches * SegmentMs + WindowMs + 10001L
  val SentinelMs2: Long = SentinelMs1 + 4L

  final case class FunnelEvent(u: Long, step: String, m: Long)
  final case class FunnelVerdict(u: Long, ta: Long, tb: Long, verdict: String)
  /** done=true pins the one-verdict-per-user rule against later As. */
  final case class FunnelSt(ta: Long, done: Boolean)

  private class FunnelProcessor(doneTtl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[Long, FunnelEvent, FunnelVerdict] {
    @transient private var st: ValueState[FunnelSt] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelSt]("funnel",
        Encoders.product[FunnelSt], doneTtl)

    /** Per-(key, batch) state hoisting (same rationale as the
      * SessionProfile handler): ONE ValueState read per key-batch, the
      * funnel logic replayed on a local variable, one conditional
      * write-back and NET timer mutations (an arm-then-convert within
      * the batch registers nothing at all; the verdict logic, emission
      * order and stale-timer guard are unchanged — FunnelSpec + the
      * SQL oracles pin them).
      */
    override def handleInputRows(u: Long, rows: Iterator[FunnelEvent],
        timerValues: TimerValues): Iterator[FunnelVerdict] = {
      if (u < 0L) return Iterator.empty // watermark sentinels
      val sorted = rows.toSeq.sortBy(_.m)
      if (sorted.isEmpty) return Iterator.empty
      val orig: Option[FunnelSt] = if (st.exists()) Some(st.get()) else None
      var cur = orig
      var timerReg: Option[Long] = None // registered this batch, still live
      var timerDel: Option[Long] = None // pre-batch timer to delete
      var out = List.empty[FunnelVerdict]
      sorted.foreach { ev =>
        cur match {
          case None =>
            if (ev.step == "A") {
              cur = Some(FunnelSt(ev.m, done = false))
              timerReg = Some(ev.m + WindowMs)
            } // B before any A: ignored
          case Some(s) if !s.done =>
            if (ev.step == "B" && ev.m > s.ta && ev.m <= s.ta + WindowMs) {
              out ::= FunnelVerdict(u, s.ta, ev.m, "converted")
              cur = Some(FunnelSt(s.ta, done = true))
              if (timerReg.contains(s.ta + WindowMs)) timerReg = None
              else timerDel = Some(s.ta + WindowMs)
            } // non-qualifying events leave the armed funnel untouched
          case Some(_) => // verdict already emitted: ignore
        }
      }
      if (cur != orig) st.update(cur.get) // cur only ever moves None -> Some
      timerDel.foreach(getHandle.deleteTimer)
      timerReg.foreach(getHandle.registerTimer)
      out.reverseIterator
    }

    /** The abandonment deadline: the watermark passed ta + window with
      * the funnel still open.
      */
    override def handleExpiredTimer(u: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[FunnelVerdict] = {
      if (!st.exists()) return Iterator.empty
      val s = st.get()
      if (s.done || expiredTimerInfo.getExpiryTimeInMs() != s.ta + WindowMs)
        return Iterator.empty // stale timer of a superseded registration
      st.update(FunnelSt(s.ta, done = true))
      Iterator.single(FunnelVerdict(u, s.ta, -1L, "abandoned"))
    }
  }

  private def h(suffix: String) = TextOps.portableHash(
    concat(col("event_id").cast("string"), lit(suffix)))

  /** Deterministic derivation over the events table: arrival batch b,
    * step (1-in-3 events are As), and an event time in segment b —
    * A-times ≡ 1, B-times ≡ 2 (mod 4), so every window comparison is
    * tie-free. Per-user time order across batches holds by
    * construction (batch b times live in segment b).
    */
  def derive(events: DataFrame): DataFrame = {
    val b = pmod(h(":fnb"), lit(NumBatches.toLong))
    val isA = pmod(h(":fns"), lit(3L)) === 0L
    events.select(
      col("user_id").cast("long").as("u"),
      b.as("b"),
      when(isA, lit("A")).otherwise(lit("B")).as("step"),
      (b * SegmentMs + pmod(h(":fnm"), lit(SegmentMs / 4 - 4)) * 4L +
        when(isA, lit(1L)).otherwise(lit(2L))).as("m"))
  }

  private val stagedSchema = StructType(Seq(
    StructField("u", LongType), StructField("step", StringType),
    StructField("m", LongType)))

  /** Stage per-batch files + the two watermark-flush sentinels. */
  def stage(spark: SparkSession, batches: Seq[DataFrame], dir: String): Unit =
    StagedStream.stage(spark, stagedSchema, batches, dir,
      Seq(Row(-1L, "B", SentinelMs1), Row(-2L, "B", SentinelMs2)))

  /** The shared stream head of every funnel sink: staged source →
    * watermark → transformWithState `processor`, keyed by user.
    */
  private def verdicts[V <: Product : TypeTag](spark: SparkSession, stagedDir: String,
      processor: StatefulProcessor[Long, FunnelEvent, V]): DataFrame = {
    import spark.implicits._
    StagedStream.source(spark, stagedSchema, stagedDir, DelayMs).as[FunnelEvent]
      .groupByKey(_.u)
      .transformWithState(processor, TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** The REAL streaming pipeline over a staged dir: file source (one
    * staged file per micro-batch) → watermark → transformWithState
    * funnel (RocksDB) → append sink; returns the verdicts.
    */
  def run(spark: SparkSession, stagedDir: String, workDir: String,
      doneTtl: TTLConfig = TTLConfig.NONE): DataFrame = StateStores.withRocksDb(spark) {
    StagedStream.drainToParquet(spark, Seq(stagedDir), workDir)(
      verdicts(spark, stagedDir, new FunnelProcessor(doneTtl))).orderBy(col("u"))
  }

  /** The whole pipeline over the testdata events table. */
  def overEvents(spark: SparkSession, events: DataFrame): DataFrame =
    StagedStream.overEvents("graft-funnel", NumBatches, derive(events))(
      stage(spark, _, _))(run(spark, _, _))

  // ---------------------------------------------------------------- //
  // N-step generalization + the feature-store sink                   //
  // ---------------------------------------------------------------- //

  /** N-STEP funnel state: the armed time, the last matched step's time,
    * how many steps matched, and the one-verdict marker. O(1) per key
    * regardless of pattern length — the pattern position is an index,
    * not a buffer (only the previous step's time constrains the next).
    */
  final case class FunnelNSt(ta: Long, tPrev: Long, stage: Int, done: Boolean)
  final case class FunnelNVerdict(u: Long, ta: Long, t_done: Long,
      verdict: String, stage: Long)

  /** The generalized CEP processor: `steps(0)` arms the funnel and
    * registers the abandonment timer at `ta + WindowMs`; each event
    * matching the NEXT expected step (strictly later than the previous
    * match, within the armed window) advances the stage; matching the
    * final step emits `converted` immediately; the timer firing with
    * the pattern incomplete emits `abandoned` with the stage reached.
    * Everything else about the 2-step contract carries over unchanged
    * (one verdict per user, stale-timer guard, sentinel keys skipped).
    */
  private class NStepProcessor(steps: IndexedSeq[String],
      doneTtl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[Long, FunnelEvent, FunnelNVerdict] {
    @transient private var st: ValueState[FunnelNSt] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelNSt]("funnel_n",
        Encoders.product[FunnelNSt], doneTtl)

    /** Per-(key, batch) state hoisting — the 2-step handler's pattern:
      * one state read, local replay, one conditional write-back, net
      * timer mutations. Stage advances between the first and last event
      * of a batch never touch RocksDB at all.
      */
    override def handleInputRows(u: Long, rows: Iterator[FunnelEvent],
        timerValues: TimerValues): Iterator[FunnelNVerdict] = {
      if (u < 0L) return Iterator.empty // watermark sentinels
      val sorted = rows.toSeq.sortBy(_.m)
      if (sorted.isEmpty) return Iterator.empty
      val orig: Option[FunnelNSt] = if (st.exists()) Some(st.get()) else None
      var cur = orig
      var timerReg: Option[Long] = None
      var timerDel: Option[Long] = None
      var out = List.empty[FunnelNVerdict]
      sorted.foreach { ev =>
        cur match {
          case None =>
            if (ev.step == steps(0)) {
              cur = Some(FunnelNSt(ev.m, ev.m, 1, done = false))
              timerReg = Some(ev.m + WindowMs)
            }
          case Some(s) if !s.done =>
            if (ev.step == steps(s.stage) && ev.m > s.tPrev &&
                ev.m <= s.ta + WindowMs) {
              if (s.stage + 1 == steps.size) {
                out ::= FunnelNVerdict(u, s.ta, ev.m, "converted", steps.size.toLong)
                cur = Some(FunnelNSt(s.ta, ev.m, steps.size, done = true))
                if (timerReg.contains(s.ta + WindowMs)) timerReg = None
                else timerDel = Some(s.ta + WindowMs)
              } else
                cur = Some(FunnelNSt(s.ta, ev.m, s.stage + 1, done = false))
            }
          case Some(_) => // verdict already emitted: ignore
        }
      }
      if (cur != orig) st.update(cur.get) // cur only ever moves None -> Some
      timerDel.foreach(getHandle.deleteTimer)
      timerReg.foreach(getHandle.registerTimer)
      out.reverseIterator
    }

    override def handleExpiredTimer(u: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[FunnelNVerdict] = {
      if (!st.exists()) return Iterator.empty
      val s = st.get()
      if (s.done || expiredTimerInfo.getExpiryTimeInMs() != s.ta + WindowMs)
        return Iterator.empty
      st.update(FunnelNSt(s.ta, s.tPrev, s.stage, done = true))
      Iterator.single(FunnelNVerdict(u, s.ta, -1L, "abandoned", s.stage.toLong))
    }
  }

  /** 3-step derivation: steps A/B/C one-in-three, times with residues
    * 1/2/3 (mod 4) so every window/ordering comparison in engine and
    * oracle is tie-free (window ≡ 0, delay ≡ 3 as before).
    */
  def derive3(events: DataFrame): DataFrame = {
    val b = pmod(h(":f3b"), lit(NumBatches.toLong))
    val s3 = pmod(h(":f3s"), lit(3L))
    events.select(
      col("user_id").cast("long").as("u"),
      b.as("b"),
      when(s3 === 0L, lit("A")).when(s3 === 1L, lit("B"))
        .otherwise(lit("C")).as("step"),
      (b * SegmentMs + pmod(h(":f3m"), lit(SegmentMs / 4 - 4)) * 4L +
        s3 + 1L).as("m"))
  }

  /** The 3-step pipeline over a staged dir (same staged harness). */
  def run3(spark: SparkSession, stagedDir: String, workDir: String)
      : DataFrame = StateStores.withRocksDb(spark) {
    StagedStream.drainToParquet(spark, Seq(stagedDir), workDir)(
      verdicts(spark, stagedDir, new NStepProcessor(IndexedSeq("A", "B", "C"))))
      .orderBy(col("u"))
  }

  /** The whole 3-step pipeline over the testdata events table. */
  def overEvents3(spark: SparkSession, events: DataFrame): DataFrame =
    StagedStream.overEvents("graft-funnel3", NumBatches, derive3(events))(
      stage(spark, _, _))(run3(spark, _, _))

  /** The verdict table's declared schema for the feature-store sink. */
  private val storeSchema = StructType(Seq(
    StructField("u", LongType), StructField("ta", LongType),
    StructField("tb", LongType), StructField("verdict", StringType),
    StructField("k", StringType)))

  /** FEATURE-STORE SINK for the 2-step funnel: each micro-batch of
    * verdicts MERGES into an IceLite table (key = user id) through the
    * engine's idempotent apply — composing the two closed surfaces
    * (CEP verdicts, exactly-once store) exactly as
    * [[SessionProfile.runToStore]] does for profiles. One verdict per
    * user makes the LWW merge trivially stable; exactly-once is by
    * checkpoint replans + the batch-id gate + row versions.
    */
  def runToStore(spark: SparkSession, stagedDir: String, workDir: String,
      numBuckets: Int = 4): graft.icelite.IceLiteTable = StateStores.withRocksDb(spark) {
    val table = graft.icelite.IceLite.create(spark, s"$workDir/store",
      MergeApply.asNullable(storeSchema).asInstanceOf[StructType],
      "k", numBuckets)
    StagedStream.drain(spark, Seq(stagedDir)) {
      Driver.start(verdicts(spark, stagedDir, new FunnelProcessor()), s"$workDir/ckpt",
          Trigger.AvailableNow(), None) { (df, batchId) =>
        MergeApply.applyBatch(table, MergeApply.committedEvents(
          df.withColumn("k", col("u").cast("string")), "k", batchId + 1L,
          after = Some(struct(storeSchema.fieldNames.toIndexedSeq.map(col): _*))),
          batchId)
        ()
      }
    }
    table
  }

  /** The whole 2-step pipeline through the FEATURE STORE: derive →
    * stage → run with the merge sink → read the store back. Output
    * columns match [[overEvents]] so one oracle serves both paths.
    */
  def overEventsStore(spark: SparkSession, events: DataFrame): DataFrame =
    StagedStream.overEvents("graft-funnelstore", NumBatches, derive(events))(
      stage(spark, _, _)) { (staged, work) =>
      runToStore(spark, staged, work).read()
        .select(col("u"), col("ta"), col("tb"), col("verdict"))
        .orderBy(col("u"))
    }
}
