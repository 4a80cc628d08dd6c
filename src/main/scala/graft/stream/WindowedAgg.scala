package graft.stream

import graft.ops.TextOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-time windowed aggregation over a micro-batched stream with
  * watermark-based late-data drop — the Structured Streaming
  * "watermark + windowed agg" contract driven end to end and
  * value-checked (reference analog: the connector's event streams are
  * consumed downstream by exactly this kind of streaming aggregation;
  * Debezium itself stops at the topic — this is the first consumer
  * stage a metrics/CDC-audit pipeline runs,
  * `InformixStreamingChangeEventSource.java:60-108` produces the
  * time-ordered stream it folds over).
  *
  * Semantics pinned (and mirrored by the generated SQL oracle):
  *   - watermark(b) = max(event_time over batches < b) − delay
  *     (Spark updates the watermark at micro-batch boundaries from the
  *     global max; initial watermark = epoch 0);
  *   - an input row is DROPPED iff its window's END ≤ watermark(b) for
  *     the batch b it arrives in (window-granular, not row-granular: a
  *     row older than the watermark still counts while its window is
  *     live — WindowedAggSpec pins the straddle case);
  *   - append mode emits a window exactly once, when the watermark
  *     passes its end.
  * The operating point keeps every comparison tie-free so the oracle
  *   replays bit-for-bit: event times ≡ 1, watermarks ≡ 3, window ends
  *   ≡ 0 (mod 4) — no boundary can be hit by either engine.
  *
  * Scale: the aggregation state is one row per LIVE window (bounded by
  * delay/window, not corpus size), partial-aggregated map-side; the
  * sink append is the only shuffle. At 10^10 events this runs exactly
  * as written — the staging here (one parquet file per micro-batch,
  * modtime-ordered) only replaces Kafka for the sandbox.
  */
object WindowedAgg {
  /** Deterministic operating point (shared: engine, spec, oracle). */
  val NumBatches = 5
  val SegmentMs = 20000L // event-time span carried by each batch
  val WindowMs = 1000L // tumbling window (≡ 0 mod 4)
  val DelayMs = 2002L // watermark delay (≡ 2 mod 4)
  val LateEvery = 10L // 1-in-10 rows are stragglers from segment b-2
  /** Flush sentinels: s1 raises the watermark past every real window,
    * s2 forms the batch that emits under it. Both sit in ONE window
    * whose end (201000) exceeds s2 − delay (198003): the sentinel
    * window itself can never emit, even if a no-data batch fires.
    */
  val SentinelMs1 = 200001L
  val SentinelMs2 = 200005L

  private def h(suffix: String) = TextOps.portableHash(
    concat(col("event_id").cast("string"), lit(suffix)))

  /** Adds the deterministic (b, m) columns: arrival micro-batch and
    * event-time millis. Batch b mostly carries times in segment b;
    * 1-in-10 rows are stragglers carrying times from segment b−2 —
    * decisively behind the watermark, so they exercise the drop path.
    */
  def derive(events: DataFrame): DataFrame = {
    val b = pmod(h(":wagg"), lit(NumBatches.toLong))
    val late = pmod(h(":latewagg"), lit(LateEvery)) === 0L
    val g = when(late, greatest(b - 2L, lit(0L))).otherwise(b)
    events.select(
      col("event_id"),
      b.as("b"),
      (g * SegmentMs + pmod(h(":twagg"), lit(SegmentMs / 4)) * 4L + 1L).as("m"))
  }

  private[stream] val stagedSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("m", LongType)))

  /** (event_id, m) staging with the two flush sentinels appended. */
  def stage(spark: SparkSession, batches: Seq[DataFrame], dir: String): Unit =
    StagedStream.stage(spark, stagedSchema, batches, dir,
      Seq(Row(-1L, SentinelMs1), Row(-2L, SentinelMs2)))

  /** Runs the REAL streaming pipeline over a staged dir: file source
    * (one staged file per micro-batch) → watermark → tumbling-window agg
    * → append parquet sink; returns the finalized windows (sentinels
    * excluded).
    */
  def run(spark: SparkSession, stagedDir: String, workDir: String): DataFrame =
    StagedStream.drainToParquet(spark, Seq(stagedDir), workDir) {
      StagedStream.source(spark, stagedSchema, stagedDir, DelayMs)
        .groupBy(window(col("event_time"), s"$WindowMs milliseconds"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(pmod(col("event_id"), lit(97L))).as("s_mod"),
          max(col("m")).as("max_ms"))
        .select(unix_millis(col("window.start")).as("w_start"),
          col("n_events"), col("s_mod"), col("max_ms"))
    }.where(col("w_start") < SentinelMs1) // defense-in-depth; never emits
      .orderBy(col("w_start"))

  /** The whole pipeline over the testdata events table: derive →
    * stage by batch → stream → finalized windows.
    */
  def overEvents(spark: SparkSession, events: DataFrame): DataFrame =
    StagedStream.overEvents("graft-wagg", NumBatches, derive(events))(
      stage(spark, _, _))(run(spark, _, _))

  /** The drop/emit rule as a BATCH plan over (b, m) rows — the model
    * the streaming run must match (used by the spec; the SQL oracle is
    * the same rule in DuckDB). Returns the kept rows.
    */
  def keptModel(derived: DataFrame): DataFrame = {
    val bm = derived.groupBy(col("b")).agg(max(col("m")).as("bmax"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("b")).rowsBetween(Long.MinValue, -1)
    val wm = bm.select(col("b"),
      coalesce(max(col("bmax")).over(w) - DelayMs, lit(0L)).as("wm"))
    derived.join(wm, "b")
      .where(floor(col("m") / WindowMs) * WindowMs + WindowMs > col("wm"))
  }
}

/** Event-time SESSION windows over the same micro-batched harness —
  * the stateful flavor: sessions MERGE across micro-batches (a segment
  * boundary splits a user's burst across two batches; the state store
  * must fuse them), and watermark-expired stragglers drop before ever
  * touching state.
  *
  * The operating point makes the final state equal to a pure
  * gaps-and-islands merge, so flat SQL can replay it: stragglers exist
  * only for batches ≥ 2 and carry times from two segments back —
  * decisively behind the watermark (margin ≈ 16 s vs a 2001 ms gap),
  * so the drop set is exact; and every kept row's time exceeds its
  * batch's watermark while every already-emitted session ends at or
  * below it, so a finalized session can never be straddled by later
  * input (the append-mode re-open corner is structurally impossible —
  * the session oracle needs no emission schedule).
  */
object SessionAgg {
  val GapMs = 2001L // ≡ 1 mod 4: never ties with inter-event deltas (≡ 0 mod 4)

  private def h(suffix: String) = TextOps.portableHash(
    concat(col("event_id").cast("string"), lit(suffix)))

  /** (event_id, user_id, b, m): batch b carries segment-b times;
    * 1-in-10 rows of batches ≥ 2 are stragglers from segment b−2.
    */
  def derive(events: DataFrame): DataFrame = {
    import WindowedAgg.{NumBatches, SegmentMs, LateEvery}
    val b = pmod(h(":wagg"), lit(NumBatches.toLong))
    val late = pmod(h(":latewagg"), lit(LateEvery)) === 0L && b >= 2L
    val g = when(late, b - 2L).otherwise(b)
    events.select(
      col("event_id"), col("user_id"),
      b.as("b"),
      (g * SegmentMs + pmod(h(":twagg"), lit(SegmentMs / 4)) * 4L + 1L).as("m"),
      late.as("late"))
  }

  private val stagedSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("m", LongType)))

  def stage(spark: SparkSession, batches: Seq[DataFrame], dir: String): Unit =
    StagedStream.stage(spark, stagedSchema, batches, dir, Seq(
      Row(-1L, -1L, WindowedAgg.SentinelMs1), Row(-2L, -2L, WindowedAgg.SentinelMs2)))

  /** The real streaming query: session_window(gap) per user under the
    * watermark, append mode; returns finalized sessions (sentinel keys
    * excluded).
    */
  def run(spark: SparkSession, stagedDir: String, workDir: String): DataFrame =
    StagedStream.drainToParquet(spark, Seq(stagedDir), workDir) {
      StagedStream.source(spark, stagedSchema, stagedDir, WindowedAgg.DelayMs)
        .groupBy(session_window(col("event_time"), s"$GapMs milliseconds"),
          col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(pmod(col("event_id"), lit(97L))).as("s_mod"))
        .select(col("user_id"),
          unix_millis(col("session_window.start")).as("s_start"),
          unix_millis(col("session_window.end")).as("s_end"),
          col("n_events"), col("s_mod"))
    }.where(col("user_id") >= 0L)
      .orderBy(col("user_id"), col("s_start"))

  def overEvents(spark: SparkSession, events: DataFrame): DataFrame =
    StagedStream.overEvents("graft-sagg", WindowedAgg.NumBatches, derive(events))(
      stage(spark, _, _))(run(spark, _, _))

  /** Gaps-and-islands merge of the kept (non-straggler) rows — the
    * batch model the streaming final state must equal (spec-side only;
    * the per-user window here is over the model, not the corpus).
    */
  def sessionModel(derived: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("m"))
    val isl = derived.where(!col("late"))
      .withColumn("pm", lag(col("m"), 1).over(w))
      .withColumn("brk",
        when(col("pm").isNull || col("m") - col("pm") >= GapMs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("m")).rowsBetween(Long.MinValue, 0)))
    isl.groupBy(col("user_id"), col("sid"))
      .agg(min(col("m")).as("s_start"),
        (max(col("m")) + GapMs).as("s_end"),
        count(lit(1)).as("n_events"),
        sum(pmod(col("event_id"), lit(97L))).as("s_mod"))
      .drop("sid")
  }
}

/** Streaming EXACT dedup with bounded state —
  * `dropDuplicatesWithinWatermark` over the same micro-batched
  * harness. This is the consumer-side guard an at-least-once CDC
  * topic needs (the reference ecosystem's delivery contract is
  * at-least-once: a reconnecting Kafka Connect task re-emits records,
  * `InformixStreamingChangeEventSource.java:60-108` replays from the
  * restart LSN): duplicates arriving within the watermark delay of the
  * original are dropped, and — the bounded-state part — a key's state
  * is evicted once the watermark passes its expiry, so a far-later
  * re-delivery is accepted again. State is O(live keys within the
  * delay window), not O(corpus): this runs at 10^10 events where a
  * plain dropDuplicates would OOM on unbounded key state.
  *
  * Semantics pinned by probe + spec (and mirrored by the oracle):
  * expiry is checked at LOOKUP time — a copy arriving in batch b_c is
  * dropped iff watermark(b_c) ≤ m_orig + delay (state alive), emitted
  * otherwise, even when no intervening batch commit evicted the state.
  * The operating point is tie-free: delay ≡ 1 (mod 4), so watermarks
  * ≡ 0, event times ≡ 1 and expiries ≡ 2 (mod 4) — no comparison can
  * land on a boundary in either engine.
  */
object StreamDedup {
  val DelayMs = 2001L // ≡ 1 mod 4 (see tie-free note above)
  val DupEvery = 5L // 1-in-5 keys get a re-delivery

  private def h(suffix: String) = TextOps.portableHash(
    concat(col("event_id").cast("string"), lit(suffix)))

  /** Originals: every event, batch b, a fresh time in segment b.
    * Copies: 1-in-5 keys re-deliver in batch b+1 (usually still inside
    * the dedup state's lifetime) or b+2 (usually past it), with a
    * fresh event time in the copy's own segment — like a Kafka Connect
    * retry, the payload carries the redelivery's write time. Copies
    * whose batch would fall past the last batch are not generated.
    */
  def derive(events: DataFrame): DataFrame = {
    import WindowedAgg.{NumBatches, SegmentMs}
    val b = pmod(h(":wagg"), lit(NumBatches.toLong))
    val mOf = (bc: org.apache.spark.sql.Column, hs: String) =>
      bc * SegmentMs + pmod(h(hs), lit(SegmentMs / 4)) * 4L + 1L
    val orig = events.select(
      col("event_id").as("key"), b.as("b"),
      mOf(b, ":twagg").as("m"), lit("o").as("src"))
    val bc = b + 1L + pmod(h(":dupf"), lit(2L))
    val copies = events
      .where(pmod(h(":dup"), lit(DupEvery)) === 0L &&
        b + 1L + pmod(h(":dupf"), lit(2L)) <= (NumBatches - 1).toLong)
      .select(col("event_id").as("key"), bc.as("b"),
        mOf(bc, ":tdup").as("m"), lit("c").as("src"))
    orig.unionAll(copies)
  }

  private val stagedSchema = StructType(Seq(
    StructField("key", LongType), StructField("m", LongType),
    StructField("src", StringType)))

  def stage(spark: SparkSession, batches: Seq[DataFrame], dir: String): Unit =
    StagedStream.stage(spark, stagedSchema, batches, dir)

  /** The real streaming dedup: emitted = rows that survived
    * dropDuplicatesWithinWatermark (append mode emits them in their
    * arrival batch — no flush sentinels needed).
    */
  def run(spark: SparkSession, stagedDir: String, workDir: String): DataFrame =
    StagedStream.drainToParquet(spark, Seq(stagedDir), workDir) {
      StagedStream.source(spark, stagedSchema, stagedDir, DelayMs)
        .dropDuplicatesWithinWatermark("key")
        .select(col("key"), col("m"), col("src"))
    }.orderBy(col("key"), col("m"))

  def overEvents(spark: SparkSession, events: DataFrame): DataFrame =
    StagedStream.overEvents("graft-sdedup", WindowedAgg.NumBatches, derive(events))(
      stage(spark, _, _))(run(spark, _, _))

  /** The emit rule as a batch plan over derived rows: originals always
    * emit; a copy emits iff the watermark of its arrival batch has
    * passed the original's expiry (lookup-time eviction check).
    */
  def emittedModel(derived: DataFrame): DataFrame = {
    val bm = derived.groupBy(col("b")).agg(max(col("m")).as("bmax"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("b")).rowsBetween(Long.MinValue, -1)
    val wm = bm.select(col("b"),
      coalesce(max(col("bmax")).over(w) - DelayMs, lit(0L)).as("wm"))
    val orig = derived.where(col("src") === "o")
    val copies = derived.where(col("src") === "c")
    val emittedCopies = copies.join(wm, "b")
      .join(orig.select(col("key"), col("m").as("m_orig")), "key")
      .where(col("wm") > col("m_orig") + DelayMs)
      .select(col("key"), col("m"), col("src"))
    orig.select(col("key"), col("m"), col("src")).unionAll(emittedCopies)
  }
}

/** Stream-stream time-interval INNER join — the fourth stateful
  * Structured Streaming pillar (after windowed agg, session windows
  * and bounded-state dedup): the events stream self-joined as two
  * logical sides (an attribution pipeline's shape — purchases matched
  * to signups within a time window, `events_sessionize`'s streaming
  * cousin). Both sides buffer in the symmetric-hash-join state store;
  * the time-interval condition plus the watermark bound the state: a
  * side's row is evicted once no future partner can satisfy the
  * interval.
  *
  * The operating point reduces the emitted set to a PURE batch
  * interval join over the non-straggler rows, which flat SQL replays:
  * per-batch segment times mean a qualifying pair spans at most one
  * batch boundary, and a boundary row's eviction threshold
  * (wm − T ≈ segment_end − 5 s) can never pass it before the partner's
  * batch — so no qualifying pair is lost to state cleanup; stragglers
  * (batches ≥ 2, times two segments back) sit decisively below the
  * watermark and never produce pairs (StreamJoinSpec pins the
  * suppression). Cross-batch pairs are the stateful observable: the
  * earlier side must be HELD in join state across the boundary.
  */
object StreamJoin {
  val IntervalMs = 3001L // ≡ 1 mod 4: |Δm| ≡ 0 mod 4 never ties with it

  private def h(suffix: String) = TextOps.portableHash(
    concat(col("event_id").cast("string"), lit(suffix)))

  /** (key, user_id, b, m, side, late): batch/segment layout as
    * [[SessionAgg.derive]] (stragglers only for b ≥ 2), plus a
    * deterministic side split.
    */
  def derive(events: DataFrame): DataFrame = {
    import WindowedAgg.{NumBatches, SegmentMs, LateEvery}
    val b = pmod(h(":wagg"), lit(NumBatches.toLong))
    val late = pmod(h(":latewagg"), lit(LateEvery)) === 0L && b >= 2L
    val g = when(late, b - 2L).otherwise(b)
    events.select(
      col("event_id").as("key"), col("user_id"),
      b.as("b"),
      (g * SegmentMs + pmod(h(":twagg"), lit(SegmentMs / 4)) * 4L + 1L).as("m"),
      when(pmod(h(":side"), lit(2L)) === 0L, "l").otherwise("r").as("side"),
      late.as("late"))
  }

  private[stream] val stagedJoinSchema = StructType(Seq(
    StructField("key", LongType), StructField("user_id", LongType),
    StructField("m", LongType), StructField("side", StringType)))

  def stage(spark: SparkSession, batches: Seq[DataFrame], dir: String): Unit =
    StagedStream.stage(spark, stagedJoinSchema, batches, dir)

  /** [[stage]] plus two RIGHT-side flush sentinels under an impossible
    * user id (they never pair): the outer and chained variants' staging.
    */
  private[stream] def stageFlushed(spark: SparkSession, batches: Seq[DataFrame],
      dir: String): Unit =
    StagedStream.stage(spark, stagedJoinSchema, batches, dir, Seq(
      Row(-1L, StreamJoinOuter.SentinelUser, WindowedAgg.SentinelMs1, "r"),
      Row(-2L, StreamJoinOuter.SentinelUser, WindowedAgg.SentinelMs2, "r")))

  /** The staged dir as the two join sides, one watermarked source. */
  private[stream] def sides(spark: SparkSession, stagedDir: String): (DataFrame, DataFrame) = {
    val src = StagedStream.source(spark, stagedJoinSchema, stagedDir, WindowedAgg.DelayMs)
    (src.where(col("side") === "l").as("l"), src.where(col("side") === "r").as("r"))
  }

  /** `r` within ±IntervalMs of `l`, same user. */
  private[stream] def interval: Column =
    col("l.user_id") === col("r.user_id") &&
      col("r.event_time") >= col("l.event_time") - expr(s"INTERVAL $IntervalMs MILLISECONDS") &&
      col("r.event_time") <= col("l.event_time") + expr(s"INTERVAL $IntervalMs MILLISECONDS")

  /** The real streaming self-join: one watermarked source split into
    * sides, inner-joined on user within ±IntervalMs. Inner joins emit
    * on arrival of the later side — no flush sentinels needed.
    */
  def run(spark: SparkSession, stagedDir: String, workDir: String): DataFrame =
    runJoin(spark, stagedDir, workDir, "inner")

  private[stream] def runJoin(spark: SparkSession, stagedDir: String,
      workDir: String, joinType: String): DataFrame =
    StagedStream.drainToParquet(spark, Seq(stagedDir), workDir) {
      val (l, r) = sides(spark, stagedDir)
      l.join(r, interval, joinType)
        .select(col("l.key").as("l_key"), col("r.key").as("r_key"),
          // coalesced so the full-outer variant's right-only rows carry
          // their user; identity for inner/left (l.user_id non-null there)
          coalesce(col("l.user_id"), col("r.user_id")).as("user_id"),
          col("l.m").as("l_ms"), col("r.m").as("r_ms"))
    }.orderBy(col("l_key"), col("r_key"))

  def overEvents(spark: SparkSession, events: DataFrame): DataFrame =
    StagedStream.overEvents("graft-sjoin", WindowedAgg.NumBatches, derive(events))(
      stage(spark, _, _))(run(spark, _, _))

  /** The emitted set as a batch plan: the pure interval join over
    * non-straggler rows (see the object doc for why state cleanup can
    * never subtract from it at this operating point).
    */
  def joinedModel(derived: DataFrame): DataFrame = {
    val kept = derived.where(!col("late"))
    val l = kept.where(col("side") === "l")
      .select(col("key").as("l_key"), col("user_id"), col("m").as("l_ms"))
    val r = kept.where(col("side") === "r")
      .select(col("key").as("r_key"), col("user_id").as("r_user"), col("m").as("r_ms"))
    l.join(r, col("user_id") === col("r_user") &&
        col("r_ms") >= col("l_ms") - IntervalMs &&
        col("r_ms") <= col("l_ms") + IntervalMs)
      .select(col("l_key"), col("r_key"), col("user_id"), col("l_ms"), col("r_ms"))
  }
}

/** Stream-stream time-interval LEFT OUTER join — the null-emission
  * contract the inner variant never exercises: an unmatched left row is
  * HELD in the join state until the watermark proves no future right
  * can satisfy the interval (wm > l.time + IntervalMs), and only then
  * emits with a null right side. Matched rows emit their inner results
  * on arrival and never also null (the standard outer-join guarantee);
  * watermark-expired input joins nothing and emits nothing, not even a
  * null row (the arriving row is behind the state-cleanup threshold, so
  * it is discarded at input — OuterSpec pins the suppression).
  *
  * Flush sentinels (two RIGHT-side rows under an impossible user id, so
  * they can never pair and never appear in left-outer output): s1
  * raises the watermark past every real row's expiry point, s2 forms
  * the batch whose state cleanup emits the remaining null rows —
  * exactly [[WindowedAgg]]'s two-sentinel pattern. At this operating
  * point the emitted set is therefore the pure batch LEFT interval join
  * over the non-straggler rows, which flat SQL replays.
  *
  * Scale: state is bounded by delay + interval (one row per live input
  * row within the horizon), identical to the inner variant; null
  * emission adds no shuffle — it drains from the same state store.
  */
object StreamJoinOuter {
  /** Sentinel user id: real user ids are non-negative. */
  val SentinelUser = -1L

  def run(spark: SparkSession, stagedDir: String, workDir: String): DataFrame =
    StreamJoin.runJoin(spark, stagedDir, workDir, "leftOuter")

  def overEvents(spark: SparkSession, events: DataFrame): DataFrame =
    overEventsWith(spark, events, "leftOuter")

  /** Shared harness for the outer variants: the inner staging plus the
    * two right-side flush sentinels, run under `joinType`.
    */
  private[stream] def overEventsWith(spark: SparkSession, events: DataFrame,
      joinType: String): DataFrame =
    StagedStream.overEvents("graft-sjoinlo", WindowedAgg.NumBatches,
        StreamJoin.derive(events))(StreamJoin.stageFlushed(spark, _, _))(
      StreamJoin.runJoin(spark, _, _, joinType))

  /** The emitted set as a batch plan: LEFT interval join over the
    * non-straggler rows (matched rows keep their pairs; unmatched left
    * rows carry a null right side — the sentinel-forced flush emits
    * every one of them, and expired input contributes nothing).
    */
  def joinedModel(derived: DataFrame): DataFrame = {
    val kept = derived.where(!col("late"))
    val l = kept.where(col("side") === "l")
      .select(col("key").as("l_key"), col("user_id"), col("m").as("l_ms"))
    val r = kept.where(col("side") === "r")
      .select(col("key").as("r_key"), col("user_id").as("r_user"), col("m").as("r_ms"))
    l.join(r, col("user_id") === col("r_user") &&
        col("r_ms") >= col("l_ms") - StreamJoin.IntervalMs &&
        col("r_ms") <= col("l_ms") + StreamJoin.IntervalMs, "left_outer")
      .select(col("l_key"), col("r_key"), col("user_id"), col("l_ms"), col("r_ms"))
  }
}

/** Stream-stream time-interval FULL OUTER join — completes the join-mode
  * matrix with the one contract inner/left never exercise: an unmatched
  * RIGHT row is held in join state and null-emits (null left side) once
  * the watermark proves no future left can satisfy the interval
  * (wm > r.time + IntervalMs) — symmetric with the left side's rule.
  * Matched rows emit their inner results on arrival and never also null;
  * watermark-expired input on either side is discarded at ingress and
  * emits nothing, not even a null row.
  *
  * Sentinel arithmetic (why the harness's two right-side flush sentinels
  * never surface in FULL output, even though full outer emits unmatched
  * rights): real rows carry m < NumBatches·SegmentMs = 100000, so every
  * real row's expiry point m + IntervalMs < 103001 sits far below the
  * final watermark 198003 (SentinelMs2 − DelayMs) — all unmatched real
  * rows on BOTH sides null-emit at the s2-batch state cleanup. The
  * sentinels themselves expire only when wm > SentinelMs + IntervalMs ≥
  * 203002, which no batch ever reaches — they stay in state forever and
  * contribute no output row. No output filtering is needed.
  *
  * Scale: identical state bound to the inner variant (one row per live
  * input row within delay + interval); both null-emission directions
  * drain from the same symmetric-hash-join state store, no extra shuffle.
  */
object StreamJoinFull {
  def run(spark: SparkSession, stagedDir: String, workDir: String): DataFrame =
    StreamJoin.runJoin(spark, stagedDir, workDir, "fullOuter")

  def overEvents(spark: SparkSession, events: DataFrame): DataFrame =
    StreamJoinOuter.overEventsWith(spark, events, "fullOuter")

  /** The emitted set as a batch plan: FULL interval join over the
    * non-straggler rows (matched pairs kept; unmatched lefts carry a
    * null right, unmatched rights a null left; expired input and the
    * never-expiring sentinels contribute nothing).
    */
  def joinedModel(derived: DataFrame): DataFrame = {
    val kept = derived.where(!col("late"))
    val l = kept.where(col("side") === "l")
      .select(col("key").as("l_key"), col("user_id"), col("m").as("l_ms"))
    val r = kept.where(col("side") === "r")
      .select(col("key").as("r_key"), col("user_id").as("r_user"), col("m").as("r_ms"))
    l.join(r, col("user_id") === col("r_user") &&
        col("r_ms") >= col("l_ms") - StreamJoin.IntervalMs &&
        col("r_ms") <= col("l_ms") + StreamJoin.IntervalMs, "full_outer")
      .select(col("l_key"), col("r_key"),
        coalesce(col("user_id"), col("r_user")).as("user_id"),
        col("l_ms"), col("r_ms"))
  }
}

/** CHAINED stateful operators: stream-stream time-interval join feeding
  * a tumbling-window aggregation in ONE streaming query — two stateful
  * operators with watermark PROPAGATION between them (the
  * multiple-stateful-operator contract, Spark 3.5+): the aggregation's
  * input watermark is the join's OUTPUT watermark, i.e. the source
  * watermark delayed by the join's state horizon (IntervalMs), because a
  * joined row can surface that much later than its own event time.
  *
  * Why no join result is ever late at the aggregation (so the emitted
  * set is the pure batch join-then-group, which flat SQL replays): a
  * pair emits in the batch of its later-arriving side b = max(b_l, b_r);
  * its l-window end > b·SegmentMs − IntervalMs + 1, while the agg's
  * input watermark at batch b is ≤ (global wm ≤ b·SegmentMs − 2005)
  * − IntervalMs — a ≥ 2002 ms margin for every layout, tie-free under
  * the mod-4 discipline. The flush sentinels raise the SOURCE watermark
  * to 198003, which propagates through the join horizon to 195002 —
  * far past every real window end (< 101000) — so the s2 batch emits
  * every live window; the sentinels themselves never pair (impossible
  * user id) and never reach the aggregation.
  *
  * Scale: join state bounded by delay + interval per live row; agg
  * state one row per live window — both map-side partial, one shuffle
  * each (the same two exchanges a batch join+group would plan).
  */
object StreamJoinAgg {
  def run(spark: SparkSession, stagedDir: String, workDir: String): DataFrame =
    StagedStream.drainToParquet(spark, Seq(stagedDir), workDir) {
      val (l, r) = StreamJoin.sides(spark, stagedDir)
      l.join(r, StreamJoin.interval, "inner")
        .groupBy(window(col("l.event_time"), s"${WindowedAgg.WindowMs} milliseconds"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(pmod(col("l.key"), lit(97L)) + pmod(col("r.key"), lit(97L)))
            .as("s_mod"))
        .select(unix_millis(col("window.start")).as("w_start"),
          col("n_pairs"), col("s_mod"))
    }.where(col("w_start") < WindowedAgg.SentinelMs1)
      .orderBy(col("w_start"))

  /** Same staging as the outer variants (the right-side sentinels here
    * exist purely to push the propagated watermark past every real
    * window so the chained aggregation flushes).
    */
  def overEvents(spark: SparkSession, events: DataFrame): DataFrame =
    StagedStream.overEvents("graft-sjagg", WindowedAgg.NumBatches,
        StreamJoin.derive(events))(StreamJoin.stageFlushed(spark, _, _))(run(spark, _, _))

  /** The emitted windows as a batch plan: the inner interval join over
    * non-straggler rows, grouped by the LEFT side's window.
    */
  def aggModel(derived: DataFrame): DataFrame =
    StreamJoin.joinedModel(derived)
      .groupBy((col("l_ms") - pmod(col("l_ms"), lit(WindowedAgg.WindowMs)))
        .as("w_start"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(pmod(col("l_key"), lit(97L)) + pmod(col("r_key"), lit(97L)))
          .as("s_mod"))
}
