package graft.stream

import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MULTI-SOURCE watermark coalescing — the union of two independently
  * watermarked streams feeding one event-time aggregation, the exact
  * shape a multi-table/multi-topic CDC consumer runs (Debezium emits one
  * topic per table; the first cross-table consumer stage unions them,
  * `InformixConnectorIT.java` consumes several `testdb.informix.*`
  * topics side by side). The semantics pinned here is Spark's global
  * watermark rule (default `multipleWatermarkPolicy = min`):
  *
  *   wm_global(b) = min over sources s of (prefix-max event time seen by
  *                  s in batches < b) − delay_s,   initial wm = 0
  *
  * so ONE lagging source holds the whole query's watermark back, and a
  * row that would be dropped under its own source's watermark is KEPT
  * while any other source lags — the cross-topic hazard (and safety
  * property: no early drops) that single-source tests can never surface.
  * Drops stay window-granular against wm_global; append-mode emission is
  * forced total by flush sentinels staged to BOTH sources.
  *
  * Deterministic operating point (all comparisons tie-free, mod-4
  * discipline as [[WindowedAgg]]): source A's batch b carries segment-b
  * times in the segment's first quarter; source B LAGS one segment
  * (batch b carries segment b−1), so wm_global is always B's, roughly
  * one segment behind A. Two straggler classes on A:
  *   - 1-in-10 rows sit one segment back in the first 1000 ms — behind
  *     A's own watermark (whp) but ahead of the global one: kept, and
  *     kept ONLY because of the min rule (the spec asserts the
  *     counterfactual against the A-only replay);
  *   - 1-in-20 rows sit three segments back — decisively behind even
  *     the global watermark for every possible data layout: dropped.
  *
  * Watermark-restore fine print (pinned by UnionWmSpec's idle-source
  * case): only the ratcheted GLOBAL watermark is checkpointed
  * (OffsetSeqMetadata.batchWatermarkMs) — per-node values rebuild from
  * post-restart data, so the engine's effective schedule is
  * wm(b) = max over b' < b of min over sources of (that batch's node
  * value). The oracle's per-source-prefix-max formulation
  * (min_s(prefixmax_s) − delay) equals that ratcheted form whenever each
  * source's per-batch maxima are monotone — which this operating point
  * guarantees (A's batch b tops out in segment b, B's in segment b−1,
  * stragglers never carry a batch max). A source idle since a restart
  * contributes 0 and pins the global at its restored value — the
  * dead-topic hazard the spec pins explicitly.
  *
  * Scale: state is one row per live window (bounded by delay + window,
  * not corpus), partial-aggregated map-side; adding sources adds
  * watermark bookkeeping, not state. At 10^10 events per topic this runs
  * as written — the two staged dirs only replace two Kafka topics.
  */
object UnionWm {
  import WindowedAgg.{NumBatches, SegmentMs, WindowMs, DelayMs,
    SentinelMs1, SentinelMs2}

  val LateEvery = 10L // A rows one segment back (kept via the min rule)
  val Late3Every = 20L // A rows three segments back (dropped globally)

  private def h(suffix: String) = TextOps.portableHash(
    concat(col("event_id").cast("string"), lit(suffix)))

  /** Source A: batch b carries segment-b times in the first quarter
    * (offsets 1..4997); late1 rows sit one segment back in the first
    * 1000 ms (offsets 1..997); late3 rows sit three segments back.
    */
  def deriveA(events: DataFrame): DataFrame = {
    val b = pmod(h(":uwma"), lit(NumBatches.toLong))
    // b >= 2: at b = 1 the global watermark is already past segment 0's
    // first windows (B's batch 0 carries segment 0 too), so a one-back
    // straggler there would drop globally — b >= 2 keeps the class
    // purely "kept BECAUSE of the min rule" for every data layout
    val late1 = pmod(h(":uwml1"), lit(LateEvery)) === 0L && b >= 2L
    val late3 = pmod(h(":uwml3"), lit(Late3Every)) === 0L && b >= 3L
    val g = when(late1, b - 1L).otherwise(when(late3, b - 3L).otherwise(b))
    val off = when(late1, pmod(h(":uwmsa"), lit(250L)) * 4L + 1L)
      .otherwise(pmod(h(":uwmta"), lit(SegmentMs / 16)) * 4L + 1L)
    events.select(col("event_id"), b.as("b"), (g * SegmentMs + off).as("m"),
      late1.as("late1"), (late3 && !late1).as("late3"))
  }

  /** Source B: batch b carries segment-(b−1) times over the full
    * segment (batch 0 carries segment 0) — the lagging topic that holds
    * the global watermark back.
    */
  def deriveB(events: DataFrame): DataFrame = {
    val b = pmod(h(":uwmb"), lit(NumBatches.toLong))
    val g = greatest(b - 1L, lit(0L))
    events.select(col("event_id"), b.as("b"),
      (g * SegmentMs + pmod(h(":uwmtb"), lit(SegmentMs / 4)) * 4L + 1L).as("m"))
  }

  /** Stages both sources batch-for-batch (file i of each dir forms
    * micro-batch i together) and appends the two flush sentinels to
    * BOTH — the global watermark only advances when every source's
    * does, so a one-sided sentinel would flush nothing.
    */
  def stage(spark: SparkSession, batchesA: Seq[DataFrame],
      batchesB: Seq[DataFrame], dirA: String, dirB: String): Unit = {
    require(batchesA.size == batchesB.size, "sources must stage in lockstep")
    def sentinels(idBase: Long) = Seq(Row(idBase, SentinelMs1), Row(idBase - 1L, SentinelMs2))
    StagedStream.stage(spark, WindowedAgg.stagedSchema, batchesA, dirA, sentinels(-1L))
    StagedStream.stage(spark, WindowedAgg.stagedSchema, batchesB, dirB, sentinels(-3L))
  }

  /** The real streaming pipeline: two file sources over the staged
    * dirs, each with its OWN watermark node, unioned into one
    * tumbling-window aggregation. Each source forms batch i from its
    * file i, so both advance one file per micro-batch together.
    *
    * @param restartPerFile reveal one file per source into `workDir`,
    *   then drain one AvailableNow query, per micro-batch: every batch
    *   restarts the query over the shared checkpoint, so each source's
    *   watermark node is rebuilt from the offset log (per-node
    *   watermarks are not checkpointed, only the global one). A
    *   reference path for UnionWmSpec's per-restart watermark case; the
    *   default drains one query over the staged dirs in place.
    */
  def run(spark: SparkSession, stagedA: String, stagedB: String,
      workDir: String, restartPerFile: Boolean = false): DataFrame = {
    val staged = Seq(stagedA, stagedB)
    def query(dirA: String, dirB: String) = {
      def src(dir: String, tag: String) =
        StagedStream.source(spark, WindowedAgg.stagedSchema, dir, DelayMs)
          .withColumn("src", lit(tag))
      src(dirA, "a").unionByName(src(dirB, "b"))
        .groupBy(window(col("event_time"), s"$WindowMs milliseconds"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(pmod(col("event_id"), lit(97L))).as("s_mod"),
          sum(when(col("src") === "a", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("src") === "b", 1L).otherwise(0L)).as("n_b"))
        .select(unix_millis(col("window.start")).as("w_start"),
          col("n_events"), col("s_mod"), col("n_a"), col("n_b"))
    }
    val fa = graft.util.Fs.listParquet(stagedA).sorted
    val fb = graft.util.Fs.listParquet(stagedB).sorted
    require(fa.size == fb.size, "staged dirs out of lockstep")
    if (restartPerFile) {
      val live = Seq(s"$workDir/liveA", s"$workDir/liveB")
      live.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
      fa.zip(fb).foreach { case (a, b) =>
        Seq(a, b).zip(live).foreach { case (f, dir) =>
          val p = java.nio.file.Paths.get(f)
          java.nio.file.Files.copy(p, java.nio.file.Paths.get(dir, p.getFileName.toString))
        }
        StagedStream.drain(spark, staged)(StagedStream.sink(query(live(0), live(1)), workDir))
      }
    } else StagedStream.drain(spark, staged)(StagedStream.sink(query(stagedA, stagedB), workDir))
    spark.read.parquet(s"$workDir/sink")
      .where(col("w_start") < SentinelMs1) // sentinel window never emits
      .orderBy(col("w_start"))
  }

  /** Whole pipeline over the testdata events table: both sources derive
    * into one frame tagged by `src` and stage into `staged/a`,
    * `staged/b`. */
  def overEvents(spark: SparkSession, events: DataFrame): DataFrame = {
    def tagged(d: DataFrame, tag: String) = d.select(col("event_id"), col("b"), col("m"),
      lit(tag).as("src"))
    StagedStream.overEvents("graft-uwm", NumBatches,
        tagged(deriveA(events), "a").unionByName(tagged(deriveB(events), "b"))) { (bs, dir) =>
      def of(tag: String) = bs.map(_.where(col("src") === tag))
      stage(spark, of("a"), of("b"), s"$dir/a", s"$dir/b")
    } { (staged, work) => run(spark, s"$staged/a", s"$staged/b", work) }
  }

  /** The kept input rows as a batch plan: replays the per-source
    * prefix-max watermark schedule and the window-granular drop rule
    * under `wmSource` ∈ {"min" (the engine's global rule), "a"
    * (single-source counterfactual: what a lone source A query would
    * keep)}. Sentinel batches never enter (they are staging artifacts
    * past every real batch).
    */
  def keptModel(spark: SparkSession, derivedA: DataFrame,
      derivedB: DataFrame, wmSource: String = "min"): DataFrame = {
    def bmax(d: DataFrame, name: String) =
      d.groupBy("b").agg(max("m").as(name))
    val w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    val wms = spark.range(NumBatches).select(col("id").as("b"))
      .join(bmax(derivedA, "amax"), Seq("b"), "left")
      .join(bmax(derivedB, "bmax2"), Seq("b"), "left")
      .select(col("b"),
        coalesce(max("amax").over(w) - DelayMs, lit(0L)).as("wma"),
        coalesce(max("bmax2").over(w) - DelayMs, lit(0L)).as("wmb"))
    val wm = wmSource match {
      case "min" => least(col("wma"), col("wmb"))
      case "a" => col("wma")
      case other => throw new IllegalArgumentException(s"wmSource: $other")
    }
    val unioned =
      derivedA.select(col("event_id"), col("b"), col("m"), lit("a").as("src"))
        .unionByName(
          derivedB.select(col("event_id"), col("b"), col("m"), lit("b").as("src")))
    unioned.join(wms.select(col("b"), wm.as("wm")), Seq("b"))
      .where(col("m") - pmod(col("m"), lit(WindowMs)) + WindowMs > col("wm"))
      .select("event_id", "m", "src")
  }

  /** The emitted windows as a batch plan over [[keptModel]]'s rows. */
  def aggModel(kept: DataFrame): DataFrame =
    kept.groupBy((col("m") - pmod(col("m"), lit(WindowMs))).as("w_start"))
      .agg(count(lit(1)).as("n_events"),
        sum(pmod(col("event_id"), lit(97L))).as("s_mod"),
        sum(when(col("src") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("src") === "b", 1L).otherwise(0L)).as("n_b"))
}
