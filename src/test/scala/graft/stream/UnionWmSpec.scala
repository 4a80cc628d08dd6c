package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UnionWmSpec extends SparkSpec {
  import spark.implicits._

  test("union watermark is the MIN across sources: a lagging source keeps another source's straggler alive") {
    val base = graft.util.Fs.tempDir("graft-uwmspec")
    try {
      // A: batch 2 carries a one-back straggler (key 4, m=20001, window
      // end 21000) and a decisively-old row (key 5, m=1001, end 2000).
      //   A-only wm(2) = max(1001, 24001) - 2002 = 21999 -> key 4 drops.
      //   B lags in segment 0, so wm_global(2) = max(15001,18001) - 2002
      //   = 15999 -> key 4 is KEPT; key 5 (end 2000 <= 15999) drops
      //   under either rule.
      val a0 = Seq((1L, 1001L)).toDF("event_id", "m")
      val a1 = Seq((2L, 24001L)).toDF("event_id", "m")
      val a2 = Seq((3L, 44001L), (4L, 20001L), (5L, 1001L)).toDF("event_id", "m")
      val b0 = Seq((10L, 15001L)).toDF("event_id", "m")
      val b1 = Seq((11L, 18001L)).toDF("event_id", "m")
      val b2 = Seq((12L, 38001L)).toDF("event_id", "m")
      UnionWm.stage(spark, Seq(a0, a1, a2), Seq(b0, b1, b2),
        s"$base/stagedA", s"$base/stagedB")
      val out = UnionWm.run(spark, s"$base/stagedA", s"$base/stagedB", s"$base/work")
        .select("w_start", "n_events", "n_a", "n_b")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(out === Set(
        (1000L, 1L, 1L, 0L), (24000L, 1L, 1L, 0L), (44000L, 1L, 1L, 0L),
        (20000L, 1L, 1L, 0L), // key 4: alive ONLY because B held the wm back
        (15000L, 1L, 0L, 1L), (18000L, 1L, 0L, 1L), (38000L, 1L, 0L, 1L)))
      // the A-only counterfactual replay drops key 4 (and key 5)
      val da = Seq((1L, 0L, 1001L), (2L, 1L, 24001L), (3L, 2L, 44001L),
        (4L, 2L, 20001L), (5L, 2L, 1001L)).toDF("event_id", "b", "m")
      val db = Seq((10L, 0L, 15001L), (11L, 1L, 18001L), (12L, 2L, 38001L))
        .toDF("event_id", "b", "m")
      val keptA = UnionWm.keptModel(spark, da, db, "a")
        .where(col("src") === "a").select("event_id").as[Long].collect().toSet
      assert(keptA === Set(1L, 2L, 3L))
    } finally graft.util.Fs.deleteRecursively(base)
  }

  test("multipleWatermarkPolicy=max flips the rule: the lagging source no longer shields stragglers") {
    val base = graft.util.Fs.tempDir("graft-uwmmax")
    try {
      // identical staging to the min-rule case; under policy=max the
      // global wm(2) = max(21999, 15999) = 21999, so key 4 (end 21000)
      // now DROPS — the exact row the default min rule keeps
      val fresh = spark.newSession()
      fresh.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "max")
      val a0 = Seq((1L, 1001L)).toDF("event_id", "m")
      val a1 = Seq((2L, 24001L)).toDF("event_id", "m")
      val a2 = Seq((3L, 44001L), (4L, 20001L), (5L, 1001L)).toDF("event_id", "m")
      val b0 = Seq((10L, 15001L)).toDF("event_id", "m")
      val b1 = Seq((11L, 18001L)).toDF("event_id", "m")
      val b2 = Seq((12L, 38001L)).toDF("event_id", "m")
      UnionWm.stage(fresh, Seq(a0, a1, a2), Seq(b0, b1, b2),
        s"$base/stagedA", s"$base/stagedB")
      val out = UnionWm.run(fresh, s"$base/stagedA", s"$base/stagedB", s"$base/work")
        .select("w_start", "n_a", "n_b")
        .as[(Long, Long, Long)].collect().toSet
      assert(out === Set(
        (1000L, 1L, 0L), (24000L, 1L, 0L), (44000L, 1L, 0L),
        (15000L, 0L, 1L), (18000L, 0L, 1L), (38000L, 0L, 1L)))
    } finally graft.util.Fs.deleteRecursively(base)
  }

  test("a source idle since restart pins the global watermark at its restored value: nothing drops") {
    val base = graft.util.Fs.tempDir("graft-uwmidle")
    // the hazard pinned here is RESTART-specific: per-node watermarks
    // are not checkpointed, so only a restart rebuilds B's node at 0
    // (within one continuous run B's in-memory node value survives its
    // idle batches) — run this case under the restart-per-file driver
    try {
      // B delivers only in batch 0 and is empty afterwards. Per-NODE
      // watermarks are not checkpointed — only the ratcheted global is
      // (OffsetSeqMetadata carries batchWatermarkMs alone) — so after
      // each per-reveal restart B's node rebuilds at 0 until B delivers
      // again, and min-policy keeps the global at its restored value:
      // here min(0, 12999) = 0 from batch 0, then 0 forever. EVERY A
      // row survives, including m=1001 arriving at batch 2 (end 2000 —
      // a row A's own watermark, 21999, passed two segments ago). The
      // sentinel batches deliver to BOTH sources, so the final flush
      // still emits everything. This is the operational shape of a
      // dead topic after a restart: no drops, unbounded liveness of
      // late data, state growth until the topic wakes.
      val a0 = Seq((1L, 1001L)).toDF("event_id", "m")
      val a1 = Seq((2L, 24001L)).toDF("event_id", "m")
      val a2 = Seq((3L, 44001L), (4L, 14001L), (5L, 1001L)).toDF("event_id", "m")
      val b0 = Seq((10L, 15001L)).toDF("event_id", "m")
      val bEmpty = Seq.empty[(Long, Long)].toDF("event_id", "m")
      UnionWm.stage(spark, Seq(a0, a1, a2), Seq(b0, bEmpty, bEmpty),
        s"$base/stagedA", s"$base/stagedB")
      val out = UnionWm.run(spark, s"$base/stagedA", s"$base/stagedB", s"$base/work",
          restartPerFile = true)
        .select("w_start", "n_a", "n_b")
        .as[(Long, Long, Long)].collect().toSet
      assert(out === Set(
        (1000L, 2L, 0L), // keys 1 AND 5: the idle source blocked every drop
        (24000L, 1L, 0L), (44000L, 1L, 0L),
        (14000L, 1L, 0L),
        (15000L, 0L, 1L)))
    } finally graft.util.Fs.deleteRecursively(base)
  }

  test("streaming union agg equals the min-watermark model on real data; the min rule is load-bearing") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val got = UnionWm.overEvents(spark, events)
      .select("w_start", "n_events", "s_mod", "n_a", "n_b")
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    val da = UnionWm.deriveA(events).cache()
    val db = UnionWm.deriveB(events).cache()
    val expected = UnionWm.aggModel(UnionWm.keptModel(spark, da, db))
      .select("w_start", "n_events", "s_mod", "n_a", "n_b")
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got.nonEmpty)
    assert(got === expected)
    val keptMin = UnionWm.keptModel(spark, da, db)
      .where(col("src") === "a").select("event_id").as[Long].collect().toSet
    val keptAOnly = UnionWm.keptModel(spark, da, db, "a")
      .where(col("src") === "a").select("event_id").as[Long].collect().toSet
    val late1 = da.where(col("late1")).select("event_id").as[Long].collect().toSet
    val late3 = da.where(col("late3")).select("event_id").as[Long].collect().toSet
    assert(late1.nonEmpty && late3.nonEmpty)
    // every one-back straggler survives the global (min) watermark...
    assert(late1.subsetOf(keptMin))
    // ...and some of them exist ONLY because of the min rule
    assert((late1 -- keptAOnly).nonEmpty)
    assert(keptAOnly.subsetOf(keptMin))
    // three-back stragglers drop under the global watermark regardless
    assert((late3 & keptMin).isEmpty)
    da.unpersist(); db.unpersist()
  }
}
