package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WindowedAggSpec extends SparkSpec {
  import spark.implicits._

  test("drop is window-granular: a straddling late row is kept, a passed window's row drops") {
    val base = graft.util.Fs.tempDir("graft-waggspec")
    try {
      // batch 0 raises the watermark to 19997 - 2002 = 17995 for batch 1:
      //   m=17001: row older than the watermark, but its window [17000,
      //            18000) is still live (end 18000 > 17995) -> KEPT
      //   m=16001: window [16000,17000) end 17000 <= 17995 -> DROPPED
      //   m=21001: ahead of the watermark -> kept
      val b0 = Seq((1L, 19997L)).toDF("event_id", "m")
      val b1 = Seq((2L, 17001L), (3L, 16001L), (4L, 21001L)).toDF("event_id", "m")
      WindowedAgg.stage(spark, Seq(b0, b1), s"$base/staged")
      val out = WindowedAgg.run(spark, s"$base/staged", s"$base/work")
        .select("w_start", "n_events").as[(Long, Long)].collect().toMap
      assert(out === Map(19000L -> 1L, 17000L -> 1L, 21000L -> 1L))
    } finally graft.util.Fs.deleteRecursively(base)
  }

  test("streaming run matches the batch drop/emit model on real data; append emits once") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val got = WindowedAgg.overEvents(spark, events)
      .select("w_start", "n_events", "s_mod", "max_ms")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val expected = WindowedAgg.keptModel(WindowedAgg.derive(events))
      .groupBy((floor(col("m") / WindowedAgg.WindowMs) * WindowedAgg.WindowMs).as("w_start"))
      .agg(count(lit(1)).as("n_events"),
        sum(pmod(col("event_id"), lit(97L))).as("s_mod"),
        max(col("m")).as("max_ms"))
      .select("w_start", "n_events", "s_mod", "max_ms")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got.nonEmpty)
    assert(got === expected)
    assert(got.map(_._1).distinct.size === got.size) // one emission per window
    assert(got.forall(_._1 < WindowedAgg.SentinelMs1)) // sentinels never emit
  }

  test("the drain reads the staged dir in place: one staged file per micro-batch, no copy") {
    val base = graft.util.Fs.tempDir("graft-waggdrain")
    try {
      val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      val derived = WindowedAgg.derive(events)
      WindowedAgg.stage(spark, (0 until WindowedAgg.NumBatches).map(i =>
        derived.where(col("b") === i.toLong)), s"$base/staged")
      val got = WindowedAgg.run(spark, s"$base/staged", s"$base/work")
        .select("w_start", "n_events", "s_mod", "max_ms")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq

      assert(graft.util.Fs.listDir(java.nio.file.Paths.get(s"$base/work"))
        .map(_.getFileName.toString).toSet === Set("sink", "ckpt"))

      // the file-source log (compacted or not): (path, batchId) entries
      val entries = graft.util.Fs.listDir(java.nio.file.Paths.get(s"$base/work/ckpt/sources/0"))
        .filterNot(_.getFileName.toString.startsWith("."))
        .flatMap(f => java.nio.file.Files.readString(f).split("\n"))
        .flatMap { line =>
          val path = "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(line).map(_.group(1))
          val batch = "\"batchId\":(\\d+)".r.findFirstMatchIn(line).map(_.group(1).toLong)
          path.zip(batch).map { case (p, b) =>
            (new org.apache.hadoop.fs.Path(p).toUri.getPath, b) }
        }.distinct
      val staged = graft.util.Fs.listParquet(s"$base/staged")
      // data files, spacers and the two flush sentinels
      assert(staged.size === 2 * (WindowedAgg.NumBatches + 2) - 1)
      assert(entries.map(_._1).sorted === staged.sorted) // each staged file, once
      assert(entries.map(_._2).distinct.size === entries.size) // one file per batch

      val expected = WindowedAgg.keptModel(derived)
        .groupBy((floor(col("m") / WindowedAgg.WindowMs) * WindowedAgg.WindowMs).as("w_start"))
        .agg(count(lit(1)).as("n_events"),
          sum(pmod(col("event_id"), lit(97L))).as("s_mod"),
          max(col("m")).as("max_ms"))
        .select("w_start", "n_events", "s_mod", "max_ms")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
      assert(got.nonEmpty)
      assert(got === expected)
    } finally graft.util.Fs.deleteRecursively(base)
  }

  test("stragglers actually exercise the drop path on real data") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val derived = WindowedAgg.derive(events)
    val dropped = derived.count() - WindowedAgg.keptModel(derived).count()
    assert(dropped > 0L)
  }

  test("sessions merge across micro-batches; expired stragglers never touch state") {
    val base = graft.util.Fs.tempDir("graft-saggspec")
    try {
      // user 5's burst straddles the batch-0/1 boundary (delta 4 ms <
      // gap 2001) -> the state store must fuse the two fragments into
      // ONE session; batch 2's straggler (m=1001, watermark 21999) is
      // expired on arrival and must not resurrect a segment-0 session
      val b0 = Seq((1L, 5L, 19997L)).toDF("event_id", "user_id", "m")
      val b1 = Seq((2L, 5L, 20001L), (3L, 7L, 24001L)).toDF("event_id", "user_id", "m")
      val b2 = Seq((4L, 5L, 1001L)).toDF("event_id", "user_id", "m")
      SessionAgg.stage(spark, Seq(b0, b1, b2), s"$base/staged")
      val out = SessionAgg.run(spark, s"$base/staged", s"$base/work")
        .select("user_id", "s_start", "s_end", "n_events", "s_mod")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(out === Set(
        (5L, 19997L, 22002L, 2L, 3L),
        (7L, 24001L, 26002L, 1L, 3L)))
    } finally graft.util.Fs.deleteRecursively(base)
  }

  test("streaming sessions equal the gaps-and-islands model on real data") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val got = SessionAgg.overEvents(spark, events)
      .select("user_id", "s_start", "s_end", "n_events", "s_mod")
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    val derived = SessionAgg.derive(events)
    val model = SessionAgg.sessionModel(derived)
    val expected = model
      .select("user_id", "s_start", "s_end", "n_events", "s_mod")
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got.nonEmpty)
    assert(got === expected)
    // the stateful claim is real on this corpus: at least one session's
    // rows arrived in two different micro-batches
    val kept = derived.where(!col("late"))
    val spans = model.join(kept,
        kept("user_id") === model("user_id") &&
          kept("m") >= model("s_start") && kept("m") < model("s_end"))
      .groupBy(model("user_id"), col("s_start"))
      .agg(countDistinct(col("b")).as("nb"))
    assert(spans.agg(max(col("nb"))).as[Long].head() >= 2L)
  }

  test("dedup state expiry is checked at lookup time (probe pin)") {
    val base = graft.util.Fs.tempDir("graft-sdspec")
    try {
      // key 10's copy lands inside the state lifetime -> dropped;
      // key 20's state is EXPIRED by the copy's batch watermark (17996
      // > 5+2001) with no intervening eviction commit -> re-emitted,
      // pinning the lookup-time check; key 30's copy arrives after a
      // commit passed its expiry -> re-emitted under any semantics
      val b0 = Seq((10L, 19997L, "o"), (20L, 5L, "o"), (30L, 9L, "o"))
        .toDF("key", "m", "src")
      val b1 = Seq((10L, 20001L, "c"), (20L, 20005L, "c")).toDF("key", "m", "src")
      val b2 = Seq((30L, 40009L, "c")).toDF("key", "m", "src")
      StreamDedup.stage(spark, Seq(b0, b1, b2), s"$base/staged")
      val out = StreamDedup.run(spark, s"$base/staged", s"$base/work")
        .select("key", "m", "src").as[(Long, Long, String)].collect().toSet
      assert(out === Set(
        (10L, 19997L, "o"), (20L, 5L, "o"), (30L, 9L, "o"),
        (20L, 20005L, "c"), (30L, 40009L, "c")))
    } finally graft.util.Fs.deleteRecursively(base)
  }

  test("streaming dedup equals the lookup-expiry model on real data; both outcomes occur") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val got = StreamDedup.overEvents(spark, events)
      .select("key", "m", "src").as[(Long, Long, String)].collect().sorted.toSeq
    val derived = StreamDedup.derive(events)
    val expected = StreamDedup.emittedModel(derived)
      .select("key", "m", "src").as[(Long, Long, String)].collect().sorted.toSeq
    assert(got.nonEmpty)
    assert(got === expected)
    val copiesStaged = derived.where(col("src") === "c").count()
    val copiesEmitted = got.count(_._3 == "c")
    assert(copiesEmitted > 0, "no copy survived state expiry")
    assert(copiesEmitted < copiesStaged, "no copy was deduplicated")
  }

  test("stream-stream join: state spans the batch boundary, watermark-expired input never joins") {
    val base = graft.util.Fs.tempDir("graft-sjspec")
    try {
      // (1,2): left arrives a batch before its right partner -> the
      // pair exists only if the left row was HELD in join state.
      // (3,4): same-batch pair. key 6 (batch 2, m=19997) is a straggler
      // that would qualify against key 2 (delta 4ms) but sits far below
      // the watermark (37995) -> must be suppressed; key 9 only raises
      // the watermark.
      val b0 = Seq((1L, 5L, 19001L, "l"), (3L, 8L, 5001L, "l"), (4L, 8L, 6001L, "r"))
        .toDF("key", "user_id", "m", "side")
      val b1 = Seq((2L, 5L, 20001L, "r"), (9L, 99L, 39997L, "r"))
        .toDF("key", "user_id", "m", "side")
      val b2 = Seq((6L, 5L, 19997L, "l")).toDF("key", "user_id", "m", "side")
      StreamJoin.stage(spark, Seq(b0, b1, b2), s"$base/staged")
      val out = StreamJoin.run(spark, s"$base/staged", s"$base/work")
        .select("l_key", "r_key").as[(Long, Long)].collect().toSet
      assert(out === Set((1L, 2L), (3L, 4L)))
    } finally graft.util.Fs.deleteRecursively(base)
  }

  test("streaming join equals the interval-join model on real data; cross-batch pairs occur") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val got = StreamJoin.overEvents(spark, events)
      .select("l_key", "r_key", "user_id", "l_ms", "r_ms")
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    val derived = StreamJoin.derive(events)
    val expected = StreamJoin.joinedModel(derived)
      .select("l_key", "r_key", "user_id", "l_ms", "r_ms")
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got.nonEmpty)
    assert(got === expected)
    // pairs whose sides arrived in different batches prove the state
    // store carried one side across the boundary
    val batchOf = derived.select(col("key"), col("b")).as[(Long, Long)]
      .collect().toMap
    assert(got.exists(p => batchOf(p._1) != batchOf(p._2)))
    // and the straggler gate actually subtracted qualifying pairs
    val withLate = StreamJoin.joinedModel(derived.withColumn("late", lit(false))).count()
    assert(withLate > expected.size.toLong)
  }

  test("left-outer join: unmatched lefts null-emit on flush, matched never null, expired input emits nothing") {
    val base = graft.util.Fs.tempDir("graft-sjlospec")
    try {
      // key 1 matches key 2 cross-batch (must NOT also null-emit);
      // key 3 has no partner (must null-emit after the sentinel flush);
      // key 6 is a watermark-expired left straggler (batch 2, m=19997
      // vs wm 37995) that would qualify against key 2 — it must be
      // suppressed entirely: no pair AND no null row.
      val b0 = Seq((1L, 5L, 19001L, "l"), (3L, 8L, 5001L, "l"))
        .toDF("key", "user_id", "m", "side")
      val b1 = Seq((2L, 5L, 20001L, "r"), (9L, 99L, 39997L, "r"))
        .toDF("key", "user_id", "m", "side")
      val b2 = Seq((6L, 5L, 19997L, "l")).toDF("key", "user_id", "m", "side")
      val sentinels = Seq(
        Seq((-1L, StreamJoinOuter.SentinelUser, WindowedAgg.SentinelMs1, "r"))
          .toDF("key", "user_id", "m", "side"),
        Seq((-2L, StreamJoinOuter.SentinelUser, WindowedAgg.SentinelMs2, "r"))
          .toDF("key", "user_id", "m", "side"))
      StreamJoin.stage(spark, Seq(b0, b1, b2) ++ sentinels, s"$base/staged")
      val out = StreamJoinOuter.run(spark, s"$base/staged", s"$base/work")
        .select("l_key", "r_key").as[(Long, Option[Long])].collect().toSet
      assert(out === Set((1L, Some(2L)), (3L, None)))
    } finally graft.util.Fs.deleteRecursively(base)
  }

  test("streaming left-outer join equals the LEFT interval-join model on real data; null rows occur") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val got = StreamJoinOuter.overEvents(spark, events)
      .select("l_key", "r_key", "user_id", "l_ms", "r_ms")
      .as[(Long, Option[Long], Long, Long, Option[Long])].collect().sorted.toSeq
    val derived = StreamJoin.derive(events)
    val expected = StreamJoinOuter.joinedModel(derived)
      .select("l_key", "r_key", "user_id", "l_ms", "r_ms")
      .as[(Long, Option[Long], Long, Long, Option[Long])].collect().sorted.toSeq
    assert(got.nonEmpty)
    assert(got === expected)
    // both outcomes occur: real inner pairs AND watermark-flushed nulls
    assert(got.exists(_._2.isDefined))
    assert(got.exists(_._2.isEmpty))
    // sentinels never leak into the output
    assert(!got.exists(_._3 == StreamJoinOuter.SentinelUser))
  }

  test("full-outer join: unmatched rights null-emit too, matched never null, expired input and sentinels emit nothing") {
    val base = graft.util.Fs.tempDir("graft-sjfospec")
    try {
      // key 1 matches key 2 cross-batch (must NOT also null-emit either
      // direction); key 3 is an unmatched LEFT (null right after flush);
      // key 7 is an unmatched RIGHT (null left after flush — the
      // direction left-outer never emits); key 6 is a watermark-expired
      // left straggler that would qualify against key 2 — suppressed
      // entirely. The sentinels sit in right state forever (expiry
      // 203002 > final wm 198003) and must not surface.
      val b0 = Seq((1L, 5L, 19001L, "l"), (3L, 8L, 5001L, "l"), (7L, 42L, 7001L, "r"))
        .toDF("key", "user_id", "m", "side")
      val b1 = Seq((2L, 5L, 20001L, "r"), (9L, 99L, 39997L, "r"))
        .toDF("key", "user_id", "m", "side")
      val b2 = Seq((6L, 5L, 19997L, "l")).toDF("key", "user_id", "m", "side")
      val sentinels = Seq(
        Seq((-1L, StreamJoinOuter.SentinelUser, WindowedAgg.SentinelMs1, "r"))
          .toDF("key", "user_id", "m", "side"),
        Seq((-2L, StreamJoinOuter.SentinelUser, WindowedAgg.SentinelMs2, "r"))
          .toDF("key", "user_id", "m", "side"))
      StreamJoin.stage(spark, Seq(b0, b1, b2) ++ sentinels, s"$base/staged")
      val out = StreamJoinFull.run(spark, s"$base/staged", s"$base/work")
        .select("l_key", "r_key", "user_id")
        .as[(Option[Long], Option[Long], Long)].collect().toSet
      assert(out === Set(
        (Some(1L), Some(2L), 5L),
        (Some(3L), None, 8L),
        (None, Some(7L), 42L),
        (None, Some(9L), 99L)))
    } finally graft.util.Fs.deleteRecursively(base)
  }

  test("streaming full-outer join equals the FULL interval-join model on real data; both null directions occur") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val got = StreamJoinFull.overEvents(spark, events)
      .select("l_key", "r_key", "user_id", "l_ms", "r_ms")
      .as[(Option[Long], Option[Long], Long, Option[Long], Option[Long])]
      .collect().sorted.toSeq
    val derived = StreamJoin.derive(events)
    val expected = StreamJoinFull.joinedModel(derived)
      .select("l_key", "r_key", "user_id", "l_ms", "r_ms")
      .as[(Option[Long], Option[Long], Long, Option[Long], Option[Long])]
      .collect().sorted.toSeq
    assert(got.nonEmpty)
    assert(got === expected)
    // all three outcomes occur: inner pairs, null-right, null-left
    assert(got.exists(p => p._1.isDefined && p._2.isDefined))
    assert(got.exists(p => p._1.isDefined && p._2.isEmpty))
    assert(got.exists(p => p._1.isEmpty && p._2.isDefined))
    // sentinels never surface even though full outer emits unmatched rights
    assert(!got.exists(_._3 == StreamJoinOuter.SentinelUser))
  }

  test("chained join->window agg: watermark propagates through the join; cross-batch pairs count in the right window") {
    val base = graft.util.Fs.tempDir("graft-sjaggspec")
    try {
      // (1,2): cross-batch pair (left held in join state) -> window
      // 19000 of l_ms=19001; (3,4): same-batch pair -> window 5000; the
      // expired straggler key 6 joins nothing; the sentinels drive the
      // agg flush through the join's watermark horizon.
      val b0 = Seq((1L, 5L, 19001L, "l"), (3L, 8L, 5001L, "l"), (4L, 8L, 6001L, "r"))
        .toDF("key", "user_id", "m", "side")
      val b1 = Seq((2L, 5L, 20001L, "r"), (9L, 99L, 39997L, "r"))
        .toDF("key", "user_id", "m", "side")
      val b2 = Seq((6L, 5L, 19997L, "l")).toDF("key", "user_id", "m", "side")
      val sentinels = Seq(
        Seq((-1L, StreamJoinOuter.SentinelUser, WindowedAgg.SentinelMs1, "r"))
          .toDF("key", "user_id", "m", "side"),
        Seq((-2L, StreamJoinOuter.SentinelUser, WindowedAgg.SentinelMs2, "r"))
          .toDF("key", "user_id", "m", "side"))
      StreamJoin.stage(spark, Seq(b0, b1, b2) ++ sentinels, s"$base/staged")
      val out = StreamJoinAgg.run(spark, s"$base/staged", s"$base/work")
        .select("w_start", "n_pairs", "s_mod")
        .as[(Long, Long, Long)].collect().toSet
      assert(out === Set((19000L, 1L, 3L), (5000L, 1L, 7L)))
    } finally graft.util.Fs.deleteRecursively(base)
  }

  test("chained join->agg equals the batch join-then-group model on real data") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val got = StreamJoinAgg.overEvents(spark, events)
      .select("w_start", "n_pairs", "s_mod")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val derived = StreamJoin.derive(events)
    val expected = StreamJoinAgg.aggModel(derived)
      .select("w_start", "n_pairs", "s_mod")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got.nonEmpty)
    assert(got === expected)
    // windows fed by pairs whose sides arrived in different batches
    // prove the chain carried join state AND agg state across reveals
    val batchOf = derived.select(col("key"), col("b")).as[(Long, Long)]
      .collect().toMap
    val crossBatch = StreamJoin.joinedModel(derived)
      .select("l_key", "r_key").as[(Long, Long)].collect()
      .filter(p => batchOf(p._1) != batchOf(p._2))
    assert(crossBatch.nonEmpty)
  }
}
