package graft.stream

import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
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

  /** Writes one parquet file per micro-batch (modtime-ordered, so the
    * file stream source forms batch i from file i). All frames must
    * share one schema; the last entries are normally the flush
    * sentinels.
    */
  private[stream] def stageFiles(batches: Seq[DataFrame], dir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val base = 1700000000000L // fixed epoch base: stable ordering across runs
    // ONE Spark job stages every data file: the frames are tagged with
    // their batch index, shuffled so each index lands wholly in one
    // task, and written `partitionBy` on the index; driver-side renames
    // + explicit modtimes then fix the layout the file source expects.
    // (Formerly one repartition(1) job PER file — 5-11 driver-serial
    // jobs per cell even pool-parallelized; per-job overhead dominated
    // at fixture scale. Batch formation is unchanged: same file names,
    // same modtime schedule, same one-file-per-batch content; row order
    // WITHIN a staged file is immaterial — every consumer aggregates,
    // sorts per key in the handler, or keys rows uniquely.)
    locally {
      val tagged = batches.zipWithIndex
        .map { case (df, i) => df.withColumn("__sb", lit(i)) }
        .reduce(_ unionByName _)
      val tmp = graft.util.Fs.tempDir("graft-wagg-stage")
      try {
        tagged.repartition(col("__sb"))
          .write.mode("overwrite").partitionBy("__sb").parquet(tmp)
        (0 until batches.size).foreach { i =>
          val partDir = java.nio.file.Paths.get(tmp, s"__sb=$i")
          val dest = java.nio.file.Paths.get(dir, f"batch-$i%03d.parquet")
          if (java.nio.file.Files.isDirectory(partDir)) {
            val part = graft.util.Fs.listParquet(partDir.toString).head
            java.nio.file.Files.move(java.nio.file.Paths.get(part), dest)
          } else {
            // an EMPTY frame writes no partition dir; it must still
            // stage a file (an empty staged file is a real no-data
            // micro-batch in the schedule)
            val e = s"$tmp/__empty$i"
            batches(i).limit(0).repartition(1).write.mode("overwrite").parquet(e)
            java.nio.file.Files.move(
              java.nio.file.Paths.get(graft.util.Fs.listParquet(e).head), dest)
          }
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
        }
      } finally graft.util.Fs.deleteRecursively(tmp)
    }
    // WATERMARK-SCHEDULE SPACERS: one EMPTY file between consecutive
    // data files. Spark filters late events with the PREVIOUS batch's
    // watermark and evicts with the current one (the SPARK-40925
    // two-watermark design); the restart-per-reveal driver interposed a
    // no-data batch after every data batch, persisting the freshly
    // advanced watermark, so each DATA batch filtered late rows with
    // W(batches < b) — the schedule the SQL oracles replay. An empty
    // spacer batch reproduces that schedule inside ONE run: it carries
    // no rows (advances nothing itself), but the next data batch's
    // previous-batch watermark then equals its eviction watermark —
    // bit-identical drop/emit decisions at a fraction of a restart's
    // cost. Named/timed to interleave strictly between data files in
    // both lexicographic and modtime order.
    if (batches.size > 1) {
      val tmp = graft.util.Fs.tempDir("graft-wagg-spacer")
      try {
        batches.head.limit(0).repartition(1).write.mode("overwrite").parquet(tmp)
        val empty = java.nio.file.Paths.get(graft.util.Fs.listParquet(tmp).head)
        (0 until batches.size - 1).foreach { i =>
          val dest = java.nio.file.Paths.get(dir, f"batch-$i%03db.parquet")
          java.nio.file.Files.copy(empty, dest)
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L + 500L))
        }
      } finally graft.util.Fs.deleteRecursively(tmp)
    }
  }

  /** (event_id, m) staging with the two flush sentinels appended. */
  def stage(spark: SparkSession, batches: Seq[DataFrame], dir: String): Unit = {
    import spark.implicits._
    val sentinels = Seq(
      Seq((-1L, SentinelMs1)).toDF("event_id", "m"),
      Seq((-2L, SentinelMs2)).toDF("event_id", "m"))
    stageFiles(batches.map(
      _.select(col("event_id").cast("long"), col("m").cast("long"))) ++ sentinels, dir)
  }

  /** Closes a stopped query run's state-store providers synchronously,
    * scoped by queryRunId, so a concurrent harness query in the same
    * JVM is untouched. A query restarted over the SHARED checkpoint has
    * a new queryRunId, so without this the JVM's state-store registry
    * keeps the stopped run's provider instances (full state maps on
    * heap) until periodic maintenance notices they're inactive — and a
    * stale instance's maintenance snapshot can race the new instance's
    * write on the same checkpoint file (observed: FileNotFoundException
    * renaming a `.snapshot.crc` tmp at sf0.001 under the chained
    * join→agg, killing the query). Each run then starts with exactly
    * one instance per store, and snapshots stay on their default
    * cadence.
    */
  private[stream] def releaseStateStores(runId: java.util.UUID): Unit =
    org.apache.spark.sql.graft.SparkInternals.unloadStateStoresForRun(runId)

  /** One-file-per-micro-batch driver: stage every file with its strictly
    * increasing modification time preserved and drain ONE AvailableNow
    * query whose file source is rate-limited to one file per
    * micro-batch (`maxFilesPerTrigger=1` on every harness source) — the
    * file source forms batch i from file i (modtime order), the
    * watermark advances at exactly the same micro-batch boundaries, and
    * the emitted set is identical to revealing the files one restart at
    * a time; what changes is paying query start/stop, state reload and
    * the no-data flush batch once per CELL instead of once per FILE
    * (measured ~3-4x on the stream_* bench cells). An extra no-data
    * batch only shifts WHEN a window emits, never whether: drops use
    * the arrival batch's watermark, and the final emitted set is fixed
    * by the flush sentinels. The checkpoint-resume contract is pinned
    * by the specs and `cdc_engine_replay_ss`, and the restart-per-file
    * driver by `UnionWm.run(restartPerFile = true)`.
    */
  private[stream] def driveRevealed(stagedDir: String,
      start: String => org.apache.spark.sql.streaming.StreamingQuery,
      liveDir: String): Unit = {
    val files = graft.util.Fs.listParquet(stagedDir).sorted
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(liveDir))
    files.foreach { f =>
      val p = java.nio.file.Paths.get(f)
      val dest = java.nio.file.Paths.get(liveDir, p.getFileName.toString)
      java.nio.file.Files.copy(p, dest)
      // batch formation is by modtime order: preserve the staged times
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.Files.getLastModifiedTime(p))
    }
    val q = start(liveDir)
    q.awaitTermination()
    releaseStateStores(q.runId)
  }

  /** Scale-adaptive shuffle/state partition count for a drained harness
    * stream (guide §2.2: size partitions from the DATA, not from the
    * machine): staged input bytes / 32 MB per partition, clamped
    * between 1 and the session's configured shuffle partitions — a
    * cluster-sized session keeps its configured parallelism; only a
    * small staged state sheds the per-partition per-batch state-store
    * fixed costs (open/commit/snapshot per store instance, x4 instances
    * for a stream-stream join).
    */
  private[stream] def adaptiveStatePartitions(spark: SparkSession,
      stagedDirs: String*): Int =
    adaptivePartitionsFor(spark, 32L << 20, stagedDirs)

  /** Partition sizing for PER-ROW-STATE drains (transformWithState with
    * per-event RocksDB get/merge/put work, e.g. the session-profile
    * MapState pipelines): a partition saturates on JNI/state CPU far
    * below the shuffle-byte target above, so these drains use a much
    * smaller per-partition byte budget (256 KB), still clamped by the
    * session's configured parallelism — measured 18.5 -> 12.8 s on the
    * profile-store cell at 8 vs 1 partitions, flat on the low-volume
    * funnel cells.
    */
  private[stream] def adaptiveTwsPartitions(spark: SparkSession,
      stagedDirs: String*): Int =
    adaptivePartitionsFor(spark, 256L << 10, stagedDirs)

  private def adaptivePartitionsFor(spark: SparkSession, per: Long,
      stagedDirs: Seq[String]): Int = {
    val bytes = stagedDirs.flatMap(graft.util.Fs.listParquet(_))
      .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
    val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(cur, ((bytes + per - 1) / per).toInt))
  }

  /** Runs `body` with the session's shuffle partitions set to `n`, then
    * restores the prior value — the [[StateStores.withRocksDb]]
    * discipline: the conf is read at query start, and every harness
    * query is drained inside `body`, so restoring afterwards is safe
    * and a shared session's parallelism never depends on which harness
    * ran last.
    */
  private[stream] def withShufflePartitions[A](spark: SparkSession, n: Int)(
      body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Runs the REAL streaming pipeline over a staged dir: file source
    * (one file revealed per run) → watermark → tumbling-window agg →
    * append parquet sink; returns the finalized windows (sentinels
    * excluded).
    */
  def run(spark: SparkSession, stagedDir: String, workDir: String): DataFrame = {
    def start(liveDir: String) = {
      val src = spark.readStream.schema(stagedSchema)
        .option("maxFilesPerTrigger", 1).parquet(liveDir)
      src.withColumn("event_time", timestamp_millis(col("m")))
        .withWatermark("event_time", s"$DelayMs milliseconds")
        .groupBy(window(col("event_time"), s"$WindowMs milliseconds"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(pmod(col("event_id"), lit(97L))).as("s_mod"),
          max(col("m")).as("max_ms"))
        .select(unix_millis(col("window.start")).as("w_start"),
          col("n_events"), col("s_mod"), col("max_ms"))
        .writeStream.format("parquet")
        .option("path", s"$workDir/sink")
        .option("checkpointLocation", s"$workDir/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    withShufflePartitions(spark, adaptiveStatePartitions(spark, stagedDir)) {
      driveRevealed(stagedDir, start, s"$workDir/live")
    }
    spark.read.parquet(s"$workDir/sink")
      .where(col("w_start") < SentinelMs1) // defense-in-depth; never emits
      .orderBy(col("w_start"))
  }

  /** The whole pipeline over the testdata events table: derive →
    * stage by batch → stream → finalized windows.
    */
  def overEvents(spark: SparkSession, events: DataFrame): DataFrame = {
    val base = graft.util.Fs.tempDir("graft-wagg")
    try {
      val d = derive(events)
      d.cache()
      val batches = (0 until NumBatches).map(i =>
        d.where(col("b") === i.toLong).select("event_id", "m"))
      stage(spark, batches, s"$base/staged")
      d.unpersist()
      val out = run(spark, s"$base/staged", s"$base/work")
      out.cache(); out.count() // materialize before temp dir cleanup
      out
    } finally graft.util.Fs.deleteRecursively(base)
  }

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

  def stage(spark: SparkSession, batches: Seq[DataFrame], dir: String): Unit = {
    import spark.implicits._
    val sentinels = Seq(
      Seq((-1L, -1L, WindowedAgg.SentinelMs1)).toDF("event_id", "user_id", "m"),
      Seq((-2L, -2L, WindowedAgg.SentinelMs2)).toDF("event_id", "user_id", "m"))
    WindowedAgg.stageFiles(batches.map(_.select(col("event_id").cast("long"),
      col("user_id").cast("long"), col("m").cast("long"))) ++ sentinels, dir)
  }

  /** The real streaming query: session_window(gap) per user under the
    * watermark, append mode; returns finalized sessions (sentinel keys
    * excluded).
    */
  def run(spark: SparkSession, stagedDir: String, workDir: String): DataFrame = {
    def start(liveDir: String) = {
      val src = spark.readStream.schema(stagedSchema)
        .option("maxFilesPerTrigger", 1).parquet(liveDir)
      src.withColumn("event_time", timestamp_millis(col("m")))
        .withWatermark("event_time", s"${WindowedAgg.DelayMs} milliseconds")
        .groupBy(session_window(col("event_time"), s"$GapMs milliseconds"),
          col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(pmod(col("event_id"), lit(97L))).as("s_mod"))
        .select(col("user_id"),
          unix_millis(col("session_window.start")).as("s_start"),
          unix_millis(col("session_window.end")).as("s_end"),
          col("n_events"), col("s_mod"))
        .writeStream.format("parquet")
        .option("path", s"$workDir/sink")
        .option("checkpointLocation", s"$workDir/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    WindowedAgg.withShufflePartitions(spark,
        WindowedAgg.adaptiveStatePartitions(spark, stagedDir)) {
      WindowedAgg.driveRevealed(stagedDir, start, s"$workDir/live")
    }
    spark.read.parquet(s"$workDir/sink")
      .where(col("user_id") >= 0L)
      .orderBy(col("user_id"), col("s_start"))
  }

  def overEvents(spark: SparkSession, events: DataFrame): DataFrame = {
    val base = graft.util.Fs.tempDir("graft-sagg")
    try {
      val d = derive(events)
      d.cache()
      val batches = (0 until WindowedAgg.NumBatches).map(i =>
        d.where(col("b") === i.toLong).select("event_id", "user_id", "m"))
      stage(spark, batches, s"$base/staged")
      d.unpersist()
      val out = run(spark, s"$base/staged", s"$base/work")
      out.cache(); out.count() // materialize before temp dir cleanup
      out
    } finally graft.util.Fs.deleteRecursively(base)
  }

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
    WindowedAgg.stageFiles(batches.map(_.select(col("key").cast("long"),
      col("m").cast("long"), col("src").cast("string"))), dir)

  /** The real streaming dedup: emitted = rows that survived
    * dropDuplicatesWithinWatermark (append mode emits them in their
    * arrival batch — no flush sentinels needed).
    */
  def run(spark: SparkSession, stagedDir: String, workDir: String): DataFrame = {
    def start(liveDir: String) =
      spark.readStream.schema(stagedSchema)
        .option("maxFilesPerTrigger", 1).parquet(liveDir)
        .withColumn("event_time", timestamp_millis(col("m")))
        .withWatermark("event_time", s"$DelayMs milliseconds")
        .dropDuplicatesWithinWatermark("key")
        .select(col("key"), col("m"), col("src"))
        .writeStream.format("parquet")
        .option("path", s"$workDir/sink")
        .option("checkpointLocation", s"$workDir/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    WindowedAgg.withShufflePartitions(spark,
        WindowedAgg.adaptiveStatePartitions(spark, stagedDir)) {
      WindowedAgg.driveRevealed(stagedDir, start, s"$workDir/live")
    }
    spark.read.parquet(s"$workDir/sink").orderBy(col("key"), col("m"))
  }

  def overEvents(spark: SparkSession, events: DataFrame): DataFrame = {
    val base = graft.util.Fs.tempDir("graft-sdedup")
    try {
      val d = derive(events)
      d.cache()
      val batches = (0 until WindowedAgg.NumBatches).map(i =>
        d.where(col("b") === i.toLong).select("key", "m", "src"))
      stage(spark, batches, s"$base/staged")
      d.unpersist()
      val out = run(spark, s"$base/staged", s"$base/work")
      out.cache(); out.count() // materialize before temp dir cleanup
      out
    } finally graft.util.Fs.deleteRecursively(base)
  }

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
    WindowedAgg.stageFiles(batches.map(_.select(col("key").cast("long"),
      col("user_id").cast("long"), col("m").cast("long"),
      col("side").cast("string"))), dir)

  /** The real streaming self-join: one watermarked source split into
    * sides, inner-joined on user within ±IntervalMs. Inner joins emit
    * on arrival of the later side — no flush sentinels needed.
    */
  def run(spark: SparkSession, stagedDir: String, workDir: String): DataFrame =
    runJoin(spark, stagedDir, workDir, "inner")

  private[stream] def runJoin(spark: SparkSession, stagedDir: String,
      workDir: String, joinType: String): DataFrame = {
    def start(liveDir: String) = {
      val src = spark.readStream.schema(stagedJoinSchema)
        .option("maxFilesPerTrigger", 1).parquet(liveDir)
        .withColumn("event_time", timestamp_millis(col("m")))
        .withWatermark("event_time", s"${WindowedAgg.DelayMs} milliseconds")
      val l = src.where(col("side") === "l").as("l")
      val r = src.where(col("side") === "r").as("r")
      l.join(r,
          col("l.user_id") === col("r.user_id") &&
            col("r.event_time") >= col("l.event_time") -
              expr(s"INTERVAL $IntervalMs MILLISECONDS") &&
            col("r.event_time") <= col("l.event_time") +
              expr(s"INTERVAL $IntervalMs MILLISECONDS"),
          joinType)
        .select(col("l.key").as("l_key"), col("r.key").as("r_key"),
          // coalesced so the full-outer variant's right-only rows carry
          // their user; identity for inner/left (l.user_id non-null there)
          coalesce(col("l.user_id"), col("r.user_id")).as("user_id"),
          col("l.m").as("l_ms"), col("r.m").as("r_ms"))
        .writeStream.format("parquet")
        .option("path", s"$workDir/sink")
        .option("checkpointLocation", s"$workDir/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    WindowedAgg.withShufflePartitions(spark,
        WindowedAgg.adaptiveStatePartitions(spark, stagedDir)) {
      WindowedAgg.driveRevealed(stagedDir, start, s"$workDir/live")
    }
    spark.read.parquet(s"$workDir/sink")
      .orderBy(col("l_key"), col("r_key"))
  }

  def overEvents(spark: SparkSession, events: DataFrame): DataFrame = {
    val base = graft.util.Fs.tempDir("graft-sjoin")
    try {
      val d = derive(events)
      d.cache()
      val batches = (0 until WindowedAgg.NumBatches).map(i =>
        d.where(col("b") === i.toLong).select("key", "user_id", "m", "side"))
      stage(spark, batches, s"$base/staged")
      d.unpersist()
      val out = run(spark, s"$base/staged", s"$base/work")
      out.cache(); out.count() // materialize before temp dir cleanup
      out
    } finally graft.util.Fs.deleteRecursively(base)
  }

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
      joinType: String): DataFrame = {
    import spark.implicits._
    val base = graft.util.Fs.tempDir("graft-sjoinlo")
    try {
      val d = StreamJoin.derive(events)
      d.cache()
      val batches = (0 until WindowedAgg.NumBatches).map(i =>
        d.where(col("b") === i.toLong).select("key", "user_id", "m", "side"))
      val sentinels = Seq(
        Seq((-1L, SentinelUser, WindowedAgg.SentinelMs1, "r"))
          .toDF("key", "user_id", "m", "side"),
        Seq((-2L, SentinelUser, WindowedAgg.SentinelMs2, "r"))
          .toDF("key", "user_id", "m", "side"))
      StreamJoin.stage(spark, batches ++ sentinels, s"$base/staged")
      d.unpersist()
      val out = StreamJoin.runJoin(spark, s"$base/staged", s"$base/work", joinType)
      out.cache(); out.count() // materialize before temp dir cleanup
      out
    } finally graft.util.Fs.deleteRecursively(base)
  }

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
  def run(spark: SparkSession, stagedDir: String, workDir: String): DataFrame = {
    def start(liveDir: String) = {
      val src = spark.readStream.schema(StreamJoin.stagedJoinSchema)
        .option("maxFilesPerTrigger", 1).parquet(liveDir)
        .withColumn("event_time", timestamp_millis(col("m")))
        .withWatermark("event_time", s"${WindowedAgg.DelayMs} milliseconds")
      val l = src.where(col("side") === "l").as("l")
      val r = src.where(col("side") === "r").as("r")
      l.join(r,
          col("l.user_id") === col("r.user_id") &&
            col("r.event_time") >= col("l.event_time") -
              expr(s"INTERVAL ${StreamJoin.IntervalMs} MILLISECONDS") &&
            col("r.event_time") <= col("l.event_time") +
              expr(s"INTERVAL ${StreamJoin.IntervalMs} MILLISECONDS"),
          "inner")
        .groupBy(window(col("l.event_time"), s"${WindowedAgg.WindowMs} milliseconds"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(pmod(col("l.key"), lit(97L)) + pmod(col("r.key"), lit(97L)))
            .as("s_mod"))
        .select(unix_millis(col("window.start")).as("w_start"),
          col("n_pairs"), col("s_mod"))
        .writeStream.format("parquet")
        .option("path", s"$workDir/sink")
        .option("checkpointLocation", s"$workDir/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    WindowedAgg.withShufflePartitions(spark,
        WindowedAgg.adaptiveStatePartitions(spark, stagedDir)) {
      WindowedAgg.driveRevealed(stagedDir, start, s"$workDir/live")
    }
    spark.read.parquet(s"$workDir/sink")
      .where(col("w_start") < WindowedAgg.SentinelMs1)
      .orderBy(col("w_start"))
  }

  /** Same staging as the outer variants (the right-side sentinels here
    * exist purely to push the propagated watermark past every real
    * window so the chained aggregation flushes).
    */
  def overEvents(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val base = graft.util.Fs.tempDir("graft-sjagg")
    try {
      val d = StreamJoin.derive(events)
      d.cache()
      val batches = (0 until WindowedAgg.NumBatches).map(i =>
        d.where(col("b") === i.toLong).select("key", "user_id", "m", "side"))
      val sentinels = Seq(
        Seq((-1L, StreamJoinOuter.SentinelUser, WindowedAgg.SentinelMs1, "r"))
          .toDF("key", "user_id", "m", "side"),
        Seq((-2L, StreamJoinOuter.SentinelUser, WindowedAgg.SentinelMs2, "r"))
          .toDF("key", "user_id", "m", "side"))
      StreamJoin.stage(spark, batches ++ sentinels, s"$base/staged")
      d.unpersist()
      val out = run(spark, s"$base/staged", s"$base/work")
      out.cache(); out.count() // materialize before temp dir cleanup
      out
    } finally graft.util.Fs.deleteRecursively(base)
  }

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
