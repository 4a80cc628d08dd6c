package graft.stream

import graft.util.{Fs, SessionTune}
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The staged-stream contract every `stream_*` harness runs on — a
  * discretized stream in the D-Streams sense: a deterministic series of
  * batch jobs, one per input interval. Staged file i IS micro-batch i:
  * [[stage]] fixes each file's modification time, and [[source]] reads
  * the staged dir in place, one file per trigger, so one AvailableNow
  * [[drain]] replays the whole series. An operator keeps only its
  * derivation, its query body and its batch model; staging, source,
  * drain, sink and the temp-dir scope are defined here once. The
  * staging (one parquet file per micro-batch) only replaces Kafka for
  * the sandbox.
  */
object StagedStream {
  /** Shuffle/state partition budget for drained harness streams: staged
    * input bytes / 32 MB, clamped to the session's shuffle partitions —
    * a cluster-sized session keeps its parallelism; only a small staged
    * state sheds the per-partition per-batch state-store fixed costs
    * (open/commit/snapshot per store instance, x4 for a stream-stream
    * join).
    */
  val StateBytesPerPartition: Long = 32L << 20

  /** Budget for PER-ROW-STATE drains (transformWithState with per-event
    * RocksDB get/merge/put work, e.g. the session-profile MapState
    * pipelines): a partition saturates on JNI/state CPU far below the
    * shuffle-byte target above — measured 18.5 -> 12.8 s on the
    * profile-store cell at 8 vs 1 partitions, flat on the low-volume
    * funnel cells.
    */
  val TwsBytesPerPartition: Long = 256L << 10

  /** Fixed epoch base of the staged modification times: stable batch
    * order across runs. */
  private val EpochMs = 1700000000000L

  /** Stages `batches` under `dir`, one file per micro-batch, followed by
    * one file per `sentinels` row. `schema` is the operator's one
    * definition of its staged layout: every batch is cast to it, and the
    * flush-sentinel rows are built against it.
    */
  def stage(spark: SparkSession, schema: StructType, batches: Seq[DataFrame],
      dir: String, sentinels: Seq[Row] = Nil): Unit = {
    val layout = schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType).as(f.name))
    stageFiles(batches.map(_.select(layout: _*)) ++
      sentinels.map(r => spark.createDataFrame(java.util.List.of(r), schema)), dir)
  }

  /** Writes one parquet file per frame (modtime-ordered, so the file
    * source forms batch i from file i), with an empty spacer file
    * between consecutive frames. All frames share one schema.
    */
  private def stageFiles(batches: Seq[DataFrame], dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    def place(name: String, atMs: Long)(put: java.nio.file.Path => Unit): Unit = {
      val dest = Paths.get(dir, name)
      put(dest)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(atMs))
    }
    // ONE Spark job stages every data file: the frames are tagged with
    // their batch index, shuffled so each index lands wholly in one
    // task, and written `partitionBy` on the index; driver-side moves +
    // explicit modtimes then fix the layout the file source expects.
    // Row order WITHIN a staged file is immaterial — every consumer
    // aggregates, sorts per key in the handler, or keys rows uniquely.
    Fs.withTempDir("graft-stage") { tmp =>
      batches.zipWithIndex
        .map { case (df, i) => df.withColumn("__sb", lit(i)) }
        .reduce(_ unionByName _)
        .repartition(col("__sb"))
        .write.mode("overwrite").partitionBy("__sb").parquet(s"$tmp/data")
      def emptyFile(i: Int, name: String): String = {
        val e = s"$tmp/$name"
        batches(i).limit(0).repartition(1).write.parquet(e)
        Fs.listParquet(e).head
      }
      batches.indices.foreach { i =>
        // an EMPTY frame writes no partition dir; it must still stage a
        // file (an empty staged file is a real no-data micro-batch)
        val part = Fs.listParquet(s"$tmp/data/__sb=$i").headOption
          .getOrElse(emptyFile(i, s"empty$i"))
        place(f"batch-$i%03d.parquet", EpochMs + i * 1000L)(Files.move(Paths.get(part), _))
      }
      // WATERMARK-SCHEDULE SPACERS: one EMPTY file between consecutive
      // data files. Spark filters late events with the PREVIOUS batch's
      // watermark and evicts with the current one (the SPARK-40925
      // two-watermark design). An empty spacer batch carries no rows
      // (advances nothing itself), so the next data batch's
      // previous-batch watermark equals its eviction watermark: each
      // DATA batch filters late rows with W(batches < b) — the schedule
      // the SQL oracles replay. Named/timed to interleave strictly
      // between data files in both lexicographic and modtime order.
      if (batches.size > 1) {
        val spacer = Paths.get(emptyFile(0, "spacer"))
        (0 until batches.size - 1).foreach { i =>
          place(f"batch-$i%03db.parquet", EpochMs + i * 1000L + 500L)(Files.copy(spacer, _))
        }
      }
    }
  }

  /** The staged dir as a watermarked stream: one file per micro-batch
    * (`maxFilesPerTrigger=1`), `event_time` from the `m` millis column.
    */
  def source(spark: SparkSession, schema: StructType, stagedDir: String,
      delayMs: Long): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stagedDir)
      .withColumn("event_time", timestamp_millis(col("m")))
      .withWatermark("event_time", s"$delayMs milliseconds")

  /** The append-mode parquet sink under `workDir` (`sink`, `ckpt`). */
  def sink(query: DataFrame, workDir: String): StreamingQuery =
    query.writeStream.format("parquet")
      .option("path", s"$workDir/sink")
      .option("checkpointLocation", s"$workDir/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()

  /** Starts one AvailableNow query, waits for it and releases its state
    * stores, with the session's shuffle partitions sized from the staged
    * bytes (per `bytesPerPartition`) for the query's start. The emitted
    * set is identical to revealing the files one restart at a time; the
    * drain pays query start/stop, state reload and the no-data flush
    * batch once per CELL instead of once per FILE. An extra no-data
    * batch only shifts WHEN a window emits, never whether: drops use the
    * arrival batch's watermark, and the final emitted set is fixed by
    * the flush sentinels.
    */
  def drain(spark: SparkSession, stagedDirs: Seq[String],
      bytesPerPartition: Long = StateBytesPerPartition)(start: => StreamingQuery): Unit = {
    val bytes = stagedDirs.flatMap(Fs.listParquet).map(f => Files.size(Paths.get(f))).sum
    SessionTune.withShufflePartitions(spark,
        SessionTune.partitionsFor(spark, bytes, bytesPerPartition)) {
      val q = start
      q.awaitTermination()
      // Close the stopped run's state-store providers synchronously,
      // scoped by runId so a concurrent harness query in the same JVM is
      // untouched. Otherwise the registry keeps the run's providers
      // (full state maps on heap) until maintenance notices them, and a
      // stale instance's snapshot can race a later run's write on the
      // same checkpoint file (observed: FileNotFoundException renaming a
      // `.snapshot.crc` tmp under the chained join->agg).
      org.apache.spark.sql.graft.SparkInternals.unloadStateStoresForRun(q.runId)
    }
  }

  /** [[drain]] `query` into the parquet [[sink]] and read the sink back. */
  def drainToParquet(spark: SparkSession, stagedDirs: Seq[String], workDir: String,
      bytesPerPartition: Long = StateBytesPerPartition)(query: => DataFrame): DataFrame = {
    drain(spark, stagedDirs, bytesPerPartition)(sink(query, workDir))
    spark.read.parquet(s"$workDir/sink")
  }

  /** Caches and counts `df` so it outlives the files it was read from. */
  def materialize(df: DataFrame): DataFrame = {
    df.cache(); df.count()
    df
  }

  /** Temp dir -> `body` -> materialize its result -> delete the dir. */
  def materialized(prefix: String)(body: String => DataFrame): DataFrame =
    Fs.withTempDir(prefix)(dir => materialize(body(dir)))

  /** The whole harness over one derived frame: cache it, split it by its
    * arrival batch `b` into `numBatches` frames, `stage` them under
    * `<tmp>/staged`, then `run(stagedDir, workDir)` and materialize the
    * result before the temp dir goes.
    */
  def overEvents(tag: String, numBatches: Int, derived: DataFrame)(
      stage: (Seq[DataFrame], String) => Unit)(
      run: (String, String) => DataFrame): DataFrame =
    materialized(tag) { dir =>
      derived.cache()
      try stage((0 until numBatches).map(i => derived.where(col("b") === i.toLong)),
        s"$dir/staged")
      finally derived.unpersist()
      run(s"$dir/staged", s"$dir/work")
    }
}
