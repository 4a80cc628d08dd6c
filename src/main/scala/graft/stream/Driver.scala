package graft.stream

import graft.icelite.{IceLiteTable, Maintenance}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one start of every engine stream that writes an IceLite table.
  *
  * A micro-batch is a deterministic function of its input followed by
  * an idempotent, batch-id-gated commit (the D-Streams contract), so
  * every stream has the same shape: a source, a checkpoint, a trigger
  * and a per-batch body. [[start]] owns that shape; callers pass only
  * the body. Runs configured by a [[CdcConfig]] wrap their body in an
  * [[Envelope]], which owns the per-batch side effects (signals,
  * heartbeat, compaction daemon), so a stream and a deterministic
  * chunk runner of the same config do the same work per batch.
  */
object Driver {

  /** Start `source` as a streaming query whose every micro-batch runs
    * `body(batch, batchId)`. `queryName` is the name operators see in
    * the streaming UI and listeners (None: unnamed).
    */
  def start(source: DataFrame, checkpointDir: String, trigger: Trigger,
      queryName: Option[String])(body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = source.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
    queryName.foreach(w.queryName)
    w.foreachBatch { (df: DataFrame, batchId: Long) => body(df, batchId) }.start()
  }

  /** The per-batch envelope of one [[CdcConfig]] run, built once per
    * run. Around each batch body it processes the signal directory (for
    * `signalTable`) and runs the heartbeat action, then runs the body
    * with `inlineCompact` = no daemon, then pokes the daemons. With
    * `cfg.asyncCompaction` it owns one compaction daemon per table; a
    * daemon's thread exits when idle, so a stream leaves none behind.
    */
  final class Envelope private (spark: SparkSession, cfg: CdcConfig,
      signalTable: Option[IceLiteTable], tables: Seq[IceLiteTable]) {
    private val daemons =
      if (!cfg.asyncCompaction) Nil
      else tables.map(new Maintenance.CompactionDaemon(_, MergeApply.maxDeltaChain))

    /** Run one batch body inside the envelope; the body's argument is
      * the apply's `inlineCompact`. */
    def apply[T](body: Boolean => T): T = {
      for (t <- signalTable; d <- cfg.signalDir) Signals.process(spark, t, d, cfg.rowFilter)
      cfg.heartbeatActionSql.foreach(sql => spark.sql(sql).collect())
      val out = body(daemons.isEmpty)
      daemons.foreach(_.poke())
      out
    }

    /** End of a chunk runner: wait for the daemons' folds and surface a
      * failed one. */
    def drain(): Unit = daemons.foreach(d => try d.drain() finally d.close())
  }

  object Envelope {

    /** A run of the native change log into `table`. Refuses to start
      * when the table's resume point predates the log's retained floor
      * (R4): streaming over a retention gap would silently lose the
      * garbage-collected events.
      */
    def apply(spark: SparkSession, table: IceLiteTable, cfg: CdcConfig): Envelope = {
      if (!CdcJob.validateRestartOffset(table, cfg)) {
        val sm = table.current.summary
        throw new IllegalStateException(
          s"restart offset (watermark=${sm.watermarkCommit}, pin=${sm.floorCommit}) predates " +
            s"the log's min retained LSN ${LogRetention.minRetainedLsn(cfg.logDir)}: events " +
            "were garbage-collected before they were applied — call validateOrResnapshot with " +
            "a current source view (snapshot mode when_needed re-snapshots automatically)")
      }
      new Envelope(spark, cfg, Some(table), Seq(table))
    }

    /** A run without the native log's R4 gate and without signals: a
      * wire-dump consumer ([[WireSource]]; its restart gate is the
      * dump's continuity, [[WireSource.validateDumpContinuity]], and
      * signals drive native snapshot chunks, which it has none of) and
      * one log into several sinks ([[MultiTable]]; one signal directory
      * names no sink, and no spec shows that a sink's watermark advances
      * over the other tables' transactions, so the gate could refuse a
      * quiet sink over a legal GC).
      */
    def ungated(spark: SparkSession, tables: Seq[IceLiteTable], cfg: CdcConfig): Envelope =
      new Envelope(spark, cfg, None, tables)
  }
}
