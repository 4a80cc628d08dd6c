package graft.stream

import graft.icelite.IceLiteTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Multi-table capture: the reference tails ONE logical log carrying
  * changes for MANY tables and routes each table's events to its own
  * topic (`table.include.list`, per-table schemas/topics). The engine
  * analog: one change log, one micro-batch, N independent IceLite sink
  * tables — each table's ops filtered and MERGE-applied into its own
  * sink within the same batch.
  *
  * Control records (BEGIN/COMMIT/ROLLBACK/DISCARD) are transaction-wide
  * and shared by every table's assembly, exactly like the reference's
  * single transaction engine feeding per-table emitters
  * (`DbzTransactionEngine.java:177-187` label routing).
  *
  * Scale notes: per-table applies are independent jobs over the same
  * cached batch — at 1000-executor scale they can run concurrently
  * (separate sinks, separate commits); a production log layout would
  * additionally partition segments by table so each table's scan prunes
  * at the file level (capture-side pruning, SURVEY §4). Idempotency is
  * per sink table (each carries its own lastBatchId), so a crash
  * between table applies resumes exactly where it stopped.
  */
object MultiTable {

  /** Apply one raw micro-batch to every configured sink. Returns
    * per-table merge stats, keyed by captured table name.
    */
  def processBatch(
      sinks: Map[String, IceLiteTable],
      rawBatch: DataFrame,
      batchId: Long,
      broadcastAssembly: Boolean = false,
      columnTransforms: Map[String, Map[String, String]] = Map.empty,
      rowFilters: Map[String, org.apache.spark.sql.Column] = Map.empty
  ): Map[String, MergeApply.MergeStats] =
    applyAll(sinks, rawBatch, batchId, broadcastAssembly, columnTransforms, rowFilters,
      inlineCompact = true)

  private def applyAll(sinks: Map[String, IceLiteTable], rawBatch: DataFrame,
      batchId: Long, broadcastAssembly: Boolean,
      columnTransforms: Map[String, Map[String, String]],
      rowFilters: Map[String, org.apache.spark.sql.Column],
      inlineCompact: Boolean): Map[String, MergeApply.MergeStats] = {
    // One pass to drop never-captured payload, MATERIALIZED before the
    // per-table fan-out: without the persist each sink's apply re-scans
    // and re-decodes the whole shared log batch (N sinks = N full log
    // scans — linear-in-N waste at scale). DISK-backed so a batch larger
    // than executor memory degrades to local-disk re-read, never to a
    // source re-scan.
    val captured = rawBatch.where(
      col("op").isin("B", "C", "R", "D") ||
        col("table").isin(sinks.keys.toSeq.map(x => x: Any): _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      sinks.map { case (name, tbl) =>
        name -> CdcJob.processBatch(tbl, captured, batchId, broadcastAssembly,
          tableInclude = Some(Seq(name)),
          columnTransforms = columnTransforms.getOrElse(name, Map.empty),
          rowFilter = rowFilters.get(name), inlineCompact = inlineCompact)
      }
    } finally {
      captured.unpersist(blocking = false)
      ()
    }
  }

  /** Structured-Streaming lifecycle over a shared log for N sinks. */
  def stream(
      spark: SparkSession,
      sinks: Map[String, IceLiteTable],
      cfg: CdcConfig,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    val env = Driver.Envelope.ungated(spark, sinks.values.toSeq, cfg)
    Driver.start(
      spark.readStream
        .schema(graft.model.LogRecord.schema)
        .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
        .parquet(cfg.logDir),
      cfg.checkpointDir, trigger, Some("graft-cdc-multitable")) { (df, batchId) =>
      env(applyAll(sinks, df, batchId, cfg.broadcastAssembly, Map.empty, Map.empty, _)); ()
    }
  }
}
