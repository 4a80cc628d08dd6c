package graft.icelite.dsv2

import com.fasterxml.jackson.databind.ObjectMapper
import graft.icelite.IceLite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types.StructType

/** Streaming offset = IceLite snapshot version. Commits are totally
  * ordered by version, so a single long is a complete, restart-safe
  * resume point (the analog of the engine's own commit-LSN watermark,
  * one level downstream).
  */
case class IceLiteVersionOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

object IceLiteVersionOffset {
  private val mapper = new ObjectMapper()
  def fromJson(js: String): IceLiteVersionOffset =
    IceLiteVersionOffset(mapper.readTree(js).get("version").asLong())
}

/** Structured Streaming micro-batch source over an IceLite table — the
  * change feed ([[graft.icelite.IceLiteTable.changesBetween]]) as a
  * continuous stream, so downstream pipelines consume the CDC-upserted
  * lake table incrementally instead of re-reading full states (the
  * role the reference's Kafka topics play for ITS consumers —
  * `InformixStreamingChangeEventSource.java` emits to a topic; here the
  * TABLE is the topic). Iceberg/Delta expose the same surface as
  * incremental/CDF streaming reads.
  *
  * Semantics:
  *   - offsets are snapshot VERSIONS; batch (start, end] reads exactly
  *     the data files those commits' change manifests name — never the
  *     table, never a rewrite (compaction commits contribute nothing).
  *   - rows are raw change rows: payload + (__vc, __vl) version +
  *     __tomb (delete marker); null-key truncate markers ride along and
  *     are filtered by [[IceLiteV2.readChangesStream]].
  *   - exactly-once downstream: offsets live in the SS checkpoint; a
  *     restart replans from the committed version, and because commits
  *     are immutable the same offset range always yields the same rows.
  *   - offset validation on restart (the R4 analog for downstream
  *     consumers): a resume version older than the retention horizon
  *     throws at planning time (missing snapshot file) instead of
  *     silently skipping commits — re-bootstrap via
  *     `IceLiteTable.readAt` + a fresh stream from that version.
  *   - `maxVersionsPerTrigger` bounds how many commits one micro-batch
  *     absorbs (admission control), so recovery after downtime is a
  *     sequence of bounded batches, not one unbounded catch-up batch.
  *
  * Scale shape: planning is metadata-only (read (end-start) JSON
  * manifests on the driver); the changed files are packed into splits
  * the way Spark's file scans pack theirs (`FilePartition`), so many
  * small files make about one task per core.
  * A 10^10-event ingest feeding a downstream consumer costs the
  * consumer only the delta bytes each trigger.
  */
class IceLiteMicroBatchStream(
    spark: SparkSession,
    root: String,
    startVersion: Long,
    maxVersionsPerTrigger: Long,
    fullSchema: StructType,
    readSchema: StructType,
    // filters the ScanBuilder accepted: forwarded so streamed files get
    // the same parquet row-group statistics skipping as the batch scan
    // (they remain residual — Spark re-evaluates them on the rows)
    pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
) extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  @volatile private var pinnedHead: Option[Long] = None

  private def head: Long = IceLite.readLatest(root).map(_.snapshotId).getOrElse(
    throw new IllegalStateException(s"no IceLite table at $root"))

  override def initialOffset(): Offset = IceLiteVersionOffset(startVersion)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "SupportsAdmissionControl.latestOffset(start, limit) is the entry point")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[IceLiteVersionOffset].version
    val h = pinnedHead.getOrElse(head)
    val capped =
      if (maxVersionsPerTrigger == Long.MaxValue) h
      else math.min(h, s + maxVersionsPerTrigger)
    IceLiteVersionOffset(math.max(s, capped))
  }

  override def reportLatestOffset(): Offset = IceLiteVersionOffset(head)

  /** Trigger.AvailableNow: pin the head ONCE so the run drains to a
    * fixed point even while writers keep committing.
    */
  override def prepareForTriggerAvailableNow(): Unit = pinnedHead = Some(head)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val sv = start.asInstanceOf[IceLiteVersionOffset].version
    val ev = end.asInstanceOf[IceLiteVersionOffset].version
    if (ev <= sv) return Array.empty
    // pack the changed files into splits by Spark's own file-scan rule
    // (about one per core for many small files), not one task per file
    val files = IceLiteV2.partitionedFiles(spark, root, IceLite.changedDataFiles(root, sv, ev))
    val splitBytes = FilePartition.maxSplitBytes(spark,
      files.map(_.length + spark.sessionState.conf.filesOpenCostInBytes).sum)
    FilePartition.getFilePartitions(spark, files, splitBytes).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    IceLiteV2.parquetReaderFactory(spark, fullSchema, readSchema, pushedFilters)

  override def deserializeOffset(json: String): Offset =
    IceLiteVersionOffset.fromJson(json)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
