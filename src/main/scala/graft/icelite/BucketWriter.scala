package graft.icelite

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.util.SerializableConfiguration

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One data file a bucketed write produced: its bucket, its path
  * relative to the table root, its row count and its zone map.
  */
final case class WrittenFile(bucket: Int, rel: String, rows: Long,
    stats: Map[String, ZoneMaps.ColStats])

/** The task side of [[IceLite.writeBucketed]]: the rows' plan runs as
  * one SQL execution whose tasks write their own Parquet files and
  * return them, so the driver learns the files from the results and
  * never lists a directory.
  *
  *   - Files are created through `java.nio` ([[LocalOutputFile]]), not
  *     Hadoop's local file system. That one forks `chmod` on every
  *     create when the native Hadoop library is absent, and leaves a
  *     `.crc` beside every file. IceLite commits with
  *     `Files.createLink`, so it is local-file-system-only anyway.
  *   - The codec, row-group and page settings and the footer metadata
  *     come from `ParquetFileFormat.prepareWrite` and Spark's
  *     `ParquetWriteSupport`, as in Spark's own file write.
  *   - A task keeps one file open and rolls to a new one when the
  *     bucket changes or at `maxRowsPerFile` rows: input grouped by
  *     bucket gives one file per (task, bucket).
  *   - A failed attempt deletes what it wrote; whatever a killed
  *     attempt leaves is never referenced, and `Maintenance.gcOrphans`
  *     removes it.
  */
private[icelite] object BucketWriter {

  private val BucketCol = "__bucket"

  def write(rows: DataFrame, root: String, commitRel: String,
      maxRowsPerFile: Long): Seq[WrittenFile] = {
    val spark = rows.sparkSession
    val fields = rows.schema.fields.toSeq
    val bucketIdx = fields.indexWhere(_.name == BucketCol)
    require(bucketIdx >= 0 && fields(bucketIdx).dataType == IntegerType,
      s"a bucketed write needs an int $BucketCol column: ${rows.schema}")
    val data = fields.zipWithIndex.filter(_._2 != bucketIdx)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, StructType(data.map(_._1)))
    val conf = new SerializableConfiguration(job.getConfiguration)
    val dataCols = data.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) }
    val qe = rows.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("writeBucketed")) {
      qe.toRdd.mapPartitions { it =>
        writeTask(it, bucketIdx, UnsafeProjection.create(dataCols), conf.value,
          root, commitRel, maxRowsPerFile)
      }.collect().toSeq
    }
  }

  private final class RowWriterBuilder(file: LocalOutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  private def writeTask(rows: Iterator[InternalRow], bucketIdx: Int,
      toData: UnsafeProjection, conf: Configuration, root: String, commitRel: String,
      maxRowsPerFile: Long): Iterator[WrittenFile] = {
    val task = TaskContext.get().partitionId()
    val codec = CompressionCodecName.fromConf(conf.get(ParquetOutputFormat.COMPRESSION))
    val opened = ArrayBuffer.empty[Path]
    val done = ArrayBuffer.empty[WrittenFile]
    var writer: ParquetWriter[InternalRow] = null
    var bucket = -1
    var rel = ""
    var n = 0L
    def open(b: Int): Unit = {
      bucket = b
      n = 0L
      rel = f"$commitRel/$BucketCol=$b/part-$task%05d-${java.util.UUID.randomUUID()}.parquet"
      val path = Paths.get(root, rel)
      Files.createDirectories(path.getParent)
      opened += path
      writer = new RowWriterBuilder(new LocalOutputFile(path))
        .withConf(conf)
        .withCompressionCodec(codec)
        .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(conf))
        .withPageSize(ParquetOutputFormat.getPageSize(conf))
        .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
        .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
        .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
        .build()
    }
    def close(): Unit = if (writer != null) {
      val w = writer
      writer = null
      w.close()
      // absent stats are legal: the file is then never skipped
      val stats = try ZoneMaps.fileStats(w.getFooter)
        catch { case NonFatal(_) => Map.empty[String, ZoneMaps.ColStats] }
      done += WrittenFile(bucket, rel, n, stats)
    }
    try {
      rows.foreach { row =>
        val b = row.getInt(bucketIdx)
        if (writer == null || b != bucket || (maxRowsPerFile > 0 && n >= maxRowsPerFile)) {
          close()
          open(b)
        }
        writer.write(toData(row))
        n += 1
      }
      close()
    } catch {
      case t: Throwable =>
        if (writer != null) try writer.close() catch { case NonFatal(_) => () }
        opened.foreach(p => try Files.deleteIfExists(p) catch { case NonFatal(_) => false })
        throw t
    }
    // Spark's listeners and UI see a write stage by its output metrics
    SparkInternals.setOutputMetrics(opened.map(Files.size).sum, done.map(_.rows).sum)
    done.iterator
  }
}
