package graft.icelite.dsv2

import graft.icelite.IceLite
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, count, lit, max, min, raise_error, when}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StringType

import scala.util.control.NonFatal

/** DSv2 WRITE path for IceLite: `INSERT INTO graft.`/path`` /
  * `df.writeTo("graft.`/path`").append()` commit versioned delta files
  * through the engine's own bucketed writer and snapshot commit.
  *
  * Contract (append-only, out-of-band backfill channel):
  *
  *   - the incoming rows carry the FULL stored schema including the
  *     engine meta columns (__vc, __vl, __tomb) — a backfill writer must
  *     state the version it writes at, because visibility is decided by
  *     LWW against existing row versions (rows above win, rows below are
  *     inert history; a __tomb=true row deletes its key at that version).
  *     [[IceLiteV2.append]] stamps the metadata for the common case.
  *   - the table takes Spark's V1 write fallback (`V1_BATCH_WRITE`, a
  *     [[V1Write]]), so the insert receives the resolved input as a
  *     DataFrame and writes it the way the apply writes its delta: one
  *     exchange on the key into `numBuckets` (Spark's HashPartitioning
  *     is the bucket function), packed into at most `defaultParallelism`
  *     tasks of whole buckets, written by `IceLite.writeBucketed` — one
  *     bucket-pure file per touched bucket — into an attempt-unique
  *     `data/v2append-*` directory.
  *   - `IceLiteTable.commitNext` appends the files to the delta chains
  *     and records them in the CDF `changed` manifest, so a v2 insert
  *     surfaces in `changesBetween` exactly like an engine apply. A
  *     failed insert commits nothing and deletes its directory.
  *   - the CDC offset state (watermark, floors, batch ids) is NOT
  *     touched: inserts are data, not log progress. Reference analog:
  *     ad-hoc snapshot data arriving outside the streaming lane
  *     (incremental-snapshot chunks, `InformixConnectorIT` blocking
  *     snapshot inserts) never moves the restart offset either.
  */
class IceLiteWriteBuilder(spark: SparkSession, root: String,
    info: LogicalWriteInfo) extends WriteBuilder {

  override def build(): Write = {
    val snap = IceLite.readLatest(root).getOrElse(
      throw new IllegalStateException(s"no IceLite table at $root"))
    val expect = IceLite.withMeta(snap.schema).fieldNames.toSeq
    val got = info.schema().fieldNames.toSeq
    require(got == expect,
      s"v2 write schema must be the stored schema incl. meta columns; " +
        s"expected ${expect.mkString(",")} got ${got.mkString(",")} " +
        s"(use IceLiteV2.append to stamp __vc/__vl/__tomb)")
    require(info.schema()(snap.keyCol).dataType == StringType,
      s"key column ${snap.keyCol} must be string")
    new V1Write {
      override def toInsertableRelation: InsertableRelation =
        (data: DataFrame, _: Boolean) => IceLiteWriteBuilder.insert(root, data)
    }
  }
}

object IceLiteWriteBuilder {

  /** Write `data` (stored schema incl. meta columns) as one bucketed
    * delta commit. Rows are outside input: a null key or meta column
    * raises inside the write job, so the insert fails before it commits.
    * The summary counters are observed on the write itself.
    */
  private def insert(root: String, data: DataFrame): Unit = {
    val table = IceLite.load(data.sparkSession, root)
    val snap = table.current
    val key = snap.keyCol
    def nonNull(c: String, msg: String) =
      when(col(c).isNull, raise_error(lit(s"v2 append: $msg"))).otherwise(col(c)).as(c)
    val checked = data.columns.toSeq.map {
      case `key` => nonNull(key,
        "key column must be non-null (null-key truncate markers are engine-internal)")
      case c if IceLite.metaColumns.contains(c) =>
        nonNull(c, "__vc/__vl/__tomb must be non-null (use IceLiteV2.append)")
      case c => col(c)
    }
    val obs = Observation()
    val rows = IceLite.packBuckets(data.repartition(snap.numBuckets, col(key)), snap.numBuckets)
      .select(checked :+ IceLite.bucketCol(col(key), snap.numBuckets).as("__bucket"): _*)
      .observe(obs,
        count(when(!col(IceLite.TOMB), 1)).as("upserts"),
        count(when(col(IceLite.TOMB), 1)).as("deletes"),
        min(IceLite.VC).as("lo"), max(IceLite.VC).as("hi"))
    val commitRel = s"data/v2append-${java.util.UUID.randomUUID().toString.take(8)}"
    try {
      val written = IceLite.writeBucketed(rows, root, commitRel)
      if (written.nonEmpty) {
        val m = obs.get
        def long(k: String) = m(k).asInstanceOf[Number].longValue()
        table.commitNext { cur =>
          Some(cur.copy(
            deltas = IceLite.appendDeltas(cur.deltas, written),
            changed = written, // CDF: a v2 insert IS a change commit
            summary = cur.summary.copy(
              upserts = long("upserts"), deletes = long("deletes"),
              lsnLo = long("lo"), lsnHi = long("hi"), note = "v2-append")))
        }
      }
    } catch {
      case NonFatal(e) =>
        graft.util.Fs.deleteRecursively(table.dataPath(commitRel))
        throw e
    }
  }
}
