package graft.stream

import org.apache.spark.util.AccumulatorV2

import scala.collection.mutable

/** Per-bucket statistics of one applied batch: row (key) count, raw
  * event count, deletes, and the batch's (commit_lsn, change_lsn) range
  * — the payload of a lineage row (E5/E6).
  */
final case class BucketStat(
    keys: Long,
    events: Long,
    deletes: Long,
    lsnLo: Long,
    hiCommit: Long,
    hiChange: Long
) {
  def merged(o: BucketStat): BucketStat = BucketStat(
    keys + o.keys,
    events + o.events,
    deletes + o.deletes,
    if (lsnLo < 0) o.lsnLo else if (o.lsnLo < 0) lsnLo else math.min(lsnLo, o.lsnLo),
    if (hiCommit > o.hiCommit || (hiCommit == o.hiCommit && hiChange >= o.hiChange)) hiCommit
    else o.hiCommit,
    if (hiCommit > o.hiCommit || (hiCommit == o.hiCommit && hiChange >= o.hiChange)) hiChange
    else o.hiChange
  )
}

/** Accumulates per-bucket batch statistics DURING the delta write (the
  * one full-data job of a MERGE apply), so lineage rows cost no second
  * pass over the written files and no extra driver barrier. Updates ride
  * the result (write) stage: Spark applies each successful task's
  * contribution exactly once, and the parquet commit protocol admits one
  * successful attempt per partition.
  *
  * Input tuple: (bucket, eventCount, isDelete, minCommitLsn,
  * versionCommit, versionChange) for one deduped key row.
  */
final class BucketStatsAcc
    extends AccumulatorV2[(Int, Long, Boolean, Long, Long, Long), Map[Int, BucketStat]] {

  private val m = mutable.HashMap.empty[Int, BucketStat]

  override def isZero: Boolean = m.isEmpty

  override def copy(): BucketStatsAcc = {
    val c = new BucketStatsAcc
    m.foreach { case (k, v) => c.m.update(k, v) }
    c
  }

  override def reset(): Unit = m.clear()

  override def add(v: (Int, Long, Boolean, Long, Long, Long)): Unit =
    addRow(v._1, v._2, v._3, v._4, v._5, v._6)

  /** Primitive-args form — called from [[BucketStatsTap]]'s generated
    * code (no tuple boxing on the per-row path).
    */
  def addRow(bucket: Int, cnt: Long, isDel: Boolean, minc: Long, vc: Long, vl: Long): Unit = {
    val s = BucketStat(1L, cnt, if (isDel) 1L else 0L, minc, vc, vl)
    m.update(bucket, m.get(bucket).map(_.merged(s)).getOrElse(s))
  }

  override def merge(other: AccumulatorV2[(Int, Long, Boolean, Long, Long, Long), Map[Int, BucketStat]]): Unit =
    other.value.foreach { case (k, v) =>
      m.update(k, m.get(k).map(_.merged(v)).getOrElse(v))
    }

  override def value: Map[Int, BucketStat] = m.toMap
}

/** The lineage tap as a native codegen'd expression:
  * `graft_stats_tap(bucket, skip, cnt, isDel, minc, vc, vl)` adds one
  * observation to the riding [[BucketStatsAcc]] and returns `bucket`.
  * Replaces the Scala UDF that was the write plan's only non-codegen
  * operator (a per-row serialization boundary + 7-arg boxing after the
  * dedup). Nondeterministic-marked for the same reason the UDF was: the
  * optimizer must neither collapse, duplicate nor reorder the tap.
  */
case class BucketStatsTap(children: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    acc: BucketStatsAcc)
    extends org.apache.spark.sql.catalyst.expressions.Expression
    with org.apache.spark.sql.catalyst.expressions.Nondeterministic {

  import org.apache.spark.sql.catalyst.expressions.codegen._
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._
  import org.apache.spark.sql.types._

  require(children.size == 7, "graft_stats_tap(bucket, skip, cnt, isDel, minc, vc, vl)")

  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_stats_tap"

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  override protected def evalInternal(
      input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val bucket = children(0).eval(input).asInstanceOf[Int]
    val skip = children(1).eval(input).asInstanceOf[Boolean]
    if (!skip) acc.addRow(bucket,
      children(2).eval(input).asInstanceOf[Long],
      children(3).eval(input).asInstanceOf[Boolean],
      children(4).eval(input).asInstanceOf[Long],
      children(5).eval(input).asInstanceOf[Long],
      children(6).eval(input).asInstanceOf[Long])
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val accRef = ctx.addReferenceObj("bucketStatsAcc", acc, classOf[BucketStatsAcc].getName)
    val evals = children.map(_.genCode(ctx))
    val code =
      code"""
        |${evals.map(_.code).reduce(_ + _)}
        |if (!${evals(1).value}) {
        |  $accRef.addRow(${evals(0).value}, ${evals(2).value}, ${evals(3).value},
        |    ${evals(4).value}, ${evals(5).value}, ${evals(6).value});
        |}
        |int ${ev.value} = ${evals(0).value};
      """.stripMargin
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[org.apache.spark.sql.catalyst.expressions.Expression]): BucketStatsTap =
    copy(children = newChildren)
}
