package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.graft.SparkInternals.{column, expression}
import org.apache.spark.sql.types._

/** Mutable LWW aggregation state: best (vc, vl) position seen and the
  * payload row that carried it.
  */
final class LwwState(
    var vc: Long,
    var vl: Long,
    var value: UnsafeRow // single-field row wrapping the payload struct; null = empty
)

/** `lww_max_by(payload, vc, vl)` — the argmax-by-(commit_lsn,
  * change_lsn) aggregate at the heart of the engine (A2 / the MERGE
  * dedup), as a custom Catalyst `TypedImperativeAggregate`.
  *
  * Why not built-in `max_by(payload, struct(vc, vl))`: MaxBy is a
  * DeclarativeAggregate whose buffer holds a struct, which HashAggregate
  * cannot store in its fixed-width mutable buffer — Catalyst silently
  * falls back to **SortAggregate**, so every merge/read SORTS the full
  * payload by key (including the map-side partial pass over the whole
  * raw batch). This TypedImperativeAggregate is planned by
  * **ObjectHashAggregateExec** instead: hash-based, map-side combined,
  * no sort — a hot key collapses to one buffer per map task and Zipf
  * skew never reaches a single reducer. Verified by `.explain`:
  * SortAggregate -> ObjectHashAggregate on the dedup plan.
  *
  * Position order is lexicographic (vc, vl) — the reference's total
  * event order (`TxLogPosition.java:106-109`). Ties keep the first
  * value seen (positions are unique in a CDC log by construction).
  */
case class LwwMaxBy(
    payload: Expression,
    posC: Expression,
    posL: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[LwwState] with TernaryLike[Expression] {

  override def first: Expression = payload
  override def second: Expression = posC
  override def third: Expression = posL

  override def dataType: DataType = payload.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "lww_max_by"

  // bound-expression projection: evaluates `payload` straight into a
  // single-field UnsafeRow with generated code (initialized lazily on
  // the executor, after binding)
  @transient private lazy val payloadProj = UnsafeProjection.create(Seq(payload))

  override def createAggregationBuffer(): LwwState =
    new LwwState(Long.MinValue, Long.MinValue, null)

  override def update(buf: LwwState, input: InternalRow): LwwState = {
    val cAny = posC.eval(input)
    if (cAny != null) {
      val c = cAny.asInstanceOf[Long]
      val lAny = posL.eval(input)
      val l = if (lAny == null) Long.MinValue else lAny.asInstanceOf[Long]
      if (buf.value == null || c > buf.vc || (c == buf.vc && l > buf.vl)) {
        buf.vc = c; buf.vl = l
        buf.value = payloadProj(input).copy()
      }
    }
    buf
  }

  override def merge(a: LwwState, b: LwwState): LwwState =
    if (b.value == null) a
    else if (a.value == null || b.vc > a.vc || (b.vc == a.vc && b.vl > a.vl)) b
    else a

  override def eval(buf: LwwState): Any =
    if (buf.value == null) null
    else payload.dataType match {
      case s: StructType => buf.value.getStruct(0, s.length)
      case dt => buf.value.get(0, dt)
    }

  override def serialize(buf: LwwState): Array[Byte] = {
    if (buf.value == null) return Array.empty
    val rowBytes = buf.value.getBytes
    val out = java.nio.ByteBuffer.allocate(16 + rowBytes.length)
    out.putLong(buf.vc); out.putLong(buf.vl); out.put(rowBytes)
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): LwwState = {
    if (bytes.isEmpty) return createAggregationBuffer()
    val in = java.nio.ByteBuffer.wrap(bytes)
    val vc = in.getLong; val vl = in.getLong
    val rowBytes = new Array[Byte](bytes.length - 16)
    in.get(rowBytes)
    val row = new UnsafeRow(1)
    row.pointTo(rowBytes, rowBytes.length)
    new LwwState(vc, vl, row)
  }

  override def withNewMutableAggBufferOffset(offset: Int): LwwMaxBy =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): LwwMaxBy =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): LwwMaxBy =
    copy(payload = newFirst, posC = newSecond, posL = newThird)
}

object LwwMaxBy {
  /** `lww_max_by(payload, vc, vl)` as an aggregate Column. */
  def agg(payload: Column, vc: Column, vl: Column): Column =
    column(LwwMaxBy(expression(payload), expression(vc), expression(vl))
      .toAggregateExpression())
}
