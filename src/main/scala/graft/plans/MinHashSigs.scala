package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.SparkInternals.{column, expression}
import org.apache.spark.sql.types._

/** Mutable MinHash state: the running minimum of each of the k
  * permutations. A flat long[k] — 1 KiB at k=128.
  */
final class MinHashState(val k: Int) {
  val mins: Array[Long] = Array.fill(k)(Long.MaxValue)
}

/** `minhash_sigs(h)` — ALL k MinHash permutation minima in ONE
  * aggregation buffer.
  *
  * The column form (`agg(min(pmod(h*a0+b0, p)), ..., min(pmod(h*a127
  * +b127, p)))`) plans 128 separate min-aggregates: a very wide
  * generated aggregate (slow to janino-compile, hostile to the
  * register allocator) and 128 independent buffer slots touched per
  * row. This fused form is one ObjectHashAggregate state of k longs
  * updated in a tight JIT-compiled loop — identical arithmetic
  * (`(h*a_i + b_i) mod p` over non-negative inputs, so `%` == `pmod`),
  * bit-identical minima, same merge semantics (element-wise min), and
  * the same bounded, map-side-combined shuffle profile as [[KmvSketch]].
  *
  * The SQL oracles keep replaying the k explicit `min(...)` columns —
  * that is the point: the fused aggregate is a physical optimization,
  * not a semantic change.
  */
case class MinHashSigs(
    child: Expression,
    a: Seq[Long],
    b: Seq[Long],
    p: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[MinHashState] with UnaryLike[Expression] {
  require(a.size == b.size && a.nonEmpty, "permutation constant arrays must align")

  private def k = a.size
  @transient private lazy val aArr: Array[Long] = a.toArray
  @transient private lazy val bArr: Array[Long] = b.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_sigs"

  override def createAggregationBuffer(): MinHashState = new MinHashState(k)

  override def update(buf: MinHashState, input: InternalRow): MinHashState = {
    val h = child.eval(input)
    if (h != null) {
      val hv = h.asInstanceOf[Long]
      val mins = buf.mins
      var i = 0
      while (i < mins.length) {
        val v = (hv * aArr(i) + bArr(i)) % p
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    buf
  }

  override def merge(x: MinHashState, y: MinHashState): MinHashState = {
    val xm = x.mins; val ym = y.mins
    var i = 0
    while (i < xm.length) { if (ym(i) < xm(i)) xm(i) = ym(i); i += 1 }
    x
  }

  override def eval(buf: MinHashState): Any = new GenericArrayData(buf.mins.clone())

  override def serialize(buf: MinHashState): Array[Byte] = {
    val out = ByteBuffer.allocate(8 * buf.mins.length)
    var i = 0
    while (i < buf.mins.length) { out.putLong(buf.mins(i)); i += 1 }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): MinHashState = {
    val in = ByteBuffer.wrap(bytes)
    val buf = new MinHashState(k)
    var i = 0
    while (i < buf.mins.length) { buf.mins(i) = in.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): MinHashSigs =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MinHashSigs =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

object MinHashSigs {
  /** `minhash_sigs(h)` with the permutation table baked in, as an
    * aggregate Column.
    */
  def agg(h: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    column(MinHashSigs(expression(h), a, b, p).toAggregateExpression())
}
