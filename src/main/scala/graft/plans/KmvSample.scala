package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.SparkInternals.{column, expression}
import org.apache.spark.sql.types._

/** Mutable bottom-k-by-hash sample state: the k smallest distinct hash
  * values seen so far, each carrying one payload long. A TreeMap gives
  * O(log k) insert with dedup on the hash and O(1) access to the
  * current kth (last) key; the map never exceeds k entries. A hash
  * collision (astronomically rare under the 56-bit portable hash)
  * keeps the SMALLER payload — deterministic under any merge order.
  */
final class KmvSampleState(val k: Int) {
  val mins = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
  def add(h: Long, v: Long): Unit = {
    val prev = mins.get(h)
    if (prev != null) { if (v < prev) { mins.put(h, v); () } }
    else if (mins.size < k) { mins.put(h, v); () }
    else if (h < mins.lastKey()) { mins.put(h, v); mins.pollLastEntry(); () }
  }
}

/** `kmv_sample(hash, value, k)` — a fixed-size uniform group sample as a
  * mergeable Catalyst `TypedImperativeAggregate`: the payload values of
  * the k smallest distinct hashes, returned as `array<bigint>` ordered
  * by hash.
  *
  * Bottom-k-by-hash IS a uniform sample of the group's distinct hash
  * units (each unit's inclusion depends only on its own hash rank), and
  * unlike rate-based sampling its size is EXACTLY min(k, |group|) —
  * bounded state the shuffle can carry (k longs per group per map task,
  * map-side combined by ObjectHashAggregate), where a per-group sort or
  * rank window would shuffle the whole group. Deterministic: same
  * input set -> same sample regardless of partitioning or merge order,
  * so SQL oracles replay it with a rank-by-hash window.
  */
case class KmvSample(
    left: Expression,
    right: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[KmvSampleState] with BinaryLike[Expression] {
  require(k >= 1 && k <= (1 << 16), s"kmv_sample k out of range: $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sample"

  override def createAggregationBuffer(): KmvSampleState = new KmvSampleState(k)

  override def update(buf: KmvSampleState, input: InternalRow): KmvSampleState = {
    val h = left.eval(input)
    val v = right.eval(input)
    if (h != null && v != null) buf.add(h.asInstanceOf[Long], v.asInstanceOf[Long])
    buf
  }

  override def merge(a: KmvSampleState, b: KmvSampleState): KmvSampleState = {
    val it = b.mins.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); a.add(e.getKey, e.getValue) }
    a
  }

  override def eval(buf: KmvSampleState): Any = {
    val out = new Array[Long](buf.mins.size)
    val it = buf.mins.values().iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: KmvSampleState): Array[Byte] = {
    val out = ByteBuffer.allocate(4 + 16 * buf.mins.size)
    out.putInt(buf.mins.size)
    val it = buf.mins.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); out.putLong(e.getKey); out.putLong(e.getValue) }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvSampleState = {
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt
    val buf = new KmvSampleState(k)
    var i = 0
    while (i < n) { buf.add(in.getLong, in.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): KmvSample =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvSample =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KmvSample =
    copy(left = newLeft, right = newRight)
}

object KmvSample {
  /** `kmv_sample(hash, value, k)` as an aggregate Column. */
  def agg(hash: Column, value: Column, k: Int): Column =
    column(KmvSample(expression(hash), expression(value), k).toAggregateExpression())
}
