package graft.plans

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.SparkInternals.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mutable Misra-Gries heavy-hitter state: at most k (item, count)
  * counters. Overflow decrements every counter by the evicted weight
  * (the classic frequent-items step); merge sums counterparts then
  * shrinks back to k by subtracting the (k+1)-largest count (Agarwal
  * et al., "Mergeable Summaries" — the error bound N/(k+1) holds under
  * ANY merge tree, which is what makes the guarantee order- and
  * partitioning-independent).
  */
final class MgState(val k: Int) {
  val counts = new java.util.HashMap[String, Long]()

  def add(x: String, w: Long = 1L): Unit = {
    val cur = counts.get(x)
    if (cur != 0L || counts.containsKey(x)) counts.put(x, cur + w)
    else if (counts.size < k) counts.put(x, w)
    else decrementAll(w)
  }

  /** Decrement every counter by up to w (the weight of the unstored
    * incoming item); counters at zero drop out.
    */
  private def decrementAll(w: Long): Unit = {
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue <= w) it.remove() else e.setValue(e.getValue - w)
    }
  }

  /** Merge-shrink: if over k entries, subtract the (k+1)-th largest
    * count from all and drop non-positives — the mergeable-summaries
    * reduction.
    */
  def shrink(): Unit = {
    if (counts.size > k) {
      val arr = new Array[Long](counts.size)
      var i = 0
      val vit = counts.values().iterator()
      while (vit.hasNext) { arr(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(arr)
      val cut = arr(arr.length - 1 - k) // (k+1)-th largest
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= cut) it.remove() else e.setValue(e.getValue - cut)
      }
    }
  }
}

/** `misra_gries(item, k)` — bounded-state frequent-items sketch as a
  * mergeable Catalyst `TypedImperativeAggregate`. Returns the CANDIDATE
  * item array (sorted, ≤ k entries): every item with true frequency
  * > N/(k+1) is guaranteed present regardless of row order, partitioning
  * or merge tree; extra sub-threshold items may appear and candidate
  * COUNTS are merge-order-dependent — which is why this sketch emits
  * only the candidate SET, and callers verify with one exact filtered
  * count (see `Sketches.heavyHitters`). State is ≤ k counters, map-side
  * combined by ObjectHashAggregateExec — the token stream itself is
  * never shuffled, unlike a `groupBy(token)` whose shuffle carries one
  * row per distinct token per map task.
  */
case class MisraGries(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[MgState] with UnaryLike[Expression] {
  require(k >= 1 && k <= (1 << 16), s"misra_gries k out of range: $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries"

  override def createAggregationBuffer(): MgState = new MgState(k)

  override def update(buf: MgState, input: InternalRow): MgState = {
    val v = child.eval(input)
    if (v != null) buf.add(v.toString)
    buf
  }

  override def merge(a: MgState, b: MgState): MgState = {
    val it = b.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = a.counts.get(e.getKey)
      a.counts.put(e.getKey, cur + e.getValue)
    }
    a.shrink()
    a
  }

  override def eval(buf: MgState): Any = {
    val keys = new java.util.ArrayList[String](buf.counts.keySet())
    java.util.Collections.sort(keys)
    val arr = new Array[Any](keys.size())
    var i = 0
    while (i < keys.size()) { arr(i) = UTF8String.fromString(keys.get(i)); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: MgState): Array[Byte] = {
    var bytes = 4
    val it0 = buf.counts.entrySet().iterator()
    while (it0.hasNext) {
      bytes += 4 + it0.next().getKey.getBytes(StandardCharsets.UTF_8).length + 8
    }
    val out = ByteBuffer.allocate(bytes)
    out.putInt(buf.counts.size)
    val it = buf.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes(StandardCharsets.UTF_8)
      out.putInt(kb.length); out.put(kb); out.putLong(e.getValue)
    }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): MgState = {
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt
    val buf = new MgState(k)
    var i = 0
    while (i < n) {
      val len = in.getInt
      val kb = new Array[Byte](len); in.get(kb)
      buf.counts.put(new String(kb, StandardCharsets.UTF_8), in.getLong)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): MisraGries =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGries =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): MisraGries =
    copy(child = newChild)
}

object MisraGries {
  /** `misra_gries(item, k)` as an aggregate Column. */
  def agg(item: Column, k: Int): Column =
    column(MisraGries(expression(item), k).toAggregateExpression())
}
