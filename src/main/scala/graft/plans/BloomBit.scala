package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.SparkInternals.{column, expression}
import org.apache.spark.sql.types._

/** `bloom_bit(pos)` — tests one bit of a fixed Bloom-filter bitmap: true
  * iff bit `pos` of the baked-in long[] word array is set. `pos` must
  * already be reduced into [0, 64 * words.length) (the caller computes
  * it as `portableHash(salted shingle) % mBits`, which the SQL oracles
  * replay).
  *
  * The bitmap rides the expression tree as a REFERENCE OBJECT
  * (`ctx.addReferenceObj`), not a literal array: a literal of thousands
  * of elements would bloat every generated method toward janino's 64 KB
  * limit (the silent-interpreted-fallback trap — see the SigMatchCount
  * note), while a reference is one field load. The test itself is three
  * integer ops, fully inside whole-stage codegen — the membership probe
  * of a broadcastable O(m/8)-byte filter, the point of a Bloom gate
  * over a set too large to ship as a join side.
  */
case class BloomBit(child: Expression, words: Array[Long])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_bit"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"bloom_bit requires bigint, got ${dt.simpleString}")
  }

  protected override def nullSafeEval(input: Any): Any = {
    val p = input.asInstanceOf[Long]
    ((words((p >>> 6).toInt) >>> (p & 63)) & 1L) == 1L
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, p => {
      val ref = ctx.addReferenceObj("bloomWords", words, "long[]")
      s"${ev.value} = ((($ref[(int)($p >>> 6)]) >>> ($p & 63L)) & 1L) == 1L;"
    })

  override protected def withNewChildInternal(newChild: Expression): BloomBit =
    copy(child = newChild)
}

object BloomBit {
  /** The membership test of bit position `pos` against `words`. */
  def isSet(pos: Column, words: Array[Long]): Column =
    column(BloomBit(expression(pos), words))
}
