package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.SparkInternals.{column, expression}
import org.apache.spark.sql.types._

/** `cosine_sim(a, b)` — cosine similarity of two float vectors as a
  * native codegen'd Catalyst expression.
  *
  * Why not `aggregate(zip_with(...))`: higher-order functions evaluate
  * their lambdas INTERPRETED (no whole-stage codegen), which made the
  * verification step of the bucketed similarity operators the hot spot
  * (~10s of the sf0.1 bench was lambda dispatch). This expression is a
  * tight generated loop over the two ArrayDatas.
  *
  * Numerics are BIT-IDENTICAL to the higher-order form and the DuckDB
  * oracles: one sequential left-to-right fold per vector, every element
  * widened float->double before multiply, final
  * `dot / (sqrt(na) * sqrt(nb))` — same operations in the same order.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires two array<float> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** `sig_matches(a, b)` — number of positionally equal components of two
  * long arrays (MinHash signatures), as a tight generated loop. The
  * unrolled 128-term `when` chain this replaces exceeded janino's 64 KB
  * method limit, silently falling the whole stage back to interpreted
  * evaluation — the exact per-row x per-component dispatch cost the
  * codegen expressions exist to avoid.
  */
case class SigMatchCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sig_matches requires two array<bigint> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "sig_matches"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var m = 0L
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) m += 1L
      i += 1
    }
    m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $m = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $m++;
         |}
         |${ev.value} = $m;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatchCount =
    copy(left = newLeft, right = newRight)
}

/** `sign_lsh_buckets(emb)` -> array<long> of `bands` sign-LSH bucket ids, computed
  * in ONE compiled pass: quantize each float once (Spark-exact HALF_UP
  * via BigDecimal — bit-identical to `round(v*10000)`), then integer dot
  * products against the baked-in plane table; bit p of band b = sign of
  * plane (b*planesPerBand + p).
  *
  * CodegenFallback is fine here: the cost that mattered was per-ELEMENT
  * interpreted lambda dispatch in aggregate/zip_with (bands x planes x
  * dims calls per row); this is one virtual call per row around tight
  * JIT-compiled loops.
  */
case class SignLshBuckets(child: Expression, bands: Int, planesPerBand: Int,
    planes: Seq[Seq[Long]])
    extends UnaryExpression with codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_lsh_buckets"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_lsh_buckets requires array<float>, got ${dt.simpleString}")
    }

  @transient private lazy val planeArr: Array[Array[Long]] =
    planes.map(_.toArray).toArray

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      q(i) = VecMath.roundHalfUp(arr.getFloat(i).toDouble * 10000.0)
      i += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var p = 0
      while (p < planesPerBand) {
        val comps = planeArr(b * planesPerBand + p)
        var s = 0L
        var j = 0
        while (j < n && j < comps.length) { s += q(j) * comps(j); j += 1 }
        if (s > 0) bucket |= (1L << p)
        p += 1
      }
      out(b) = bucket
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SignLshBuckets =
    copy(child = newChild)
}

/** `ivf_probe_order(emb)` -> array<int> of ALL centroid ids ordered by (integer
  * squared-L2 distance, cid) ascending — the IVF coarse-quantizer
  * assignment (element 1) and probe order (prefix) in ONE compiled pass
  * over the raw embedding: quantize each float once (Spark-exact HALF_UP,
  * bit-identical to `round(v*10000)`), then integer distances against
  * the baked-in centroid table.
  *
  * Replaces the interpreted `aggregate(zip_with(...))` L2 lambdas that
  * previously ran per row x cell (the bench's slowest ANN query):
  * same integer arithmetic, same (distance, cid) lexicographic
  * tie-break, so cell assignments are bit-identical to the column form
  * AND to the SQL oracles that replay the k-means trainer.
  *
  * CodegenFallback for the same reason as [[SignLshBuckets]]: the cost
  * that mattered was per-element interpreted lambda dispatch; this is
  * one virtual call per row around tight JIT-compiled loops.
  */
case class IvfProbeOrder(child: Expression, centroids: Seq[Seq[Long]])
    extends UnaryExpression with codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ivf_probe_order"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ivf_probe_order requires array<float>, got ${dt.simpleString}")
    }

  @transient private lazy val centArr: Array[Array[Long]] =
    centroids.map(_.toArray).toArray

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      q(i) = VecMath.roundHalfUp(arr.getFloat(i).toDouble * 10000.0)
      i += 1
    }
    val k = centArr.length
    val d = new Array[Long](k)
    var cid = 0
    while (cid < k) {
      val c = centArr(cid)
      var s = 0L
      var j = 0
      val m = math.min(n, c.length)
      while (j < m) { val diff = q(j) - c(j); s += diff * diff; j += 1 }
      d(cid) = s
      cid += 1
    }
    // ids sorted by (distance, cid) — cid-ascending init + stable sort
    val order = Array.range(0, k)
    val boxed = order.map(Integer.valueOf)
    java.util.Arrays.sort(boxed, (a: Integer, b: Integer) =>
      if (d(a) != d(b)) java.lang.Long.compare(d(a), d(b)) else a - b)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(boxed.map(_.intValue()))
  }

  override protected def withNewChildInternal(newChild: Expression): IvfProbeOrder =
    copy(child = newChild)
}

/** `pq_encode(emb)` -> array<int> of product-quantization codes, one per
  * subspace, computed in ONE compiled pass: quantize each float once
  * (Spark-exact HALF_UP, bit-identical to `round(v*10000)`), then for
  * each of the `m = books.size` contiguous subvectors take the argmin
  * integer-squared-L2 codebook entry with the (distance, cid)
  * lexicographic tie-break — the same decision rule as
  * [[IvfProbeOrder]], applied per subspace.
  *
  * This is the 10^10-vector scan representation: m small ints per
  * vector instead of d floats (64 dims -> 4 codes here), produced by a
  * shuffle-free projection with the trained codebooks baked in (model
  * state, broadcast-dict pattern). CodegenFallback for the same reason
  * as [[SignLshBuckets]]: one virtual call per row around tight
  * JIT-compiled loops.
  */
case class PqEncode(child: Expression, books: Seq[Seq[Seq[Long]]])
    extends UnaryExpression with codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode requires array<float>, got ${dt.simpleString}")
    }

  @transient private lazy val bookArr: Array[Array[Array[Long]]] =
    books.map(_.map(_.toArray).toArray).toArray

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      q(i) = VecMath.roundHalfUp(arr.getFloat(i).toDouble * 10000.0)
      i += 1
    }
    val m = bookArr.length
    val dsub = n / m
    val codes = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      val cents = bookArr(sub)
      val off = sub * dsub
      var best = 0
      var bestD = Long.MaxValue
      var cid = 0
      while (cid < cents.length) {
        val c = cents(cid)
        var s = 0L
        var j = 0
        val lim = math.min(dsub, c.length)
        while (j < lim) { val diff = q(off + j) - c(j); s += diff * diff; j += 1 }
        if (s < bestD) { bestD = s; best = cid }
        cid += 1
      }
      codes(sub) = best
      sub += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** `pq_adc(codes, dt)` -> asymmetric-distance (ADC) score: with `dt` a
  * query's flattened per-subspace distance table (entry `sub*ksub+cid` =
  * integer squared L2 between the query's subvector and codebook entry
  * `cid` of subspace `sub`), returns `sum_sub dt[sub*ksub + codes[sub]]`
  * — the PQ-approximate squared distance, in m table lookups per
  * (vector, query) pair instead of d multiply-adds. Integer-exact, so
  * SQL oracles replay it with a join + sum. CodegenFallback: one
  * virtual call per row around a tight loop.
  */
case class PqAdc(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression with codegen.CodegenFallback {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_adc requires (array<int>, array<bigint>), got " +
            s"${l.simpleString} and ${r.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val dt = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    val dn = dt.numElements()
    var s = 0L
    var sub = 0
    while (sub < m) {
      val idx = sub * ksub + codes.getInt(sub)
      if (idx < dn) s += dt.getLong(idx)
      sub += 1
    }
    s
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

/** `ivfpq_encode(emb)` -> struct(cell: int, codes: array<int>) — the FAISS
  * IVFPQ corpus representation (Jegou et al. §IV: coarse quantizer +
  * product quantization of the RESIDUAL), produced in ONE compiled
  * pass with both models baked in: quantize each float once
  * (Spark-exact HALF_UP), pick the nearest coarse centroid by integer
  * squared L2 with the (distance, cid) tie-break (identical rule to
  * [[IvfProbeOrder]] element 1), subtract that centroid to form the
  * integer residual, then per contiguous subspace take the argmin
  * codebook entry over the residual (identical rule to [[PqEncode]]).
  *
  * This is the whole per-vector index-build path for a 10^10-vector
  * IVFPQ index as a single shuffle-free projection: the corpus is
  * read once and lands as (cell, m codes) — the inverted-list key and
  * the compressed payload — with no join against the centroid table
  * and no second pass for the residual. CodegenFallback for the same
  * reason as [[PqEncode]]: one virtual call per row around tight
  * JIT-compiled loops.
  */
case class IvfPqEncode(child: Expression, centroids: Seq[Seq[Long]],
    books: Seq[Seq[Seq[Long]]])
    extends UnaryExpression with codegen.CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("codes", ArrayType(IntegerType, containsNull = false), nullable = false)))
  override def prettyName: String = "ivfpq_encode"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ivfpq_encode requires array<float>, got ${dt.simpleString}")
    }

  @transient private lazy val centArr: Array[Array[Long]] =
    centroids.map(_.toArray).toArray
  @transient private lazy val bookArr: Array[Array[Array[Long]]] =
    books.map(_.map(_.toArray).toArray).toArray

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      q(i) = VecMath.roundHalfUp(arr.getFloat(i).toDouble * 10000.0)
      i += 1
    }
    // nearest coarse cell: argmin integer L2, lowest cid on ties
    var cell = 0
    var cellD = Long.MaxValue
    var cid = 0
    while (cid < centArr.length) {
      val c = centArr(cid)
      var s = 0L
      var j = 0
      val lim = math.min(n, c.length)
      while (j < lim) { val diff = q(j) - c(j); s += diff * diff; j += 1 }
      if (s < cellD) { cellD = s; cell = cid }
      cid += 1
    }
    // residual in place
    val cent = centArr(cell)
    var r = 0
    val rl = math.min(n, cent.length)
    while (r < rl) { q(r) -= cent(r); r += 1 }
    // per-subspace argmin over the residual, lowest cid on ties
    val m = bookArr.length
    val dsub = n / m
    val codes = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      val cents = bookArr(sub)
      val off = sub * dsub
      var best = 0
      var bestD = Long.MaxValue
      var k = 0
      while (k < cents.length) {
        val c = cents(k)
        var s = 0L
        var j = 0
        val lim = math.min(dsub, c.length)
        while (j < lim) { val diff = q(off + j) - c(j); s += diff * diff; j += 1 }
        if (s < bestD) { bestD = s; best = k }
        k += 1
      }
      codes(sub) = best
      sub += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(cell,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(codes))
  }

  override protected def withNewChildInternal(newChild: Expression): IvfPqEncode =
    copy(child = newChild)
}

object VecMath {
  /** Spark-exact HALF_UP rounding of a double to a long — the same
    * BigDecimal path `round()` takes, so quantization never drifts from
    * the column form (or the SQL oracles).
    */
  def roundHalfUp(x: Double): Long =
    java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  // Column builders for the expressions above. The model-dependent ones
  // carry their tables in the expression itself, so two models in one
  // plan never alias.
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  def sigMatches(a: Column, b: Column): Column =
    column(SigMatchCount(expression(a), expression(b)))

  def signLshBuckets(emb: Column, bands: Int, planesPerBand: Int,
      planes: Seq[Seq[Long]]): Column =
    column(SignLshBuckets(expression(emb), bands, planesPerBand, planes))

  def ivfProbeOrder(emb: Column, centroids: Seq[Seq[Long]]): Column =
    column(IvfProbeOrder(expression(emb), centroids))

  def pqEncode(emb: Column, books: Seq[Seq[Seq[Long]]]): Column =
    column(PqEncode(expression(emb), books))

  def ivfPqEncode(emb: Column, centroids: Seq[Seq[Long]],
      books: Seq[Seq[Seq[Long]]]): Column =
    column(IvfPqEncode(expression(emb), centroids, books))

  def pqAdc(codes: Column, dt: Column, ksub: Int): Column =
    column(PqAdc(expression(codes), expression(dt), ksub))
}
