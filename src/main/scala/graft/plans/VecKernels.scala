package graft.plans

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Native `array<double>` vector kernels (r12).
  *
  * Spark's higher-order functions (`transform`, `zip_with`,
  * `aggregate`) are CodegenFallback expressions: inside an otherwise
  * codegen'd stage every row pays interpreted eval, a lambda-variable
  * binding, and per-element boxing. For the FastRP propagation loop —
  * dim-64 arrays, |E| rows per iteration — that interpreted inner loop
  * dominated the build (measured: the propagate+checkpoint stage read
  * 40–130 executor-core-seconds per iteration at sf0.1, against ~12 for
  * the same join with a plain `sum`). These expressions keep the EXACT
  * element arithmetic of the combinator forms (same fold order, same
  * `round(x, 6)` BigDecimal-HALF_UP semantics, property-tested) as one
  * tight primitive loop per row.
  */
object VecKernels {

  /** Spark `round(x, scale)` on DOUBLE, bit-exactly: NaN/±Inf pass
    * through, else BigDecimal.valueOf(x).setScale(scale, HALF_UP)
    * (scala's BigDecimal.decimal(d) == java's valueOf(d)). */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue()

  /** L2-normalise + snap-at-6: norm² = left fold of v·v starting at
    * 0.0, each element round(v/norm, 6); all-zero row when norm == 0 —
    * the exact semantics of the per-column
    * `when(norm > 0, round(c/norm, 6)).otherwise(0.0)` form. */
  def norm6(a: ArrayData): GenericArrayData = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = a.getDouble(i); s += v * v; i += 1 }
    val norm = math.sqrt(s)
    val out = new Array[Double](n)
    if (norm > 0) {
      i = 0
      while (i < n) { out(i) = round6(a.getDouble(i) / norm); i += 1 }
    }
    new GenericArrayData(out)
  }

  /** Element-wise x / s (division exactly — NOT multiplication by a
    * reciprocal, which differs in IEEE). */
  def divScalar(a: ArrayData, s: Double): GenericArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = a.getDouble(i) / s; i += 1 }
    new GenericArrayData(out)
  }

  /** Element-wise x · s. */
  def mulScalar(a: ArrayData, s: Double): GenericArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = a.getDouble(i) * s; i += 1 }
    new GenericArrayData(out)
  }

  /** Element-wise acc + x · w (the `zip_with(acc, x, (a, b) => a + b*w)`
    * fold step). Lengths must match. */
  def axpy(acc: ArrayData, x: ArrayData, w: Double): GenericArrayData = {
    val n = acc.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = acc.getDouble(i) + x.getDouble(i) * w; i += 1 }
    new GenericArrayData(out)
  }

  /** buf += x · w, element-wise over buf's length: the accumulation step
    * of [[VecWSum]] and of the driver-side FastRP propagation. */
  def addScaled(buf: Array[Double], x: ArrayData, w: Double): Unit = {
    var i = 0
    val n = buf.length
    while (i < n) { buf(i) += x.getDouble(i) * w; i += 1 }
  }

  private def arrD(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  val Norm6Name = "graft_vec_norm6"
  val DivName = "graft_vec_div"
  val MulName = "graft_vec_mul"
  val AxpyName = "graft_vec_axpy"
  val WSumName = "graft_vec_wsum"

  @volatile private var registered = Set.empty[String]

  def register(spark: SparkSession): Unit = {
    val key = graft.Cache.sessionId(spark)
    if (!registered.contains(key)) synchronized {
      val reg = spark.sessionState.functionRegistry
      reg.createOrReplaceTempFunction(Norm6Name,
        exprs => VecNorm6(exprs(0)), "built-in")
      reg.createOrReplaceTempFunction(DivName,
        exprs => VecDivScalar(exprs(0), exprs(1)), "built-in")
      reg.createOrReplaceTempFunction(MulName,
        exprs => VecMulScalar(exprs(0), exprs(1)), "built-in")
      reg.createOrReplaceTempFunction(AxpyName,
        exprs => VecAxpy(exprs(0), exprs(1), exprs(2)), "built-in")
      reg.createOrReplaceTempFunction(WSumName,
        exprs => VecWSum(exprs(0), exprs(1)).toAggregateExpression(), "built-in")
      registered += key
    }
  }

  def norm6Col(spark: SparkSession, a: Column): Column = {
    register(spark); call_function(Norm6Name, a)
  }
  def divCol(spark: SparkSession, a: Column, s: Column): Column = {
    register(spark); call_function(DivName, a, s)
  }
  def mulCol(spark: SparkSession, a: Column, s: Column): Column = {
    register(spark); call_function(MulName, a, s)
  }
  def axpyCol(spark: SparkSession, acc: Column, x: Column, w: Double): Column = {
    register(spark); call_function(AxpyName, acc, x, lit(w))
  }
  /** Aggregate Σ_rows emb·weight, element-wise. */
  def wsumCol(spark: SparkSession, emb: Column, weight: Column): Column = {
    register(spark); call_function(WSumName, emb, weight)
  }

  private[plans] def checkArrD(name: String, e: Expression): TypeCheckResult =
    if (arrD(e)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects array<double>, got ${e.dataType.simpleString}")
}

/** `graft_vec_norm6(a)` — see [[VecKernels.norm6]]. */
case class VecNorm6(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    VecKernels.checkArrD("graft_vec_norm6", child)
  override def nullSafeEval(a: Any): Any =
    VecKernels.norm6(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.VecKernels.norm6($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_vec_div(a, s)` — element-wise a / s. */
case class VecDivScalar(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (VecKernels.checkArrD("graft_vec_div", left) ==
        TypeCheckResult.TypeCheckSuccess && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_vec_div expects (array<double>, double)")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(a: Any, s: Any): Any =
    VecKernels.divScalar(a.asInstanceOf[ArrayData], s.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, s) => s"graft.plans.VecKernels.divScalar($a, $s)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_vec_mul(a, s)` — element-wise a · s. */
case class VecMulScalar(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (VecKernels.checkArrD("graft_vec_mul", left) ==
        TypeCheckResult.TypeCheckSuccess && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_vec_mul expects (array<double>, double)")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(a: Any, s: Any): Any =
    VecKernels.mulScalar(a.asInstanceOf[ArrayData], s.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, s) => s"graft.plans.VecKernels.mulScalar($a, $s)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_vec_axpy(acc, x, w)` — element-wise acc + x · w. */
case class VecAxpy(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (VecKernels.checkArrD("graft_vec_axpy", first) ==
        TypeCheckResult.TypeCheckSuccess &&
        VecKernels.checkArrD("graft_vec_axpy", second) ==
        TypeCheckResult.TypeCheckSuccess && third.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_vec_axpy expects (array<double>, array<double>, double)")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(acc: Any, x: Any, w: Any): Any =
    VecKernels.axpy(acc.asInstanceOf[ArrayData], x.asInstanceOf[ArrayData],
      w.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, x, w) => s"graft.plans.VecKernels.axpy($a, $x, $w)")
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `graft_vec_wsum(emb, weight)` — element-wise Σ emb·weight over the
  * group, a primitive double[] buffer per group (no per-row boxing, no
  * encoder round-trips — the UDAF form cost 20–45 core-s per FastRP
  * iteration at sf0.1). Null emb/weight rows are skipped, matching
  * per-column `sum(c · weight)` null semantics; ragged inputs
  * contribute up to the buffer length (first row sizes the buffer),
  * matching the old vecSum's `i < dim && i < a.length` guard. */
case class VecWSum(emb: Expression, weight: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = Seq(emb, weight)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (emb.dataType.isInstanceOf[ArrayType] &&
        emb.dataType.asInstanceOf[ArrayType].elementType == DoubleType &&
        weight.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_vec_wsum expects (array<double>, double)")

  override def createAggregationBuffer(): Array[Double] = null

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val a = emb.eval(input)
    val w = weight.eval(input)
    if (a == null || w == null) return buf
    val arr = a.asInstanceOf[ArrayData]
    val wd = w.asInstanceOf[Double]
    var b = buf
    if (b == null) b = new Array[Double](arr.numElements())
    // fail LOUDLY on ragged inputs: silently truncating to the
    // first-seen length would be a partition-order-dependent wrong
    // answer the old per-column sums couldn't produce (r13, ADVICE fix)
    require(arr.numElements() == b.length,
      s"graft_vec_wsum: ragged input arrays (${arr.numElements()} vs ${b.length})")
    VecKernels.addScaled(b, arr, wd)
    b
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    if (b2 == null) return b1
    if (b1 == null) return b2
    require(b1.length == b2.length,
      s"graft_vec_wsum: ragged merge buffers (${b1.length} vs ${b2.length})")
    var i = 0
    val n = b1.length
    while (i < n) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Double]): Any =
    if (buf == null) null else new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    if (buf == null) return Array.emptyByteArray
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putDouble(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    if (bytes.isEmpty) return null
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Double](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getDouble(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecWSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecWSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(emb = newChildren(0), weight = newChildren(1))
}
