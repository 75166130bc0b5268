package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity between two float/double
  * array columns, with full whole-stage codegen (`doGenCode` emits a
  * primitive loop — no per-element boxing, no lambda-function dispatch).
  *
  * This is the hot inner kernel of the ANN / KNN / embedding-dedup
  * operators: LSH candidate verification evaluates it millions of times,
  * where the `zip_with`+`aggregate` combinator pipeline pays
  * HigherOrderFunction overhead per element. Zero-length or zero-norm
  * inputs yield 0.0 (never NaN); LENGTH-MISMATCHED inputs yield NULL —
  * the same result the combinator form ([[graft.functions.VectorOps
  * .cosine]]) produces via zip_with's null padding, so the two kernels
  * stay interchangeable (property-tested, including the mismatch case).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  // null on length mismatch even when both children are non-null
  override def nullable: Boolean = true

  private def okType(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left) && okType(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects array<float|double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom > 0.0) dot / denom else 0.0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $xv = (double) $a.$lGet($i);
         |    final double $yv = (double) $b.$rGet($i);
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  ${ev.value} = ($denom > 0.0) ? ($dot / $denom) : 0.0;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  val FunctionName = "graft_cosine"
  @volatile private var registered = Set.empty[String]

  /** Idempotently register the expression on the session's function
    * registry (also injectable via [[GraftExtensions]] for SQL users).
    * Keyed by sessionUUID — stable and never reused, unlike identity
    * hashes. */
  def register(spark: SparkSession): Unit = {
    val key = graft.Cache.sessionId(spark)
    if (!registered.contains(key)) synchronized {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        FunctionName, exprs => CosineSim(exprs(0), exprs(1)), "built-in")
      registered += key
    }
  }

  /** Column-API entry point for the native kernel; registers on first
    * use for the active session. */
  def cosine(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function(FunctionName, a, b)
  }

  /** The kernel on the driver, bit-identical to [[CosineSim.nullSafeEval]]
    * for equal-length inputs (float elements widen exactly to double):
    * the same sequential accumulation, 0.0 for a zero norm. */
  def local(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom > 0.0) dot / denom else 0.0
  }
}

/** SparkSessionExtensions hook: `.withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.plans.GraftExtensions` exposes
  * `graft_cosine` to pure-SQL users. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(CosineSim.FunctionName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[CosineSim].getName, CosineSim.FunctionName),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier(Md5Bits.FunctionName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[Md5Bits].getName, Md5Bits.FunctionName),
      (exprs: Seq[Expression]) => Md5Bits(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue)))
  }
}
