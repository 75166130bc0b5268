package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Vector algebra over `array<float|double>` columns, built from
  * codegen'd `functions._` combinators (`zip_with` / `aggregate` /
  * `transform`) so the hot path stays inside WholeStageCodegen — no Scala
  * UDF per-row boxing for the scalar ops.
  */
object VectorOps {

  /** Driver-side twin of Spark's `round(x, 6)` on a double: HALF_UP over
    * the shortest decimal repr, NaN and ±Infinity passed through. The
    * 1e-6 snap that makes cross-row float means replayable (k-means
    * centroids, the IVF/PQ index). */
  def round6(v: Double): Double =
    if (v.isNaN || v.isInfinite) v
    else BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Dot product of two equal-length numeric arrays, accumulated in
    * double, sequential fold (deterministic per row). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Cosine similarity; 0.0 for zero vectors (never NaN). */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2norm(a) * l2norm(b)
    when(denom > 0.0, dot(a, b) / denom).otherwise(lit(0.0))
  }

  /** Scale an array by a (column) scalar. */
  def scale(a: Column, s: Column): Column =
    transform(a, v => v.cast("double") * s.cast("double"))

  /** L2-normalize an array; zero vector passes through. */
  def normalize(a: Column): Column = {
    val n = l2norm(a)
    when(n > 0.0, transform(a, v => v.cast("double") / n)).otherwise(a)
  }

  /** Column aggregate: element-wise sum of `array<double>` values — the
    * map-side-combining way to aggregate neighbour embeddings without a
    * 64× posexplode blowup. (Partial aggregation happens before the
    * shuffle, so each groupBy key ships one dim-length buffer per map
    * partition, not one row per neighbour per dimension.) */
  def vecSum(dim: Int)(c: Column): Column = {
    val agg = new Aggregator[Seq[Double], Array[Double], Seq[Double]] {
      override def zero: Array[Double] = Array.fill(dim)(0.0)
      override def reduce(b: Array[Double], a: Seq[Double]): Array[Double] = {
        if (a != null) { var i = 0; while (i < dim && i < a.length) { b(i) += a(i); i += 1 } }
        b
      }
      override def merge(x: Array[Double], y: Array[Double]): Array[Double] = {
        var i = 0; while (i < dim) { x(i) += y(i); i += 1 }; x
      }
      override def finish(b: Array[Double]): Seq[Double] = b.toSeq
      override def bufferEncoder: Encoder[Array[Double]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
      override def outputEncoder: Encoder[Seq[Double]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
    }
    udaf(agg, org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
      .apply(c)
  }
}
