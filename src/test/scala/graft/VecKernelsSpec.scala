package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{FastRpBase, VecKernels}

/** r12: the native vector kernels behind the FastRP rewrite must agree
  * BIT-EXACTLY with the combinator forms they replaced — same fold
  * order for the norm, Spark's own round-at-6 (BigDecimal HALF_UP)
  * per element, exact division, and the same base-vector md5 draw as
  * the conv(substring(md5(...)), 16, 10) % 6 chain. */
class VecKernelsSpec extends AnyFunSuite {
  import TestSpark._

  private val dim = 64

  private def randArrays(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    import spark.implicits._
    (1 to n).map { i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)),
        math.abs(rnd.nextGaussian()) + 0.1)
    }.toDF("id", "emb", "w")
  }

  test("norm6 ≡ when(norm>0, transform(round(v/norm,6))).otherwise(zeros)") {
    val df = randArrays(500, 7)
      // include an exact-zero row to pin the norm==0 branch
      .unionAll(spark.sql(s"select 0L id, array_repeat(0.0d, $dim) emb, 1.0d w"))
    val norm = sqrt(aggregate(col("emb"), lit(0.0), (acc, v) => acc + v * v))
    val slow = when(norm > 0, transform(col("emb"), v => round(v / norm, 6)))
      .otherwise(transform(col("emb"), _ => lit(0.0)))
    val both = df.select(VecKernels.norm6Col(spark, col("emb")).as("fast"),
      slow.as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).isEmpty)
  }

  test("div/mul/axpy ≡ the transform/zip_with combinator forms") {
    val df = randArrays(500, 11).withColumn("acc",
      transform(col("emb"), v => v * lit(0.37)))
    val w = 0.73421
    val both = df.select(
      VecKernels.divCol(spark, col("emb"), col("w")).as("fd"),
      transform(col("emb"), v => v / col("w")).as("sd"),
      VecKernels.mulCol(spark, col("emb"), col("w")).as("fm"),
      transform(col("emb"), v => v * col("w")).as("sm"),
      VecKernels.axpyCol(spark, col("acc"), col("emb"), w).as("fa"),
      zip_with(col("acc"), col("emb"), (a, b) => a + b * lit(w)).as("sa"))
    assert(both.filter(col("fd") =!= col("sd") || col("fm") =!= col("sm") ||
      col("fa") =!= col("sa")).isEmpty)
  }

  test("wsum ≡ per-element sum(emb[i] * w) columns") {
    val df = randArrays(800, 13).withColumn("g", pmod(col("id"), lit(37)))
    val fast = df.groupBy(col("g"))
      .agg(VecKernels.wsumCol(spark, col("emb"), col("w")).as("s"))
    val sumCols = (0 until dim).map(i =>
      sum(col("emb").getItem(i) * col("w")).as(s"s$i"))
    val slow = df.groupBy(col("g")).agg(sumCols.head, sumCols.tail: _*)
    val j = fast.join(slow, Seq("g"))
    // partial/merge order may differ between the two aggregates, so
    // compare at the snap the pipeline actually keeps (1e-9 ≪ the
    // 6-decimal snap every consumer applies)
    val bad = j.filter((0 until dim).map(i =>
      abs(col("s").getItem(i) - col(s"s$i")) > abs(col(s"s$i")) * 1e-12 + 1e-12)
      .reduce(_ || _))
    assert(bad.isEmpty)
  }

  test("fastrp base vector ≡ the conv(substring(md5)) literal chain") {
    import spark.implicits._
    val ids = (0L until 300L).toDF("node_id")
    val seed = 42
    val sqrt3 = math.sqrt(3.0)
    val chain = array((0 until dim).map { j =>
      val h = conv(substring(
        md5(concat(col("node_id").cast("string"), lit(s":$j:$seed"))), 1, 8), 16, 10)
        .cast("long") % 6
      when(h === 0, lit(sqrt3)).when(h === 1, lit(-sqrt3)).otherwise(lit(0.0))
    }: _*)
    val both = ids.select(
      FastRpBase.baseVec(spark, col("node_id"), dim, seed).as("fast"),
      chain.as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).isEmpty)
  }

  test("weighted walk corpus: native step draw ≡ the ES-clock column form") {
    val edges = graph.RatingsGraph.cooccurrenceEdges(spark, sf)
      .select(col("u1").as("src"), col("u2").as("dst"), col("weight"))
    def corpus(e: org.apache.spark.sql.DataFrame) = graph.Algorithms.node2vecWalkCorpus(e,
      walksPerNode = 2, steps = 4, symmetric = true, weighted = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val native = corpus(edges) // default gate → Node2VecStep kernel
    // the same edges in a session whose driver gate is 0 → pair-join +
    // min_by column form
    val gateZero = spark.newSession()
    gateZero.conf.set("graft.driver.localThreshold", "0")
    // the kernels register their functions on the active session
    org.apache.spark.sql.SparkSession.setActiveSession(gateZero)
    val column = try corpus(org.apache.spark.sql.graftbridge.GraftBridge.ofRows(gateZero,
      org.apache.spark.sql.graftbridge.GraftBridge.logicalPlan(edges)))
    finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    assert(native == column,
      s"corpora diverge: only-native=${(native -- column).take(5)} " +
        s"only-column=${(column -- native).take(5)}")
  }

  test("round6 matches Spark round() on adversarial doubles") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val xs = Seq(0.0, -0.0, 1e-7, -1e-7, 0.0000005, -0.0000005, 0.1234565,
      123456.1234565, 1e18, -1e18) ++ Seq.fill(2000)(rnd.nextGaussian() *
      math.pow(10, rnd.nextInt(12) - 6))
    val df = xs.toDF("x")
    val both = df.select(col("x"), round(col("x"), 6).as("slow"))
      .collect()
    both.foreach { r =>
      val f = VecKernels.round6(r.getDouble(0))
      assert(java.lang.Double.compare(f, r.getDouble(1)) == 0,
        s"x=${r.getDouble(0)}: kernel $f vs spark ${r.getDouble(1)}")
    }
  }
}
