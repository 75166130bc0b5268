package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r12 optimization-round equivalence gates: the rewritten kernels'
  * fast paths must agree row-for-row with their scale-shape fallbacks. */
class R12OptSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("core decomposition: driver BZ leg == delta-activated h-index loop") {
    // 4-core fixture: a K5 (core 4) hanging off a path (core 1) plus a
    // triangle (core 2) — three distinct core values, a pendant chain
    val und = Seq(
      // K5 on 1..5
      (1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L), (2L, 4L),
      (2L, 5L), (3L, 4L), (3L, 5L), (4L, 5L),
      // path 5-6-7
      (5L, 6L), (6L, 7L),
      // triangle 7-8-9
      (7L, 8L), (8L, 9L), (7L, 9L),
      // pendant 10 off the path (degree 1 — the only core-1 node)
      (6L, 10L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val local = graph.Algorithms.coreDecomposition(edges)
      .orderBy("node_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    spark.conf.set("graft.driver.localThreshold", "0")
    val dist =
      try graph.Algorithms.coreDecomposition(edges)
        .orderBy("node_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      finally spark.conf.unset("graft.driver.localThreshold")
    assert(local.toSeq == dist.toSeq)
    val m = local.toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(m(_) == 4L))
    assert(m(6L) == 2L && m(7L) == 2L && m(8L) == 2L && m(9L) == 2L)
    assert(m(10L) == 1L)
  }

  test("iterState: over-gate frames come back unhinted, under-gate broadcast") {
    val df = spark.range(10).toDF("node_id").localCheckpoint()
    val pinned = graph.Algorithms.iterState(df, 10L, 32L)
    val unpinned = graph.Algorithms.iterState(df, 10L,
      rowBytes = Long.MaxValue / 100)
    // the pin must be a plan hint, not a semantic change
    assert(pinned.collect().map(_.getLong(0)).sorted.toSeq == (0L to 9L))
    assert(unpinned.collect().map(_.getLong(0)).sorted.toSeq == (0L to 9L))
    val joined = spark.range(100).toDF("node_id")
      .join(pinned, Seq("node_id"))
    assert(joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
  }
}
