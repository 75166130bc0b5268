package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.Algorithms

/** `graft.driver.localThreshold=0` forces every size-adaptive leg onto
  * its distributed leg, an empty input included: a gate ≤ 0 means
  * distributed whatever the input's size. Checked on the three kernels
  * whose driver legs compared the count with the gate alone, on empty
  * edges, against the default session's rows and schema. */
class EmptyInputGateSpec extends AnyFunSuite {
  import TestSpark._

  /** A planner strategy that plans nothing and records whether it was
    * offered a join: the distributed Yen's relaxation joins the edges,
    * and its driver leg plans no join. */
  private final class JoinSeen extends SparkStrategy {
    @volatile var seen = false
    def apply(plan: LogicalPlan): Seq[SparkPlan] = {
      if (plan.isInstanceOf[Join]) seen = true
      Nil
    }
  }

  /** (leg, kernel over empty edges, whether the distributed leg ran). The
    * driver legs of Kruskal and JP coloring return local frames, which
    * an empty input folds into an empty LocalRelation; their distributed
    * legs return checkpointed frames. Both Yen's legs return local
    * frames, so its distributed leg shows by its join. */
  private val legs: Seq[(String, SparkSession => DataFrame, (DataFrame, JoinSeen) => Boolean)] = Seq(
    ("yensPaths",
      s => Algorithms.yensPaths(edges(s, "len"), 1L, 2L, k = 3),
      (_, joins) => joins.seen),
    ("spanningForest",
      s => Algorithms.spanningForest(edges(s, "weight")),
      (out, _) => GraftBridge.localRelation(out).isEmpty),
    ("k1Coloring",
      s => Algorithms.k1Coloring(edges(s, "weight").select("src", "dst")),
      (out, _) => GraftBridge.localRelation(out).isEmpty))

  private def edges(s: SparkSession, weight: String): DataFrame =
    s.createDataFrame(Seq.empty[(Long, Long, Double)]).toDF("src", "dst", weight)

  private def session(gate: Option[Long]): (SparkSession, JoinSeen) = {
    val s = spark.newSession()
    gate.foreach(g => s.conf.set("graft.driver.localThreshold", g.toString))
    val joins = new JoinSeen
    s.experimental.extraStrategies = Seq(joins)
    (s, joins)
  }

  legs.foreach { case (name, kernel, ranDistributed) =>
    test(s"$name: gate 0 on empty edges takes the distributed leg, with the default leg's rows and schema") {
      val (default, _) = session(None)
      val (forced, joins) = session(Some(0L))
      try {
        val (want, got) = (kernel(default), kernel(forced))
        assert(ranDistributed(got, joins), s"$name took its driver leg at gate 0")
        assert(got.collect().isEmpty && want.collect().isEmpty)
        assert(got.schema == want.schema,
          s"$name: forced schema ${got.schema.simpleString} != default ${want.schema.simpleString}")
      } finally { Cache.clear(default); Cache.clear(forced) }
    }
  }
}
