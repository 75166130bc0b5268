package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graftbridge.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.Louvain

/** The whole-Louvain driver leg (every level on arrays under
  * `graft.driver.localThreshold`) against the distributed leg that runs
  * at gate 0: row and schema identity, or the same error, on degenerate
  * and hostile edge lists, for `louvain` and `louvainWarmStart`, and for
  * the distributed leg that hands its coarsened levels to the driver. */
class LouvainLegSpec extends AnyFunSuite {
  import TestSpark._

  private type Edges = Seq[(Long, Long, Double)]

  private def session(gate: Option[Long]): SparkSession = {
    val s = spark.newSession()
    gate.foreach(g => s.conf.set("graft.driver.localThreshold", g.toString))
    s
  }

  private def edges(s: SparkSession, e: Edges): DataFrame =
    s.createDataFrame(e).toDF("src", "dst", "weight")

  private def both(e: Edges): Edges = e.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }

  private def clique(ids: Seq[Long], w: Double): Edges =
    for { a <- ids; b <- ids if a != b } yield (a, b, w)

  /** (name, edges, takes the driver leg under the default gate). */
  private val shapes: Seq[(String, Edges, Boolean)] = Seq(
    ("empty", Seq.empty, true),
    ("one edge pair", both(Seq((1L, 2L, 3.0))), true),
    ("star hub", both((1L to 30L).map(i => (0L, i, (i % 3 + 1).toDouble))), true),
    ("disconnected forest", both(Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (2L, 4L, 2.0),
      (10L, 11L, 1.0), (20L, 21L, 5.0), (21L, 22L, 5.0), (22L, 23L, 1.0))), true),
    // level 0 merges each clique; the coarsened graph carries their
    // internal weight as self-loops next to the bridges
    ("coarsened self-loops", clique(Seq(1L, 2L, 3L), 5.0) ++ clique(Seq(4L, 5L, 6L), 5.0) ++
      clique(Seq(7L, 8L, 9L), 4.0) ++ both(Seq((3L, 4L, 1.0), (6L, 7L, 2.0), (9L, 1L, 1.0))), true),
    ("input self-loops", both(Seq((1L, 2L, 2.0), (2L, 3L, 1.0))) ++
      Seq((1L, 1L, 4.0), (3L, 3L, 1.0)), true),
    ("dst never a src", both(Seq((1L, 2L, 2.0), (2L, 3L, 1.0))) ++
      Seq((1L, 99L, 3.0), (3L, 98L, 1.0)), true),
    ("negative ids", both(Seq((-3L, -2L, 2.0), (-2L, -1L, 2.0), (-1L, 0L, 1.0),
      (0L, 1L, 3.0), (-5L, -3L, 1.0))), true),
    ("parallel and non-positive rows", Seq((1L, 2L, 1.0), (1L, 2L, 2.0), (2L, 1L, 3.0),
      (2L, 3L, 0.0), (3L, 2L, -1.0), (3L, 4L, 2.0), (4L, 3L, 2.0)), true),
    ("fractional weights", both(Seq((1L, 2L, 0.5), (2L, 3L, 1.25), (3L, 4L, 0.3))), false))

  test("louvain: the driver leg is row- and schema-identical to the distributed leg") {
    val (d, f) = (session(None), session(Some(0L)))
    try {
      shapes.foreach { case (name, e, driver) =>
        for ((levels, grouped) <- Seq((2, false), (3, true))) {
          val label = s"$name (levels $levels, assumeGrouped $grouped)"
          val (a, b) = (Louvain.louvain(edges(d, e), levels, assumeGrouped = grouped),
            Louvain.louvain(edges(f, e), levels, assumeGrouped = grouped))
          sameResult(label, a, b)
          // parallel rows passed as grouped are ill-formed: distributed
          val expected = driver && !(grouped && name.startsWith("parallel"))
          assert(GraftBridge.localRelation(a).isDefined == expected, s"$label: leg taken")
          assert(GraftBridge.localRelation(b).isEmpty, s"$label: the gate-0 leg ran on the driver")
        }
      }
      // int ids keep their type on the driver leg
      val ints = shapes.find(_._1 == "coarsened self-loops").get._2
        .map { case (a, b, w) => (a.toInt, b.toInt, w) }
      sameResult("int ids", Louvain.louvain(d.createDataFrame(ints).toDF("src", "dst", "weight")),
        Louvain.louvain(f.createDataFrame(ints).toDF("src", "dst", "weight")))
      // the reference's co-rating projection
      sameResult("userCommunities", Louvain.userCommunities(d, sf), Louvain.userCommunities(f, sf))
      assert(GraftBridge.localRelation(Louvain.userCommunities(d, sf)).isDefined)
    } finally Seq(d, f).foreach(Cache.clear)
  }

  test("louvain: a coarsened level under the gate runs its remaining levels on the driver") {
    // 24 rows at level 0, over a gate of 12; the coarsened graph (three
    // self-loops and six bridges) is under it
    val (mid, f) = (session(Some(12L)), session(Some(0L)))
    def driverLabels(df: DataFrame) = df.queryExecution.analyzed.collectLeaves().exists {
      case l: LocalRelation => l.output.map(_.name) == Seq("node_id", "community")
      case _ => false
    }
    try {
      for ((name, e, coarseOnDriver) <- Seq((shapes(4)._1, shapes(4)._2, true),
             ("fractional cliques", shapes(4)._2.map { case (a, b, w) => (a, b, w + 0.5) }, false));
           levels <- Seq(2, 3)) {
        val label = s"$name (levels $levels)"
        val a = Louvain.louvain(edges(mid, e), levels)
        sameResult(label, a, Louvain.louvain(edges(f, e), levels))
        assert(driverLabels(a) == coarseOnDriver, s"$label: leg taken at the coarsened level")
      }
    } finally Seq(mid, f).foreach(Cache.clear)
  }

  test("louvain: an all-local input runs no Spark job on the driver leg") {
    val d = session(None)
    try {
      val e = edges(d, shapes(4)._2)
      for (grouped <- Seq(true, false)) {
        val (_, jobs) = jobsDuring(Louvain.louvain(e, assumeGrouped = grouped).collect())
        assert(jobs == 0, s"driver-leg louvain (assumeGrouped $grouped) ran $jobs jobs")
      }
    } finally Cache.clear(d)
  }

  test("louvainWarmStart: the driver leg is row- and schema-identical on GraphAlgoSpec's fixture") {
    val (d, f) = (session(None), session(Some(0L)))
    // GraphAlgoSpec's warm-start fixture (bridge 0.1, fractional) and the
    // same graphs with an integral bridge, which take the driver leg
    def base(bridge: Double) = clique(Seq(1L, 2L, 3L), 5.0) ++ clique(Seq(4L, 5L, 6L), 5.0) ++
      both(Seq((3L, 4L, bridge)))
    val merged = clique(Seq(1L, 2L, 3L), 5.0) ++ clique(Seq(4L, 5L, 6L), 5.0) ++
      both(Seq((3L, 4L, 60.0)))
    def grown(bridge: Double) = clique(Seq(1L, 2L, 3L, 9L), 5.0) ++
      clique(Seq(4L, 5L, 6L), 5.0) ++ both(Seq((3L, 4L, bridge)))
    try {
      for (bridge <- Seq(0.1, 1.0);
           (name, e, sweeps) <- Seq(("base", base(bridge), 2), ("merged", merged, 4),
             ("grown", grown(bridge), 2))) {
        def warm(s: SparkSession) = Louvain.louvainWarmStart(edges(s, e),
          Louvain.louvain(edges(s, base(bridge))), sweeps)
        sameResult(s"$name from the cold labels of base $bridge", warm(d), warm(f))
      }
      // a seed with a missing node, a null label and a node outside the
      // graph; and one with a repeated node, which takes the distributed
      // leg on both sessions
      def seeded(s: SparkSession, seed: Seq[(java.lang.Long, java.lang.Long)]) =
        Louvain.louvainWarmStart(edges(s, merged),
          s.createDataFrame(seed).toDF("node_id", "community"))
      val odd = Seq[(java.lang.Long, java.lang.Long)]((1L, 4L), (2L, null), (3L, 4L), (50L, 1L),
        (null, 2L))
      sameResult("odd seed", seeded(d, odd), seeded(f, odd))
      assert(GraftBridge.localRelation(seeded(d, odd)).isDefined)
      val repeated = odd :+ ((1L: java.lang.Long, 5L: java.lang.Long))
      sameResult("repeated seed", seeded(d, repeated), seeded(f, repeated))
      assert(GraftBridge.localRelation(seeded(d, repeated)).isEmpty)
    } finally Seq(d, f).foreach(Cache.clear)
  }
}
