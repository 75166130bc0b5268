package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.Dbscan

/** DBSCAN: hand fixture (roles + labels), eps boundary inclusivity, and
  * LSH-candidate-path parity with the exact all-pairs path. */
class DbscanSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** 64-dim point with the given first coordinate, rest zero. */
  private def pt(id: Long, x: Double) =
    (id, Array.fill(64)(0.0).updated(0, x).toSeq)

  test("dbscan: two blobs, a border point, a noise point — roles and min-id labels") {
    // eps = 1 (epsSq 1.0), minPts = 3. Blob A ids 1-4 at x 0.0..0.3 (all
    // core, label 1); id 5 at x 1.2 reaches only cores 3 (d=1.0, ON the
    // boundary — inclusive) and 4 (d=0.9): n_eps=2 < 3 → border, label 1.
    // Blob B ids 6-9 at x 10.0..10.3 (core, label 6); id 10 at x 5 →
    // noise (-1).
    val pts = Seq(
      pt(1, 0.0), pt(2, 0.1), pt(3, 0.2), pt(4, 0.3), pt(5, 1.2),
      pt(6, 10.0), pt(7, 10.1), pt(8, 10.2), pt(9, 10.3), pt(10, 5.0))
      .toDF("id", "vec")
    val got = Dbscan.dbscanFrom(pts, epsSq = 1.0, minPts = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    val expect = Map[Long, (String, Long, Long)](
      1L -> (("core", 1L, 3L)), 2L -> (("core", 1L, 3L)),
      3L -> (("core", 1L, 4L)), 4L -> (("core", 1L, 4L)),
      5L -> (("border", 1L, 2L)),
      6L -> (("core", 6L, 3L)), 7L -> (("core", 6L, 3L)),
      8L -> (("core", 6L, 3L)), 9L -> (("core", 6L, 3L)),
      10L -> (("noise", -1L, 0L)))
    assert(got == expect)
  }

  test("dbscan: LSH candidate path ≡ exact all-pairs path on real embeddings") {
    val sfDir = "/root/testdata/sf0.001"
    val points = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val exact = Dbscan.dbscanFrom(points).collect().map(_.toSeq)
    // the same points in a session whose driver gate is 0: LSH-banded
    // candidates, and the distributed closure
    val gateZero = spark.newSession()
    gateZero.conf.set("graft.driver.localThreshold", "0")
    // the kernels register their functions on the active session
    org.apache.spark.sql.SparkSession.setActiveSession(gateZero)
    val viaLsh = try Dbscan.dbscanFrom(org.apache.spark.sql.graftbridge.GraftBridge.ofRows(
        gateZero, org.apache.spark.sql.graftbridge.GraftBridge.logicalPlan(points)))
      .collect().map(_.toSeq)
    finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    assert(viaLsh.toSeq == exact.toSeq)
  }

  test("nnDescent: planted clusters converge to the within-cluster KNN graph") {
    // 5 clusters × 12 points: vec = e_cluster + 0.2·e_perturb, so every
    // within-cluster cosine (≥ ~0.96) dominates every cross-cluster one
    // (≤ ~0.04). Exact top-10 of each node is purely within-cluster;
    // descent must recover that from the cluster-mixing ring init.
    val pts = (0 until 60).map { i =>
      val c = i / 12
      val v = Array.fill(64)(0.0)
      v(c) = 1.0
      v(20 + i % 11) = 0.2
      (i.toLong, v.toSeq)
    }.toDF("id", "vec")
    val graph = graft.ann.NnDescent.knnDescent(pts, k = 10, iters = 3).collect()
    assert(graph.length == 600) // exactly k per node
    graph.foreach { r =>
      val (id, nbr) = (r.getLong(0), r.getLong(1))
      assert(id != nbr)
      assert(id / 12 == nbr / 12,
        s"cross-cluster edge survived descent: $id -> $nbr (cos=${r.getDouble(2)})")
    }
  }

  test("kmeans silhouette: bounded scores, complete membership, deterministic") {
    val out = graft.ann.KMeans.silhouette(spark, TestSpark.sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    assert(out.forall(t => t._3 >= -1.0 && t._3 <= 1.0),
      s"silhouette out of [-1,1]: ${out.toSeq}")
    val total = graft.Tables.embeddings(spark, TestSpark.sf).count()
    assert(out.map(_._2).sum == total, "every vector scored exactly once")
    val again = graft.ann.KMeans.silhouette(spark, TestSpark.sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == again.toSeq)
  }

  test("nnDescent: deterministic across runs") {
    val pts = (0 until 40).map { i =>
      val v = Array.fill(64)(0.0); v(i % 16) = 1.0; v(17 + i % 13) = 0.3
      (i.toLong, v.toSeq)
    }.toDF("id", "vec")
    // determinism is a CONTENT contract — collect() order is partition
    // scheduling, not semantics (the query entry sorts before output),
    // so compare canonically sorted row sets
    def run() = graft.ann.NnDescent.knnDescent(pts, k = 5, iters = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(run() == run())
  }

  test("dbscan: isolated core pair below minPts stays noise (no 1-point clusters from border rule)") {
    // two points within eps of each other but minPts=2 not reached
    // (n_eps=1 each): neither is core, so neither can be border — both
    // noise even though they have neighbours
    val pts = Seq(pt(1, 0.0), pt(2, 0.5)).toDF("id", "vec")
    val got = Dbscan.dbscanFrom(pts, epsSq = 1.0, minPts = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == Set((1L, "noise", -1L, 1L), (2L, "noise", -1L, 1L)))
  }
}
