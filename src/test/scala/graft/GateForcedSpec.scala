package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every size-gated driver leg and broadcast pin must have a LIVE
  * distributed fallback that returns row-identical output. This suite
  * re-runs the gate-dependent entries at sf0.001 in a fresh session with
  * every gate forced to the at-scale shape:
  *
  *   graft.iter.broadcastBytes=0        (all loop-state broadcast pins,
  *                                       oriented-adj pin, sllpa memArr)
  *   graft.driver.localThreshold=0      (every leg read through
  *                                       `Algorithms.driverGate`: UnionFind
  *                                       CC, driver Tarjan SCC, BZ core
  *                                       decomposition, JP coloring, yens
  *                                       Bellman–Ford, Kruskal and the
  *                                       Borůvka contraction, the serving
  *                                       snapshot, the mst_invariants CC
  *                                       counts, the kspan/leiden split
  *                                       checks' CC, the driver-built ANN
  *                                       IVF/PQ index, the driver FastRP
  *                                       states, LSH scored pairs and KNN
  *                                       top-k, the ratings silver held on
  *                                       the driver, whole Louvain on the
  *                                       driver, the dedup closure UF, the
  *                                       node2vec CSR/adjacency broadcast,
  *                                       the dbscan exact eps pairs and the
  *                                       LSH near-dup exact pairs)
  *
  * and asserts row-identical output against the default-gate run. */
class GateForcedSpec extends AnyFunSuite {
  import TestSpark._

  private val sfDir = "/root/testdata/sf0.001"

  private val ForcedConfs = Seq(
    "graft.iter.broadcastBytes" -> "0",
    "graft.driver.localThreshold" -> "0")

  private val Entries = Seq(
    "connected_components", "scc_components", "kcore_decomposition",
    "graph_coloring", "yens_paths", "mst_edges", "k_spanning_clusters",
    "dedup_clusters", "dbscan_clusters", "node2vec_walks",
    "communities_sllpa", "triangle_count", "truss_decay",
    "pagerank_topk", "fastrp_embeddings", "dedup_minhash_pairs",
    "bfs_hops", "communities_louvain", "communities_leiden",
    "serve_user_books", "serve_recommendations", "mst_invariants",
    "kspan_invariants", "leiden_invariants",
    "ann_ivf_topk", "ann_pq_topk", "ann_ivfpq_topk",
    "ivf_invariants", "pq_invariants", "ivfpq_invariants",
    "fastrp_norms", "knn_similar_edges", "knn_similar_edges_ref",
    "knn_edges_invariants", "gds_knn_write", "recommend_knn_embedding",
    "gds_louvain_write", "gds_leiden_write", "louvain_invariants",
    "dedup_embedding")

  private def runAll(confs: Seq[(String, String)]): Map[String, Seq[String]] = {
    val s = spark.newSession()
    org.apache.spark.sql.SparkSession.setActiveSession(s)
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      graft.plans.Md5Bits.register(s)
      graft.plans.CosineSim.register(s)
      Entries.map { name =>
        val rows = SparkEntry.queries(name)(s, sfDir).collect()
          .map(_.toString).sorted.toSeq
        name -> rows
      }.toMap
    } finally {
      graft.Cache.clear(s)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("forced-gate (distributed/fallback) runs are row-identical to default gates") {
    val base = runAll(Nil)
    val forced = runAll(ForcedConfs)
    Entries.foreach { name =>
      assert(forced(name) == base(name),
        s"$name diverges under forced gates (default ${base(name).size} rows, " +
          s"forced ${forced(name).size} rows)")
    }
  }
}
