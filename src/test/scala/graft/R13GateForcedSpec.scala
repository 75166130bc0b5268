package graft

import org.scalatest.funsuite.AnyFunSuite

/** r13 (VERDICT #6): every size-gated driver leg / broadcast pin must
  * have a LIVE distributed fallback that returns hash-identical rows.
  * This suite re-runs the gate-dependent entries at sf0.001 in a fresh
  * session with every gate forced to the at-scale shape:
  *
  *   graft.iter.broadcastBytes=0        (all loop-state broadcast pins,
  *                                       oriented-adj pin, sllpa memArr)
  *   graft.driver.localThreshold=0      (UnionFind CC, driver Tarjan SCC,
  *                                       BZ core decomposition,
  *                                       JP coloring, yens Bellman–Ford,
  *                                       Borůvka contraction, the
  *                                       serving snapshot, the
  *                                       mst_invariants CC counts, the
  *                                       kspan/leiden split checks'
  *                                       CC, the driver-built ANN
  *                                       IVF/PQ index, the driver
  *                                       FastRP states, LSH scored
  *                                       pairs and KNN top-k, the
  *                                       ratings silver held on the
  *                                       driver, whole Louvain on the
  *                                       driver)
  *   graft.dedup.clusters.localThreshold=0 (closure UF)
  *   graft.node2vec.adjBroadcastEdges=0 (CSR/adjacency broadcast draw)
  *   graft.dbscan.exactPointsThreshold=0 (LSH-banded eps pairs)
  *   graft.lsh.exactPairsThreshold=0     (banded candidate generation)
  *
  * and asserts row-identical output against the default-gate run. */
class R13GateForcedSpec extends AnyFunSuite {
  import TestSpark._

  private val sfDir = "/root/testdata/sf0.001"

  private val ForcedConfs = Seq(
    "graft.iter.broadcastBytes" -> "0",
    "graft.driver.localThreshold" -> "0",
    "graft.dedup.clusters.localThreshold" -> "0",
    "graft.node2vec.adjBroadcastEdges" -> "0",
    "graft.dbscan.exactPointsThreshold" -> "0",
    "graft.lsh.exactPairsThreshold" -> "0")

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
    "gds_louvain_write", "gds_leiden_write", "louvain_invariants")

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
