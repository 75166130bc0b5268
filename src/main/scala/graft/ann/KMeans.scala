package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.VectorOps.round6

/** Lloyd's k-means over the embedding corpus (GDS `gds.kmeans` parity;
  * the clustering complement of the IVF routing stage in
  * [[AnnSearch]]).
  *
  * Determinism: init picks the k vectors with the smallest seeded
  * md5(vec_id) hash — a uniform, engine-reproducible draw — and every
  * iteration is a pure function of the previous centroids, so two runs
  * produce identical assignments (float reductions ride a fixed
  * aggregation shape).
  *
  * Scale shape: centroids are k·dim doubles — broadcast as LITERALS
  * into the assignment projection (no join, stays inside whole-stage
  * codegen); the update is one groupBy(cluster) over 64 columnar sums
  * (map-side partial aggregation — the FastRP lever), so each
  * iteration is ONE shuffle of k×64 partial rows, never a vector
  * exchange. The corpus is scanned once per iteration. */
object KMeans {

  /** Per-iteration WSS trace of the cached [[assign]] build, memoized
    * alongside the frame (the Cache holds DataFrames only); written
    * exactly once per (session, dir, k, iters) since the cached builder
    * runs once. Lets [[invariants]] ride the SAME Lloyd run as the
    * clusters entry instead of re-training (~6 s per bench sweep). */
  private val traces = {
    val m = new java.util.concurrent.ConcurrentHashMap[String, Seq[Double]]()
    graft.Cache.registerSideMap(m)
    m
  }

  /** (vec_id, cluster) for every embedding, k clusters, `iters`
    * Lloyd iterations from the hash-seeded init. */
  def assign(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3): DataFrame =
    graft.Cache.cached(spark, dir, s"kmeans_${k}_$iters") {
      val (out, trace) = lloydWithTrace(
        embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        k, iters, dim = 64)
      traces.put(s"${graft.Cache.sessionId(spark)}|$dir|$k|$iters", trace)
      out
    }

  /** Lloyd's over any (vec_id, embedding: Array[Float]) frame. */
  def lloyd(emb: DataFrame, k: Int, iters: Int, dim: Int): DataFrame =
    lloydWithTrace(emb, k, iters, dim)._1

  /** [[lloyd]] plus the per-iteration within-cluster sum of squares,
    * PIGGYBACKED on the update step's own aggregates:
    * wss(Aᵢ, μ(Aᵢ)) = Σ‖x‖² − Σ_c ‖s_c‖²/n_c — the cluster sums and
    * counts are already collected for the centroid update, and Σ‖x‖²
    * is assignment-independent (one extra scalar aggregate per run).
    * No re-clustering joins, no second pass. */
  def lloydWithTrace(emb: DataFrame, k: Int, iters: Int,
      dim: Int): (DataFrame, Seq[Double]) = {
    // iters=0 would leave the output frame unbuilt; k=1 would hand
    // assignTo's least() a single column (it requires >= 2)
    require(iters >= 1, s"lloyd needs iters >= 1, got $iters")
    require(k >= 2, s"lloyd needs k >= 2, got $k")
    // hash-seeded init: k smallest md5(vec_id || ':kmeans') — collect
    // just the seed vectors (k rows)
    var centroids: Array[Array[Double]] = emb
      .orderBy(md5(concat(col("vec_id").cast("string"), lit(":kmeans"))), col("vec_id"))
      .limit(k)
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val sumSqAll = emb.select(
      (0 until dim).map(i => {
        val x = col("embedding").getItem(i).cast("double"); x * x
      }).reduce(_ + _).as("sq"))
      .agg(sum(col("sq"))).head().getDouble(0)
    var out: DataFrame = null
    val trace = scala.collection.mutable.ArrayBuffer[Double]()
    for (_ <- 1 to iters) {
      val assigned = assignTo(emb, centroids)
      // columnar update: 64 conditional-free sums per cluster + count,
      // one aggregate — partials combine map-side
      val sums = assigned
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          (0 until dim).map(i =>
            sum(col("embedding").getItem(i).cast("double")).as(s"s$i")): _*)
        .collect()
      centroids = centroids.indices.map { c =>
        sums.find(_.getInt(0) == c) match {
          case Some(r) =>
            val n = r.getLong(1).toDouble
            // 1e-6 snap (r7): the per-cluster sums arrive in partition
            // order (~1e-12 reduction noise), and snapped centroids
            // make every later assignment bit-replayable in the DuckDB
            // oracle — the IVF/PQ precedent ([[AnnSearch.ivfCentroids]])
            Array.tabulate(dim)(i => round6(r.getDouble(2 + i) / n))
          case None => centroids(c) // empty cluster keeps its centroid
        }
      }.toArray
      trace += sumSqAll - sums.map { r =>
        val n = r.getLong(1).toDouble
        (0 until dim).map(i => r.getDouble(2 + i) * r.getDouble(2 + i)).sum / n
      }.sum
      out = assigned.select(col("vec_id"), col("cluster"))
    }
    (out.orderBy(col("vec_id")), trace.toSeq)
  }

  /** Simplified (centroid-form) silhouette of the cached clustering —
    * the standard clustering-quality report (Hruschka et al.; sklearn's
    * silhouette with the O(n²) pairwise distances replaced by the
    * O(n·k) centroid distances, which is the variant that survives
    * 100 TB): a(x) = ‖x − μ_own‖, b(x) = min_other ‖x − μ_c‖,
    * s = (b − a)/max(a, b), reported per cluster with member counts.
    * Centroids derive from the FINAL assignment (k·dim driver pull,
    * 1e-6 snapped — the same discipline every later consumer of a
    * cross-row float mean uses), distances are literal-inlined codegen
    * chains, and the per-cluster mean snaps at 1e-6 — exactly
    * SQL-replayable on top of the kmeans_clusters oracle CTEs. */
  def silhouette(spark: SparkSession, dir: String, k: Int = 8,
      dim: Int = 64): DataFrame = {
    val joined = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .join(assign(spark, dir, k), Seq("vec_id"))
    val cents: Map[Int, Array[Double]] = joined
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        (0 until dim).map(i =>
          sum(col("embedding").getItem(i).cast("double")).as(s"s$i")): _*)
      .collect()
      .map { r =>
        val n = r.getLong(1).toDouble
        r.getInt(0) -> Array.tabulate(dim)(i => round6(r.getDouble(2 + i) / n))
      }.toMap
    // r12: one native kernel call per row ([[graft.plans
    // .CentroidSilhouette]]) instead of k inlined 64-term sqrt chains —
    // same a/b/s algebra, same min semantics, codegen source stable
    // across centroid values (no per-query Janino recompile)
    val packed = cents.keys.toSeq.sorted
      .map(j => j.toDouble +: cents(j).toSeq).map(_.toArray).toArray
    val s = graft.plans.CentroidOps.silhouette(spark,
      col("embedding"), col("cluster"), packed)
    joined.select(col("cluster"), s.as("s"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), round(avg(col("s")), 6).as("silhouette"))
      .orderBy(col("cluster"))
  }

  /** Argmin-squared-distance assignment via the native
    * [[graft.plans.CentroidAssign]] kernel (r12): the centroid matrix
    * rides as a codegen reference object, so the generated source — and
    * its Janino compile — is shared across Lloyd iterations, where the
    * old per-iteration literal chains (k·dim inlined terms) recompiled
    * every round. Arithmetic and ties are identical (same ascending-i
    * sum, same first-min cluster order — property-tested against the
    * literal-chain form). */
  private def assignTo(emb: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    emb.withColumn("cluster",
      graft.plans.CentroidOps.assign(emb.sparkSession, col("embedding"), centroids))

  /** SQL-oracle-able gates: every vector assigned exactly once, cluster
    * ids in range, no empty cluster at this data scale, and the
    * within-cluster sum of squares does not increase across the final
    * Lloyd step (the defining monotonicity of the algorithm). */
  def invariants(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val emb = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // rides the SAME session-cached Lloyd run as the clusters entry —
    // the WSS trace was memoized by assign's builder (no re-training)
    val a3 = assign(spark, dir, k, iters = 3)
    val trace = traces.get(s"${graft.Cache.sessionId(spark)}|$dir|$k|3")
    val n = emb.count()
    // ONE aggregate job for every assignment gate — the naive shape
    // (count + 2×distinct-count + filter-count as separate actions)
    // re-ran the 64-dim assignment scan five times
    val g = a3.agg(
      count(lit(1)).as("n_assigned"),
      countDistinct(col("vec_id")).as("distinct_vecs"),
      sum(when(col("cluster") < 0 || col("cluster") >= k, 1L).otherwise(0L))
        .as("out_of_range"),
      countDistinct(col("cluster")).as("distinct_clusters")).head()
    val nAssigned = g.getLong(0)
    val distinctVecs = g.getLong(1)
    val inRange = g.getLong(2) == 0L
    val nonEmpty = g.getLong(3) == k.toLong
    val monotone = trace.sliding(2).forall {
      case Seq(a, b) => b <= a + 1e-6 * math.max(1.0, math.abs(a))
      case _         => true
    }
    val spark2 = spark
    import spark2.implicits._
    Seq((n, nAssigned == n && distinctVecs == n, inRange, nonEmpty, monotone))
      .toDF("n_vectors", "one_assignment_per_vector", "clusters_in_range",
        "no_empty_cluster", "wss_monotone")
  }
}
