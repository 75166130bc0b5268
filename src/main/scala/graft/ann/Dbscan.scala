package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Density-based clustering (DBSCAN) over the `embeddings` table —
  * the GDS-family clustering member the k-means entry doesn't cover
  * (noise-aware, no k, arbitrary cluster shape). Reference scope: the
  * reference delegates all clustering to Neo4j GDS (Louvain families,
  * `Alg_Community_Detection.py`); DBSCAN completes the metric-space
  * side the same way k-means does.
  *
  * Decomposition is the scale story:
  *   1. eps-neighborhood pair graph (candidate-then-verify, below);
  *   2. core points = n_eps >= minPts — one aggregate;
  *   3. clusters = connected components over CORE-CORE eps-edges
  *      (size-adaptive closure shared with the dedup stack);
  *   4. border points attach to the MIN cluster id among their core
  *      neighbours (deterministic tie-break); the rest is noise (-1).
  *
  * The pair stage is size-adaptive like every candidate generator in
  * this repo: up to [[ExactPoints]] points it is the exact
  * all-pairs evaluation (a nested-loop broadcast join — n^2/2 codegen'd
  * float-array distance evaluations, the right plan for RAM-resident
  * point sets); above it, hyperplane-LSH banded candidates verified by
  * the exact distance. The embeddings are unit-norm, so the euclidean
  * ball maps exactly onto a cosine cap (d^2 = 2 - 2cos): with 32 bands
  * x 2 bits at the operative cap cos >= 0.316 a qualifying pair misses
  * all bands with probability (1 - (1 - acos(.316)/pi)^2)^32 < 1e-6 —
  * the same recall argument (and machinery) as `dedup_embedding`, and
  * the sf0.01 oracle compares against the ALL-PAIRS truth, so a missed
  * pair would surface as a cluster-label hash mismatch.
  */
object Dbscan {

  /** Points up to which the pair stage is exact all-pairs (read through
    * `Algorithms.driverGate`). */
  val ExactPoints = 20000L

  /** Squared eps-threshold literal. Kept as the DECIMAL SQUARE (not
    * `eps * eps`) so the Spark literal and the DuckDB oracle literal
    * parse to the identical double. eps = 1.17 on unit-norm dim-64
    * embeddings ~= cosine 0.316. */
  val DefaultEpsSq = 1.3689

  /** Neighbour count (self excluded) needed to be a core point. */
  val DefaultMinPts = 4

  /** Sequential-fold squared euclidean distance; identical accumulation
    * order to the oracle's `list_sum(list_transform(...))`. r13: the
    * `aggregate(zip_with(...))` combinator form is CodegenFallback
    * (HigherOrderFunction), so the n²/2 eps-graph scan evaluated it
    * INTERPRETED — one boxed 64-element array per candidate pair; the
    * probe read 814 exec-core-s in that single stage at sf0.1. The
    * native [[graft.plans.GraphKernels.VecDistSq]] kernel runs the
    * same index-ordered IEEE fold as a codegen'd primitive loop
    * (property-tested bit-identical, R13KernelSpec). */
  private[graft] def distSq(a: Column, b: Column): Column =
    graft.plans.GraphKernels.distSqCol(
      org.apache.spark.sql.SparkSession.active, a, b)

  /** eps-ball pair graph (id_a < id_b) over `(id, vec)` points. */
  private[graft] def epsPairs(points: DataFrame, epsSq: Double): DataFrame = {
    val spark = points.sparkSession
    val pts = points.toDF("id", "vec").localCheckpoint()
    val gate = graft.graph.Algorithms.driverGate(spark, ExactPoints)
    val candidates =
      if (gate > 0 && pts.count() <= gate) {
        // exact all-pairs: broadcast one side, nested-loop the id
        // filter. The STREAM side must be spread first — a small point
        // set arrives as ONE parquet partition, and without the
        // repartition the whole n²/2 distance scan runs on one core
        // (measured 47 s → ~4 s at sf0.1)
        val fan = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val a = pts.repartition(fan)
          .select(col("id").as("id_a"), col("vec").as("vec_a"))
        val b = pts.select(col("id").as("id_b"), col("vec").as("vec_b"))
        a.join(broadcast(b), col("id_a") < col("id_b"))
      } else {
        Lsh.candidatePairs(pts, "id", "vec", 64, bands = 32, bitsPerBand = 2)
      }
    candidates
      .withColumn("dist_sq", distSq(col("vec_a"), col("vec_b")))
      .filter(col("dist_sq") <= lit(epsSq))
      .select(col("id_a"), col("id_b"))
  }

  /** Full DBSCAN labelling of `(id, vec)` points:
    * `(vec_id, role core|border|noise, cluster_id, n_eps)`; noise keeps
    * cluster_id -1; cluster ids are the MIN member core id. */
  def dbscanFrom(points: DataFrame, epsSq: Double = DefaultEpsSq,
      minPts: Int = DefaultMinPts): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val spark = points.sparkSession
    val pts = points.toDF("id", "vec")
    // the pair graph feeds three consumers (counts, core edges, border
    // attach) — cut the lineage once
    val pairs = epsPairs(pts, epsSq).localCheckpoint()
    val und = pairs.unionByName(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val nEps = und.groupBy(col("id_a").as("id"))
      .agg(count(lit(1)).as("n_eps"))
    val counted = pts.select(col("id"))
      .join(nEps, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_eps"), lit(0L)).as("n_eps"))
      .localCheckpoint()
    val core = counted.filter(col("n_eps") >= minPts).select(col("id"))
    val coreEdges = pairs
      .join(core.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .join(core.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
    // size-adaptive min-label closure shared with the dedup stack
    val comp = graft.dedup.Dedup.clusterClosure(spark,
        coreEdges.select(col("id_a"), col("id_b")),
        core.select(col("id").as("doc_id")))
      .select(col("doc_id").as("id"), col("cluster_id"))
    // border: non-core with >=1 core neighbour -> MIN core cluster id
    val borderAttach = und
      .join(comp.select(col("id").as("id_b"), col("cluster_id")), Seq("id_b"))
      .join(core.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
      .groupBy(col("id_a").as("id"))
      .agg(min(col("cluster_id")).as("border_cluster"))
    counted
      .join(comp.withColumnRenamed("cluster_id", "core_cluster"), Seq("id"), "left")
      .join(borderAttach, Seq("id"), "left")
      .select(
        col("id").as("vec_id"),
        when(col("core_cluster").isNotNull, lit("core"))
          .when(col("border_cluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("core_cluster"), col("border_cluster"), lit(-1L))
          .as("cluster_id"),
        col("n_eps"))
      .orderBy(col("vec_id"))
  }

  /** DBSCAN over the embeddings table (session-cached). */
  def dbscan(spark: SparkSession, dir: String,
      epsSq: Double = DefaultEpsSq, minPts: Int = DefaultMinPts): DataFrame =
    graft.Cache.cached(spark, dir, s"dbscan_${epsSq}_$minPts") {
      dbscanFrom(
        Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        epsSq, minPts)
    }
}
