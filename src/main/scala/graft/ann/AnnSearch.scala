package graft.ann

import java.util.concurrent.ConcurrentHashMap

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
// Spark's order on doubles: NaN above everything, -0.0 equal to 0.0
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.VectorOps
import graft.functions.VectorOps.round6
import graft.graph.Algorithms
import graft.plans.CosineSim

/** Similarity search over the `embeddings` table: brute-force cosine
  * top-k (exact baseline), LSH-bucketed approximate top-k, and an
  * IVF-style centroid-routed variant (the 100 TB scale path — probe a
  * few cells instead of the whole corpus).
  *
  * The IVF and PQ index is size-adaptive. While the corpus holds at most
  * `Algorithms.driverGate` (`graft.driver.localThreshold`, default 5 M)
  * vector scalars (rows × [[Dim]]), one bounded collect loads it and the
  * index is built on the driver, replaying the distributed recipe step
  * for step ([[LocalIndex]]): [[ivfPqTopK]] answers there with no Spark
  * job, and [[ivfAssignment]], [[ivfProbeCells]], [[pqCodes]] and the
  * centroid/codebook frames are `LocalRelation`s of that index with the
  * distributed frames' schemas. Over the gate, or with the gate at 0, the
  * distributed builders run.
  */
object AnnSearch {

  val DefaultQueryId = 0L
  val Dim = 64

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))

  /** Exact brute-force cosine top-k for the query vector: one scan, one
    * broadcast of the single query row, top-k via sort-limit (Spark
    * plans it as TakeOrderedAndProject — no full sort). */
  def bruteForceTopK(spark: SparkSession, dir: String,
      queryId: Long = DefaultQueryId, k: Int = 10): DataFrame = {
    val q = emb(spark, dir).filter(col("vec_id") === queryId)
      .select(col("embedding").as("query_vec"))
    emb(spark, dir)
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cosine", CosineSim.cosine(spark, col("embedding"), col("query_vec")))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** Session conf: when set, [[lshTopK]] reads its band-key posting
    * list from this warehouse table (bucketed+sorted by bkey — the
    * 100 TB layout, built once per corpus version via
    * [[savePostingsBucketed]]) instead of the session cache. Fails fast
    * on a missing table: a typo'd conf must not silently fall back to
    * a rebuild that looks like table mode but isn't. */
  val PostingsTableConf = "graft.ann.lsh.postingsTable"

  /** Banded signature table (vec_id, embedding, band_0..band_{n-1}),
    * session-cached like the other silver intermediates. */
  private[graft] def lshSigs(spark: SparkSession, dir: String,
      bands: Int, bitsPerBand: Int): DataFrame =
    graft.Cache.cached(spark, dir, s"lsh_sigs_${bands}_$bitsPerBand") {
      Lsh.withBuckets(emb(spark, dir), "embedding", Dim, bands, bitsPerBand)
    }

  /** Signatures exploded into a band-key posting list (bkey, vec_id),
    * bkey = band_idx · 2^bits + bucket — clustered (repartitioned +
    * sorted) by bkey so a literal IN-probe prunes via per-batch min/max
    * stats in the session cache, and via bucket pruning when persisted
    * with [[savePostingsBucketed]]. This is what makes the LSH *query*
    * path sublinear: the probe touches the ~`bands` matching buckets,
    * never the corpus. */
  def lshPostings(spark: SparkSession, dir: String,
      bands: Int = 12, bitsPerBand: Int = 4): DataFrame =
    graft.Cache.cached(spark, dir, s"lsh_postings_${bands}_$bitsPerBand") {
      lshSigs(spark, dir, bands, bitsPerBand)
        .select(col("vec_id"),
          posexplode(array((0 until bands).map(b => col(s"band_$b")): _*)))
        .select(col("vec_id"),
          (col("pos").cast("long") * (1L << bitsPerBand) + col("col")).as("bkey"))
        .repartition(col("bkey"))
        .sortWithinPartitions(col("bkey"))
    }

  /** Persist the posting list as a bkey-bucketed+sorted warehouse table
    * (the T2/T4 silver pattern). A probe's 12-literal IN filter then
    * prunes to the matching buckets at the SCAN — see ScaleToolsSpec's
    * SelectedBucketsCount assertion. The LSH parameters are stamped
    * into the table properties: a probe with different bands/bits would
    * compute different band keys and silently lose recall, so
    * [[lshTopK]] refuses a parameter mismatch. */
  def savePostingsBucketed(spark: SparkSession, dir: String,
      table: String = "graft_lsh_postings", buckets: Int = 16,
      bands: Int = 12, bitsPerBand: Int = 4): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    lshPostings(spark, dir, bands, bitsPerBand)
      .write.bucketBy(buckets, "bkey").sortBy("bkey")
      .format("parquet").saveAsTable(table)
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
      s"'graft.lsh.bands'='$bands','graft.lsh.bitsPerBand'='$bitsPerBand')")
    spark.table(table)
  }

  /** Fail fast unless `table` was built by [[savePostingsBucketed]] with
    * exactly these LSH parameters. A table persisted before the stamp
    * existed reads as `bands=?` and is rejected too — rebuild it via
    * [[savePostingsBucketed]] (cheap relative to silently-lost recall
    * from probing with mismatched band keys). */
  private def requirePostingsParams(spark: SparkSession, table: String,
      bands: Int, bitsPerBand: Int): Unit = {
    val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val tBands = props.get("graft.lsh.bands")
    val tBits = props.get("graft.lsh.bitsPerBand")
    require(tBands.contains(bands.toString) && tBits.contains(bitsPerBand.toString),
      s"posting table '$table' was built with bands=${tBands.getOrElse("?")}, " +
        s"bitsPerBand=${tBits.getOrElse("?")} but the probe uses " +
        s"bands=$bands, bitsPerBand=$bitsPerBand — band keys would not match")
  }

  /** Approximate top-k via random-hyperplane LSH. The probe plan is the
    * scale path: the query row's `bands` band keys are collected once
    * and shipped as literals (constants hoisted — Catalyst can prune
    * with literals, never with a row-to-row OR filter), the posting
    * list is IN-probed on those keys (bucket/zone pruning: touches
    * `bands` buckets, not the corpus), and only the surviving candidate
    * ids are joined back to their vectors for exact cosine top-k. */
  def lshTopK(spark: SparkSession, dir: String,
      queryId: Long = DefaultQueryId, k: Int = 10,
      bands: Int = 12, bitsPerBand: Int = 4): DataFrame = {
    val sigs = lshSigs(spark, dir, bands, bitsPerBand)
    val bandCols = (0 until bands).map(b => s"band_$b")
    val qRows = sigs.filter(col("vec_id") === queryId)
      .select(array(bandCols.map(col): _*).as("bs"), col("embedding"))
      .collect()
    if (qRows.isEmpty) // unknown query id: empty result, stable schema
      return emb(spark, dir).limit(0)
        .select(col("vec_id"), lit(0.0).as("cosine"))
    val qKeys = qRows.head.getSeq[Long](0).zipWithIndex
      .map { case (bkt, idx) => idx.toLong * (1L << bitsPerBand) + bkt }
    val qVec = array(qRows.head.getSeq[Float](1).map(lit): _*)
    val postings = spark.conf.getOption(PostingsTableConf) match {
      case Some(t) =>
        require(spark.catalog.tableExists(t),
          s"$PostingsTableConf is set but table '$t' does not exist")
        requirePostingsParams(spark, t, bands, bitsPerBand)
        spark.table(t)
      case None => lshPostings(spark, dir, bands, bitsPerBand)
    }
    val candidates = postings
      .filter(col("bkey").isin(qKeys: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id")).distinct()
    candidates
      .join(emb(spark, dir), Seq("vec_id"))
      .withColumn("cosine", CosineSim.cosine(spark, col("embedding"), qVec))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** Per-vector scalar quantization to uint8 (the storage-compression
    * step of a 100 TB vector corpus — 4 bytes/dim float → 1 byte/dim):
    * min–max affine codes with mid-rise dequantized reconstruction MSE.
    * Pure Column algebra over the array — one projection, no shuffle,
    * no UDF; every double op is written identically in the DuckDB
    * oracle (sequential list folds match Spark `aggregate` bit-for-bit)
    * so even the MSE hash-compares exactly. */
  def quantize(spark: SparkSession, dir: String): DataFrame = {
    val d = transform(col("embedding"), x => x.cast("double"))
    emb(spark, dir)
      .select(col("vec_id"), d.as("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      // degenerate constant vector → all codes 0, exact reconstruction
      .withColumn("codes",
        when(col("mx") > col("mn"),
          transform(col("v"), x => floor(x.minus(col("mn")) * lit(255.0) / (col("mx") - col("mn"))).cast("int")))
        .otherwise(transform(col("v"), _ => lit(0))))
      .withColumn("step", when(col("mx") > col("mn"),
        (col("mx") - col("mn")) / lit(255.0)).otherwise(lit(0.0)))
      .withColumn("mse",
        aggregate(
          zip_with(col("v"), col("codes"), (x, c) =>
            pow(x - (col("mn") + (c.cast("double") + lit(0.5)) * col("step")), 2)),
          lit(0.0), (acc, e) => acc + e) / size(col("v")))
      .select(col("vec_id"), concat_ws(",", col("codes")).as("codes"), col("mse"))
      .orderBy(col("vec_id"))
  }

  /** Scalar-quantized (SQ8) search — the remaining FAISS index family
    * member next to IVF/PQ/IVFPQ: every candidate vector is stored as
    * [[quantize]]'s per-vector affine int8 codes (mn + (code+0.5)·step
    * mid-rise reconstruction — the identical formula, so the index
    * artifact IS the `embedding_quantize` output), scored against the
    * EXACT query vector by reconstructed cosine, and the top `rerank`
    * approximate hits re-ranked by exact cosine to the final top-k.
    * Emits both scores — the approximate ordering is the 4-bytes-per-
    * dim→1-byte-per-dim scan the 100 TB tier pays for, the exact
    * re-rank the small tail correction.
    *
    * Determinism: reconstruction, dot products, and norms are all
    * left-to-right double folds over the same arrays in both engines
    * (the ann_bruteforce precedent), so the approximate top-`rerank`
    * CUT is replayed exactly by the oracle, not just the final list. */
  def sqTopK(spark: SparkSession, dir: String,
      queryId: Long = DefaultQueryId, k: Int = 10, rerank: Int = 40): DataFrame = {
    val d = transform(col("embedding"), x => x.cast("double"))
    val q = emb(spark, dir).filter(col("vec_id") === queryId)
      .select(d.as("qv"))
    val recon = emb(spark, dir)
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), d.as("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .withColumn("step", when(col("mx") > col("mn"),
        (col("mx") - col("mn")) / lit(255.0)).otherwise(lit(0.0)))
      .withColumn("rv",
        when(col("mx") > col("mn"),
          transform(col("v"), x =>
            col("mn") + (floor((x - col("mn")) * lit(255.0) / (col("mx") - col("mn")))
              + lit(0.5)) * col("step")))
          .otherwise(transform(col("v"), _ => col("mn"))))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, e) => acc + e)
    def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val nn = sqrt(dot(a, a)) * sqrt(dot(b, b))
      when(nn > 0, dot(a, b) / nn).otherwise(lit(0.0))
    }
    recon.crossJoin(broadcast(q))
      .select(col("vec_id"), col("v"), cos(col("rv"), col("qv")).as("approx"),
        col("qv"))
      .orderBy(col("approx").desc, col("vec_id")).limit(rerank)
      .select(col("vec_id"), col("approx"), cos(col("v"), col("qv")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id")).limit(k)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"),
        round(col("approx"), 6).as("approx_cosine"))
  }

  /** Squared L2 between two array columns (any numeric element type). */
  private def l2sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) =>
      (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, e) => acc + e)

  /** Product-quantization codebooks: the vector splits into `m`
    * subspaces of Dim/m dims; each subspace trains `ksub` centroids
    * (deterministic seeds + one Lloyd refinement — the [[ivfCentroids]]
    * recipe per subspace, all m subspaces trained in ONE pass:
    * subvectors explode once and every aggregate keys on `sub`).
    * Session-cached; at 100 TB this is the tiny index artifact built
    * once per corpus version.
    *
    * r7: engine-replayable like the IVF index (retires the no_oracle
    * status of `ann_pq_topk`/`ann_ivfpq_topk`) — md5 seed order,
    * argmin of the 1e-6-ROUNDED squared distance (ties to the lowest
    * code) as one struct-min hash aggregate (subvector rides inside the
    * struct, never compared — code is unique per group), refined
    * centroids 1e-6-snapped. See [[ivfCentroids]] for the rationale of
    * each snap. */
  private[graft] def pqCodebooks(spark: SparkSession, dir: String,
      m: Int, ksub: Int): DataFrame = localIndex(spark, dir) match {
    case Some(ix) => ix.pqCodebooksFrame(spark, m, ksub)
    case None => graft.Cache.cached(spark, dir, s"pq_codebooks_${m}_$ksub") {
      val subDim = Dim / m
      val sub = emb(spark, dir).select(col("vec_id"),
          posexplode(array((0 until m).map(s =>
            slice(col("embedding"), s * subDim + 1, subDim)): _*)))
        .select(col("vec_id"), col("pos").as("sub"), col("col").as("sv"))
      val seeds = sub
        .withColumn("h", md5(concat(col("vec_id").cast("string"), lit(":"),
          col("sub").cast("string"))))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("sub")).orderBy(col("h"), col("vec_id"))))
        .filter(col("rn") <= ksub)
        .select(col("sub"), (col("rn") - 1).cast("int").as("code"),
          col("sv").as("centroid"))
      val assign = sub.join(broadcast(seeds), Seq("sub"))
        .withColumn("d", round(l2sq(col("sv"), col("centroid")), 6))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("d"), col("code"), col("sv").as("v"))).as("best"))
        .select(col("sub"), col("best.code").as("code"), col("best.v").as("sv"))
      assign.groupBy(col("sub"), col("code"))
        .agg(VectorOps.vecSum(subDim)(
            transform(col("sv"), v => v.cast("double"))).as("csum"),
          count(lit(1)).as("n"))
        .select(col("sub"), col("code"),
          transform(col("csum"), v => round(v / col("n"), 6)).as("centroid"))
    }
  }

  /** PQ codes: every vector × subspace encoded to its nearest-centroid
    * id — the 1-byte-per-subspace compressed representation ADC scans
    * instead of raw vectors (here m codes ≈ m bytes vs Dim·4 bytes).
    * Session-cached; at scale a (vec_id, codes) table. Same replayable
    * struct-min argmin as the codebook training. */
  def pqCodes(spark: SparkSession, dir: String,
      m: Int = 8, ksub: Int = 16): DataFrame = localIndex(spark, dir) match {
    case Some(ix) => ix.pqCodesFrame(spark, m, ksub)
    case None => graft.Cache.cached(spark, dir, s"pq_codes_${m}_$ksub") {
      val subDim = Dim / m
      val cb = pqCodebooks(spark, dir, m, ksub)
      emb(spark, dir).select(col("vec_id"),
          posexplode(array((0 until m).map(s =>
            slice(col("embedding"), s * subDim + 1, subDim)): _*)))
        .select(col("vec_id"), col("pos").as("sub"), col("col").as("sv"))
        .join(broadcast(cb), Seq("sub"))
        .withColumn("d", round(l2sq(col("sv"), col("centroid")), 6))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("d"), col("code"))).as("best"))
        .select(col("vec_id"), col("sub"), col("best.code").as("code"))
    }
  }

  /** PQ approximate top-k via asymmetric distance computation (ADC):
    * the query builds an m×ksub distance table driver-side (m·ksub
    * scalars — ships as one literal array), each encoded vector's
    * approximate distance is m table LOOKUPS + a sum (never a vector
    * op), the best k·candMult candidates re-rank by exact cosine. This
    * is the RAM-resident leg of the standard 100 TB ANN stack
    * (IVF routes, PQ scans in memory, exact re-rank touches ~k·candMult
    * full vectors). */
  /** Driver-built ADC lookup table for query `q`: flat (sub, code) →
    * squared-L2-to-query-subvector, as a literal array Column (m·ksub
    * scalars — tiny), 1-based for element_at. The k-row codebook pull is
    * the documented driver-side index artifact read. */
  private def adcTable(spark: SparkSession, dir: String, q: Seq[Double],
      m: Int, ksub: Int): org.apache.spark.sql.Column = {
    val subDim = Dim / m
    val cb = pqCodebooks(spark, dir, m, ksub).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2)))
    val flat = Array.fill(m * ksub)(Double.MaxValue)
    cb.foreach { case ((sub, code), c) =>
      val qs = q.slice(sub * subDim, (sub + 1) * subDim)
      flat(sub * ksub + code) = qs.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
    }
    array(flat.map(lit): _*)
  }

  def pqTopK(spark: SparkSession, dir: String,
      queryId: Long = DefaultQueryId, k: Int = 10,
      m: Int = 8, ksub: Int = 16, candMult: Int = 8): DataFrame = {
    val qRows = emb(spark, dir).filter(col("vec_id") === queryId).collect()
    if (qRows.isEmpty)
      return emb(spark, dir).limit(0)
        .select(col("vec_id"), lit(0.0).as("cosine"))
    val q = qRows.head.getSeq[Float](1).map(_.toDouble)
    val table = adcTable(spark, dir, q, m, ksub)
    val qVec = array(q.map(lit): _*)
    // adc 1e-6-rounded before the candidate cut: the m-row sum's
    // addend order is run/engine-dependent (~1e-15 noise) and the cut
    // boundary must agree with the SQL replay
    val candidates = pqCodes(spark, dir, m, ksub)
      .filter(col("vec_id") =!= queryId)
      .withColumn("d", element_at(table,
        (col("sub") * ksub + col("code") + 1).cast("int")))
      .groupBy(col("vec_id"))
      .agg(round(sum(col("d")), 6).as("adc"))
      .orderBy(col("adc"), col("vec_id"))
      .limit(k * candMult)
    candidates
      .join(emb(spark, dir), Seq("vec_id"))
      .withColumn("cosine", CosineSim.cosine(spark,
        transform(col("embedding"), x => x.cast("double")), qVec))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** IVF index build, session-cached per (dir, nCells): deterministic
    * ENGINE-REPLAYABLE seed centroids + one Lloyd refinement. At 100 TB
    * this is the persisted index table built once per corpus version;
    * queries only read it.
    *
    * Every step is exactly SQL-oracle-able (r7 — retired the no_oracle
    * status of `ann_ivf_topk`):
    *  - seeds = the nCells smallest md5(vec_id) (hex-string order is
    *    identical in DuckDB; xxhash64 was Spark-only), cell ids
    *    assigned in that order DRIVER-side — nCells rows, the k-row
    *    index-artifact pattern, and no keyless row_number window;
    *  - assignment = argmax of the 1e-6-ROUNDED cosine, ties to the
    *    lowest cell, as ONE lexicographic struct-max hash aggregate
    *    (the SemDedup recipe) — raw-double argmax could flip on a
    *    cross-engine ulp, and the per-vec_id window it replaces cost a
    *    sort for nothing;
    *  - the refined centroid = per-dimension mean ROUNDED to 6
    *    decimals: cross-row double summation order is run-dependent
    *    (~1e-12 noise) and the snap makes the centroid bit-replayable;
    *    NO unit-normalize — cosine is scale-invariant, so the
    *    normalize bought nothing but more float ops to replicate. */
  private[graft] def ivfCentroids(spark: SparkSession, dir: String,
      nCells: Int): DataFrame = localIndex(spark, dir) match {
    case Some(ix) => ix.ivfCentroidsFrame(spark, nCells)
    case None => graft.Cache.cached(spark, dir, s"ivf_centroids_$nCells") {
      import spark.implicits._
      val vectors = emb(spark, dir)
      val seedRows = vectors
        .withColumn("h", md5(col("vec_id").cast("string")))
        .orderBy(col("h"), col("vec_id")).limit(nCells)
        .select(col("embedding")).collect()
      val seeds = seedRows.zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Float](0)) }
        .toSeq.toDF("cell", "centroid")
      // the embedding rides INSIDE the struct-max (never compared:
      // cell is unique per group, so ordering resolves before it) —
      // one hash aggregate, no join-back shuffle of the corpus
      val assign0 = vectors.crossJoin(broadcast(seeds))
        .withColumn("cos",
          round(CosineSim.cosine(spark, col("embedding"), col("centroid")), 6))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cos"), (-col("cell")).as("nc"), col("cell"),
          col("embedding").as("emb"))).as("best"))
        .select(col("vec_id"), col("best.cell").as("cell"),
          col("best.emb").as("embedding"))
      assign0
        .groupBy(col("cell"))
        .agg(VectorOps.vecSum(Dim)(transform(col("embedding"), v => v.cast("double"))).as("csum"),
          count(lit(1)).as("n"))
        .select(col("cell"),
          transform(col("csum"), v => round(v / col("n"), 6)).as("centroid"))
    }
  }

  /** Cell assignment of every vector, session-cached (the IVF posting
    * lists — at scale a table partitioned by cell). Same replayable
    * argmax recipe as the seed assignment (rounded cosine, struct-max,
    * ties to the lowest cell). */
  def ivfAssignment(spark: SparkSession, dir: String,
      nCells: Int = 16): DataFrame = localIndex(spark, dir) match {
    case Some(ix) => ix.ivfAssignmentFrame(spark, nCells)
    case None => graft.Cache.cached(spark, dir, s"ivf_assignment_$nCells") {
      emb(spark, dir).crossJoin(broadcast(ivfCentroids(spark, dir, nCells)))
        .withColumn("cos",
          round(CosineSim.cosine(spark, col("embedding"), col("centroid")), 6))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cos"), (-col("cell")).as("nc"), col("cell"),
          col("embedding").as("emb"))).as("best"))
        .select(col("vec_id"), col("best.cell").as("cell"),
          col("best.emb").as("embedding"))
    }
  }

  /** IVF-style approximate search: deterministic seed centroids (one
    * Lloyd refinement), vectors assigned to nearest centroid, the query
    * probes `nProbe` nearest cells, brute-force within those cells only.
    * Index (centroids + assignment) is session-cached — repeat queries
    * pay only the probe. At 100 TB the assignment is a
    * bucketed/partitioned table and each query touches nProbe/nCells of
    * the data. */
  def ivfTopK(spark: SparkSession, dir: String,
      queryId: Long = DefaultQueryId, k: Int = 10,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val vectors = emb(spark, dir)
    val centroids = ivfCentroids(spark, dir, nCells)
    val assigned = ivfAssignment(spark, dir, nCells)
    val qVec = vectors.filter(col("vec_id") === queryId)
      .select(col("embedding").as("query_vec"))
    // rounded-cosine route order, ties to the lowest cell — replayable
    val probeCells = centroids.crossJoin(broadcast(qVec))
      .withColumn("cos",
        round(CosineSim.cosine(spark, col("centroid"), col("query_vec")), 6))
      .orderBy(col("cos").desc, col("cell")).limit(nProbe)
      .select(col("cell"))
    assigned
      .join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qVec))
      .withColumn("cosine", CosineSim.cosine(spark, col("embedding"), col("query_vec")))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** The query's `nProbe` nearest IVF cells — the routing decision of
    * [[ivfPqTopK]], public so the `ivfpq_invariants` gate can assert
    * results never leave the routed cells. One-column (cell) frame. */
  def ivfProbeCells(spark: SparkSession, dir: String,
      queryId: Long = DefaultQueryId, nCells: Int = 16,
      nProbe: Int = 4): DataFrame = localIndex(spark, dir) match {
    case Some(ix) => ix.probeCellsFrame(spark, queryId, nCells, nProbe)
    case None =>
      val qVec = emb(spark, dir).filter(col("vec_id") === queryId)
        .select(col("embedding").as("query_vec"))
      ivfCentroids(spark, dir, nCells).crossJoin(broadcast(qVec))
        .withColumn("cos",
          round(CosineSim.cosine(spark, col("centroid"), col("query_vec")), 6))
        .orderBy(col("cos").desc, col("cell")).limit(nProbe)
        .select(col("cell"))
  }

  /** The full production ANN stack in one operator — IVF route → PQ ADC
    * scan → exact re-rank, the composition every RAM-resident web-scale
    * retrieval system runs (FAISS's IVFPQ shape):
    *
    *   1. ROUTE: the query probes its `nProbe` nearest IVF cells —
    *      at 100 TB this prunes the scan to nProbe/nCells of the corpus
    *      before any per-vector work (cell-partitioned posting tables);
    *   2. SCAN: within routed cells only, per-vector distance is m
    *      1-byte code lookups in the driver-built ADC table — never a
    *      full-vector op, so the hot loop touches m bytes/vector;
    *   3. RE-RANK: the k·candMult best ADC candidates (and ONLY those)
    *      fetch their raw vectors for exact cosine — the sole stage that
    *      reads full embeddings, bounded at k·candMult rows.
    *
    * Under the driver gate all three stages run on the driver over the
    * [[LocalIndex]] (no Spark job once the index is built). Over it, this
    * reuses the session-cached IVF index ([[ivfAssignment]]) and PQ
    * codebooks/codes ([[pqCodes]]) — at scale both are persisted index
    * tables built once per corpus version. Output (vec_id, cosine) —
    * same contract as [[bruteForceTopK]], recall-gated against it by the
    * `ivfpq_invariants` entry. */
  def ivfPqTopK(spark: SparkSession, dir: String,
      queryId: Long = DefaultQueryId, k: Int = 10,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 8, ksub: Int = 16, candMult: Int = 8): DataFrame =
    localIndex(spark, dir) match {
      case Some(ix) =>
        ix.ivfPqTopK(spark, queryId, k, nCells, nProbe, m, ksub, candMult)
      case None => ivfPqTopKDistributed(spark, dir, queryId, k, nCells, nProbe,
        m, ksub, candMult)
    }

  private def ivfPqTopKDistributed(spark: SparkSession, dir: String,
      queryId: Long, k: Int, nCells: Int, nProbe: Int,
      m: Int, ksub: Int, candMult: Int): DataFrame = {
    val qRows = emb(spark, dir).filter(col("vec_id") === queryId).collect()
    if (qRows.isEmpty)
      return emb(spark, dir).limit(0)
        .select(col("vec_id"), lit(0.0).as("cosine"))
    val q = qRows.head.getSeq[Float](1).map(_.toDouble)
    // 1. route: nProbe nearest cells (centroid table is nCells rows)
    val probeCells = ivfProbeCells(spark, dir, queryId, nCells, nProbe)
    // 2. ADC scan, pruned to routed cells by a broadcast semi-join on
    //    the (vec_id, cell) posting table before any code is read
    val routed = ivfAssignment(spark, dir, nCells)
      .join(broadcast(probeCells), Seq("cell"))
      .select(col("vec_id"))
    val table = adcTable(spark, dir, q, m, ksub)
    val candidates = pqCodes(spark, dir, m, ksub)
      .join(routed, Seq("vec_id"), "left_semi")
      .filter(col("vec_id") =!= queryId)
      .withColumn("d", element_at(table,
        (col("sub") * ksub + col("code") + 1).cast("int")))
      .groupBy(col("vec_id"))
      .agg(round(sum(col("d")), 6).as("adc")) // see pqTopK's snap note
      .orderBy(col("adc"), col("vec_id"))
      .limit(k * candMult)
    // 3. exact re-rank over k·candMult raw vectors only
    val qVecD = array(q.map(lit): _*)
    candidates
      .join(emb(spark, dir), Seq("vec_id"))
      .withColumn("cosine", CosineSim.cosine(spark,
        transform(col("embedding"), x => x.cast("double")), qVecD))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
  }

  // — driver leg: the IVF/PQ index on the driver, under the shared gate —

  /** The embeddings of one (session, dir, gate), loaded once: the holder's
    * lazy val is the single flight, and a failed load is retried by the
    * next call. Registered with the cache, so `Cache.clear` and the
    * application-end listener evict it. */
  private final class IndexHolder(load: => Option[LocalIndex]) {
    lazy val index: Option[LocalIndex] = load
  }

  private val indexes = {
    val m = new ConcurrentHashMap[String, IndexHolder]()
    graft.Cache.registerSideMap(m)
    m
  }

  /** The driver-side index, or None for the distributed leg: the gate is
    * at 0, the corpus holds more than `driverGate` vector scalars, or it
    * is ill-formed (see [[LocalIndex.load]]). */
  private[graft] def localIndex(spark: SparkSession, dir: String): Option[LocalIndex] = {
    val gate = Algorithms.driverGate(spark, Algorithms.DriverGateDefault)
    if (gate <= 0) None
    else indexes.computeIfAbsent(s"${graft.Cache.sessionId(spark)}|$dir|$gate",
      _ => new IndexHolder(LocalIndex.load(Tables.embeddingVectors(spark, dir), gate))).index
  }

  private object LocalIndex {
    /** One bounded collect (`Algorithms.driverData`) both chooses the leg
      * and loads the vectors: more than gate / Dim rows is over the gate.
      * Ill-formed input (a null id or vector, a vector that is
      * not Dim non-null floats, a repeated id) also goes distributed,
      * whose builders define what it yields; so does a table the declared
      * types cannot read, where the distributed leg reports any real
      * error. */
    def load(vectors: => DataFrame, gate: Long): Option[LocalIndex] = {
      val rows = try Algorithms.driverData(Seq(vectors), gate / Dim).getOrElse(return None).head
        catch { case scala.util.control.NonFatal(_) => return None }
      def wellFormed(r: InternalRow) =
        !r.isNullAt(0) && !r.isNullAt(1) && {
          val e = r.getArray(1)
          e.numElements == Dim && (0 until Dim).forall(!e.isNullAt(_))
        }
      if (!rows.forall(wellFormed)) None
      else {
        val ids = rows.map(_.getLong(0)).toArray
        if (ids.distinct.length != ids.length) None
        else Some(new LocalIndex(ids, rows.map(_.getArray(1).toFloatArray.map(_.toDouble)).toArray))
      }
    }
  }

  /** IVF part: the kept cells ascending, their refined centroids, and
    * each vector's index into them (-1: there are no cells). */
  private final class LocalIvf(val cells: Array[Int],
      val centroids: Array[Array[Double]], val cellOf: Array[Int])

  /** PQ part, per subspace: the kept codes ascending, their codebook
    * centroids, and each vector's index into them (-1: no codes). */
  private final class LocalPq(val subDim: Int, val codes: Array[Array[Int]],
      val books: Array[Array[Array[Double]]], val codeOf: Array[Array[Int]])

  /** The IVF and PQ index over driver-resident vectors (`vecs`: the
    * float embeddings widened to double, which is exact). Each part is
    * built once per parameter set and replays the distributed builders
    * step for step: seeds by md5 hex order (ties by vec_id), one Lloyd
    * step on the 1e-6-rounded score (cosine argmax for IVF, squared-L2
    * argmin for PQ, ties to the lowest cell or code), centroids snapped
    * to 1e-6, members-less cells and codes dropped. The cross-row mean
    * sums in another order than Spark's partial aggregates; the snap
    * absorbs that noise, as it does between two distributed runs. */
  private[graft] final class LocalIndex(ids: Array[Long], vecs: Array[Array[Double]]) {
    private val pos: Map[Long, Int] = ids.iterator.zipWithIndex.toMap
    private val ivfParts = new ConcurrentHashMap[Int, LocalIvf]()
    private val pqParts = new ConcurrentHashMap[(Int, Int), LocalPq]()

    private def ivf(nCells: Int): LocalIvf = ivfParts.computeIfAbsent(nCells, _ => {
      val seeds = seedOrder(ids, _.toString).take(nCells).map(vecs)
      val cos = (v: Array[Double], c: Array[Double]) => round6(CosineSim.local(v, c))
      val (cells, cents) = lloydStep(vecs, 0, Dim, seeds, maximize = true, cos)
      new LocalIvf(cells, cents,
        vecs.map(v => argBest(cents.length, maximize = true)(j => cos(v, cents(j)))))
    })

    private def pq(m: Int, ksub: Int): LocalPq = pqParts.computeIfAbsent((m, ksub), _ => {
      val subDim = Dim / m
      val parts = Array.tabulate(m) { s =>
        val off = s * subDim
        val seeds = seedOrder(ids, id => s"$id:$s").take(ksub)
          .map(v => vecs(v).slice(off, off + subDim))
        val l2 = (v: Array[Double], c: Array[Double]) => round6(l2sqAt(v, off, c))
        val (codes, book) = lloydStep(vecs, off, subDim, seeds, maximize = false, l2)
        (codes, book, vecs.map(v => argBest(book.length, maximize = false)(j => l2(v, book(j)))))
      }
      new LocalPq(subDim, parts.map(_._1), parts.map(_._2), parts.map(_._3))
    })

    /** The query's `nProbe` cells: rounded cosine to each centroid,
      * descending, ties to the lowest cell. */
    private def probe(iv: LocalIvf, q: Array[Double], nProbe: Int): Seq[Int] = {
      val cos = iv.centroids.map(c => round6(CosineSim.local(c, q)))
      iv.cells.indices.sortWith { (a, b) =>
        val c = compareDoubles(cos(a), cos(b))
        if (c != 0) c > 0 else a < b
      }.take(nProbe).map(iv.cells)
    }

    def ivfCentroidsFrame(spark: SparkSession, nCells: Int): DataFrame = {
      val iv = ivf(nCells)
      GraftBridge.localFrame(spark, IvfCentroidsSchema, iv.cells.indices.map(j =>
        InternalRow(iv.cells(j), ArrayData.toArrayData(iv.centroids(j)))))
    }

    def ivfAssignmentFrame(spark: SparkSession, nCells: Int): DataFrame = {
      val iv = ivf(nCells)
      GraftBridge.localFrame(spark, IvfAssignmentSchema, vecs.indices.filter(iv.cellOf(_) >= 0).map(v =>
        InternalRow(ids(v), iv.cells(iv.cellOf(v)),
          ArrayData.toArrayData(vecs(v).map(_.toFloat)))))
    }

    def probeCellsFrame(spark: SparkSession, queryId: Long, nCells: Int,
        nProbe: Int): DataFrame =
      GraftBridge.localFrame(spark, ProbeCellsSchema, pos.get(queryId).toSeq
        .flatMap(q => probe(ivf(nCells), vecs(q), nProbe)).map(InternalRow(_)))

    def pqCodebooksFrame(spark: SparkSession, m: Int, ksub: Int): DataFrame = {
      val p = pq(m, ksub)
      GraftBridge.localFrame(spark, PqCodebooksSchema,
        for (s <- 0 until m; j <- p.codes(s).indices)
          yield InternalRow(s, p.codes(s)(j), ArrayData.toArrayData(p.books(s)(j))))
    }

    def pqCodesFrame(spark: SparkSession, m: Int, ksub: Int): DataFrame = {
      val p = pq(m, ksub)
      GraftBridge.localFrame(spark, PqCodesSchema,
        for (v <- vecs.indices; s <- 0 until m if p.codeOf(s)(v) >= 0)
          yield InternalRow(ids(v), s, p.codes(s)(p.codeOf(s)(v))))
    }

    /** [[AnnSearch.ivfPqTopK]] on the driver: route, ADC scan (the sum
      * rounded before the k·candMult cut), exact re-rank. */
    def ivfPqTopK(spark: SparkSession, queryId: Long, k: Int, nCells: Int,
        nProbe: Int, m: Int, ksub: Int, candMult: Int): DataFrame =
      pos.get(queryId) match {
        case None => GraftBridge.localFrame(spark, NoQuerySchema, Nil)
        case Some(qi) =>
          val q = vecs(qi)
          val iv = ivf(nCells)
          val routed = probe(iv, q, nProbe).toSet
          val p = pq(m, ksub)
          val table = Array.tabulate(m)(s => p.books(s).map(c => l2sqAt(q, s * p.subDim, c)))
          val adc = (v: Int) => round6((0 until m).map(s => table(s)(p.codeOf(s)(v))).sum)
          val candidates = vecs.indices.filter(v => ids(v) != queryId &&
              iv.cellOf(v) >= 0 && routed(iv.cells(iv.cellOf(v))) &&
              (0 until m).forall(p.codeOf(_)(v) >= 0))
            .map(v => (v, adc(v)))
            .sortWith { case ((a, da), (b, db)) =>
              val c = compareDoubles(da, db)
              if (c != 0) c < 0 else ids(a) < ids(b)
            }.take(k * candMult)
          val top = candidates.map { case (v, _) => (v, CosineSim.local(vecs(v), q)) }
            .sortWith { case ((a, ca), (b, cb)) =>
              val c = compareDoubles(ca, cb)
              if (c != 0) c > 0 else ids(a) < ids(b)
            }.take(k)
          GraftBridge.localFrame(spark, TopKSchema, top.map { case (v, c) => InternalRow(ids(v), round6(c)) })
      }
  }

  private val IvfCentroidsSchema = StructType(Seq(
    StructField("cell", IntegerType), StructField("centroid", ArrayType(DoubleType))))
  private val IvfAssignmentSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("cell", IntegerType), StructField("embedding", ArrayType(FloatType))))
  private val ProbeCellsSchema = StructType(Seq(StructField("cell", IntegerType)))
  private val PqCodebooksSchema = StructType(Seq(
    StructField("sub", IntegerType, nullable = false), StructField("code", IntegerType),
    StructField("centroid", ArrayType(DoubleType))))
  private val PqCodesSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("sub", IntegerType, nullable = false), StructField("code", IntegerType)))
  private val TopKSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cosine", DoubleType)))
  /** The unknown-query frame of the distributed top-k operators. */
  private val NoQuerySchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cosine", DoubleType, nullable = false)))

  /** Squared L2 from `v[off, off + c.length)` to `c`: the sequential fold
    * of [[l2sq]]. */
  private def l2sqAt(v: Array[Double], off: Int, c: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < c.length) { val d = v(off + i) - c(i); acc += d * d; i += 1 }
    acc
  }

  /** The best of `n` candidates by `score` (highest or lowest in Spark's
    * double order), ties to the lowest index: the struct-max/min argbest
    * of the distributed builders. -1 when there are none. */
  private def argBest(n: Int, maximize: Boolean)(score: Int => Double): Int = {
    var best = -1
    var bs = 0.0
    var j = 0
    while (j < n) {
      val s = score(j)
      if (best < 0 || { val c = compareDoubles(s, bs); if (maximize) c > 0 else c < 0 }) {
        best = j; bs = s
      }
      j += 1
    }
    best
  }

  /** Vector indices by (md5 hex of `key(vec_id)`, vec_id): the seed order
    * of the distributed builders. The digests are computed once up front,
    * not inside the comparator. */
  private def seedOrder(ids: Array[Long], key: Long => String): Array[Int] = {
    val h = ids.map(id => DigestUtils.md5Hex(key(id)))
    Array.range(0, ids.length).sortWith { (a, b) =>
      val c = h(a).compareTo(h(b))
      if (c != 0) c < 0 else ids(a) < ids(b)
    }
  }

  /** One Lloyd step from `seeds` over the `dim` coordinates of every
    * vector at `off`: each vector joins its best seed by `score`, each
    * seed with members becomes their per-dimension mean snapped to 1e-6,
    * and seeds without members drop out. Returns the kept seed indices
    * and their centroids. */
  private def lloydStep(vecs: Array[Array[Double]], off: Int, dim: Int,
      seeds: Array[Array[Double]], maximize: Boolean,
      score: (Array[Double], Array[Double]) => Double): (Array[Int], Array[Array[Double]]) = {
    val sums = Array.ofDim[Double](seeds.length, dim)
    val members = new Array[Long](seeds.length)
    vecs.foreach { v =>
      val j = argBest(seeds.length, maximize)(c => score(v, seeds(c)))
      if (j >= 0) {
        members(j) += 1
        var i = 0
        while (i < dim) { sums(j)(i) += v(off + i); i += 1 }
      }
    }
    val kept = seeds.indices.filter(members(_) > 0).toArray
    (kept, kept.map(j => sums(j).map(x => round6(x / members(j)))))
  }
}
