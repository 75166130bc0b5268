package graft.ann

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._

import graft.functions.VectorOps
import graft.graph.Algorithms
import graft.plans.CosineSim

/** Random-hyperplane LSH for cosine similarity over `(id, vec)` tables.
  *
  * Signatures are deterministic: hyperplane entry (b, j) is ±1 derived
  * from xxhash64(bit, dim, seed) — no RNG state to ship, identical on
  * every executor and every run. Banding: `bands` buckets of `bitsPerBand`
  * sign bits; candidate pairs collide in ≥1 band. This is the linear-scale
  * path for both near-dup detection and ANN: cost is |rows| × bands
  * shuffle instead of |rows|² compare.
  *
  * [[scoredPairs]] is size-adaptive: under the shared gate
  * (`Algorithms.driverGate`, `graft.driver.localThreshold`, default 5 M
  * vector scalars and band candidates) it runs on the driver with the
  * same hyperplanes, dot fold and cosine kernel ([[scoredPairsLocal]]),
  * one bounded collect and none when the input is already a driver leg's
  * output, and returns a `LocalRelation` frame with the distributed
  * schema. Over the gate, or with it at 0, the banded self-join runs.
  * [[knnFromScoredRaw]] is one plan; over a driver-leg scored frame
  * under the gate, `graft.plans.LocalPlans` runs it on the driver.
  */
object Lsh {

  /** Deterministic ±1 hyperplane entry via splitmix64 — computed ONCE on
    * the driver per (bit, dim) and shipped as literals, not re-hashed
    * per row (the naive xxhash-in-lambda form costs bits×dim hashes per
    * row). */
  private[graft] def hyperplane(bit: Int, dim: Int, seed: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      var z = seed.toLong * 0x9E3779B97F4A7C15L + (bit.toLong << 32) + j
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      if ((z & 1L) == 0L) 1.0 else -1.0
    }

  /** Sign bit of vec · hyperplane(bit) as 0/1. */
  private def signBit(vec: Column, bit: Int, dim: Int, seed: Int): Column = {
    val hp = array(hyperplane(bit, dim, seed).map(lit): _*)
    val dot = aggregate(zip_with(vec, hp, (v, h) => v.cast("double") * h),
      lit(0.0), (acc, x) => acc + x)
    when(dot >= 0, lit(1L)).otherwise(lit(0L))
  }

  /** Add `bands` bucket columns (band_0 … band_{n-1}) to (id, vec). */
  def withBuckets(df: DataFrame, vecCol: String, dim: Int,
      bands: Int = 6, bitsPerBand: Int = 8, seed: Int = 7): DataFrame = {
    val withBands = (0 until bands).foldLeft(df) { (acc, b) =>
      val bucket = (0 until bitsPerBand)
        .map(i => signBit(col(vecCol), b * bitsPerBand + i, dim, seed) * (1L << i))
        .reduce(_ + _)
      acc.withColumn(s"band_$b", bucket)
    }
    withBands
  }

  /** Candidate pairs (a < b) that share at least one band bucket.
    * One posexplode + one self-join on (band_idx, bucket) — a single
    * shuffle regardless of band count (vs one join per band). */
  def candidatePairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      bands: Int = 6, bitsPerBand: Int = 8, seed: Int = 7): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec")).localCheckpoint()
    val sig = withBuckets(base, "vec", dim, bands, bitsPerBand, seed)
    // ids-only through the band self-join and dedup (the shuffles), then
    // attach the vectors once to the much smaller surviving pair set
    val banded = sig.select(col("id"),
        posexplode(array((0 until bands).map(b => col(s"band_$b")): _*)))
      .select(col("id"), col("pos").as("band_idx"), col("col").as("bkt"))
      .localCheckpoint()
    val l = banded.select(col("band_idx"), col("bkt"), col("id").as("id_a"))
    val r = banded.select(col("band_idx"), col("bkt"), col("id").as("id_b"))
    l.join(r, Seq("band_idx", "bkt")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
  }

  /** Rows up to which [[nearDupPairs]] scores exact all-pairs (read
    * through `Algorithms.driverGate`). */
  val ExactPairsRows = 20000L

  /** Near-duplicate pairs by cosine threshold — SIZE-ADAPTIVE (the
    * [[graft.ann.Dbscan]] idiom): under the gate the candidates come
    * from an exact broadcast nested-loop all-pairs (n²/2 codegen'd
    * cosines, ZERO shuffles — recall 1.0 by construction, which is what
    * the all-pairs DuckDB oracle demands); above it, banded LSH. The
    * crossover matters: at a low cutoff like 0.4 the recall-complete
    * banding (many bands × few bits) GENERATES ~bands/4 × n² collision
    * rows through three shuffles — more work than brute force until n
    * is well past the broadcast limit. */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      minCosine: Double, bands: Int = 6, bitsPerBand: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val pts = df.select(col(idCol).as("id"), col(vecCol).as("vec")).localCheckpoint()
    val gate = Algorithms.driverGate(spark, ExactPairsRows)
    val candidates =
      if (gate > 0 && pts.count() <= gate) {
        // spread the stream side first — a small table arrives as one
        // parquet partition and would nested-loop on a single core
        val fan = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val a = pts.repartition(fan)
          .select(col("id").as("id_a"), col("vec").as("vec_a"))
        val b = pts.select(col("id").as("id_b"), col("vec").as("vec_b"))
        a.join(broadcast(b), col("id_a") < col("id_b"))
      } else {
        candidatePairs(pts, "id", "vec", dim, bands, bitsPerBand)
      }
    candidates
      .withColumn("cosine", CosineSim.cosine(spark, col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** All LSH candidate pairs with exact cosine, NO cutoff — the shared
    * expensive stage of every (topK, cutoff) KNN view. Cache this once
    * per embedding table and derive operating points via
    * [[knnFromScored]] (re-running the banding + scoring per cutoff
    * wastes the dominant cost). */
  def scoredPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      bands: Int = 8, bitsPerBand: Int = 10): DataFrame =
    scoredPairsLocal(df, idCol, vecCol, dim, bands, bitsPerBand).getOrElse(
      candidatePairs(df, idCol, vecCol, dim, bands, bitsPerBand)
        .withColumn("cosine", CosineSim.cosine(df.sparkSession, col("vec_a"), col("vec_b")))
        .select(col("id_a"), col("id_b"), col("cosine")))

  private def num(v: Any): Long = v.asInstanceOf[Number].longValue

  /** [[scoredPairs]] on the driver, or None for the distributed leg: the
    * gate (`Algorithms.driverGate`, default 5 M) is at 0; the table holds
    * more than gate vector scalars (rows × dim); the ids are not integral
    * or the vectors not float/double arrays (the distributed leg reports
    * those); a null or repeated id, or a vector that is not `dim` non-null
    * elements (the distributed leg defines what those yield); or the band
    * buckets hold more than gate candidate pairs (Σ over bands and
    * buckets of C(n, 2)) — repeated vectors share every bucket, and the
    * driver would build all n² of their pairs.
    *
    * One bounded collect loads the vectors, none when `df` is already a
    * driver leg's output. Signatures use the same hyperplanes and the
    * same left-fold dot (bit set when ≥ 0); pairs (id_a < id_b) that
    * share a bucket in any band are deduplicated and scored with
    * [[CosineSim.local]], the kernel's driver twin. */
  private[graft] def scoredPairsLocal(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, bands: Int, bitsPerBand: Int, seed: Int = 7): Option[DataFrame] = {
    val spark = df.sparkSession
    val gate = Algorithms.driverGate(spark, Algorithms.DriverGateDefault)
    val in = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val id = in.schema("id")
    val floatVec = in.schema("vec").dataType match {
      case ArrayType(FloatType, _) => Some(true)
      case ArrayType(DoubleType, _) => Some(false)
      case _ => None
    }
    if (gate <= 0 || dim < 1 || !Algorithms.integral(id.dataType) || floatVec.isEmpty)
      return None
    val rows = Algorithms.driverData(Seq(in), gate / dim).getOrElse(return None).head
    def wellFormed(r: InternalRow) = !r.isNullAt(0) && !r.isNullAt(1) && {
      val v = r.getArray(1)
      v.numElements == dim && (0 until dim).forall(!v.isNullAt(_))
    }
    if (!rows.forall(wellFormed)) return None
    // vector indices in id order, so index order is the (id_a < id_b) order
    def idOf(r: InternalRow) = r.get(0, id.dataType)
    val byId = rows.sortBy(r => num(idOf(r))).toArray
    val ids = byId.map(r => num(idOf(r)))
    if ((1 until ids.length).exists(i => ids(i) == ids(i - 1))) return None
    val vecs = byId.map { r =>
      if (floatVec.get) r.getArray(1).toFloatArray.map(_.toDouble) else r.getArray(1).toDoubleArray }

    val planes = Array.tabulate(bands * bitsPerBand)(hyperplane(_, dim, seed))
    def bucket(v: Array[Double], b: Int): Long = {
      var key = 0L
      var i = 0
      while (i < bitsPerBand) {
        val h = planes(b * bitsPerBand + i)
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += v(j) * h(j); j += 1 }
        if (dot >= 0) key += 1L << i
        i += 1
      }
      key
    }
    val n = vecs.length
    val members = (0 until bands).map(b => (0 until n).groupBy(v => bucket(vecs(v), b)).values)
    val candidates = members.iterator.flatten.map(g => g.length.toLong * (g.length - 1) / 2).sum
    if (candidates > gate) return None
    val pairs = members.iterator.flatten
      .flatMap(g => for (x <- g.iterator; y <- g.iterator if x < y) yield x.toLong * n + y)
      .toArray.sorted.distinct
    val out = pairs.map { p =>
      val (a, b) = ((p / n).toInt, (p % n).toInt)
      InternalRow(idOf(byId(a)), idOf(byId(b)), CosineSim.local(vecs(a), vecs(b)))
    }
    Some(GraftBridge.localFrame(spark, StructType(Seq(
        StructField("id_a", id.dataType, id.nullable),
        StructField("id_b", id.dataType, id.nullable),
        StructField("cosine", DoubleType))),
      ArraySeq.unsafeWrapArray(out)))
  }

  /** Incremental maintenance of the [[scoredPairs]] silver (T13 — the
    * T9 co-occurrence-MERGE story for the ANN tier): after a delta of
    * changed / new / deleted embeddings, only pairs INCIDENT to a
    * changed id can change — signatures of unchanged vectors are
    * unchanged, so their mutual collision status and cosines are too.
    * The fold drops old pairs touching `changedIds` (which must
    * include DELETED ids — the caller's contract) and re-scores only
    * the changed-side band collisions: the posting self-join, the
    * dominant cost, runs changed × all instead of all × all. The
    * per-row signature projection over the full table is map-only (no
    * shuffle); at 100 TB the posting table itself would live bucketed
    * (the T5 layout) and ship only the changed buckets. Spec-proved ≡
    * the full [[scoredPairs]] recompute on the delta'd table. */
  def mergeScoredPairs(oldScored: DataFrame, emb: DataFrame,
      changedIds: DataFrame, idCol: String, vecCol: String, dim: Int,
      bands: Int = 8, bitsPerBand: Int = 10, seed: Int = 7): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .localCheckpoint()
    val changed = changedIds.select(col(idCol).as("id")).distinct()
      .localCheckpoint()
    val sig = withBuckets(base, "vec", dim, bands, bitsPerBand, seed)
    val banded = sig.select(col("id"),
        posexplode(array((0 until bands).map(b => col(s"band_$b")): _*)))
      .select(col("id"), col("pos").as("band_idx"), col("col").as("bkt"))
      .localCheckpoint()
    val l = banded.join(changed, Seq("id"), "left_semi")
      .select(col("band_idx"), col("bkt"), col("id").as("id_a"))
    val r = banded.select(col("band_idx"), col("bkt"), col("id").as("id_b"))
    val touched = l.join(r, Seq("band_idx", "bkt"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("cosine",
        CosineSim.cosine(emb.sparkSession, col("vec_a"), col("vec_b")))
      .select(col("id_a"), col("id_b"), col("cosine"))
    oldScored
      .join(changed.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
      .join(changed.select(col("id").as("id_b")), Seq("id_b"), "left_anti")
      .select(col("id_a"), col("id_b"), col("cosine"))
      .unionAll(touched)
  }

  /** Top-k SIMILAR_TO edges from a precomputed scored-pair table, with
    * the similarity carried UNROUNDED (callers round exactly once,
    * optionally after a scale transform — double rounding shifts the
    * 6th decimal). */
  def knnFromScoredRaw(scored: DataFrame, topK: Int, cutoff: Double): DataFrame = {
    val pairs = scored.filter(col("cosine") >= cutoff)
    val bidir = pairs.unionAll(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b"), col("cosine")))
    // custom bounded-heap operator: no per-partition sort, O(nodes × k) state
    graft.plans.TopKPerKey.topKPerKey(bidir, Seq("id_a"),
        Seq(("cosine", false), ("id_b", true)), topK)
      .select(col("id_a").as("src"), col("id_b").as("dst"),
        col("cosine").as("similarity"))
  }

  /** Top-k SIMILAR_TO edges from a precomputed scored-pair table. */
  def knnFromScored(scored: DataFrame, topK: Int, cutoff: Double): DataFrame =
    knnFromScoredRaw(scored, topK, cutoff)
      .withColumn("similarity", round(col("similarity"), 6))

  /** Approximate top-k neighbours per id (both directions of each
    * candidate pair), with a similarity cutoff — the KNN shape of the
    * reference (`Alg_KNN_FastRP.py:99-116`: topK, similarityCutoff). */
  def knnEdges(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      topK: Int = 20, cutoff: Double = 0.1,
      bands: Int = 8, bitsPerBand: Int = 10): DataFrame =
    knnFromScored(scoredPairs(df, idCol, vecCol, dim, bands, bitsPerBand), topK, cutoff)
}
