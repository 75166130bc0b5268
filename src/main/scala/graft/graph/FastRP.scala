package graft.graph

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._

/** FastRP (Fast Random Projection) node embeddings, matrix-free and
  * columnar.
  *
  * Re-expresses the reference's GDS call
  * (`algorithms/Alg_KNN_FastRP.py:62-70`: fastRP.write with
  * embeddingDimension=64, relationshipWeightProperty=rating) as pure
  * dataflow, following the published FastRP construction (Chen et al.,
  * "Fast and Accurate Network Embeddings via Very Sparse Random
  * Projection", CIKM 2019):
  *
  *  1. base vectors R: very sparse random projection — entry ∈
  *     {+√3, 0, −√3} with prob {1/6, 2/3, 1/6}, derived DETERMINISTICALLY
  *     per (node, dim) from xxhash64 so executors never need a shared
  *     RNG state (rerun-stable, cluster-safe);
  *  2. k weighted-mean propagation steps over the (weighted) adjacency,
  *     L2-normalising after each step;
  *  3. final embedding = L2-normalised weighted sum of the per-iteration
  *     states (GDS default iterationWeights = [0.0, 1.0, 1.0, 1.0],
  *     which the reference uses implicitly by not overriding it).
  *
  * Embeddings are laid out as ONE `array<double>` column (r12; they were
  * `dim` wide double columns until this round). The wide form made the
  * propagation aggregate `dim` codegen'd `sum()`s — but at dim 64 the
  * fused whole-stage method exceeds HotSpot's 8000-bytecode JIT
  * HugeMethodLimit and runs INTERPRETED (measured with the stage
  * listener: 265 vs 88 executor-core-seconds on the sf0.1 bipartite
  * build). The array form keeps every per-element operation in a tight
  * loop — `transform`/`zip_with`/`aggregate` higher-order functions plus
  * the [[graft.functions.VectorOps.vecSum]] element-wise aggregate — so
  * generated methods stay small and JIT-compiled. Per-element arithmetic
  * (fold order, round-at-6 snaps) is IDENTICAL to the wide form, so
  * every downstream oracle hash is unchanged. Each step is one join +
  * one groupBy on node id — linear in |E|, no driver state, no collect.
  *
  * While the graph is under the shared gate (`Algorithms.driverGate`,
  * `graft.driver.localThreshold`, default 5 M edges and 5 M state
  * scalars), [[embedStates]] instead collects the edges once and runs the
  * same kernels on the driver ([[embedLocal]]); its states and embedding
  * are `LocalRelation` frames with the distributed schemas, so every
  * consumer (the KNN build, the GDS fastRP modes, [[mergeEmbeddings]])
  * takes them unchanged. Over the gate, or with it at 0, the Spark
  * dataflow above runs.
  */
object FastRP {

  private val Sqrt3 = math.sqrt(3.0)

  /** Deterministic sparse base VECTOR — md5-based (r7:
    * engine-replayable; xxhash64 is Spark-only): entry j is derived
    * from the first 8 hex chars of md5("<id>:<j>:<seed>") as a uint32
    * mod 6. r12: computed by the native [[graft.plans.FastRpBase]]
    * kernel (bit-exact to the old per-element conv/substring/md5
    * chains, property-tested) — a dim-element CreateArray of md5
    * chains is ONE expression whose generated method blows the
    * Janino/JIT limits and silently falls back to interpreted eval.
    * The md5 construction plus the [[normalizedArr]] snap make the
    * WHOLE FastRP pipeline — and everything downstream of it (KNN
    * edges, both operating points) — exactly DuckDB-oracle-able. */
  private def baseArray(spark: org.apache.spark.sql.SparkSession,
      nodeId: Column, dim: Int, seed: Int): Column =
    graft.plans.FastRpBase.baseVec(spark, nodeId, dim, seed)

  /** L2 normalisation of an `array<double>` column (norm computed once),
    * with the output SNAPPED to 6 decimals (r7): the propagation means
    * feeding this carry ~1e-11 reduction-order noise, and the snap
    * makes each iteration's state bit-identical across engines and
    * runs — the IVF/PQ/kmeans precedent. Unit norms survive to the
    * fastrp_norms gate's 1e-4 rounding (coordinate error ≤ 5e-7 →
    * norm error ≤ ~4e-6). Element arithmetic is the wide form's exactly:
    * norm² = left fold of v·v (0.0 + v₀² ≡ v₀² in IEEE — squares are
    * non-negative), each element `round(v/norm, 6)`, zero-norm rows
    * all-0.0. */
  private def normalizedArr(spark: org.apache.spark.sql.SparkSession,
      emb: Column): Column =
    graft.plans.VecKernels.norm6Col(spark, emb)

  /** The normalised iteration-0 state on its own: one deterministic
    * unit-norm sparse base vector per node of `nodes` (node_id).
    * [[graft.graph.Node2Vec]] uses it as the fallback identity for
    * nodes whose every walk context has non-positive SPPMI. */
  def baseVectors(nodes: DataFrame, dim: Int = 64, seed: Int = 42): DataFrame =
    nodes.select(col("node_id"),
      normalizedArr(nodes.sparkSession,
        baseArray(nodes.sparkSession, col("node_id"), dim, seed))
        .as("embedding"))

  /** The retained propagation states of one FastRP build: `states(k)`
    * is the k-th iteration state (node_id, emb: array<double>),
    * `embedding` the final packed (node_id, embedding) frame. The
    * per-iteration states are what [[mergeEmbeddings]] (T15) folds
    * deltas into — at 100 TB they are the (|iterationWeights|)×
    * embedding-sized silver a maintained embedding table keeps next to
    * itself, the price of never re-embedding the unchanged 99.99 %. */
  final case class FastRpState(states: Seq[DataFrame], embedding: DataFrame)

  /** Compute embeddings for every node in `edges` (src, dst, weight).
    * Edges should already contain both directions for undirected
    * semantics. Returns (node_id, embedding: array<double>). */
  def embed(edges: DataFrame, dim: Int = 64,
      iterationWeights: Seq[Double] = Seq(0.0, 1.0, 1.0, 1.0), seed: Int = 42): DataFrame =
    embedStates(edges, dim, iterationWeights, seed).embedding

  /** One propagation step: weighted mean of in-neighbour states,
    * normalised, completed over `nodes` with zero vectors. The edge
    * side arrives hash-partitioned by dst and persisted (see
    * [[embedStates]]), the state side rides the iterState broadcast
    * gate — under the gate the whole step is BHJ + a partitioning-
    * preserving aggregate, ZERO shuffled bytes. */
  private def propagateStep(e: DataFrame, state: DataFrame, nodes: DataFrame,
      nV: Long, dim: Int): DataFrame = {
    val spark = e.sparkSession
    val vk = graft.plans.VecKernels
    val msgs = e.join(Algorithms.iterState(
      state.select(col("node_id").as("src"), col("emb")), nV, 8L * dim + 24L),
      Seq("src"))
    val agg = msgs
      .groupBy(col("dst").as("node_id"))
      .agg(sum(col("weight")).as("_w"),
        vk.wsumCol(spark, col("emb"), col("weight")).as("semb"))
    val mean = agg.select(col("node_id"),
      vk.divCol(spark, col("semb"), col("_w")).as("emb"))
    mean.select(col("node_id"), normalizedArr(spark, col("emb")).as("emb"))
      .join(nodes, Seq("node_id"), "right")
      .select(col("node_id"),
        coalesce(col("emb"), array_repeat(lit(0.0), dim)).as("emb"))
  }

  /** [[embed]] with the per-iteration states retained (same
    * computation — embed IS this function's `.embedding`). Runs on the
    * driver while the graph is under the shared gate (see
    * [[embedLocal]]), else as Spark joins and aggregates. */
  def embedStates(edges: DataFrame, dim: Int = 64,
      iterationWeights: Seq[Double] = Seq(0.0, 1.0, 1.0, 1.0),
      seed: Int = 42): FastRpState =
    embedLocal(edges, dim, iterationWeights, seed)
      .getOrElse(embedDistributed(edges, dim, iterationWeights, seed))

  /** [[embedStates]] on the driver, or None for the distributed leg: the
    * gate (`Algorithms.driverGate`, default 5 M) is at 0, there are more
    * edges than the gate or more than gate state scalars (|V| · dim), an
    * id is not integral or `dim` is outside the base kernel's range (the
    * distributed leg reports those), or an edge has a null field (the
    * distributed leg defines what that yields).
    *
    * One bounded collect loads the edges. Each state comes from the
    * kernels the Spark expressions call: state 0 is the normalised base
    * vector; each step sums weight · state over a node's in-edges
    * ([[graft.plans.VecKernels.addScaled]], the wsum aggregate's step),
    * divides by Σ weight and normalises, and a node without in-edges
    * gets a zero vector; the combine is mulScalar then axpy in iteration
    * order, normalised. The in-edge sums run in edge order rather than
    * Spark's partial-aggregate order; the 6-dp snap absorbs that, as it
    * does between two partitionings. The frames carry the distributed
    * leg's schemas. */
  private def embedLocal(edges: DataFrame, dim: Int, iterationWeights: Seq[Double],
      seed: Int): Option[FastRpState] = {
    val spark = edges.sparkSession
    val gate = Algorithms.driverGate(spark, Algorithms.DriverGateDefault)
    val in = edges.select(col("src"), col("dst"), col("weight").cast("double"))
    val id = in.schema("src")
    if (gate <= 0 || dim < 1 || dim > 4096 || !Algorithms.integral(id.dataType) ||
        !Algorithms.integral(in.schema("dst").dataType)) return None
    val rows = Algorithms.driverData(Seq(in), gate).getOrElse(return None).head.toArray
    if (rows.exists(_.anyNull)) return None
    def num(v: Any): Long = v.asInstanceOf[Number].longValue
    // nodes are the distinct srcs in first-seen order, as in the Spark leg
    val index = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    val src = rows.map { r =>
      val v = r.get(0, id.dataType)
      index.getOrElseUpdate(num(v), { ids += v; ids.length - 1 })
    }
    val n = ids.length
    if (n.toLong * dim > gate) return None
    val dstType = in.schema("dst").dataType
    val dst = rows.map(r => index.getOrElse(num(r.get(1, dstType)), -1))
    val w = rows.map(_.getDouble(2))
    val vk = graft.plans.VecKernels

    var state: Array[ArrayData] = Array.tabulate(n)(v =>
      vk.norm6(graft.plans.FastRpBase.compute(num(ids(v)), dim, seed)))
    val states = Seq.newBuilder[Array[ArrayData]]
    states += state
    var acc: Array[ArrayData] = state.map(vk.mulScalar(_, iterationWeights.head))
    for (k <- 1 until iterationWeights.length) {
      val sums = new Array[Array[Double]](n)
      val wSum = new Array[Double](n)
      var i = 0
      while (i < rows.length) {
        val d = dst(i)
        if (d >= 0) {
          if (sums(d) == null) sums(d) = new Array[Double](dim)
          vk.addScaled(sums(d), state(src(i)), w(i))
          wSum(d) += w(i)
        }
        i += 1
      }
      state = Array.tabulate(n)(v =>
        if (sums(v) == null) new GenericArrayData(new Array[Double](dim))
        else vk.norm6(vk.divScalar(new GenericArrayData(sums(v)), wSum(v))))
      states += state
      val prev = acc
      acc = Array.tabulate(n)(v => vk.axpy(prev(v), state(v), iterationWeights(k)))
    }

    def frame(vecName: String, vecNullable: Boolean, vecs: Array[ArrayData]) =
      GraftBridge.localFrame(spark, StructType(Seq(
          StructField("node_id", id.dataType, id.nullable),
          StructField(vecName, ArrayType(DoubleType, containsNull = false), vecNullable))),
        ArraySeq.unsafeWrapArray(Array.tabulate(n)(v => InternalRow(ids(v), vecs(v)))))
    // state 0's vector is null exactly when its id is; the propagated
    // states are coalesced with a zero vector
    val frames = states.result().zipWithIndex.map { case (st, k) =>
      frame("emb", k == 0 && id.nullable, st)
    }
    Some(FastRpState(frames, frame("embedding", id.nullable, acc.map(vk.norm6))))
  }

  private def embedDistributed(edges: DataFrame, dim: Int,
      iterationWeights: Seq[Double], seed: Int): FastRpState = {
    // r12 (guide §2.4/§3.1, measured with the stage listener): the old
    // shape shuffled ~733 MB per bipartite build at sf0.1 — each
    // iteration SMJ'd edges⋈state on src (re-shuffling both sides) and
    // then exchanged the wide msgs again for the dst aggregate. The
    // matrix-vector form fixes the layout instead: edges are
    // hash-partitioned by dst ONCE and persisted; the |V|-row state side
    // rides the iterState broadcast gate, so under the gate each
    // iteration is BHJ (no edge shuffle) + a dst aggregate that reuses
    // the persisted partitioning (no exchange). Above the gate (100 TB
    // states) it degrades to exactly the old exchange shape. Reduction
    // order changes are absorbed by the existing 6-decimal snap (see
    // [[normalizedArr]]) — states stay bit-identical, oracle untouched.
    val e = edges.select(col("src"), col("dst"), col("weight").cast("double"))
      .repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node_id")).distinct().localCheckpoint()
    val nV = nodes.count()
    val spark = edges.sparkSession
    val vk = graft.plans.VecKernels
    var state = nodes.select(col("node_id"),
      normalizedArr(spark,
        baseArray(spark, col("node_id"), dim, seed)).as("emb"))
      .localCheckpoint()
    val states = Seq.newBuilder[DataFrame]
    states += state

    var combined = state.select(col("node_id"),
      vk.mulCol(spark, col("emb"), lit(iterationWeights.head)).as("acc"))

    for (k <- 1 until iterationWeights.length) {
      state = propagateStep(e, state, nodes, nV, dim).localCheckpoint()
      states += state
      combined = combined.join(state, Seq("node_id"))
        .select(col("node_id"),
          vk.axpyCol(spark, col("acc"), col("emb"), iterationWeights(k)).as("acc"))
    }

    val out = FastRpState(states.result(), finishEmbedding(combined))
    // every retained state is an eager localCheckpoint, so the
    // partitioned edge copy is no longer needed by any returned plan
    e.unpersist(blocking = false)
    out
  }

  /** Final L2 normalise + rename into the embedding column; coordinates
    * snapped at 6 like every iteration state (see normalizedArr) so the
    * embedding CONSUMERS (cosines, LSH sign bits) are bit-replayable. */
  private def finishEmbedding(combined: DataFrame): DataFrame =
    combined.select(col("node_id"),
      normalizedArr(combined.sparkSession, col("acc")).as("embedding"))

  /** Incremental FastRP maintenance (T15 — the embedding member of the
    * T8/T9/T11/T12/T13/T14 incremental family): fold an edge delta
    * into a retained [[FastRpState]] without re-embedding the graph.
    *
    * FastRP is LOCAL: state_k(v) depends only on v's in-neighbors'
    * state_{k-1}, so after a delta only nodes within k propagation
    * hops (along edge direction) of a changed edge's target can carry
    * different states — the blast radius is the forward closure of the
    * delta, provably, not heuristically. The fold:
    *
    *  1. `A₁` = target endpoints of `changedEdges` — the caller lists
    *     every ADDED, REMOVED, or RE-WEIGHTED edge, in the same
    *     both-directions form the edge frame uses (the T13
    *     `changedIds`-includes-deletes contract);
    *  2. per level k: grow `A` by one forward hop over the NEW edge
    *     set, re-aggregate state_k for A only (messages restricted by
    *     a left_semi on the target — the dominant join runs
    *     delta-neighborhood × edges, never all × all), and patch it
    *     into the old state frame (deleted nodes drop via a left_semi
    *     against the new node set);
    *  3. re-combine + re-normalise the final embedding for A only,
    *     patch into the old embedding.
    *
    * state_0 is a pure per-id hash projection (map-only, no shuffle)
    * and is recomputed wholesale rather than patched. Every recompute
    * runs the exact aggregation shape of [[embedStates]] restricted to
    * A, and every state is 6-decimal-snapped, so the merged frames are
    * bit-identical to the full re-embed (spec-proved on
    * add/re-weight/delete deltas — the `mergeScoredPairs` contract,
    * `ann/Lsh.scala`). Composes with T13: feed `.embedding` deltas to
    * `Lsh.mergeScoredPairs` to maintain the KNN substrate downstream. */
  def mergeEmbeddings(old: FastRpState, newEdges: DataFrame,
      changedEdges: DataFrame, dim: Int = 64,
      iterationWeights: Seq[Double] = Seq(0.0, 1.0, 1.0, 1.0),
      seed: Int = 42): FastRpState = {
    val levels = iterationWeights.length
    require(old.states.length == levels,
      s"retained ${old.states.length} states, need $levels (one per iteration weight)")
    val e = newEdges.select(col("src"), col("dst"),
      col("weight").cast("double").as("weight")).localCheckpoint()
    val nodes = e.select(col("src").as("node_id")).distinct().localCheckpoint()
    var affected = changedEdges.select(col("dst").as("node_id")).distinct()
      .join(nodes, Seq("node_id"), "left_semi").localCheckpoint()

    val spark = newEdges.sparkSession
    val vk = graft.plans.VecKernels
    var state = nodes.select(col("node_id"),
      normalizedArr(spark,
        baseArray(spark, col("node_id"), dim, seed)).as("emb"))
      .localCheckpoint()
    val patched = scala.collection.mutable.ArrayBuffer[DataFrame](state)

    for (k <- 1 until levels) {
      if (k > 1) // state_k(v) also moves when an in-neighbor moved at k-1
        affected = affected.unionAll(
          e.select(col("src").as("node_id"), col("dst"))
            .join(affected, Seq("node_id"), "left_semi")
            .select(col("dst").as("node_id")))
          .distinct().localCheckpoint()
      val msgs = e
        .join(affected.select(col("node_id").as("dst")), Seq("dst"), "left_semi")
        .join(patched(k - 1).select(col("node_id").as("src"), col("emb")), Seq("src"))
      val agg = msgs
        .groupBy(col("dst").as("node_id"))
        .agg(sum(col("weight")).as("_w"),
          vk.wsumCol(spark, col("emb"), col("weight")).as("semb"))
      val recomputed = agg
        .select(col("node_id"),
          normalizedArr(spark,
            vk.divCol(spark, col("semb"), col("_w"))).as("emb"))
        .join(affected, Seq("node_id"), "right")
        .select(col("node_id"),
          coalesce(col("emb"), array_repeat(lit(0.0), dim)).as("emb"))
      state = old.states(k)
        .join(nodes, Seq("node_id"), "left_semi")
        .join(affected, Seq("node_id"), "left_anti")
        .select(col("node_id"), col("emb"))
        .unionAll(recomputed.select(col("node_id"), col("emb")))
        .localCheckpoint()
      patched += state
    }

    // re-combine the final embedding for the affected closure only —
    // the same left-to-right weight fold embedStates runs
    var combined = patched(0).join(affected, Seq("node_id"), "left_semi")
      .select(col("node_id"),
        vk.mulCol(spark, col("emb"), lit(iterationWeights.head)).as("acc"))
    for (k <- 1 until levels)
      combined = combined.join(patched(k), Seq("node_id"))
        .select(col("node_id"),
          vk.axpyCol(spark, col("acc"), col("emb"),
            iterationWeights(k)).as("acc"))
    val embedding = old.embedding
      .join(nodes, Seq("node_id"), "left_semi")
      .join(affected, Seq("node_id"), "left_anti")
      .unionAll(finishEmbedding(combined))
    FastRpState(patched.toSeq, embedding)
  }

  /** Session-cached FULL bipartite embedding frame — ENCODED node ids
    * (user → 2·id, book → 2·id + 1), exactly the id space the GDS
    * `['User','Book']`/RATED projection uses (`GdsCatalog.graphProject`
    * encodes id·L + labelIndex with the same label order), so this ONE
    * build feeds both [[userEmbeddings]] and `GdsSession.fastRpWrite`
    * (build once, register twice — the r8 silver-creep lever). */
  def bipartiteEmbeddings(spark: org.apache.spark.sql.SparkSession, dir: String,
      dim: Int = 64): DataFrame =
    graft.Cache.cached(spark, dir, s"fastrp_bipartite_$dim") {
      embed(Algorithms.bipartiteEdges(spark, dir), dim)
    }

  /** FastRP embeddings for the USER side of the bipartite ratings graph
    * (the reference writes embeddings to all nodes, then runs KNN over
    * users only — `Alg_KNN_FastRP.py:83-97`). Session-cached; derives
    * from [[bipartiteEmbeddings]] (the decode is a map-only filter). */
  def userEmbeddings(spark: org.apache.spark.sql.SparkSession, dir: String,
      dim: Int = 64): DataFrame =
    graft.Cache.cached(spark, dir, s"fastrp_user_$dim") {
      bipartiteEmbeddings(spark, dir, dim)
        .filter(pmod(col("node_id"), lit(2)) === 0)
        .select((col("node_id") / 2).cast("bigint").as("user_id"), col("embedding"))
    }
}
