package graft.graph

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Louvain community detection (Blondel et al. 2008) — the faithful
  * counterpart of the reference's `gds.louvain.write`
  * (`algorithms/Alg_Community_Detection.py:40-45`).
  *
  * Each level: synchronous modularity-gain local moving (every node
  * evaluates ΔQ of adopting each neighbour community, moves to the best
  * strictly-positive gain, smallest community id on ties), then the
  * graph is coarsened by community and the next level runs on the
  * community graph; final labels unfold through the levels.
  * Deterministic: no RNG, fixed sweep counts, total tie orders.
  *
  * Two legs with identical rows and schemas. While the grouped edges
  * (plus a warm start's seed labels) hold at most
  * `Algorithms.driverGate` rows (`graft.driver.localThreshold`), their
  * weights are integral and their ids integral and non-null, every level
  * runs on the driver over arrays: one aggregation that measures them
  * and one bounded collect, no job when the edges are already a local
  * frame, and the result is a local frame.
  * Otherwise every step is joins + aggregations keyed on node/community
  * id — linear in |E| per sweep — until a coarsened level falls under
  * the gate: its remaining levels run on the driver the same way.
  */
object Louvain {

  /** One level of SEMI-synchronous local moving: per sweep only nodes of
    * one parity class (node_id % 2 — the modularityOptimization
    * schedule, replayable as a SQL WHERE clause) apply their best move
    * (the standard fix for the symmetric-oscillation pathology of fully
    * synchronous moving — two clique members would otherwise chase each
    * other's labels forever). Deterministic: fixed sweep count, total
    * tie orders. Edges must be bidirectional with strictly positive
    * weights and at most one row per (src, dst) pair (aggregate
    * multigraphs first — both internal call sites are grouped: the
    * co-occurrence projection and the coarsened graph). Returns
    * (node_id, comm).
    *
    * EXACT-REPLAY arithmetic: the ΔQ argmax is taken on the
    * cross-multiplied score 2m·w_nc − k·σ_adj (the
    * [[Algorithms.modularityOptimization]] recipe) instead of
    * w_nc − k·σ_adj/2m — no division, so on count-weighted graphs every
    * operand is an integer-valued double (exact below 2^53:
    * |score| ≤ 2m·k_max, switch the products to decimal(38,0) past
    * 2m·k_max ≈ 9e15) and the whole sweep chain replays bit-exactly in
    * SQL BIGINT arithmetic. Fractional weights still order correctly
    * (scaling ΔQ by 2m > 0 preserves the argmax).
    *
    * Converges early when two consecutive parity sweeps move no node —
    * both classes are then happy, so running out the remaining sweeps
    * is the identity and the early exit is output-invisible (a full
    * fixed-budget unroll, e.g. the SQL oracle, yields the same labels). */
  private def localMoving(edges: DataFrame, sweeps: Int,
      init: Option[DataFrame] = None): DataFrame = {
    val eBase = edges.select(col("src"), col("dst"), col("weight").cast("double"))
    val statsRow = eBase.agg(sum(col("weight"))).head()
    if (statsRow.isNullAt(0)) { // empty edge list: nothing to label
      return eBase.select(col("src").as("node_id"), col("src").as("comm"))
    }
    val m2 = statsRow.getDouble(0) // = 2m
    // pre-partition on dst: the per-sweep edge⋈labels join then only
    // shuffles the (tiny) labels side
    val e = eBase
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // labels CARRY the node degree k — saves a nodeDeg join per sweep.
    // A warm-start init seeds comm from the previous labelling (new
    // nodes fall back to singletons); degrees always come from the
    // CURRENT edges, so a delta'd graph scores with fresh k/σ_tot.
    val deg = e.groupBy(col("src").as("node_id"))
      .agg(sum(col("weight")).as("k"))
    var labels = Algorithms.checkpointFresh(init match {
      case None =>
        deg.select(col("node_id"), col("node_id").as("comm"), col("k"))
      case Some(l0) =>
        deg.join(l0.select(col("node_id"), col("comm")), Seq("node_id"), "left")
          .select(col("node_id"),
            coalesce(col("comm"), col("node_id")).as("comm"), col("k"))
    })
    // r12: pin the labels side of every per-sweep edge join (iterState
    // broadcast gate — the |V|-row frame out of checkpointFresh has
    // default stats, so the planner would otherwise SMJ and re-sort the
    // persisted edge side each sweep)
    val nV = labels.count()
    def pinned(df: DataFrame): DataFrame = Algorithms.iterState(df, nV, 32L)
    var sweep = 1
    var zeroMoveSweeps = 0
    var tSweep = System.nanoTime()
    // early exit: two consecutive zero-move sweeps = both parity
    // classes are happy → a further sweep cannot change anything
    while (sweep <= sweeps && zeroMoveSweeps < 2) {
      // only the active parity class applies moves this sweep, so only
      // its candidate scores are computed — halves the per-sweep edge
      // scan/shuffle with bit-identical results (a node's scores depend
      // on its own edges and its neighbours' labels, not on which other
      // nodes are being scored). Argmax via max_by on a totally-ordered
      // struct (gain desc, cand asc) — a hash aggregate with map-side
      // partials, not a window sort over every candidate row.
      val parity = lit(sweep % 2)
      // the sweep-1 shortcut is the SINGLETON-init collapse of the
      // general pipeline — valid only for a cold start
      val best = if (sweep == 1 && init.isEmpty) {
        // Sweep 1 always starts from singleton labels, where the general
        // pipeline collapses: cand = the neighbour itself, σ_tot(cand) =
        // k_dst, stay score = 0 exactly (w = 0, σ_adj = k − k = 0). Two
        // joins + one aggregation instead of five chained joins — and
        // the shuffle onto src is reused by the argmax grouping.
        e.filter(col("src") =!= col("dst") &&
            pmod(col("src"), lit(2)) === parity)
          .join(pinned(labels.select(col("node_id").as("dst"),
            col("k").as("k_dst"))), Seq("dst"))
          .select(col("src"), col("dst").as("cand"), col("weight"), col("k_dst"))
          .join(pinned(labels.select(col("node_id").as("src"), col("k"))), Seq("src"))
          .select(col("src").as("node_id"), col("cand"),
            (col("weight") * m2 - col("k") * col("k_dst")).as("gain"))
          .unionAll(labels
            .filter(pmod(col("node_id"), lit(2)) === parity)
            .select(col("node_id"), col("node_id").as("cand"), lit(0.0).as("gain")))
          .groupBy(col("node_id"))
          .agg(max_by(col("cand"),
            struct(col("gain"), (-col("cand")).as("nc"))).as("best_comm"),
            max(col("gain")).as("best_gain"),
            lit(0.0).as("stay_gain"))
      } else {
        val commDeg = labels.groupBy(col("comm")).agg(sum(col("k")).as("sigma_tot"))
        // weight from each active node to each neighbouring community,
        // plus a zero self-vote row so "stay" is always a candidate —
        // ONE aggregation (the zero rows ride the same shuffle).
        // SELF-LOOPS are excluded from the votes: a supernode's internal
        // weight moves with it, so it contributes identically to every
        // candidate and must be counted for k/m2 but for NO w_nc
        // (crediting it to "stay" only would bias against merging at
        // coarse levels).
        val toComm = e
          .filter(col("src") =!= col("dst") &&
            pmod(col("src"), lit(2)) === parity)
          .join(pinned(labels.select(col("node_id").as("dst"),
            col("comm").as("cand"))), Seq("dst"))
          .select(col("src").as("node_id"), col("cand"), col("weight"))
          .unionAll(labels
            .filter(pmod(col("node_id"), lit(2)) === parity)
            .select(col("node_id"), col("comm").as("cand"), lit(0.0).as("weight")))
          .groupBy(col("node_id"), col("cand"))
          .agg(sum(col("weight")).as("w_nc"))
        val scored = toComm
          .join(labels, Seq("node_id"))
          .join(commDeg.withColumnRenamed("comm", "cand"), Seq("cand"))
          // ΔQ ∝ 2m·w_nc − k · Σ_tot(cand \ node) ; remove the node's
          // own degree from its current community's total
          .withColumn("sigma_adj",
            when(col("cand") === col("comm"), col("sigma_tot") - col("k"))
              .otherwise(col("sigma_tot")))
          .withColumn("gain", col("w_nc") * m2 - col("k") * col("sigma_adj"))
        // stay_gain is always defined: the zero self-vote row guarantees
        // the current community is among the candidates
        scored.groupBy(col("node_id"))
          .agg(max_by(col("cand"),
            struct(col("gain"), (-col("cand")).as("nc"))).as("best_comm"),
            max(col("gain")).as("best_gain"),
            max(when(col("cand") === col("comm"), col("gain"))).as("stay_gain"))
      }
      // ONE materialisation per sweep: apply the active class's moves
      // (LEFT join — best only carries the active parity class; the
      // other class keeps its label) and carry the move/gain flags so
      // the convergence probe is a tiny agg over the checkpoint, not a
      // second pass over the scored pipeline. localCheckpoint, NOT lazy
      // persist: persist keeps the full cross-sweep lineage in every
      // later plan and Catalyst analysis goes quadratic in sweep count
      // (measured: the sf0.1 run went from 20 s to minutes stuck in
      // TreeNode.transform).
      val updated = Algorithms.checkpointFresh(
        labels.join(best, Seq("node_id"), "left")
          .select(col("node_id"),
            coalesce(col("best_comm"), col("comm")).as("comm"),
            col("k"),
            (col("best_comm").isNotNull && col("best_comm") =!= col("comm")).as("moved"),
            (col("best_gain") - col("stay_gain")).as("delta")))
      val moveStats = updated.filter(col("moved"))
        .agg(count(lit(1)), sum(col("delta"))).head()
      val nMoves = moveStats.getLong(0)
      // ΔQ of this sweep ∝ sweepGain/(2m)² (each applied move contributes
      // best_gain − stay_gain in cross-multiplied score units) — logged
      // only; the sole early exit is the output-invisible zero-move one,
      // so the fixed sweep budget replays exactly in the SQL oracle
      val sweepGain = if (moveStats.isNullAt(1)) 0.0 else moveStats.getDouble(1)
      labels = updated.select(col("node_id"), col("comm"), col("k"))
      val sweepSec = (System.nanoTime() - tSweep) / 1e9
      tSweep = System.nanoTime()
      System.err.println(
        f"[graft] louvain sweep $sweep took $sweepSec%.2fs: $nMoves moves, dQ~${sweepGain / (m2 * m2)}%.2e")
      if (nMoves == 0L) zeroMoveSweeps += 1 else zeroMoveSweeps = 0
      sweep += 1
    }
    if (zeroMoveSweeps >= 2)
      System.err.println(s"[graft] louvain local moving converged after ${sweep - 1} sweeps")
    e.unpersist(blocking = false)
    labels.select(col("node_id"), col("comm"))
  }

  /** Driver simulation of [[localMoving]]'s parity sweeps over one
    * level's edges (parallel arrays) — same PRE-sweep-state scoring, same
    * gain algebra (w_nc·2m − k·σ_adj on identical double operands), same
    * (gain desc, cand asc) argmax, same parity classes (`pmod(id, 2)`),
    * same left-join apply semantics (edges to a node that never appears
    * as src drop from the votes exactly like the inner labels join),
    * same two-zero-move exit. Bit-identical to the distributed path for
    * integer-valued weights (the caller gates on that). Returns the
    * label of every src node; `init` seeds them (absent = singleton).
    * None when a (src, dst) pair repeats (input passed as grouped but
    * not): the distributed first sweep would score each row on its own. */
  private def localMovingDriver(src: Array[Long], dst: Array[Long],
      ws: Array[Double], sweeps: Int, init: mutable.LongMap[Long]): Option[mutable.LongMap[Long]] = {
    val n = src.length
    val idx = new mutable.LongMap[Int]()
    val ids = mutable.ArrayBuffer[Long]()
    var i = 0
    while (i < n) {
      val s = src(i)
      if (!idx.contains(s)) { idx(s) = ids.length; ids += s }
      i += 1
    }
    val nV = ids.length
    val offs = new Array[Int](nV + 1)
    i = 0
    while (i < n) { offs(idx(src(i)) + 1) += 1; i += 1 }
    i = 0
    while (i < nV) { offs(i + 1) += offs(i); i += 1 }
    val pos = java.util.Arrays.copyOf(offs, nV)
    val dsts = new Array[Long](n)
    val wAt = new Array[Double](n)
    val k = new Array[Double](nV)
    var m2 = 0.0
    i = 0
    while (i < n) {
      val u = idx(src(i))
      dsts(pos(u)) = dst(i)
      wAt(pos(u)) = ws(i)
      pos(u) += 1
      k(u) += ws(i)
      m2 += ws(i)
      i += 1
    }
    val sorted = java.util.Arrays.copyOf(dsts, n)
    i = 0
    while (i < nV) {
      java.util.Arrays.sort(sorted, offs(i), offs(i + 1))
      var j = offs(i) + 1
      while (j < offs(i + 1)) { if (sorted(j) == sorted(j - 1)) return None; j += 1 }
      i += 1
    }
    val comm = Array.tabulate(nV)(v => init.getOrElse(ids(v), ids(v)))
    var sweep = 1
    var zeroMoveSweeps = 0
    val wnc = new mutable.LongMap[Double]()
    while (sweep <= sweeps && zeroMoveSweeps < 2) {
      val parity = sweep % 2
      val sigma = new mutable.LongMap[Double]()
      i = 0
      while (i < nV) {
        sigma(comm(i)) = sigma.getOrElse(comm(i), 0.0) + k(i)
        i += 1
      }
      val moveIdx = mutable.ArrayBuffer[Int]()
      val moveTo = mutable.ArrayBuffer[Long]()
      var u = 0
      while (u < nV) {
        if (Math.floorMod(ids(u), 2L) == parity) {
          wnc.clear()
          wnc(comm(u)) = 0.0 // the zero self-vote: "stay" always scores
          var j = offs(u)
          val until = offs(u + 1)
          while (j < until) {
            val d = dsts(j)
            if (d != ids(u)) idx.get(d) match {
              case Some(di) =>
                val c = comm(di)
                wnc(c) = wnc.getOrElse(c, 0.0) + wAt(j)
              case None => () // unlabeled dst: inner-join drop
            }
            j += 1
          }
          val ku = k(u)
          val cu = comm(u)
          var bestGain = Double.NegativeInfinity
          var bestCand = Long.MaxValue
          wnc.foreachEntry { (cand, w) =>
            val sigmaAdj = if (cand == cu) sigma(cand) - ku else sigma(cand)
            val gain = w * m2 - ku * sigmaAdj
            if (gain > bestGain || (gain == bestGain && cand < bestCand)) {
              bestGain = gain
              bestCand = cand
            }
          }
          if (bestCand != cu) { moveIdx += u; moveTo += bestCand }
        }
        u += 1
      }
      i = 0
      while (i < moveIdx.length) { comm(moveIdx(i)) = moveTo(i); i += 1 }
      if (moveIdx.isEmpty) zeroMoveSweeps += 1 else zeroMoveSweeps = 0
      sweep += 1
    }
    val out = new mutable.LongMap[Long](nV)
    i = 0
    while (i < nV) { out(ids(i)) = comm(i); i += 1 }
    Some(out)
  }

  /** The positive edges, one row per (src, dst) unless `assumeGrouped`. */
  private def groupedEdges(edges: DataFrame, assumeGrouped: Boolean): DataFrame = {
    val positive = edges.select(col("src"), col("dst"), col("weight").cast("double"))
      .filter(col("weight") > 0.0)
    if (assumeGrouped) positive
    else positive.groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("weight"))
  }

  /** Full Louvain: `levels` rounds of local moving + coarsening.
    * Returns (node_id, community) with communities labelled by their
    * minimum member node id.
    *
    * Local moving requires at most one row per (src, dst) pair (parallel
    * edges would each score against the candidate separately instead of
    * summing into one w_nc). By default the input is aggregated by
    * (src, dst) up front so multigraph input is handled correctly; pass
    * `assumeGrouped = true` to skip that exchange when the edges are
    * grouped by construction (the co-occurrence projection is — one row
    * per user pair by definition of its groupBy). */
  def louvain(edges: DataFrame, levels: Int = 2, sweeps: Int = 6,
              assumeGrouped: Boolean = false): DataFrame = {
    val grouped = groupedEdges(edges, assumeGrouped)
    louvainLocal(grouped, levels, sweeps, None) match {
      case Right(labels) => labels
      case Left(coarsenable) => louvainDistributed(grouped, levels, sweeps, coarsenable)
    }
  }

  /** Every level on the driver (see the object doc), or Left when the
    * input is over the gate, the gate is 0, a weight is not integral, a
    * (src, dst) pair repeats, or an id is null, not integral or (in
    * `seed`) repeated: those run the distributed leg. Left(true) when a
    * coarsened level may still come under the gate and be well-formed
    * (the refusal was the size, a null id or a repeated pair). Integral
    * weights make every sum in the sweep algebra (w_nc, k, σ_tot, 2m)
    * exact, so the driver's summation order cannot change a gain. `seed`
    * (node_id, comm) seeds level 0's labels.
    * Coarsening keeps self-loops and drops an edge with an unlabelled
    * endpoint, as the inner joins do; the level mappings compose by the
    * left-join-and-coalesce rule. The frame carries the distributed
    * leg's schema. */
  private def louvainLocal(grouped: DataFrame, levels: Int, sweeps: Int,
      seed: Option[DataFrame]): Either[Boolean, DataFrame] = {
    val spark = grouped.sparkSession
    val gate = Algorithms.driverGate(spark, Algorithms.DriverGateDefault)
    val id = grouped.schema("src")
    if (gate <= 0 || levels < 1 || !Algorithms.integral(id.dataType) ||
        grouped.schema("dst").dataType != id.dataType ||
        !seed.forall(_.schema.forall(f => Algorithms.integral(f.dataType)))) return Left(false)
    // a distributed input is measured first by one aggregation, so a size
    // over the gate or a fractional weight is refused before any collect
    // (an all-local one comes in with no job, see Algorithms.driverData)
    if (!GraftBridge.logicalPlan(grouped).collectLeaves().forall(_.isInstanceOf[LocalRelation])) {
      val stats = grouped.agg(count(lit(1)),
        max(when(col("weight") =!= floor(col("weight")), 1).otherwise(0))).head()
      if (stats.getLong(0) > gate) return Left(true)
      if (!stats.isNullAt(1) && stats.getInt(1) == 1) return Left(false)
    }
    // (src, dst, weight) and (node_id, comm), as Catalyst holds them
    val data = Algorithms.driverData(grouped +: seed.toSeq, gate).getOrElse(return Left(true))
    val rows = data.head
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return Left(true)
    def longAt(t: DataType): (InternalRow, Int) => Long = t match {
      case ByteType => _.getByte(_)
      case ShortType => _.getShort(_)
      case IntegerType => _.getInt(_)
      case _ => _.getLong(_)
    }
    val idAt = longAt(id.dataType)
    var src = rows.iterator.map(idAt(_, 0)).toArray
    var dst = rows.iterator.map(idAt(_, 1)).toArray
    var ws = rows.iterator.map(_.getDouble(2)).toArray
    // Spark's integrality test, `weight = floor(weight)` with floor a long
    if (ws.exists(w => w != Math.floor(w).toLong.toDouble)) return Left(false)
    val init = new mutable.LongMap[Long]()
    for (s <- seed; (nodeAt, commAt) = (longAt(s.schema(0).dataType), longAt(s.schema(1).dataType));
         r <- data(1) if !r.isNullAt(0)) {
      if (init.contains(nodeAt(r, 0))) return Left(false)
      // a null label falls back to the singleton, as the coalesce does
      if (!r.isNullAt(1)) init(nodeAt(r, 0)) = commAt(r, 1)
    }
    var mapping: mutable.LongMap[Long] = null
    for (level <- 0 until levels) {
      val labels = localMovingDriver(src, dst, ws, sweeps,
        if (level == 0) init else mutable.LongMap.empty).getOrElse(return Left(true))
      if (mapping == null) mapping = labels
      else mapping.mapValuesInPlace((_, mid) => labels.getOrElse(mid, mid))
      if (level < levels - 1) {
        val (cs, cd, cw) = coarsen(src, dst, ws, labels)
        src = cs
        dst = cd
        ws = cw
      }
    }
    val least = new mutable.LongMap[Long]()
    mapping.foreachEntry((node, c) => least(c) = math.min(least.getOrElse(c, node), node))
    val toId: Long => Any = id.dataType match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType => _.toInt
      case _ => identity
    }
    val out = mapping.keys.toArray.sorted.map(v => InternalRow(toId(v), toId(least(mapping(v)))))
    Right(GraftBridge.localFrame(spark, StructType(Seq(
        StructField("node_id", id.dataType, id.nullable),
        StructField("community", id.dataType, nullable = true))),
      ArraySeq.unsafeWrapArray(out)))
  }

  /** One level's edges summed per (label(src), label(dst)), self-loops
    * kept and an edge with an unlabelled endpoint dropped, as the
    * coarsening joins do: a counting sort on the src label, then one pass
    * per bucket that sums into one slot per dst label. Weights are
    * integral, so the summation order changes no sum. */
  private def coarsen(src: Array[Long], dst: Array[Long], ws: Array[Double],
      labels: mutable.LongMap[Long]): (Array[Long], Array[Long], Array[Double]) = {
    val slotOf = new mutable.LongMap[Int]()
    val comms = mutable.ArrayBuffer[Long]()
    labels.foreachValue(c => if (!slotOf.contains(c)) { slotOf(c) = comms.length; comms += c })
    val nC = comms.length
    def slot(node: Long): Int = labels.get(node).fold(-1)(slotOf(_))
    val n = src.length
    val (a, b) = (new Array[Int](n), new Array[Int](n))
    val offs = new Array[Int](nC + 1)
    var i = 0
    while (i < n) {
      a(i) = slot(src(i))
      b(i) = slot(dst(i))
      if (a(i) < 0 || b(i) < 0) a(i) = -1 else offs(a(i) + 1) += 1
      i += 1
    }
    i = 0
    while (i < nC) { offs(i + 1) += offs(i); i += 1 }
    val kept = offs(nC)
    val order = new Array[Int](kept)
    val pos = java.util.Arrays.copyOf(offs, nC)
    i = 0
    while (i < n) {
      if (a(i) >= 0) { order(pos(a(i))) = i; pos(a(i)) += 1 }
      i += 1
    }
    val (cs, cd, cw) = (new Array[Long](kept), new Array[Long](kept), new Array[Double](kept))
    // the output row of (the current src label, b), valid while seen(b)
    // holds the current src label's slot
    val (seen, at) = (Array.fill(nC)(-1), new Array[Int](nC))
    var out = 0
    var ca = 0
    while (ca < nC) {
      var j = offs(ca)
      while (j < offs(ca + 1)) {
        val e = order(j)
        val cb = b(e)
        if (seen(cb) == ca) cw(at(cb)) += ws(e)
        else {
          seen(cb) = ca
          at(cb) = out
          cs(out) = comms(ca)
          cd(out) = comms(cb)
          cw(out) = ws(e)
          out += 1
        }
        j += 1
      }
      ca += 1
    }
    (java.util.Arrays.copyOf(cs, out), java.util.Arrays.copyOf(cd, out), java.util.Arrays.copyOf(cw, out))
  }

  /** [[louvain]]'s distributed leg: local moving and coarsening as joins
    * and aggregations, one checkpoint per level. Once a coarsened level
    * falls under the gate, its remaining levels run on the driver (tried
    * only when `coarsenable`). */
  private def louvainDistributed(grouped: DataFrame, levels: Int, sweeps: Int,
      coarsenable: Boolean): DataFrame = {
    var currentEdges = grouped
    // (empty input needs no upfront action: localMoving's null-safe m2
    // probe returns the empty labels frame and everything composes)
    // mapping from original node to current-level node
    var mapping: DataFrame = null
    // LEFT join + coalesce: a level-0 community with no inter-community
    // edges never appears in the coarsened graph and gets no higher-level
    // label — it must keep its own label, not vanish (GDS labels every
    // projected node)
    def compose(labels: DataFrame): DataFrame = mapping.select(col("node_id"), col("comm").as("mid"))
      .join(labels.select(col("node_id").as("mid"), col("comm")), Seq("mid"), "left")
      .select(col("node_id"), coalesce(col("comm"), col("mid")).as("comm"))
    var tryDriver = coarsenable
    for (level <- 0 until levels) {
      if (level > 0 && tryDriver) louvainLocal(currentEdges, levels - level, sweeps, None) match {
        // the driver leg's labels are the least member of each community
        // of this level's nodes: the same partition, and finishLabels
        // renames it by the least original member either way
        case Right(rest) => return finishLabels(compose(rest.withColumnRenamed("community", "comm")))
        case Left(retry) => tryDriver = retry
      }
      val labels = localMoving(currentEdges, sweeps)
      mapping = (if (mapping == null) labels.select(col("node_id"), col("comm"))
        else compose(labels)).localCheckpoint()
      if (level < levels - 1) {
        // coarsen: one node per community, aggregated weights — KEEPING
        // self-loops (intra-community weight): Blondel et al. carry them,
        // and dropping them shrinks a supernode's k and the global m
        // non-proportionally, which can flip higher-level move decisions
        val nL = labels.count()
        currentEdges = currentEdges
          .join(Algorithms.iterState(labels.select(col("node_id").as("src"),
            col("comm").as("src_c")), nL, 24L), Seq("src"))
          .join(Algorithms.iterState(labels.select(col("node_id").as("dst"),
            col("comm").as("dst_c")), nL, 24L), Seq("dst"))
          .groupBy(col("src_c").as("src"), col("dst_c").as("dst"))
          .agg(sum(col("weight")).as("weight"))
          .localCheckpoint()
      }
    }
    finishLabels(mapping)
  }

  /** Incremental community maintenance (the T8/T9 incremental story
    * extended to the community tier): WARM-START local moving from an
    * existing labelling after the graph absorbed a delta, instead of
    * re-running full multi-level Louvain from singletons. Degrees and
    * community totals are recomputed from the CURRENT edges, the
    * previous labels only seed the assignment (new nodes start as
    * singletons), and a couple of parity sweeps repair the
    * neighbourhood of the delta — on a converged labelling with no
    * delta the very first two sweeps move nothing and the labelling is
    * returned unchanged (spec-pinned). At 100 TB this is the
    * difference between touching the blast radius of the delta and
    * re-clustering the corpus; like GDS's seedProperty warm start, the
    * result is a valid greedy-modularity labelling but not necessarily
    * the one a cold run would pick. Labels stay canonical
    * (min member id). Under the driver gate it is one level of the
    * driver leg, seeded with `prevLabels`. */
  def louvainWarmStart(edges: DataFrame, prevLabels: DataFrame,
      sweeps: Int = 2, assumeGrouped: Boolean = false): DataFrame = {
    val grouped = groupedEdges(edges, assumeGrouped)
    val seed = prevLabels.select(col("node_id"), col("community").as("comm"))
    louvainLocal(grouped, 1, sweeps, Some(seed))
      .getOrElse(finishLabels(localMoving(grouped, sweeps, Some(seed))))
  }

  /** Canonicalise community labels to the minimum member node id. */
  private def finishLabels(mapping: DataFrame): DataFrame = {
    // canonical community label = min member node id
    val canon = mapping.groupBy(col("comm"))
      .agg(min(col("node_id")).as("community"))
    mapping.join(canon, Seq("comm"))
      .select(col("node_id"), col("community"))
  }

  /** Louvain communities of the user co-occurrence graph, session-cached. */
  def userCommunities(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "louvain_communities") {
      louvain(RatingsGraph.cooccurrenceEdges(spark, dir)
        .select(col("u1").as("src"), col("u2").as("dst"), col("weight")),
        assumeGrouped = true)
    }

  /** Leiden-style connectivity refinement (Traag, Waltman & van Eck 2019,
    * "From Louvain to Leiden"): Louvain can emit communities whose members
    * are connected only THROUGH other communities — the paper's headline
    * defect. The refinement phase repairs exactly that: split every
    * community into the connected components of its induced subgraph, so
    * the output carries Leiden's guarantee (every community internally
    * connected). The full randomized gamma/theta refinement sampling is
    * not reproduced; the delivered (and spec-gated) property is the
    * connectivity guarantee itself, with labels staying canonical
    * (= min member node id, matching [[finishLabels]] — a community that
    * was already connected keeps its exact label, so refinement is the
    * identity on well-formed Louvain output).
    *
    * One filtered join + the existing distributed CC; communities are
    * node-disjoint so a SINGLE CC pass over all intra-community edges
    * refines every community at once — no per-community driver loop. */
  def leidenRefine(edges: DataFrame, labels: DataFrame): DataFrame = {
    val intra = edges
      .join(labels.select(col("node_id").as("src"), col("community").as("sc")), Seq("src"))
      .join(labels.select(col("node_id").as("dst"), col("community").as("dc")), Seq("dst"))
      .filter(col("sc") === col("dc"))
      .select(col("src"), col("dst"))
    val cc = Algorithms.connectedComponents(intra, maxIter = 60)
    // members with no intra-community edge become their own singleton
    labels.join(cc, Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("component"), col("node_id")).as("community"))
  }

  /** Louvain local-moving + aggregation with the Leiden refinement pass:
    * `gds.leiden`'s output contract (connected communities). */
  def leiden(edges: DataFrame, levels: Int = 2, sweeps: Int = 6,
             assumeGrouped: Boolean = false): DataFrame =
    leidenRefine(edges.select(col("src"), col("dst"), col("weight")),
      louvain(edges, levels, sweeps, assumeGrouped))

  /** Leiden communities of the user co-occurrence graph, session-cached
    * (shares the cached Louvain base — refinement adds one CC pass). */
  def userCommunitiesLeiden(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "leiden_communities") {
      leidenRefine(RatingsGraph.cooccurrenceEdges(spark, dir)
        .select(col("u1").as("src"), col("u2").as("dst"), col("weight")),
        userCommunities(spark, dir))
    }
}
