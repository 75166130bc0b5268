package graft.graph

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.storage.StorageLevel

/** DataFrame-iterative graph algorithms over (nodes, edges) tables —
  * the Spark-native re-expression of the reference's GDS calls
  * (`algorithms/Alg_Community_Detection.py:40-45` Louvain,
  * `algorithms/Alg_KNN_FastRP.py:62-70` FastRP).
  *
  * Design: every iteration is one shuffle keyed on node id (join
  * edges⋈state + groupBy node), so the plans scale linearly in |E| and
  * AQE can coalesce/skew-split each round. `localCheckpoint` after each
  * iteration cuts the lineage that would otherwise grow unboundedly and
  * re-execute the whole history each round.
  */
object Algorithms {

  /** Bipartite node-id encoding: user ids and book ids share one id
    * space without collision (user → 2k, book → 2k+1). */
  def userNode(c: org.apache.spark.sql.Column) = (c * 2).cast("bigint")
  def bookNode(c: org.apache.spark.sql.Column) = (c * 2 + 1).cast("bigint")

  /** Undirected RATED edges in the unified id space, both directions,
    * weight = rating. */
  def bipartiteEdges(spark: SparkSession, dir: String): DataFrame = {
    val r = RatingsGraph.ratings(spark, dir)
    val fwd = r.select(userNode(col("user_id")).as("src"),
      bookNode(col("book_id")).as("dst"), col("rating").cast("double").as("weight"))
    fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
  }

  /** localCheckpoint that ALSO resets plan statistics. Spark 4's
    * checkpoint rewrites the source plan's stats/constraints into the
    * LogicalRDD it returns, so an iterative loop whose round SELF-JOINS
    * the previous checkpoint SQUARES the estimated sizeInBytes every
    * round — by round ~25 the stats BigInt has millions of digits and
    * the driver spends minutes per round inside Toom-Cook
    * multiplication (observed: CC at maxIter=60 on a spanning tree
    * froze the bench). The Row-RDD round trip rebuilds the frame with
    * DEFAULT leaf stats; the data itself is the same materialised
    * checkpoint blocks, and the frames this guards are label-table
    * sized, so the extra encode hop is noise. */
  private[graph] def checkpointFresh(df: DataFrame): DataFrame = freshStats(df.localCheckpoint())

  /** `df` (materialised already) under DEFAULT leaf stats, with no job:
    * the second half of [[checkpointFresh]]. */
  private def freshStats(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** r12 (guide §2.4, §3.1): pin a BROADCAST of the per-iteration STATE
    * side of a loop join when its size is provably small. Loop states
    * (ranks, core estimates, labels, frontiers) come out of
    * localCheckpoint / [[checkpointFresh]], which carry DEFAULT stats
    * (deliberately — the stats-squaring hazard above), so the planner
    * can never choose the broadcast join itself: measured at r12, the
    * initial plan of EVERY loop kernel was SortMergeJoin, re-sorting and
    * re-exchanging the multi-million-row cached edge side once per
    * round. The caller passes the row count it already knows (|V|-scale,
    * counted once per build on an already-materialised frame) and a
    * bytes-per-row estimate, so wide states (FastRP's 64 doubles) gate
    * lower than (id, value) pairs. Over the byte budget
    * (`graft.iter.broadcastBytes`, default 128 MB — executor-safe, well
    * under the 8 GB broadcast cap) the frame is returned unchanged: the
    * existing exchange-based shape stays the 100 TB fallback, and the
    * gate is data-sized, not core-count-sized, so low-cpu driver runs
    * take the same plans. */
  /** Conf override for every PARAM-defaulted driver-leg gate (r13):
    * `graft.driver.localThreshold` forces all size-adaptive driver
    * legs at once (0 = always take the distributed fallback), so a
    * gate-forced sweep can prove the at-scale shapes stay
    * hash-identical without touching call sites. Read with a null
    * default: `getOption` on an unset key builds and catches an exception,
    * which a serving lookup would pay on every call. */
  private[graft] def driverGate(spark: SparkSession, default: Long): Long =
    Option(spark.conf.get("graft.driver.localThreshold", null))
      .map(_.toLong).getOrElse(default)

  /** The default size every driver leg is gated at (rows, edges, pairs
    * or vector scalars, as each leg measures). */
  val DriverGateDefault = 5000000L

  /** The input of a size-adaptive leg: its rows on the driver (Right)
    * while `gate` is positive and `df` holds at most `gate` rows, else
    * `df` materialised for the distributed leg (Left). A gate ≤ 0 always
    * means distributed. A frame that folds into a LocalRelation (another
    * driver leg's output) is read with no job, and handed on as it is.
    * Any other is checkpointed, counted and, under the gate, collected;
    * a caller that has materialised and counted it already passes the
    * count as `counted`, and `df` is taken as it is. */
  private[graft] def gatedInput(df: DataFrame, gate: Long,
      counted: Option[Long] = None): Either[DataFrame, Array[Row]] =
    GraftBridge.localRelation(df) match {
      case Some(l) => if (gate > 0 && l.data.size <= gate) Right(df.collect()) else Left(df)
      case None =>
        val m = if (counted.isDefined) df else df.localCheckpoint()
        if (gate > 0 && counted.getOrElse(m.count()) <= gate) Right(m.collect()) else Left(m)
    }

  /** The first two columns of `rows` as (long, long) pairs: integral ids
    * of any width, as a driver leg keys nodes. */
  private[graft] def longPairs(rows: Array[Row]): Array[(Long, Long)] =
    rows.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))

  /** `dfs` as local frames holding their rows on the driver, or None
    * when together they hold more than `cap` rows (or `cap` is not
    * positive). A frame that already folds into a LocalRelation is taken
    * as it is; all the others come in by ONE bounded collect: each is
    * wrapped as a struct in its own slot of a union, and one task reads
    * the union until `cap` + 1 rows (none when every leaf is local and
    * `graft.plans.LocalPlans` runs the union on the driver). */
  private[graft] def driverFrames(dfs: Seq[DataFrame], cap: Long): Option[Seq[DataFrame]] =
    driverData(dfs, cap).map(_.zip(dfs).map { case (rows, df) =>
      if (GraftBridge.localRelation(df).isDefined) df
      else GraftBridge.localFrame(df.sparkSession, df.schema, rows)
    })

  /** [[driverFrames]]' rows: Catalyst's internal rows of each frame, in
    * its column order. A leg that reads them as they are skips the
    * analysis of a frame over them, whose every rule pass walks the rows. */
  private[graft] def driverData(dfs: Seq[DataFrame], cap: Long): Option[Seq[Seq[InternalRow]]] = {
    if (cap <= 0) return None
    val local = dfs.map(GraftBridge.localRelation)
    val remote = dfs.indices.filter(local(_).isEmpty)
    val localRows = local.flatten.map(_.data.size.toLong).sum
    if (localRows > cap) return None
    val fetched = if (remote.isEmpty) Array.empty[InternalRow] else {
      // an all-local input is computed on the driver, with no job
      graft.plans.LocalPlans.ensureStrategy(dfs.head.sparkSession)
      val slots = remote.map(dfs(_).schema)
      val union = remote.zipWithIndex.map { case (i, j) =>
        dfs(i).select(lit(j).as("slot") +: slots.indices.map { k =>
          (if (k == j) struct(col("*")) else lit(null).cast(slots(k))).as(s"s$k")
        }: _*)
      }.reduce(_ unionAll _)
        .coalesce(1).limit(math.min(cap - localRows + 1, Int.MaxValue.toLong).toInt)
      GraftBridge.collectInternal(union)
    }
    if (localRows + fetched.length > cap) return None
    val bySlot = fetched.groupBy(_.getInt(0))
    Some(dfs.indices.map { i =>
      val j = remote.indexOf(i)
      if (j < 0) local(i).get.data
      else ArraySeq.unsafeWrapArray(bySlot.getOrElse(j, Array.empty[InternalRow])
        .map(_.getStruct(j + 1, dfs(i).schema.length)))
    })
  }

  /** Integral id columns: the driver legs key nodes by their long value. */
  private[graft] def integral(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(t)
  }

  private[graft] def iterState(df: DataFrame, rows: Long,
      rowBytes: Long = 32L): DataFrame = {
    val gate = df.sparkSession.conf.getOption("graft.iter.broadcastBytes")
      .map(_.toLong).getOrElse(134217728L)
    if (rows >= 0 && rows * rowBytes <= gate) broadcast(df) else df
  }

  /** Size-adaptive connected components (the clusterClosure /
    * driver-Tarjan precedent): under the driver gate's edges the
    * components are labelled by a driver union-find in microseconds —
    * the iterated min-label propagation below pays a shuffle per round,
    * which on a TREE-shaped input (worst diameter case, e.g. the kept
    * spanning forest) means tens of rounds for a frame that fits in one
    * task. Both legs label by MIN member, so rows are identical. The
    * distributed loop stays the 100 TB fallback. */
  def connectedComponentsAdaptive(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    gatedInput(edges.select(col("src"), col("dst")), driverGate(spark, DriverGateDefault)) match {
      case Right(rows) =>
        import spark.implicits._
        UnionFind.componentsLocal(longPairs(rows)).toSeq.toDF("node_id", "component")
      case Left(e) => connectedComponents(e, maxIter)
    }
  }

  /** Connected components by iterated min-label propagation until
    * convergence. Returns (node_id, component) where component is the
    * smallest node id in the component. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val bidir = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = checkpointFresh(bidir.select(col("src").as("node_id"))
      .distinct()
      .withColumn("component", col("node_id")))
    val nV = labels.count()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // candidate label = min over (self, neighbours' labels); the self
      // rows ride the same aggregation, so one shuffle, no join
      // materialise once (probe + next round read it) WITH fresh stats:
      // the round-5+ shortcut self-joins this frame, which would square
      // carried-over stats every round — see [[checkpointFresh]]
      val prop = checkpointFresh(bidir
        .join(iterState(labels.withColumnRenamed("node_id", "src"), nV, 24L),
          Seq("src"))
        .select(col("dst").as("node_id"), col("component"))
        .unionAll(labels)
        .groupBy(col("node_id"))
        .agg(min(col("component")).as("component")))
      // pointer-jumping shortcut from round 5 on: also adopt the label
      // OF my label (labels only decrease and every label value is
      // itself a labelled node), squaring the propagation distance per
      // round — an unconverged round-5 graph has diameter > 5, and the
      // shortcut gets it to fixpoint in O(log diameter) further rounds
      // (maxIter=20 then covers ~2^15-hop chains). Low-diameter graphs
      // — the common case — converge earlier and never pay the extra
      // per-round |V| join.
      val next =
        if (i < 4) prop
        else checkpointFresh(prop
          .join(prop.select(col("node_id").as("component"),
            col("component").as("comp2")), Seq("component"), "left")
          .select(col("node_id"),
            least(col("component"), coalesce(col("comp2"), col("component")))
              .as("component"))) // the probe and the next round both read it
      val changed = next.join(labels.withColumnRenamed("component", "old"), Seq("node_id"))
        .filter(col("component") =!= col("old")).limit(1).count()
      labels = next
      converged = changed == 0
      i += 1
    }
    if (!converged) {
      // a graph with diameter > maxIter would return un-merged components
      System.err.println(
        s"[graft] connectedComponents hit maxIter=$maxIter before convergence; " +
          "results may split components — raise maxIter for high-diameter graphs")
    }
    bidir.unpersist(blocking = false)
    labels
  }

  /** Synchronous label propagation for community detection (the
    * Louvain-class operator of the reference), deterministic: each round
    * every node adopts the label with the highest incident weight sum,
    * ties broken by smallest label. Fixed iteration count keeps runtime
    * and results deterministic at any scale. */
  def labelPropagation(weightedEdges: DataFrame, iterations: Int = 5): DataFrame = {
    // contract: weights strictly positive (a zero/negative weight would
    // lose to the zero-weight self-vote below); non-positive edges are
    // dropped rather than silently mis-voting
    val edges = weightedEdges.select(col("src"), col("dst"), col("weight").cast("double"))
      .filter(col("weight") > 0.0)
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("node_id"))
      .unionAll(edges.select(col("dst").as("node_id")))
      .distinct()
      .withColumn("label", col("node_id"))
      .localCheckpoint()
    val nV = labels.count()
    for (_ <- 1 to iterations) {
      // neighbour votes plus a zero-weight self-vote per node: isolated
      // nodes keep their label without a separate re-join, and the pick
      // happens in one aggregation+window pass
      val votes = edges
        .join(iterState(labels.withColumnRenamed("node_id", "dst")
          .withColumnRenamed("label", "nbr_label"), nV, 24L), Seq("dst"))
        .select(col("src").as("node_id"), col("nbr_label"), col("weight"))
        .unionAll(labels.select(col("node_id"), col("label").as("nbr_label"),
          lit(0.0).as("weight")))
        .groupBy(col("node_id"), col("nbr_label"))
        .agg(sum(col("weight")).as("w"))
      // r12: argmax via max_by on a totally-ordered struct (w desc,
      // label asc — identical pick and tie order to the old row_number
      // window) — a hash aggregate with map-side partials instead of an
      // exchange + full sort per round (the Louvain localMoving idiom)
      labels = votes
        .groupBy(col("node_id"))
        .agg(max_by(col("nbr_label"),
          struct(col("w"), (-col("nbr_label")).as("nl"))).as("label"))
        .localCheckpoint()
    }
    edges.unpersist(blocking = false)
    labels
  }

  /** Modularity-optimizing community detection (`gds.beta
    * .modularityOptimization`): semi-synchronous greedy label moving
    * where each node joins the NEIGHBOUR community with the best
    * modularity gain — the direct-ΔQ sibling of [[labelPropagation]]'s
    * frequency vote and the local-moving phase Louvain coarsens around.
    *
    * The gain comparison is INTEGER-EXACT: moving u to community C
    * scores ΔQ ∝ k_{u,C} − k_u·Σtot_C/(2m), and with integer co-rating
    * weights the argmax over C is unchanged by cross-multiplying with
    * 2m — score = 2m·k_{u,C} − k_u·Σtot'_C (Σtot' excludes u itself
    * when C is u's own community, the standard "gain of staying"
    * correction). No floats anywhere, so a fixed-iteration run replays
    * bit-exactly in DuckDB as unrolled CTEs — a community detector in
    * the Louvain family with an EXACT oracle, which the float-ΔQ
    * Louvain/Leiden entries can't have. Ties keep the current label
    * (move only on STRICT improvement — the (c = cur) DESC tie-break),
    * then break by smallest label.
    *
    * Fully synchronous greedy moving OSCILLATES (trace a K3: pair/
    * singleton splits rotate forever — the swap pathology GDS breaks
    * with graph-coloring sub-rounds). Here iteration i moves only the
    * parity class node_id % 2 == i % 2 (the coloring idea with the
    * cheapest possible deterministic 2-coloring of the MOVE SCHEDULE,
    * not the graph): within a round movers judge a frozen partition,
    * neighbours that could co-move sit out half the time, and the
    * two-triangle fixture converges in 3 rounds where synchronous
    * never settles. Exactly replayable — the class is a WHERE clause.
    *
    * Long-arithmetic bound: |score| ≤ 2m·k_max ≈ 9.2e18 only at
    * 2m ≈ 3e9 with k_max ≈ 3e9 — a single node adjacent to the whole
    * 100 TB graph; shard such hubs or switch the two products to
    * decimal(38,0) before then. Per iteration: one |E| join-aggregate
    * (k_{u,C}), two |V| aggregates (Σtot, argmax) — same shuffle
    * profile as LPA, no all-pairs anywhere.
    *
    * Expects the BIDIRECTIONAL weighted edge list (both (u,v) and
    * (v,u) rows, integer weights), which is exactly what
    * [[RatingsGraph.cooccurrenceEdges]] produces. */
  def modularityOptimization(weightedEdges: DataFrame,
      iterations: Int = 3): DataFrame = {
    val edges = weightedEdges
      .select(col("src"), col("dst"), col("weight").cast("long"))
      .filter(col("weight") > 0L)
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // bidir list ⇒ grouping by src alone covers every node; k = weighted
    // degree, and Σk over all nodes = 2m (each undirected edge twice)
    val deg = edges.groupBy(col("src").as("node_id"))
      .agg(sum(col("weight")).as("k"))
      .localCheckpoint()
    val w2 = deg.agg(sum(col("k"))).head().getLong(0)
    var labels = deg.select(col("node_id"), col("node_id").as("label"))
      .localCheckpoint()
    val nV = deg.count()
    for (i <- 1 to iterations) {
      val parity = i % 2
      val tot = labels.join(deg, Seq("node_id"))
        .groupBy(col("label")).agg(sum(col("k")).as("t"))
      val kuc = edges
        .join(iterState(labels.select(col("node_id").as("dst"),
          col("label").as("c")), nV, 24L), Seq("dst"))
        .groupBy(col("src").as("node_id"), col("c"))
        .agg(sum(col("weight")).as("kuc"))
      // the stay row (kuc = 0) guarantees u's own community is always a
      // candidate; MAX dedupes it against the neighbour row when the
      // community is both (a node always has ≥ its own label candidate)
      val cand = kuc.unionByName(labels.select(col("node_id"),
          col("label").as("c"), lit(0L).as("kuc")))
        .groupBy(col("node_id"), col("c")).agg(max(col("kuc")).as("kuc"))
        .filter(pmod(col("node_id"), lit(2)) === lit(parity))
      val scored = cand
        .join(labels.select(col("node_id"), col("label").as("cur")), Seq("node_id"))
        .join(deg, Seq("node_id"))
        .join(tot.select(col("label").as("c"), col("t")), Seq("c"))
        .withColumn("score",
          lit(w2) * col("kuc") - col("k") *
            (col("t") - when(col("c") === col("cur"), col("k"))
              .otherwise(lit(0L))))
      val pick = Window.partitionBy(col("node_id"))
        .orderBy(col("score").desc, (col("c") === col("cur")).desc, col("c"))
      val moved = scored.withColumn("rk", row_number().over(pick))
        .filter(col("rk") === 1)
        .select(col("node_id"), col("c").as("label"))
      labels = moved
        .unionByName(labels.filter(pmod(col("node_id"), lit(2)) =!= lit(parity)))
        .localCheckpoint()
    }
    edges.unpersist(blocking = false)
    labels
  }

  /** Approximate maximum k-cut (`gds.maxkcut`): partition nodes into k
    * classes MAXIMIZING the weight crossing classes — the complement
    * objective of community detection (GDS ships it as the beta
    * local-search VNS algorithm). Same integer-exact machinery as
    * [[modularityOptimization]]: a move's objective delta depends only
    * on Σw(u → class c), an integer, so the per-node argmin (smallest
    * within-class weight = largest cut contribution) is float-free and
    * the whole fixed-round local search replays bit-exactly in SQL.
    * Init: md5-fraction % k (deterministic spread); rounds move the
    * parity class only (the modopt anti-oscillation schedule); ties
    * keep the current class, then smallest class id. Per round: one
    * |E| join-aggregate + one |V|·k argmin — no all-pairs. */
  def maxKCut(weightedEdges: DataFrame, k: Int = 4,
      iterations: Int = 3): DataFrame = {
    val edges = weightedEdges
      .select(col("src"), col("dst"), col("weight").cast("long"))
      .filter(col("weight") > 0L)
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("node_id")).distinct()
      .localCheckpoint()
    var classes = nodes.select(col("node_id"),
      pmod(graft.plans.Md5Bits.md5Bits(
        concat(lit("kcut:"), col("node_id").cast("string")), 8), lit(k.toLong))
        .as("cls"))
      .localCheckpoint()
    val nV = nodes.count()
    for (i <- 1 to iterations) {
      val parity = i % 2
      // Σw from each mover into every CURRENT class of its neighbours
      val nbrW = edges
        .join(iterState(classes.select(col("node_id").as("dst"),
          col("cls").as("c")), nV, 24L), Seq("dst"))
        .groupBy(col("src").as("node_id"), col("c"))
        .agg(sum(col("weight")).as("w"))
      // every class is a candidate — absent neighbour-classes cost 0
      // (they ADD the full neighbourhood to the cut)
      val cand = classes
        .filter(pmod(col("node_id"), lit(2)) === lit(parity))
        .select(col("node_id"), col("cls").as("cur"),
          explode(sequence(lit(0L), lit((k - 1).toLong))).as("c"))
        .join(nbrW, Seq("node_id", "c"), "left")
        .withColumn("w", coalesce(col("w"), lit(0L)))
      val pick = Window.partitionBy(col("node_id"))
        .orderBy(col("w"), (col("c") === col("cur")).desc, col("c"))
      val moved = cand.withColumn("rk", row_number().over(pick))
        .filter(col("rk") === 1)
        .select(col("node_id"), col("c").as("cls"))
      classes = moved
        .unionByName(classes.filter(pmod(col("node_id"), lit(2)) =!= lit(parity)))
        .localCheckpoint()
    }
    edges.unpersist(blocking = false)
    classes
  }

  /** Max-k-cut classes of the user co-occurrence graph, session-cached
    * (shared by the classes entry and the metrics gate). */
  def userMaxKCut(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "maxkcut_classes") {
      maxKCut(RatingsGraph.cooccurrenceEdges(spark, dir)
        .select(col("u1").as("src"), col("u2").as("dst"), col("weight")))
    }

  /** Modularity-optimized user communities, session-cached (shared by
    * the communities entry and its metrics gate). */
  def userModOptCommunities(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "modopt_communities") {
      modularityOptimization(RatingsGraph.cooccurrenceEdges(spark, dir)
        .select(col("u1").as("src"), col("u2").as("dst"), col("weight")))
    }

  /** Node-property scaler family (`gds.scaleProperties`): MinMax,
    * StdScore, Log, L2Norm, and Mean scalers in one frame. Every
    * population statistic comes from INTEGER aggregates (min/max/Σd/Σd²
    * /Σwd²/n) pulled as one scalar row, then each row's scaled value is
    * a chain of scalar float ops on identical inputs — deterministic
    * across engines; μ and σ are derived as Σd/n and
    * √(Σd²/n − (Σd/n)²) so no distributed float sum exists anywhere
    * except the Mean scaler's Σa (whose 1e-15 order drift the 1e-6
    * rounding absorbs). One |V| scan + one 1-row pull — trivially
    * 100 TB-safe. Input: (node_id, deg: long, wdeg: long, a: double). */
  def scaleProperties(props: DataFrame): DataFrame = {
    val s = props.agg(
      min(col("deg")), max(col("deg")), sum(col("deg")),
      sum(col("deg") * col("deg")), count(lit(1)),
      sum(col("wdeg") * col("wdeg")),
      sum(col("a")), min(col("a")), max(col("a"))).head()
    val (mind, maxd) = (s.getLong(0), s.getLong(1))
    val (sd, sd2, n) = (s.getLong(2), s.getLong(3), s.getLong(4))
    val swd2 = s.getLong(5)
    val (sa, mina, maxa) = (s.getDouble(6), s.getDouble(7), s.getDouble(8))
    val mu = sd.toDouble / n
    val sigma = math.sqrt(sd2.toDouble / n - mu * mu)
    val rngD = (maxd - mind).toDouble
    val rngA = maxa - mina
    props.select(col("node_id"),
      round((col("deg") - lit(mind)).cast("double") / lit(rngD), 6)
        .as("deg_minmax"),
      round((col("deg").cast("double") - lit(mu)) / lit(sigma), 6)
        .as("deg_stdscore"),
      round(log(lit(1.0) + col("wdeg").cast("double")), 6).as("wdeg_log"),
      round(col("wdeg").cast("double") / lit(math.sqrt(swd2.toDouble)), 6)
        .as("wdeg_l2"),
      round((col("a") - lit(sa / n)) / lit(rngA), 6).as("rating_mean_scaled"))
      .orderBy(col("node_id"))
  }

  /** Scaled co-occurrence node properties (degree, weighted degree,
    * mean rating) — the `gds.scaleProperties` surface on the user
    * graph. */
  def userScaledProperties(spark: SparkSession, dir: String): DataFrame = {
    val gprops = RatingsGraph.cooccurrenceEdges(spark, dir)
      .groupBy(col("u1").as("node_id"))
      .agg(count(lit(1)).as("deg"), sum(col("weight")).as("wdeg"))
    val rstat = RatingsGraph.ratings(spark, dir)
      .groupBy(col("user_id").as("node_id"))
      .agg((sum(col("rating")).cast("double") / count(lit(1))).as("a"))
    scaleProperties(gprops.join(rstat, Seq("node_id")))
  }

  /** R-MAT synthetic graph generator (`gds.beta.graph.generate` /
    * Graph500 shape; Chakrabarti–Zhan–Faloutsos 2004): each of E edges
    * independently recurses `scale` levels into the adjacency-matrix
    * quadrants with probabilities (a, b, c, d) — power-law degrees,
    * community structure, O(E) work with NO all-pairs and no
    * coordination between edges (the generator a 100 TB test harness
    * actually needs: every executor draws its own edge range). All
    * randomness is the 32-bit md5 fraction of (rmat:edge:level), so
    * the generated multigraph replays bit-exactly in SQL; quadrant
    * thresholds are the SAME double sums in both engines (the oracle
    * inlines `0.57 + 0.19`, not a decimal approximation of it). */
  def rmatEdges(spark: SparkSession, scale: Int = 10, edges: Long = 10000L,
      a: Double = 0.57, b: Double = 0.19, c: Double = 0.19): DataFrame = {
    val e = spark.range(edges).select(col("id").as("edge_id"))
    val levels = (1 to scale).map { l =>
      val u = (graft.plans.Md5Bits.md5Bits(concat_ws(":", lit("rmat"),
        col("edge_id"), lit(l)), 8).cast("double") + 0.5) / lit(4294967296.0)
      val srcBit = when(u < lit(a + b), lit(0L)).otherwise(lit(1L))
      val dstBit = when(u < lit(a), lit(0L))
        .when(u < lit(a + b), lit(1L))
        .when(u < lit(a + b + c), lit(0L))
        .otherwise(lit(1L))
      (srcBit * lit(1L << (scale - l)), dstBit * lit(1L << (scale - l)))
    }
    e.select(col("edge_id"),
      levels.map(_._1).reduce(_ + _).as("src"),
      levels.map(_._2).reduce(_ + _).as("dst"))
      .orderBy(col("edge_id"))
  }

  /** User communities on the co-occurrence graph, session-cached —
    * shared by the communities query, the modularity metric, and any
    * community-based recommender. */
  def userCommunities(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "lpa_communities") {
      labelPropagation(RatingsGraph.cooccurrenceEdges(spark, dir)
        .select(col("u1").as("src"), col("u2").as("dst"), col("weight")))
    }

  /** LSH candidate pairs of user embeddings with exact cosine, no
    * cutoff — cached ONCE and shared by every KNN operating point (the
    * banding + scoring is the dominant cost; the per-cutoff filter and
    * top-k are cheap). */
  def userScoredPairs(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "knn_scored_pairs") {
      graft.ann.Lsh.scoredPairs(FastRP.userEmbeddings(spark, dir),
        "user_id", "embedding", 64)
    }

  /** KNN SIMILAR_TO edges over the FastRP user embeddings,
    * session-cached (reference `Alg_KNN_FastRP.py:99-116`). */
  def userKnnEdges(spark: SparkSession, dir: String,
      topK: Int = 20, cutoff: Double = 0.1): DataFrame =
    graft.Cache.cached(spark, dir, s"knn_edges_${topK}_$cutoff") {
      graft.ann.Lsh.knnFromScored(userScoredPairs(spark, dir), topK, cutoff)
    }

  /** SIMILAR_TO edges at the reference's EXACT operating point
    * (`Alg_KNN_FastRP.py:110-116,157`: topK=20, similarityCutoff=0.8).
    * GDS KNN scores float-array properties with cosine NORMALISED into
    * [0,1] — sim = (1 + cos)/2 — so cutoff 0.8 means raw cosine ≥ 0.6;
    * the returned `similarity` column is on the GDS scale. */
  def userKnnEdgesRef(spark: SparkSession, dir: String,
      topK: Int = 20, cutoff: Double = 0.8): DataFrame =
    graft.Cache.cached(spark, dir, s"knn_edges_ref_${topK}_$cutoff") {
      // transform the UNROUNDED cosine to the GDS scale, round exactly
      // once (round-then-transform-then-round shifts the 6th decimal)
      graft.ann.Lsh.knnFromScoredRaw(userScoredPairs(spark, dir),
          topK, cutoff = 2 * cutoff - 1)
        .withColumn("similarity", round((col("similarity") + 1) / 2, 6))
    }

  /** Global triangle counting: DEGREE-ORDERED edge orientation
    * (Schank/Wagner — orient each edge from its lower-(degree, id)
    * endpoint, bounding every out-degree by ~√(2m)) + EDGE-ITERATOR
    * adjacency intersection: group the oriented edges into a per-node
    * neighbour array once, then for each oriented edge (u→w) count
    * |adj(u) ∩ adj(w)|. Each triangle {u→b, u→c, b→c} is counted
    * exactly once, at edge (u→b).
    *
    * vs the wedge-join formulation (enumerate Σ outdeg² wedges, then a
    * 3-way join to close them): the intersection never materialises or
    * shuffles the wedge set — the only shuffles are the two edge⋈adj
    * joins on node id (|E| rows each), and the Σ(outdeg_u + outdeg_w)
    * intersection work happens in-partition over in-memory arrays
    * (57.6 s → ~8 s on the sf0.1 co-occurrence graph, 8.6 M triangles).
    * At scale the per-node arrays stay bounded by the √(2m) orientation
    * cap, so rows stay small and AQE can split any residual skew. */
  /** Canonical deduped undirected pair set (a < b) of any edge list. */
  private def canonPairs(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Undirected degrees of a canonical pair set. */
  private def undDegrees(und: DataFrame): DataFrame =
    und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))

  /** Degree-ordered orientation — keep (u → w) iff (d_u, u) < (d_w, w);
    * bounds out-degrees by ~√(2m), the lever that makes wedge
    * intersections tractable on dense graphs. */
  private def orientOf(und: DataFrame, deg: DataFrame): DataFrame =
    und
      .join(deg.select(col("v").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("degree").as("db")), Seq("b"))
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("a")).otherwise(col("b")).as("src"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("b")).otherwise(col("a")).as("dst"))

  /** Sorted out-adjacency arrays of an oriented edge list. */
  private def sortedAdj(oriented: DataFrame): DataFrame =
    oriented.groupBy(col("src")).agg(sort_array(collect_list(col("dst"))).as("nbrs"))

  private def triangleCountFrom(oriented: DataFrame, adj: DataFrame): DataFrame =
    // inner joins: an edge whose dst has no out-neighbours closes no
    // wedge and contributes 0 — dropping it doesn't change the sum.
    // r13: the per-edge intersection is the native sorted-merge count
    // kernel (array_intersect built a hash set per ROW over arrays that
    // sortedAdj already sorted; counts identical on sorted distinct
    // inputs — property-tested, R13KernelSpec)
    oriented
      .join(adj.select(col("src"), col("nbrs").as("nbrs_u")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nbrs_w")), Seq("dst"))
      .agg(coalesce(sum(graft.plans.GraphKernels.ixnCountCol(
        oriented.sparkSession, col("nbrs_u"), col("nbrs_w"))), lit(0L))
        .as("n_triangles"))

  def triangleCount(edges: DataFrame): DataFrame = {
    val und = canonPairs(edges)
    val oriented = orientOf(und, undDegrees(und)).localCheckpoint()
    triangleCountFrom(oriented, sortedAdj(oriented))
  }

  // — Session-cached oriented co-occurrence machinery: the orientation
  //   and adjacency arrays are the dominant cost of BOTH triangle
  //   counting and clustering coefficients; build once, consume twice.
  //   cooccurrenceEdges is symmetric + distinct by construction, so the
  //   u1 < u2 filter IS the canonical dedup (no least/greatest pass). —
  private[graft] def userCanonPairs(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "cooc_canon") {
      RatingsGraph.cooccurrenceEdges(spark, dir)
        .filter(col("u1") < col("u2"))
        .select(col("u1").as("a"), col("u2").as("b"))
    }

  private def userUndDegrees(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "cooc_und_degrees") {
      undDegrees(userCanonPairs(spark, dir))
    }

  private[graft] def userOrientedEdges(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "cooc_oriented") {
      orientOf(userCanonPairs(spark, dir), userUndDegrees(spark, dir))
    }

  private[graft] def userOrientedAdj(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "cooc_oriented_adj") {
      sortedAdj(userOrientedEdges(spark, dir))
    }

  /** The cached adjacency with an [[iterState]] broadcast pin (r13,
    * guide §3.1): the InMemoryRelation's stats (~13 MB of arrays at
    * sf0.1) sit just over the 10 MB auto-broadcast threshold, so every
    * wedge consumer ran SortMergeJoin — exchanging the array-carrying
    * joined rows between the two adj joins (probe: 248 MB shuffled per
    * triangle_count call). Row count comes off the already-cached
    * frame; ~1 KB/row (avg out-degree ≈ 105 longs) gates the broadcast
    * data-size-wise, SMJ stays the 100 TB fallback. */
  private def userAdjPinned(spark: SparkSession, dir: String): DataFrame = {
    val adj = userOrientedAdj(spark, dir)
    iterState(adj, adj.count(), 1024L)
  }

  /** Triangle count of the user co-occurrence graph over the shared
    * cached orientation. */
  def userTriangleCount(spark: SparkSession, dir: String): DataFrame =
    triangleCountFrom(userOrientedEdges(spark, dir), userAdjPinned(spark, dir))

  /** Per-node local clustering coefficient (GDS
    * `localClusteringCoefficient` family): c(v) = 2·t(v) / (d(v)·(d(v)−1))
    * with t(v) = triangles through v. Adjacency-array form like
    * [[triangleCount]], but UNoriented: per directed edge (v, u) the
    * common-neighbour count |N(v) ∩ N(u)| counts each triangle at v
    * twice across v's incident edges, so t(v) = Σ/2. Work is
    * Σ_e min(d) array intersections in-partition — the wedge set never
    * materialises or shuffles. Returns top-k by (coefficient, node) over
    * nodes with degree ≥ minDegree (low-degree coefficients are noise). */
  def clusteringCoefficientTopK(edges: DataFrame, k: Int = 20,
      minDegree: Int = 10): DataFrame = {
    val und = canonPairs(edges)
    val deg = undDegrees(und)
    // degree-ordered orientation bounds out-degrees by ~√(2m) like
    // [[triangleCount]] (the unoriented adjacency form measured ~2×
    // slower: hot nodes intersect their full neighbour lists per edge)
    val oriented = orientOf(und, deg).localCheckpoint()
    clusteringFrom(deg, oriented, sortedAdj(oriented), k, minDegree)
  }

  /** Per-node triangle credits (v, t) of an oriented adjacency: per
    * oriented edge (u, w), X = N⁺(u) ∩ N⁺(w) closes one triangle per
    * member; credit all three corners in ONE exploded projection (u and
    * w get |X| each, every x ∈ X gets 1) — the per-node count arrives
    * in a single map-side-combined aggregation, no triangle set reuse,
    * no second pass. Shared by [[clusteringCoefficientTopK]] and the
    * GDS `triangleCount` per-node modes. */
  private def triangleCredits(oriented: DataFrame, adj: DataFrame): DataFrame =
    // r13: intersection + credit construction fused into the native
    // TriNodeCredits kernel — the previous array_intersect (hash set
    // per row) + CodegenFallback transform emitted the same
    // [(src,|X|),(dst,|X|)] ++ [(z,1)] rows interpreted
    oriented
      .join(adj.select(col("src"), col("nbrs").as("nbrs_u")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nbrs_w")), Seq("dst"))
      .select(explode(graft.plans.GraphKernels.nodeCreditsCol(
        oriented.sparkSession, col("src"), col("dst"),
        col("nbrs_u"), col("nbrs_w"))).as("cr"))
      .select(col("cr.v").as("v"), col("cr.c").as("c"))
      .groupBy(col("v")).agg(sum(col("c")).as("t"))

  /** Per-node triangle counts (node_id, triangles) — the GDS
    * `triangleCount` stream shape: every node of the undirected graph,
    * zero-triangle nodes included. Same degree-ordered orientation +
    * array-intersection credits as [[clusteringCoefficientTopK]]. */
  def triangleCountPerNode(edges: DataFrame): DataFrame = {
    val und = canonPairs(edges)
    val oriented = orientOf(und, undDegrees(und)).localCheckpoint()
    val credits = triangleCredits(oriented, sortedAdj(oriented))
    und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .distinct()
      .join(credits, Seq("v"), "left")
      .select(col("v").as("node_id"),
        coalesce(col("t"), lit(0L)).as("triangles"))
  }

  /** Per-node local clustering coefficient over ANY edge frame (GDS
    * `gds.localClusteringCoefficient`): 2t / (d(d−1)), 0 for degree
    * < 2 — [[triangleCountPerNode]]'s credits joined to the undirected
    * degree; no shuffle beyond those two aggregates. */
  def localClusteringCoefficients(edges: DataFrame): DataFrame = {
    val und = canonPairs(edges)
    val deg = und.select(col("a").as("node_id"))
      .unionAll(und.select(col("b").as("node_id")))
      .groupBy(col("node_id")).agg(count(lit(1)).as("degree"))
    triangleCountPerNode(edges)
      .join(deg, Seq("node_id"), "left")
      .select(col("node_id"),
        when(col("degree") >= 2,
          col("triangles") * 2.0 / (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)).as("coefficient"))
  }

  private def clusteringFrom(deg: DataFrame, oriented: DataFrame, adj: DataFrame,
      k: Int, minDegree: Int): DataFrame = {
    val credits = triangleCredits(oriented, adj)
    deg.join(credits, Seq("v"), "left")
      .filter(col("degree") >= minDegree)
      .select(col("v").as("node_id"), col("degree"),
        round(coalesce(col("t"), lit(0L)) * 2.0 / (col("degree") * (col("degree") - 1)), 6)
          .as("clustering_coef"))
      .orderBy(col("clustering_coef").desc, col("node_id"))
      .limit(k)
  }

  /** Clustering coefficient of the user co-occurrence graph. */
  def userClusteringTopK(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    clusteringFrom(userUndDegrees(spark, dir), userOrientedEdges(spark, dir),
      userAdjPinned(spark, dir), k, minDegree = 10)

  /** Per-user node similarity (GDS `nodeSimilarity` family): Jaccard of
    * liked-book sets for every user pair sharing at least one liked
    * book, top-k pairs. The co-occurrence join provides |∩|; set sizes
    * come from a degree aggregate — no per-pair set materialisation. */
  def userJaccardTopK(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val liked = RatingsGraph.ratings(spark, dir)
      .filter(col("rating") >= 6).select(col("user_id"), col("book_id"))
    val sizes = liked.groupBy(col("user_id")).agg(count(lit(1)).as("sz"))
    val inter = liked.select(col("user_id").as("u1"), col("book_id"))
      .join(liked.select(col("user_id").as("u2"), col("book_id")), Seq("book_id"))
      .filter(col("u1") < col("u2"))
      .groupBy(col("u1"), col("u2"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("user_id").as("u1"), col("sz").as("sz1")), Seq("u1"))
      .join(sizes.select(col("user_id").as("u2"), col("sz").as("sz2")), Seq("u2"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("sz1") + col("sz2") - col("n_common")))
      .select(col("u1"), col("u2"), col("n_common"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("u1"), col("u2"))
      .limit(k)
  }

  /** Per-user OVERLAP node similarity (GDS `nodeSimilarity` with
    * `similarityMetric: OVERLAP`): |A∩B| / min(|A|,|B|) over liked-book
    * sets — flags containment (a niche user inside a power user's
    * taste) that Jaccard's union denominator dilutes. Same intersection
    * join and degree aggregate as [[userJaccardTopK]]. */
  def userOverlapTopK(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val liked = RatingsGraph.ratings(spark, dir)
      .filter(col("rating") >= 6).select(col("user_id"), col("book_id"))
    val sizes = liked.groupBy(col("user_id")).agg(count(lit(1)).as("sz"))
    val inter = liked.select(col("user_id").as("u1"), col("book_id"))
      .join(liked.select(col("user_id").as("u2"), col("book_id")), Seq("book_id"))
      .filter(col("u1") < col("u2"))
      .groupBy(col("u1"), col("u2"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("user_id").as("u1"), col("sz").as("sz1")), Seq("u1"))
      .join(sizes.select(col("user_id").as("u2"), col("sz").as("sz2")), Seq("u2"))
      .withColumn("overlap",
        col("n_common").cast("double") / least(col("sz1"), col("sz2")))
      .select(col("u1"), col("u2"), col("n_common"), round(col("overlap"), 6).as("overlap"))
      .orderBy(col("overlap").desc, col("u1"), col("u2"))
      .limit(k)
  }

  /** Adamic–Adar link prediction for one source user over the
    * co-occurrence graph (GDS link-prediction family —
    * `gds.alpha.linkprediction.adamicAdar`; the per-user shape mirrors
    * the reference's per-user recommendation queries,
    * `recommender_knn.py:29-46`): candidates are 2-hop neighbours NOT
    * already adjacent to the source, scored Σ_w 1/ln(deg(w)) over common
    * neighbours w. One wedge join from the source's (small) neighbour
    * list — never an all-pairs expansion; at 100 TB this is a broadcast
    * of one adjacency row against the edge table, shuffling only the
    * candidate aggregation. */
  def adamicAdarUser(spark: SparkSession, dir: String,
      user: Long = 1L, k: Int = 10): DataFrame =
    adamicAdar(RatingsGraph.cooccurrenceEdges(spark, dir)
      .select(col("u1").as("src"), col("u2").as("dst")), user, k,
      assumeDistinct = true) // one row per user pair by construction

  /** Adamic–Adar over any bidirectional (src, dst) edge table.
    * Multigraph guard (the louvain hazard class): parallel edge rows
    * would double-count wedges and inflate degrees, so edges are
    * distinct-ed unless the caller guarantees one row per pair. */
  def adamicAdar(edges: DataFrame, user: Long, k: Int,
      assumeDistinct: Boolean = false): DataFrame = {
    val input = edges.select(col("src"), col("dst"))
    val e = if (assumeDistinct) input else input.distinct()
    val deg = e.groupBy(col("src").as("w")).agg(count(lit(1)).as("deg"))
    val nbrs = e.filter(col("src") === user).select(col("dst").as("w"))
    // wedge: source → w → cand; a common neighbour w always has deg ≥ 2,
    // so ln(deg) is never 0
    e.select(col("src").as("w"), col("dst").as("cand"))
      .join(broadcast(nbrs), Seq("w"))
      .filter(col("cand") =!= user)
      .join(e.filter(col("src") === user).select(col("dst").as("cand")),
        Seq("cand"), "left_anti") // predict NEW links only
      .join(deg, Seq("w"))
      .groupBy(col("cand"))
      .agg(count(lit(1)).as("n_common"),
        sum(lit(1.0) / log(col("deg").cast("double"))).as("aa"))
      .select(col("cand").as("user_id"), col("n_common"),
        round(col("aa"), 6).as("aa_score"))
      .orderBy(col("aa_score").desc, col("user_id"))
      .limit(k)
  }

  /** node2vec-biased second-order random walks (`gds.node2vec`'s walk
    * stage): the step from `cur` (arrived from `prev`) weights each
    * candidate `nxt` by the return / triangle / outward class —
    * `wBack` for nxt == prev (1/p), `wNbr` for nxt adjacent to prev
    * (distance 1), `wOut` otherwise (1/q). Defaults (1, 2, 4) encode
    * p = 2, q = 0.5 — the outward-exploring regime.
    *
    * Determinism with EXACT weighted draws: each candidate is
    * replicated `w` times (w ≤ wOut, a bounded explode) and the walk
    * takes the arg-min seeded hash over ALL replicas — min over
    * exchangeable per-replica hashes lands on a candidate with
    * probability w/Σw, so the draw is a true weighted categorical yet
    * reproducible in SQL (the same replicated arg_min unrolls per
    * step). Per step: one frontier⋈edges join for candidates, one
    * (prev, nxt) edge join for the triangle class, one bounded explode,
    * one arg-min aggregate — all map-side-combining, no driver loop
    * over walks. */
  def node2vecWalks(edges: DataFrame, sources: Seq[Long], steps: Int = 4,
      walksPerSource: Int = 2, wBack: Int = 1, wNbr: Int = 2, wOut: Int = 4,
      symmetric: Boolean = false): DataFrame = {
    require(sources.nonEmpty && walksPerSource >= 1, "need sources and >= 1 walk each")
    val spark = edges.sparkSession
    import spark.implicits._
    val seeds = (for { s <- sources; w <- 0 until walksPerSource }
      yield (s * walksPerSource + w, s)).toDF("walk_id", "node_id")
    node2vecWalksFromSeeds(edges, seeds, steps, wBack, wNbr, wOut, symmetric)
  }

  /** Walk corpus from EVERY node of the graph — the training input for
    * [[Node2Vec]] embeddings. Seeds are derived from the edge frame
    * itself (never a driver-side source list), so the corpus build is
    * fully distributed at any graph size; walk ids follow the same
    * `node·walksPerNode + w` scheme as [[node2vecWalks]], making the
    * corpus restricted to any source set bit-identical to the (exactly
    * oracled) per-source entry — spec-asserted. */
  def node2vecWalkCorpus(edges: DataFrame, walksPerNode: Int = 2,
      steps: Int = 4, wBack: Int = 1, wNbr: Int = 2, wOut: Int = 4,
      symmetric: Boolean = false, weighted: Boolean = false): DataFrame = {
    require(walksPerNode >= 1, "need >= 1 walk per node")
    // the walk step symmetrizes a one-directional frame (symmetric =
    // false), so ITS node universe is src ∪ dst; a both-directions
    // frame (symmetric = true) already lists every node as a src
    val nodes =
      if (symmetric) edges.select(col("src").as("node_id")).distinct()
      else edges.select(col("src").as("node_id"))
        .unionAll(edges.select(col("dst").as("node_id"))).distinct()
    val seeds = nodes
      .select(col("node_id"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("w"))
      .select((col("node_id") * walksPerNode + col("w")).as("walk_id"), col("node_id"))
    node2vecWalksFromSeeds(edges, seeds, steps, wBack, wNbr, wOut, symmetric, weighted)
  }

  /** Edges up to which a node2vec walk broadcasts its adjacency. The
    * grouped adjacency is ~16 B/edge of array payload, so this is a
    * ~160 MB broadcast: large but executor-safe. */
  val Node2VecAdjEdges = 10000000L

  private def node2vecWalksFromSeeds(edges: DataFrame, seedIds: DataFrame,
      steps: Int, wBack: Int, wNbr: Int, wOut: Int, symmetric: Boolean,
      weighted: Boolean = false): DataFrame = {
    require(wBack >= 1 && wNbr >= 1 && wOut >= 1, "class weights must be >= 1")
    require(!weighted || symmetric,
      "weighted walks expect a symmetric (both-directions, weight-carrying) edge frame")
    val wCol = if (weighted) col("weight").cast("double") else lit(1.0)
    val bidir =
      if (symmetric) edges.select(col("src"), col("dst"), wCol.as("weight"))
      else edges.select(col("src"), col("dst"), wCol.as("weight"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"),
          wCol.as("weight")))
        .distinct().localCheckpoint()
    // The p/q bias needs is_nbr(prev, nxt) — "(prev, nxt) ∈ E" — for
    // EVERY candidate row (|frontier|·avg-degree per step). The pair
    // join against the edge table re-shuffles that whole candidate
    // stream each step (measured as the dominant cost of the corpus
    // build: ~25M rows ⋈ 6.3M per step at sf0.1). SIZE-ADAPTIVE probe
    // instead: under the gate, broadcast one adjacency-ARRAY row per
    // node and answer membership with array_contains in codegen — zero
    // extra shuffle; above it, fall back to the pair join (the
    // 100 TB-safe shape). Identical classW either way, so the
    // unweighted path's unrolled DuckDB oracle is untouched.
    val nEdges = bidir.count()
    val adjGate = driverGate(bidir.sparkSession, Node2VecAdjEdges)
    // r12: under the gate the WEIGHTED path draws natively — one
    // [[graft.plans.Node2VecStep]] argmin loop per live walk over a
    // CSR adjacency collected + broadcast ONCE (identical ES-clock
    // arithmetic, spec-pinned), instead of exploding
    // |frontier|·avg-degree candidate rows per step into a min_by
    // shuffle (measured ~12.5 M rows/step at sf0.1). Each step is then
    // a map-only projection of the frontier — no join, no per-step
    // broadcast exchange.
    val csrBc =
      if (weighted && adjGate > 0 && nEdges <= adjGate)
        Some(graft.plans.Node2VecStep.buildCsr(bidir))
      else None
    val nbrArr =
      if (!weighted && adjGate > 0 && nEdges <= adjGate)
        Some(bidir.groupBy(col("src").as("prev"))
          .agg(collect_list(col("dst")).as("nbrs")).localCheckpoint())
      else None
    val adj = bidir.select(col("src").as("prev"), col("dst").as("nxt"),
      lit(true).as("nbr_flag"))
    // step 0: prev = the source itself — nxt == prev can't occur (no
    // self-loops) and every candidate is adjacent to prev, so the first
    // hop is uniform, matching node2vec's unbiased first step
    // r12: spread the seed frame across the full parallelism with an
    // EXPLICIT partition count (AQE coalesces the ~MB-sized frontier to
    // 1–2 partitions otherwise, and with the native draw the per-step
    // CPU — |frontier|·deg md5 clocks — runs ON the frontier
    // partitions; thread dumps showed the whole step on 2 cores). The
    // per-step projections are narrow, so one spread here parallelises
    // every step.
    val seeds = seedIds
      .withColumn("step", lit(0L))
      .withColumn("prev", col("node_id"))
      .repartition(bidir.sparkSession.sparkContext.defaultParallelism,
        col("walk_id"))
      .localCheckpoint()
    // r12: the per-step frontier is one row per LIVE WALK (≤ |seeds|,
    // monotone — a walk that dies never returns); broadcast it into the
    // candidate join under the iterState gate so the edge side is never
    // re-sorted/re-shuffled per step (measured: the frontier⋈edges SMJ
    // was the dominant per-step cost of the corpus build)
    val nWalks = seeds.count()
    var walk = seeds.select(col("walk_id"), col("step"), col("node_id"))
    var frontier = seeds.select(col("walk_id"), col("prev"), col("node_id"))
    for (t <- 1 to steps) {
      val classW = when(col("nxt") === col("prev"), lit(wBack))
        .when(col("is_nbr"), lit(wNbr))
        .otherwise(lit(wOut))
      def rawCands = bidir
        .join(iterState(frontier.select(col("walk_id"), col("prev"),
          col("node_id").as("src")), nWalks, 32L), Seq("src"))
        .select(col("walk_id"), col("prev"), col("src"), col("dst").as("nxt"),
          col("weight"))
      def cands = nbrArr match {
        case Some(arr) => rawCands
          .join(broadcast(arr), Seq("prev"))
          .withColumn("is_nbr", array_contains(col("nbrs"), col("nxt")))
          .drop("nbrs")
        case None => rawCands
          .join(adj, Seq("prev", "nxt"), "left")
          .withColumn("is_nbr", coalesce(col("nbr_flag"), lit(false)))
      }
      val next = (if (weighted && csrBc.isDefined) {
        // native per-walk argmin (see csrBc note above): a walk at a
        // node with no adjacency slice draws null and strands via the
        // filter — the same dead-walk semantics as the inner join
        frontier
          .select(col("walk_id"),
            struct(
              graft.plans.Node2VecStep.drawCol(bidir.sparkSession,
                csrBc.get, col("walk_id"), col("prev"), col("node_id"),
                t, wBack, wNbr, wOut).as("nxt"),
              col("node_id").as("src")).as("pick"))
          .filter(col("pick.nxt").isNotNull)
      } else if (weighted) {
        // exact weighted categorical draw WITHOUT replica explosion
        // (Efraimidis–Spirakis exponential clocks): candidate score
        // −ln(u)/w with u a deterministic 48-bit uniform from
        // md5(walk:step:cand) (r7: md5, not xxhash64 — DuckDB computes
        // the identical value, making the WEIGHTED corpus and the
        // node2vec embeddings downstream of it exactly replayable; the
        // multimodal-stub 48-bit-fraction precedent). The min-score
        // candidate wins with probability ∝ w = classWeight·edgeWeight.
        // Replicating the md5 arg-min here would explode Σ(classW·edgeW)
        // rows per candidate — unbounded on a weighted graph; the clock
        // draw is one row per candidate at any weight.
        val u = (graft.plans.Md5Bits.md5Bits(concat_ws(":",
            col("walk_id"), lit(t), col("nxt")), 12)
            .cast("double") + 0.5) /
          lit(281474976710656.0) // 2^48
        val score = -log(u) / (classW * col("weight"))
        cands
          .select(col("walk_id"), col("src"), col("nxt"), score.as("score"))
          .groupBy(col("walk_id"))
          .agg(min_by(struct(col("nxt"), col("src")), col("score")).as("pick"))
      } else {
        // unweighted: small-integer class weights only — the replicated
        // md5 arg-min IS the exact draw, and (unlike float clocks) it
        // unrolls to the SQL the node2vec_walks oracle checks
        val score = md5(concat_ws(":", col("walk_id"), lit(t), col("nxt"), col("r")))
        cands
          .select(col("walk_id"), col("src"), col("nxt"),
            explode(sequence(lit(1), classW)).as("r"))
          .groupBy(col("walk_id"))
          .agg(min_by(struct(col("nxt"), col("src")), score).as("pick"))
      })
        .select(col("walk_id"), lit(t.toLong).as("step"),
          col("pick.nxt").as("node_id"), col("pick.src").as("prev"))
        // SER storage: the deserialized path samples every cached block
        // with SizeEstimator, and a sampled row whose object graph
        // reaches broadcast state walks it per sample (thread dumps
        // showed 7 s tasks inside SizeEstimator.sampleArray)
        .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
      walk = walk.unionAll(next.select(col("walk_id"), col("step"), col("node_id")))
      frontier = next.select(col("walk_id"), col("prev"), col("node_id"))
    }
    // every step frame is eagerly checkpointed above, so the draw
    // functions and the CSR broadcast are no longer referenced — free
    // them (a long-lived session otherwise leaks one registry entry
    // per step and a ~160 MB executor broadcast per corpus build)
    csrBc.foreach(graft.plans.Node2VecStep.release(bidir.sparkSession, _))
    walk.orderBy(col("walk_id"), col("step"))
  }

  /** The rest of the GDS link-prediction function family in ONE frame
    * (`gds.alpha.linkprediction.{commonNeighbors, preferentialAttachment,
    * resourceAllocation, totalNeighbors}`) for one source user over the
    * co-occurrence graph: candidates are 2-hop neighbours not already
    * adjacent to the source, scored
    * CN = |N(u)∩N(c)|, RA = Σ_w 1/deg(w), PA = deg(u)·deg(c),
    * TN = |N(u)∪N(c)| = deg(u)+deg(c)−CN. Same scale shape as
    * [[adamicAdar]]: one broadcast wedge join from the source's
    * adjacency row, only the candidate aggregation shuffles; CN/PA/TN
    * are exact integers, RA rounds a short float sum. */
  def linkPredictionUser(spark: SparkSession, dir: String,
      user: Long = 1L, k: Int = 10): DataFrame = {
    val e = RatingsGraph.cooccurrenceEdges(spark, dir)
      .select(col("u1").as("src"), col("u2").as("dst"))
    val deg = e.groupBy(col("src").as("w")).agg(count(lit(1)).as("deg"))
    val srcNbrs = e.filter(col("src") === user).select(col("dst").as("w"))
    val srcDeg = deg.filter(col("w") === user)
      .select(col("deg").as("deg_src"))
    e.select(col("src").as("w"), col("dst").as("cand"))
      .join(broadcast(srcNbrs), Seq("w"))
      .filter(col("cand") =!= user)
      .join(srcNbrs.select(col("w").as("cand")), Seq("cand"), "left_anti")
      .join(deg, Seq("w"))
      .groupBy(col("cand"))
      .agg(count(lit(1)).as("n_common"),
        sum(lit(1.0) / col("deg").cast("double")).as("ra"))
      .join(deg.select(col("w").as("cand"), col("deg").as("deg_cand")), Seq("cand"))
      .join(broadcast(srcDeg))
      .select(col("cand").as("user_id"), col("n_common"),
        round(col("ra"), 6).as("ra_score"),
        (col("deg_src") * col("deg_cand")).as("pa_score"),
        (col("deg_src") + col("deg_cand") - col("n_common")).as("tn_score"))
      .orderBy(col("ra_score").desc, col("user_id"))
      .limit(k)
  }

  /** k-core of an undirected graph (edges in both directions): the
    * maximal subgraph where every node has degree ≥ k, via iterative
    * peeling to a fixpoint. Each round is one degree aggregate + two
    * semi-joins keyed on node id; rounds are bounded by the peeling
    * depth (≤ longest degeneracy chain), each strictly shrinks the edge
    * set, and lineage is cut per round. Returns (node_id, core_degree)
    * for surviving nodes. */
  def kcore(edges: DataFrame, k: Int, assumeDistinct: Boolean = false): DataFrame = {
    // multigraph guard (the louvain hazard class): parallel (src, dst)
    // rows would count as extra degree; skip the exchange only when the
    // caller guarantees distinct edges by construction
    val input = edges.select(col("src"), col("dst"))
    var e = (if (assumeDistinct) input else input.distinct()).localCheckpoint()
    var n = e.count()
    var converged = n == 0L
    // peeling terminates unaided: every non-converged round strictly
    // shrinks the edge set, so rounds ≤ peeling depth ≤ |V| — no
    // iteration cap that could silently return a non-k-core
    while (!converged) {
      val alive = iterState(e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src")), n, 16L)
      val pruned = e.join(alive, Seq("src"))
        .join(alive.select(col("src").as("dst")), Seq("dst"))
        .select(col("src"), col("dst"))
        .localCheckpoint()
      val m = pruned.count()
      converged = m == n
      n = m
      e = pruned
    }
    e.groupBy(col("src").as("node_id")).agg(count(lit(1)).as("core_degree"))
  }

  /** k-core membership of the user co-occurrence graph, session-cached
    * (two `queries` entries — members + invariants — consume it). */
  def userKcore(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    graft.Cache.cached(spark, dir, s"kcore_$k") {
      kcore(RatingsGraph.cooccurrenceEdges(spark, dir)
        .select(col("u1").as("src"), col("u2").as("dst")), k,
        assumeDistinct = true) // one row per user pair by construction
    }

  /** FULL k-core decomposition: core_value = each node's core NUMBER
    * (the max k such that the node survives k-peeling) — the answer
    * shape of GDS `gds.kCoreDecomposition`, which the fixed-k `kcore`
    * above deliberately does not give. Computed by h-index iteration
    * (Montresor/De Pellegrini/Miorandi, "Distributed k-core
    * decomposition"; Lü et al. 2016 prove convergence): every node
    * starts at its degree and repeatedly takes the h-index of its
    * neighbours' estimates — the largest h with ≥ h neighbours at
    * estimate ≥ h. Estimates are integer, monotone non-increasing, and
    * bounded below by the core number, so sum(est) strictly decreases
    * until the fixpoint; convergence is checked on that one scalar.
    *
    * Scale shape: the edge set never changes (no peeling), so it is
    * hash-partitioned by src ONCE; each round is one join against the
    * |V|-row estimate frame (broadcast-able at any realistic node
    * count ≪ |E|, AQE decides) + one degree-bounded window rank — the
    * h-index of a neighbour list is max(min(est_i, i)) over the list
    * sorted descending, a row_number window, NOT a collect_list (a
    * hub's array never materialises). Rounds are bounded by the
    * graph's coreness spread in practice (single digits on the cooc
    * graph; worst case the longest est-propagation chain). Expects an
    * undirected graph given as both directions, one row per (src,dst). */
  def coreDecomposition(edges: DataFrame): DataFrame = {
    // r12 size-adaptive driver leg (the connectedComponentsAdaptive /
    // UnionFind precedent — "the check is not the operator"): under the
    // threshold the whole edge set is pulled once and peeled with
    // Batagelj–Zaveršnik bucket sort in O(|E|) — the 42-round h-index
    // dataflow at sf0.1 cost ~31 s of almost pure per-round fixed
    // overhead for a graph that peels locally in milliseconds. Core
    // numbers are unique, so the two legs agree row-for-row (the
    // h-index fixpoint IS the core number, Lü et al. 2016); the
    // distributed loop below stays the 100 TB path.
    val spark = edges.sparkSession
    val eRaw = edges.select(col("src"), col("dst"))
    val input = gatedInput(eRaw, driverGate(spark, DriverGateDefault))
    // None on a contract violation (a dst never seen as src): the
    // distributed loop defines the semantics for such inputs
    input.toOption.flatMap(rows => coreNumbersLocal(longPairs(rows))) match {
      case Some(core) =>
        import spark.implicits._
        return core.toSeq.toDF("node_id", "core_value")
      case None =>
    }
    val e = input.left.getOrElse(eRaw)
      .repartition(col("src")).localCheckpoint()
    var est = e.groupBy(col("src").as("node_id"))
      .agg(count(lit(1)).cast("long").as("est")).localCheckpoint()
    val nV = est.count()
    val w = Window.partitionBy(col("src")).orderBy(col("est").desc)
    // r12 delta-activation (guide §2.3/§2.4 — don't recompute what
    // cannot have moved): estimates are monotone non-increasing, so a
    // node's h-index can only change when a NEIGHBOUR's estimate fell
    // in the previous round. Each round recomputes only the nodes with
    // ≥ 1 changed neighbour; everyone else keeps their row untouched.
    // The fixpoint is identical to the full-recompute loop (same
    // per-node h-index inputs whenever a node IS recomputed), the
    // convergence test "no estimate changed" is the old sum-strictly-
    // decreased test, and the first round recomputes every node — so
    // results are bit-identical, only wasted rounds 2+ work is cut
    // (measured 42 rounds at sf0.1, most touching a sliver of |V|).
    // All delta frames are ≤ |V| rows and ride the iterState broadcast
    // gate; above it the joins keep their exchange shape.
    var changed = est.select(col("node_id"))
    var nChanged = nV
    var first = true
    while (nChanged > 0) {
      val scope =
        if (first) e
        else {
          // nodes whose h-index inputs moved: neighbours of the changed
          val affected = e
            .join(iterState(changed.withColumnRenamed("node_id", "dst"),
              nChanged, 16L), Seq("dst"), "left_semi")
            .select(col("src")).distinct()
          e.join(iterState(affected, nV, 16L), Seq("src"), "left_semi")
        }
      val recomputed = scope
        .join(iterState(est.withColumnRenamed("node_id", "dst"), nV, 24L),
          Seq("dst"))
        .withColumn("rk", row_number().over(w))
        .select(col("src"), least(col("est"), col("rk")).as("cap"))
        .groupBy(col("src").as("node_id"))
        .agg(max(col("cap")).as("est"))
      val delta = recomputed
        .join(iterState(est.withColumnRenamed("est", "old"), nV, 24L),
          Seq("node_id"))
        .filter(col("est") < col("old"))
        .select(col("node_id"), col("est"))
        .localCheckpoint()
      nChanged = delta.count()
      first = false
      if (nChanged > 0) {
        est = est
          .join(iterState(delta.select(col("node_id")), nChanged, 16L),
            Seq("node_id"), "left_anti")
          .unionAll(delta)
          .localCheckpoint()
        changed = delta.select(col("node_id"))
      }
    }
    est.select(col("node_id"), col("est").as("core_value"))
  }

  /** Batagelj–Zaveršnik bucket-sort core decomposition on the driver —
    * the small-side leg of [[coreDecomposition]]. Input: both-directions
    * edge rows (the kernel's documented contract — every node appears
    * as a src). Returns None when the contract is violated (some dst is
    * never a src), letting the caller fall back to the distributed
    * loop rather than guessing semantics. O(|V| + |E|) time and memory. */
  private def coreNumbersLocal(edges: Array[(Long, Long)]): Option[Array[(Long, Long)]] = {
    val n0 = edges.length
    val idx = new java.util.HashMap[Long, Integer](n0 / 2 + 16)
    var n = 0
    var i = 0
    while (i < n0) {
      if (idx.get(edges(i)._1) == null) { idx.put(edges(i)._1, n); n += 1 }
      i += 1
    }
    val ids = new Array[Long](n)
    idx.forEach((k, v) => ids(v.intValue) = k)
    val deg = new Array[Int](n)
    i = 0
    while (i < n0) {
      val ib = idx.get(edges(i)._2)
      if (ib == null) return None // dst never a src: contract violated
      deg(idx.get(edges(i)._1).intValue) += 1
      i += 1
    }
    val start = new Array[Int](n + 1)
    i = 0
    while (i < n) { start(i + 1) = start(i) + deg(i); i += 1 }
    val adjn = new Array[Int](n0)
    val fill = java.util.Arrays.copyOf(start, n)
    i = 0
    while (i < n0) {
      val ia = idx.get(edges(i)._1).intValue
      adjn(fill(ia)) = idx.get(edges(i)._2).intValue
      fill(ia) += 1
      i += 1
    }
    // bucket sort nodes by degree, then peel in degree order
    val md = if (n == 0) 0 else deg.max
    val bin = new Array[Int](md + 2)
    i = 0; while (i < n) { bin(deg(i)) += 1; i += 1 }
    var s = 0
    i = 0; while (i <= md) { val c = bin(i); bin(i) = s; s += c; i += 1 }
    val vert = new Array[Int](n)
    val pos = new Array[Int](n)
    i = 0
    while (i < n) { pos(i) = bin(deg(i)); vert(pos(i)) = i; bin(deg(i)) += 1; i += 1 }
    i = md; while (i >= 1) { bin(i) = bin(i - 1); i -= 1 }
    bin(0) = 0
    val cur = deg.clone()
    i = 0
    while (i < n) {
      val v = vert(i)
      var j = start(v)
      while (j < start(v + 1)) {
        val u = adjn(j)
        if (cur(u) > cur(v)) {
          val du = cur(u); val pu = pos(u); val pw = bin(du); val w = vert(pw)
          if (u != w) { vert(pu) = w; pos(w) = pu; vert(pw) = u; pos(u) = pw }
          bin(du) += 1
          cur(u) -= 1
        }
        j += 1
      }
      i += 1
    }
    Some(Array.tabulate(n)(v => (ids(v), cur(v).toLong)))
  }

  /** Core numbers of the user co-occurrence graph, session-cached
    * (the `kcore_decomposition` entry + the gds.kCoreDecomposition
    * front door consume it). */
  def userCoreNumbers(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "core_numbers") {
      coreDecomposition(RatingsGraph.cooccurrenceEdges(spark, dir)
        .select(col("u1").as("src"), col("u2").as("dst")))
    }

  /** Bounded BFS: hop distance from a source node to every node within
    * `maxHops` (the generalisation of the reference's 2-hop
    * `get_graph_data` expansion). One join + min-aggregate per hop. */
  def bfsHops(edges: DataFrame, source: Long, maxHops: Int = 3): DataFrame = {
    val bidir = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    var dist = bidir.sparkSession.range(1)
      .select(lit(source).as("node_id"), lit(0L).as("hops"))
    var nDist = 1L
    for (h <- 1 to maxHops) {
      val frontier = dist.filter(col("hops") === (h - 1))
      val next = bidir
        .join(iterState(frontier.select(col("node_id").as("src")), nDist, 16L),
          Seq("src"))
        .select(col("dst").as("node_id"), lit(h.toLong).as("hops"))
      dist = dist.unionAll(next)
        .groupBy(col("node_id")).agg(min(col("hops")).as("hops"))
        .localCheckpoint()
      if (h < maxHops) nDist = dist.count()
    }
    dist
  }

  /** Harmonic centrality from a FIXED source sample (the scalable
    * stand-in for exact closeness — full APSP is O(V·E) and never runs
    * at 100 TB): h(v) = Σ_{s∈S, d(s,v)>0} 1/d(s,v) over bounded-hop
    * BFS distances. One multi-source frontier loop keyed
    * (source, node) — all |S| BFS waves share each join/aggregate, so
    * the loop costs the same shuffles as a single-source BFS. Nodes
    * unreached within `maxHops` from any source are absent (their
    * contribution is 0). GDS closeness/harmonic family. */
  def harmonicCentrality(edges: DataFrame, sources: Seq[Long], maxHops: Int = 3,
      symmetric: Boolean = false): DataFrame =
    harmonicFrom(multiSourceDistances(edges, sources, maxHops, symmetric))

  private def harmonicFrom(dist: DataFrame): DataFrame =
    dist
      .filter(col("hops") > 0)
      .groupBy(col("node_id"))
      .agg(round(sum(lit(1.0) / col("hops")), 6).as("harmonic"))
      .orderBy(col("node_id"))

  /** Closeness centrality OF a fixed source sample within a bounded
    * horizon (GDS closeness family — the per-node twin of
    * [[harmonicCentrality]]'s per-receiver view): closeness(s) =
    * reached(s) / Σ_v d(s,v) over nodes within `maxHops` of s. Exact
    * closeness is full APSP and never runs at 100 TB; a source sample
    * with a bounded horizon is the standard estimator, and all |S|
    * waves share each frontier join. */
  def closenessSample(edges: DataFrame, sources: Seq[Long], maxHops: Int = 3,
      symmetric: Boolean = false): DataFrame =
    closenessFrom(multiSourceDistances(edges, sources, maxHops, symmetric))

  private def closenessFrom(dist: DataFrame): DataFrame =
    dist
      .filter(col("hops") > 0)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_reached"),
        sum(col("hops")).as("sum_dist"))
      .select(col("source"), col("n_reached"), col("sum_dist"),
        round(col("n_reached").cast("double") / col("sum_dist"), 6).as("closeness"))
      .orderBy(col("source"))

  /** Bounded multi-source BFS distances over the co-occurrence graph
    * from the standard source sample — session-cached: harmonic and
    * closeness are two aggregates over the SAME frontier loop. */
  private[graft] def userCoocDistances(spark: SparkSession, dir: String,
      sources: Seq[Long] = Seq(1L, 2L, 3L, 4L), maxHops: Int = 3): DataFrame =
    graft.Cache.cached(spark, dir, s"msbfs_${sources.mkString("_")}_h$maxHops") {
      multiSourceDistances(RatingsGraph.cooccurrenceEdges(spark, dir)
        .select(col("u1").as("src"), col("u2").as("dst")),
        sources, maxHops, symmetric = true)
    }

  /** Harmonic centrality over the cached distance frame. */
  def userHarmonicCentrality(spark: SparkSession, dir: String): DataFrame =
    harmonicFrom(userCoocDistances(spark, dir))

  /** Closeness of the source sample over the cached distance frame. */
  def userClosenessSample(spark: SparkSession, dir: String): DataFrame =
    closenessFrom(userCoocDistances(spark, dir))

  /** Bipartite-graph connected components, session-cached (the labels
    * entry and the size histogram consume the same closure). */
  def userBipartiteCC(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "bipartite_cc") {
      connectedComponents(bipartiteEdges(spark, dir))
    }

  /** Bounded multi-source BFS: min hop distance keyed (source, node) —
    * the shared frontier loop of [[harmonicCentrality]] and
    * [[closenessSample]]; one join + one min-aggregate per hop, all
    * sources sharing them. */
  private def multiSourceDistances(edges: DataFrame, sources: Seq[Long],
      maxHops: Int, symmetric: Boolean): DataFrame = {
    require(sources.nonEmpty, "need >= 1 source")
    val spark = edges.sparkSession
    // symmetric = caller vouches both directions are present and deduped
    // (the co-occurrence projection is, by construction) — skips a full
    // union+distinct pass over the edge list
    val bidir =
      if (symmetric) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint()
    import spark.implicits._
    var dist = sources.map(s => (s, s, 0L)).toDF("source", "node_id", "hops")
    // r12: broadcast-pin the frontier side under the iterState gate so
    // the edge side is never re-sorted/re-shuffled per hop; the dist
    // frame is checkpointed each hop, so the gate count is cheap
    var nDist = sources.size.toLong
    for (h <- 1 to maxHops) {
      val frontier = dist.filter(col("hops") === (h - 1))
      val next = bidir
        .join(iterState(frontier.select(col("source"), col("node_id").as("src")),
          nDist, 24L), Seq("src"))
        .select(col("source"), col("dst").as("node_id"), lit(h.toLong).as("hops"))
      dist = dist.unionAll(next)
        .groupBy(col("source"), col("node_id")).agg(min(col("hops")).as("hops"))
        .localCheckpoint()
      if (h < maxHops) nDist = dist.count()
    }
    dist
  }

  /** Single-source WEIGHTED shortest paths by bounded Bellman-Ford
    * relaxation (k rounds of min-plus: d ← min(d, min over in-edges
    * d(src) + len)) — the weighted twin of [[bfsHops]]. A fixed round
    * count bounds both the work and the reachable horizon (paths of ≤ k
    * edges), and makes the loop exactly oracle-checkable by unrolling.
    * One join + one aggregate per round, shuffles keyed on node id.
    * `lengths` must provide (src, dst, len); nodes never relaxed are
    * absent. */
  def ssspWeighted(lengths: DataFrame, source: Long, rounds: Int = 5): DataFrame = {
    val spark = lengths.sparkSession
    import spark.implicits._
    val e = lengths.select(col("src"), col("dst"), col("len").cast("double"))
    var dist = Seq((source, 0.0)).toDF("node_id", "dist")
    var nDist = 1L
    for (r <- 1 to rounds) {
      dist = e
        .join(iterState(dist.withColumnRenamed("node_id", "src")
          .withColumnRenamed("dist", "d_src"), nDist, 24L), Seq("src"))
        .select(col("dst").as("node_id"), (col("d_src") + col("len")).as("dist"))
        .unionAll(dist)
        .groupBy(col("node_id"))
        .agg(min(col("dist")).as("dist"))
        .localCheckpoint()
      if (r < rounds) nDist = dist.count()
    }
    dist
  }

  /** Weighted shortest path source→target WITH the node sequence (the
    * `gds.shortestPath.dijkstra` result shape; `sssp_nearest` returns
    * only distances). Bounded-hop min-plus rounds (Bellman-Ford — the
    * dataflow form of Dijkstra; a priority queue is inherently
    * sequential) carrying `(dist, parent)` as a lexicographic
    * struct-MIN, so the predecessor tie-break is deterministic (min
    * dist, then min parent id) and the reconstructed path is UNIQUE —
    * the whole output hash-compares against the unrolled oracle.
    * Backtrack is ≤ rounds+1 single-row lookups against the persisted
    * distance frame — never a frontier collect; positive lengths make
    * the parent chain strictly dist-decreasing, so it terminates at the
    * source. Unreachable target → empty frame (and the persisted state
    * is released on every exit path). */
  def dijkstraPath(lengths: DataFrame, source: Long, target: Long,
      rounds: Int = 6): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = lengths.sparkSession
    import spark.implicits._
    val e = lengths.select(col("src"), col("dst"), col("len").cast("double"))
    var dist = Seq((source, 0.0, -1L)).toDF("node_id", "dist", "parent")
    var nDist = 1L
    for (r <- 1 to rounds) {
      val cand = e
        .join(iterState(dist.select(col("node_id").as("src"),
          col("dist").as("d_src")), nDist, 24L), Seq("src"))
        .select(col("dst").as("node_id"),
          (col("d_src") + col("len")).as("dist"), col("src").as("parent"))
        .unionByName(dist)
      dist = cand.groupBy(col("node_id"))
        .agg(min(struct(col("dist"), col("parent"))).as("s"))
        .select(col("node_id"), col("s.dist").as("dist"), col("s.parent").as("parent"))
        .localCheckpoint()
      if (r < rounds) nDist = dist.count()
    }
    val d = dist.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val chain = scala.collection.mutable.ListBuffer.empty[(Long, Double)]
      var cur = target
      var done = false
      var broken = false
      var hops = 0
      while (!done && !broken && hops <= rounds + 1) {
        val r = d.filter(col("node_id") === lit(cur)).head(1)
        if (r.isEmpty) broken = true
        else {
          chain.prepend((cur, r(0).getDouble(1)))
          val p = r(0).getLong(2)
          if (p == -1L) done = true else { cur = p; hops += 1 }
        }
      }
      val rows =
        if (done) chain.toSeq.zipWithIndex.map { case ((n, dd), i) => (i, n, dd) }
        else Seq.empty[(Int, Long, Double)]
      rows.toDF("step", "node_id", "dist")
        .select(col("step"), col("node_id"), round(col("dist"), 6).as("dist"))
        .orderBy(col("step"))
    } finally d.unpersist()
  }

  /** Yen's K shortest LOOPLESS paths (GDS `gds.shortestPath.yens` —
    * the last member of the GDS path family): A[0] is the bounded-
    * relaxation shortest path with [[dijkstraPath]]'s exact (dist,
    * parent) struct-min semantics; each next path comes from the spur
    * construction (ban every previous path's continuation edge at each
    * shared root prefix, ban the root's interior nodes, re-search from
    * the spur node), candidates ranked by (cost, path) — a TOTAL order,
    * so output is deterministic whatever order candidates appear in.
    *
    * Size-adaptive like [[k1Coloring]]/SCC: at or below the driver gate's
    * edges the whole search runs on collected adjacency — each spur
    * search is a `rounds`-step Bellman–Ford sweep with the identical
    * tie-break, so A[0] is row-for-row the dijkstraPath answer — and
    * Yen's Θ(k·|path|) spur searches cost driver sweeps instead of
    * k·|path| distributed job waves. Above the gate, each spur search
    * IS [[dijkstraPath]] over the ban-filtered edge frame (bans are
    * ≤ k·rounds literal predicates — pushed-down filters, not joins),
    * so the 100 TB leg reuses the audited distributed relaxation
    * unchanged. Both legs carry exact cumulative doubles (the same
    * `dist + len` sums under the same tie-break), so a spur's costs add
    * to its root's unrounded and the output rounds once.
    *
    * Output: (path_rank, step, node_id, path_cost) — path_cost is the
    * path's total, repeated on its rows, rounded once at 1e-6. Fewer
    * than k rank-groups when the graph has fewer loopless paths
    * within the hop budget. */
  def yensPaths(lengths: DataFrame, source: Long, target: Long, k: Int = 3,
      rounds: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = lengths.sparkSession
    import spark.implicits._
    val input = gatedInput(lengths.select(col("src"), col("dst"), col("len").cast("double")),
      driverGate(spark, DriverGateDefault))
    // every search carries an explicit HOP BUDGET: a spur at prefix
    // index j gets rounds − j, so every candidate's TOTAL hop count is
    // ≤ rounds — without this a spur path could use rootLen + rounds
    // hops, surface a cheaper route the A[0] search could not see, and
    // break the nondecreasing-cost invariant
    val bfBatch: Seq[SpurSpec] => Map[Int, (Seq[Long], Seq[Double])] = input match {
      case Right(rows) =>
        // CSR adjacency over int indices — the boxed-map form measured
        // ~4× slower across Yen's ~k·|path| full-graph sweeps
        val idOf = new scala.collection.mutable.LongMap[Int]()
        val ids = scala.collection.mutable.ArrayBuffer[Long]()
        def idx(v: Long): Int = idOf.getOrElseUpdate(v, { ids += v; ids.length - 1 })
        rows.foreach { r => idx(r.getLong(0)); idx(r.getLong(1)) }
        val n = ids.length
        val deg = new Array[Int](n)
        rows.foreach(r => deg(idOf(r.getLong(0))) += 1)
        val off = new Array[Int](n + 1)
        for (i <- 0 until n) off(i + 1) = off(i) + deg(i)
        val fill = off.clone()
        val nbr = new Array[Int](rows.length)
        val lenA = new Array[Double](rows.length)
        rows.foreach { r =>
          val u = idOf(r.getLong(0)); val p = fill(u); fill(u) = p + 1
          nbr(p) = idOf(r.getLong(1)); lenA(p) = r.getDouble(2)
        }
        // rounds-bounded SYNCHRONOUS Bellman–Ford with dijkstraPath's
        // exact (dist, parent-id) min tie-break; cum dists = node dists
        // along the parent chain (exact doubles, no rounding)
        val single = (from: Long, bannedNodes: Set[Long], bannedEdges: Set[(Long, Long)],
            budget: Int) => {
          if (!idOf.contains(from)) None
          else {
            val bNode = new Array[Boolean](n)
            bannedNodes.foreach(v => idOf.get(v).foreach(bNode(_) = true))
            val bEdge = bannedEdges.flatMap { case (u, v) =>
              for (ui <- idOf.get(u); vi <- idOf.get(v))
                yield ui.toLong << 32 | vi.toLong }
            var dist = Array.fill(n)(Double.PositiveInfinity)
            var par = Array.fill(n)(-2L)
            dist(idOf(from)) = 0.0; par(idOf(from)) = -1L
            for (_ <- 1 to budget) {
              val nd = dist.clone(); val np = par.clone()
              var u = 0
              while (u < n) {
                val du = dist(u)
                if (du != Double.PositiveInfinity) {
                  var p = off(u)
                  val end = off(u + 1)
                  while (p < end) {
                    val v = nbr(p)
                    if (!bNode(v) &&
                        (bEdge.isEmpty || !bEdge.contains(u.toLong << 32 | v.toLong))) {
                      val cd = du + lenA(p)
                      val pid = ids(u)
                      if (cd < nd(v) || (cd == nd(v) && pid < np(v)))
                        { nd(v) = cd; np(v) = pid }
                    }
                    p += 1
                  }
                }
                u += 1
              }
              dist = nd; par = np
            }
            idOf.get(target).filter(dist(_) != Double.PositiveInfinity).flatMap { _ =>
              // backtrack bounded at budget hops, mirroring dijkstraPath's
              // `hops <= rounds + 1` guard: zero-length edges can form
              // equal-dist parent cycles under the tie-break, and an
              // unbounded walk would spin the driver forever
              val chain = scala.collection.mutable.ListBuffer(target)
              var cur = target
              var hops = 0
              while (hops <= budget && par(idOf(cur)) != -1L) {
                cur = par(idOf(cur)); chain.prepend(cur); hops += 1
              }
              if (par(idOf(cur)) != -1L) None // cycle: no finite chain in budget
              else Some((chain.toSeq, chain.toSeq.map(v => dist(idOf(v)))))
            }
          }
        }
        (specs: Seq[SpurSpec]) => specs.flatMap(s =>
          single(s.from, s.bannedNodes, s.bannedEdges, s.budget).map(s.sid -> _)).toMap
      case Left(e) =>
        // distributed leg: ONE sid-tagged multi-source relaxation per
        // Yen's round instead of ~|path| sequential dijkstraPath
        // dataflows (the r6 4× probe's 2.81× came from exactly that
        // serialization). All spur searches share the edge scan; per-sid
        // bans are tiny driver-known sets applied as broadcast
        // anti-joins on the CONTRIBUTION rows (equivalent to the old
        // per-spur edge prefilter: bans only ever name dst / (src,dst),
        // and a banned node can never become a relax source because it
        // can never be relaxed into). Per-sid budgets freeze a sid's
        // contributions after its budget round; carried rows ride the
        // unionByName. Backtrack is batched too: one broadcast join of
        // the (sid, node) cursor frame per hop — ≤ budget+1 tiny jobs
        // for ALL spurs, never a per-spur head() loop.
        (specs: Seq[SpurSpec]) => {
          if (specs.isEmpty) Map.empty
          else {
            val banN = specs.flatMap(s => s.bannedNodes.map(v => (s.sid, v)))
            val banE = specs.flatMap(s => s.bannedEdges.map(p => (s.sid, p._1, p._2)))
            val banNDf = banN.toDF("bsid", "b_node")
            val banEDf = banE.toDF("bsid", "b_src", "b_dst")
            val maxBud = specs.map(_.budget).max
            var dist = specs.map(s => (s.sid, s.from, 0.0, -1L))
              .toDF("sid", "node_id", "dist", "parent")
            for (r <- 1 to maxBud) {
              val live = specs.filter(_.budget >= r).map(_.sid)
              var contrib = e
                .join(dist.filter(col("sid").isin(live: _*))
                  .select(col("sid"), col("node_id").as("src"), col("dist").as("d_src")),
                  Seq("src"))
                .select(col("sid"), col("dst").as("node_id"),
                  (col("d_src") + col("len")).as("dist"), col("src").as("parent"))
              if (banN.nonEmpty) contrib = contrib.join(broadcast(banNDf),
                col("sid") === col("bsid") && col("node_id") === col("b_node"),
                "left_anti")
              if (banE.nonEmpty) contrib = contrib.join(broadcast(banEDf),
                col("sid") === col("bsid") && col("parent") === col("b_src") &&
                  col("node_id") === col("b_dst"),
                "left_anti")
              dist = contrib.unionByName(dist)
                .groupBy(col("sid"), col("node_id"))
                .agg(min(struct(col("dist"), col("parent"))).as("s"))
                .select(col("sid"), col("node_id"),
                  col("s.dist").as("dist"), col("s.parent").as("parent"))
                .localCheckpoint()
            }
            val chains = scala.collection.mutable.Map[Int,
              scala.collection.mutable.ListBuffer[(Long, Double)]]()
            val doneS = scala.collection.mutable.Set[Int]()
            var cursor: Seq[(Int, Long)] = specs.map(s => (s.sid, target))
            var hop = 0
            while (cursor.nonEmpty && hop <= maxBud + 1) {
              val curDf = cursor.toDF("sid", "node_id")
              val found = dist.join(broadcast(curDf), Seq("sid", "node_id")).collect()
                .map(r => r.getInt(0) -> (r.getDouble(2), r.getLong(3))).toMap
              val next = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
              cursor.foreach { case (sid, node) =>
                found.get(sid) match {
                  case None => chains.remove(sid): Unit // unreachable / broken
                  case Some((dd, par)) =>
                    chains.getOrElseUpdate(sid,
                      scala.collection.mutable.ListBuffer[(Long, Double)]())
                      .prepend((node, dd))
                    if (par == -1L) doneS += sid else next += ((sid, par))
                }
              }
              cursor = next.toSeq
              hop += 1
            }
            // cursors alive past the hop bound = parent cycle: no path
            cursor.foreach { case (sid, _) => chains.remove(sid): Unit }
            specs.flatMap { s =>
              if (doneS(s.sid)) chains.get(s.sid).map { ch =>
                s.sid -> ((ch.toSeq.map(_._1), ch.toSeq.map(_._2)))
              } else None
            }.toMap
          }
        }
    }
    val paths = yensLoop(source, k, rounds, bfBatch)
    // step_cost = the cumulative cost AT each step (GDS's per-step
    // `costs` array, exploded), rounded once here: rounding a spur's
    // cums before they add to the root's can move the 6th decimal
    paths.zipWithIndex.flatMap { case ((p, cum), rank) =>
      p.zipWithIndex.map { case (node, step) =>
        (rank.toLong, step.toLong, node, cum(step), cum.last)
      }
    }.toDF("path_rank", "step", "node_id", "step_cost", "path_cost")
      .select(col("path_rank"), col("step"), col("node_id"),
        round(col("path_cost"), 6).as("path_cost"),
        round(col("step_cost"), 6).as("step_cost"))
      .orderBy(col("path_rank"), col("step"))
  }

  /** One spur search request: spur index (also the result key), start
    * node, dst-node bans, edge bans, hop budget. */
  private[graph] final case class SpurSpec(sid: Int, from: Long,
    bannedNodes: Set[Long], bannedEdges: Set[(Long, Long)], budget: Int)

  /** The spur-construction loop shared by both [[yensPaths]] legs;
    * `bfBatch(specs)` answers ALL of one round's banned searches at
    * once with sid → (path, cumulative dists) — the driver leg maps
    * its in-memory sweep over the specs, the distributed leg fuses
    * them into ONE sid-tagged relaxation dataflow instead of ~|path|
    * sequential jobs per round. */
  private def yensLoop(source: Long, k: Int, rounds: Int,
      bfBatch: Seq[SpurSpec] => Map[Int, (Seq[Long], Seq[Double])])
      : Seq[(Seq[Long], Seq[Double])] = {
    implicit val seqLongOrd: Ordering[Seq[Long]] = Ordering.Implicits.seqOrdering
    val candOrd = Ordering.Tuple2(Ordering.Double.TotalOrdering, seqLongOrd)
    val a = scala.collection.mutable.ArrayBuffer[(Seq[Long], Seq[Double])]()
    val b = scala.collection.mutable.SortedMap[(Double, Seq[Long]), Seq[Double]]()(candOrd)
    bfBatch(Seq(SpurSpec(0, source, Set.empty, Set.empty, rounds)))
      .get(0).foreach(a += _)
    var exhausted = false
    while (!exhausted && a.nonEmpty && a.size < k) {
      val (prev, prevCum) = a.last
      val specs = (0 until prev.length - 1).map { j =>
        val rootPath = prev.take(j + 1)
        val bannedEdges = a.collect {
          case (p, _) if p.length > j + 1 && p.take(j + 1) == rootPath =>
            (p(j), p(j + 1))
        }.toSet
        SpurSpec(j, prev(j), rootPath.dropRight(1).toSet, bannedEdges, rounds - j)
      }
      val found = bfBatch(specs)
      for (j <- 0 until prev.length - 1) {
        val rootPath = prev.take(j + 1)
        val rootCum = prevCum.take(j + 1)
        found.get(j).foreach { case (sp, spCum) =>
          val full = rootPath.dropRight(1) ++ sp
          val fullCum = rootCum.dropRight(1) ++ spCum.map(_ + rootCum.last)
          if (full.distinct.length == full.length && !a.exists(_._1 == full))
            b((fullCum.last, full)) = fullCum
        }
      }
      if (b.isEmpty) exhausted = true
      else {
        val (key, cum) = b.head
        b.remove(key)
        a += ((key._2, cum))
      }
    }
    a.toSeq
  }

  /** Betweenness centrality from a FIXED source sample (k-source
    * Brandes — the standard scalable estimator; exact Brandes is
    * O(V·E) and never runs at 100 TB). Unweighted, bounded depth.
    * Forward phase: multi-source BFS keyed (source, node) carrying σ =
    * #shortest paths (σ(v) = Σ σ(pred) summed level by level — one
    * join + one aggregate per level, all |S| waves sharing them).
    * Backward phase: dependency accumulation δ(v) = Σ_{succ w}
    * σ(v)/σ(w)·(1+δ(w)) walked from the deepest level up. Betweenness
    * = Σ_sources δ, halved (undirected double-count). Emits only
    * nodes with positive score, rounded to 6. */
  def betweennessSample(edges: DataFrame, sources: Seq[Long],
      maxHops: Int = 4, symmetric: Boolean = false): DataFrame = {
    require(sources.nonEmpty, "betweenness needs >= 1 source")
    val spark = edges.sparkSession
    import spark.implicits._
    val bidir =
      if (symmetric) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint()
    // forward: levels(source, node_id, dist, sigma), one frame per level
    var levels = Vector(
      sources.map(s => (s, s, 1L)).toDF("source", "node_id", "sigma")
        .localCheckpoint())
    var seen = levels.head.select(col("source"), col("node_id"))
    // r12: per-wave frames are (source, node)-keyed — ≤ |S|·|V| rows —
    // and checkpointed, so the gate counts are cheap; pinning them
    // keeps the edge side un-sorted/un-shuffled in both phases
    var nPrev = sources.size.toLong
    var nSeen = nPrev
    var levelCounts = Vector(nPrev)
    for (h <- 1 to maxHops) {
      val prev = levels.last
      val next = bidir
        .join(iterState(prev.select(col("source"), col("node_id").as("src"),
          col("sigma")), nPrev, 32L), Seq("src"))
        .select(col("source"), col("dst").as("node_id"), col("sigma"))
        .join(iterState(seen, nSeen, 24L), Seq("source", "node_id"), "left_anti")
        .groupBy(col("source"), col("node_id"))
        .agg(sum(col("sigma")).as("sigma"))
        .localCheckpoint()
      levels = levels :+ next
      seen = seen.unionAll(next.select(col("source"), col("node_id"))).localCheckpoint()
      nPrev = next.count()
      nSeen = nSeen + nPrev
      levelCounts = levelCounts :+ nPrev
    }
    // backward: δ accumulates from the deepest level toward the sources.
    // A node v at level h is a BFS predecessor of w at level h+1 iff
    // (v, w) is an edge — the same join shape as the forward phase.
    // LEFT join + coalesce: a level-h node with no deeper successors is
    // absent from the δ frame but still passes its (1 + 0) term up.
    var delta = levels.last.select(col("source"), col("node_id"), lit(0.0).as("delta"))
    var acc = Seq.empty[(Long, Long, Double)].toDF("source", "node_id", "dep")
    for (h <- (1 to maxHops).reverse) {
      val w = levels(h).join(delta, Seq("source", "node_id"), "left")
        .select(col("source"), col("node_id").as("dst"),
          col("sigma").as("sigma_w"), coalesce(col("delta"), lit(0.0)).as("delta_w"))
      val contrib = bidir
        .join(iterState(w, levelCounts(h), 40L), Seq("dst"))
        .select(col("source"), col("src").as("node_id"),
          col("sigma_w"), col("delta_w"))
        .join(iterState(levels(h - 1).select(col("source"), col("node_id"),
          col("sigma")), levelCounts(h - 1), 32L), Seq("source", "node_id"))
        .groupBy(col("source"), col("node_id"))
        .agg(sum(col("sigma").cast("double") / col("sigma_w") *
          (lit(1.0) + col("delta_w"))).as("delta"))
        .localCheckpoint()
      // non-source nodes of this level contribute their δ to the total
      acc = acc.unionAll(contrib
        .filter(col("node_id") =!= col("source"))
        .select(col("source"), col("node_id"), col("delta").as("dep")))
      delta = contrib
    }
    acc.groupBy(col("node_id"))
      .agg(round(sum(col("dep")) / 2.0, 6).as("betweenness"))
      .filter(col("betweenness") > 0)
      .orderBy(col("betweenness").desc, col("node_id"))
  }

  /** Deterministic random-walk sampling — the corpus generator of the
    * DeepWalk/node2vec embedding family (GDS randomWalk): from each
    * source, `walksPerSource` walks of `steps` steps. The "random" draw
    * at step t of walk w is the neighbour minimizing md5("w:t:nbr") — a
    * seeded hash draw, bit-reproducible across runs and engines (no RNG
    * state), so the whole sampler is exactly oracle-checkable by
    * unrolling steps as chained CTEs with arg_min. Scale shape: one
    * frontier join + one per-walk argmin aggregate per step, all walks
    * sharing them; state is O(walks), never O(V). A walk whose current
    * node has no out-neighbour simply stops (absent from later steps). */
  def randomWalks(edges: DataFrame, sources: Seq[Long], steps: Int = 4,
      walksPerSource: Int = 2, symmetric: Boolean = false): DataFrame = {
    require(sources.nonEmpty && walksPerSource >= 1, "need sources and >= 1 walk each")
    val spark = edges.sparkSession
    import spark.implicits._
    val bidir =
      if (symmetric) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint()
    val seeds = (for { s <- sources; w <- 0 until walksPerSource }
      yield (s * walksPerSource + w, s)).toDF("walk_id", "node_id")
      .withColumn("step", lit(0L))
      .select(col("walk_id"), col("step"), col("node_id"))
    var walk = seeds
    var frontier = seeds
    val nWalks = sources.size.toLong * walksPerSource
    for (t <- 1 to steps) {
      val score = md5(concat_ws(":", col("walk_id"), lit(t), col("dst")))
      val next = bidir
        .join(iterState(frontier.select(col("walk_id"), col("node_id").as("src")),
          nWalks, 24L), Seq("src"))
        .groupBy(col("walk_id"))
        .agg(min_by(col("dst"), score).as("node_id"))
        .withColumn("step", lit(t.toLong))
        .select(col("walk_id"), col("step"), col("node_id"))
        .localCheckpoint()
      walk = walk.unionAll(next)
      frontier = next
    }
    walk.orderBy(col("walk_id"), col("step"))
  }

  /** Random-walk-with-restart graph sampling (`gds.graph.sample.rwr` —
    * the subgraph sampler GDS uses to cut representative slices of
    * graphs too big to project whole): `walkers` simultaneous walkers
    * start at `source`; at step t, walker w restarts to the source iff
    * the md5 fraction of "w:t:restart" falls below `restartProb`
    * (GDS default 0.1; 0.15 here matches the PPR teleport used
    * elsewhere in the suite), otherwise it moves to the neighbour
    * minimising md5("w:t:nbr") — the [[randomWalks]] hash-draw idiom, so
    * the whole sampler unrolls into an exact chained-CTE oracle. A
    * walker on a node with no out-neighbour restarts too. Output is the
    * sampled multiset: (node_id, n_visits) over all walker-steps
    * including step 0. State is O(walkers) per step — the sampler's
    * cost never scales with |V|, which is the point of RWR sampling. */
  def rwrSample(edges: DataFrame, source: Long, walkers: Int = 6, steps: Int = 6,
      restartProb: Double = 0.15, symmetric: Boolean = false): DataFrame = {
    require(walkers >= 1 && steps >= 1, "need >= 1 walker and >= 1 step")
    val spark = edges.sparkSession
    import spark.implicits._
    val bidir =
      if (symmetric) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst"))
        .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint()
    val seeds = (0L until walkers.toLong).map(w => (w, source))
      .toDF("walk_id", "node_id")
    var visited = seeds
    var frontier = seeds
    for (t <- 1 to steps) {
      val moveScore = md5(concat_ws(":", col("walk_id"), lit(t), col("dst")))
      val cand = bidir
        .join(iterState(frontier.select(col("walk_id"), col("node_id").as("src")),
          walkers.toLong, 24L), Seq("src"))
        .groupBy(col("walk_id"))
        .agg(min_by(col("dst"), moveScore).as("nxt"))
      val restartFrac = conv(substring(
          md5(concat_ws(":", col("walk_id"), lit(t), lit("restart"))), 1, 8), 16, 10)
        .cast("bigint").cast("double") / 4294967296.0
      val next = frontier.select(col("walk_id"))
        .join(cand, Seq("walk_id"), "left")
        .select(col("walk_id"),
          when(restartFrac < restartProb, lit(source))
            .otherwise(coalesce(col("nxt"), lit(source))).as("node_id"))
        .localCheckpoint()
      visited = visited.unionAll(next)
      frontier = next
    }
    visited.groupBy(col("node_id"))
      .agg(count(lit(1)).as("n_visits"))
      .orderBy(col("node_id"))
  }

  /** RWR sample of the co-occurrence graph from the default target
    * user. */
  def userRwrSample(spark: SparkSession, dir: String): DataFrame =
    rwrSample(RatingsGraph.cooccurrenceEdges(spark, dir)
      .select(col("u1").as("src"), col("u2").as("dst")),
      source = 1L, symmetric = true)

  /** k-truss decomposition by iterative support peeling (the
    * triangle-density community core, one rung up from [[kcore]]): keep
    * edges participating in ≥ k-2 triangles WITHIN the surviving
    * subgraph, to fixpoint. Each round rebuilds sorted adjacency arrays
    * and counts per-edge support via `array_intersect` — the same
    * in-partition intersection shape as [[triangleCount]] (SURVEY §6
    * rule 8: the wedge set never materialises or shuffles). Rounds are
    * data-dependent; `maxIter` only guards pathological chains (each
    * round must delete ≥1 edge or the loop has converged, so depth is
    * bounded by |E| but in practice a handful). Returns the surviving
    * canonical edges with their final support. */
  def ktruss(edges: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val canon = edges
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // the k-truss is contained in the (k-1)-core: a cheap degree peel
    // (no intersections) shrinks the graph before any triangle work
    val core = kcore(canon.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(canon.select(col("v").as("src"), col("u").as("dst"))),
      k - 1, assumeDistinct = true).select(col("node_id"))
    val cur = canon
      .join(core.withColumnRenamed("node_id", "u"), Seq("u"), "left_semi")
      .join(core.withColumnRenamed("node_id", "v"), Seq("v"), "left_semi")
      .localCheckpoint()
    ktrussLoop(supportedCanon(cur), k, maxIter)
  }

  /** Per-edge triangle support of a canonical (u,v) pair set from a
    * degree-ordered oriented edge list + its sorted adjacency (the
    * [[triangleCount]] machinery — intersections bounded by ~√(2m), the
    * wedge set never materialises): each triangle (x,y,z) explodes onto
    * its three canonical edges, one count aggregate gives support. */
  private[graft] def edgeSupportFrom(e: DataFrame, oriented: DataFrame,
      adj: DataFrame): DataFrame = {
    // r13: the previous shape exploded the triangle set, then UNIONED
    // THREE projections of it into the support count — and because the
    // explode's join subtree fed all three branches, the whole
    // oriented⋈adj⋈adj wedge enumeration ran three times (probe: 406
    // exec-core-s, 896 MB shuffled at sf0.1). The native TriPairCredits
    // kernel enumerates each triangle ONCE and emits its three
    // (min,max,c) credit rows inline — one wedge pass, one map-side-
    // combined aggregate; counts identical (the c=|X| row per oriented
    // edge folds the (x,y) credits that the explode emitted per z).
    val credits = oriented
      .join(adj.select(col("src"), col("nbrs").as("na")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nb")), Seq("dst"))
      .select(explode(graft.plans.GraphKernels.pairCreditsCol(
        oriented.sparkSession, col("src"), col("dst"),
        col("na"), col("nb"))).as("cr"))
    val sup = credits
      .select(col("cr.u").as("u"), col("cr.v").as("v"), col("cr.c").as("c"))
      .groupBy(col("u"), col("v"))
      .agg(sum(col("c")).as("support"))
    e.join(sup, Seq("u", "v"), "left")
      .select(col("u"), col("v"), coalesce(col("support"), lit(0L)).as("support"))
  }

  private def supportedCanon(e: DataFrame): DataFrame = {
    val und = e.select(col("u").as("a"), col("v").as("b"))
    val oriented = orientOf(und, undDegrees(und)).localCheckpoint()
    edgeSupportFrom(e, oriented, sortedAdj(oriented))
  }

  /** One peel round: remove every under-support edge, give the
    * survivors their support IN the shrunken graph. Two plans for the
    * SAME numbers (support in G\R = support in G minus triangles lost
    * to R — an identity, so the choice never changes results):
    *
    *  - small removal set → DELTA: enumerate only the dead triangles by
    *    joining the removed edges against the current graph (cost ∝
    *    |removed|·deg, no adjacency arrays), dedup'd on the sorted
    *    triple so a triangle losing 2–3 edges at once decrements once;
    *  - large removal set (early rounds of a deep cascade) → RECOMPUTE
    *    support on the survivor graph directly (one oriented triangle
    *    pass over the now-much-smaller graph) — dead-triangle
    *    enumeration would touch more triangles than survive.
    *
    * Returns (nRemoved, nextAlive). */
  private def peelRound(alive: DataFrame, k: Int, nAlive: Long): (Long, DataFrame) = {
    val removed = alive.filter(col("support") < k - 2)
      .select(col("u"), col("v")).localCheckpoint()
    val nRemoved = removed.count()
    val keep = alive.filter(col("support") >= k - 2)
    if (nRemoved == 0) return (0L, alive)
    if (nRemoved * 2 > nAlive) {
      val next = supportedCanon(keep.select(col("u"), col("v")).localCheckpoint())
        .localCheckpoint()
      return (nRemoved, next)
    }
    val curBidir = alive.select(col("u").as("s"), col("v").as("t"))
      .unionAll(alive.select(col("v").as("s"), col("u").as("t")))
    // r12: the removed set is small by this branch's own test
    // (2·nRemoved ≤ nAlive) — pin its broadcast so the alive-edge scan
    // is never sorted/shuffled for the dead-wedge join
    val deadTri = curBidir.select(col("s").as("u"), col("t").as("w"))
      .join(iterState(removed, nRemoved, 24L), Seq("u"))
      .join(curBidir.select(col("s").as("v"), col("t").as("w")), Seq("v", "w"),
        "left_semi")
      .select(array_sort(array(col("u"), col("v"), col("w"))).as("tri"))
      .distinct()
      .select(col("tri")(0).as("x"), col("tri")(1).as("y"), col("tri")(2).as("z"))
    val decr = deadTri.select(col("x").as("u"), col("y").as("v"))
      .unionAll(deadTri.select(col("x").as("u"), col("z").as("v")))
      .unionAll(deadTri.select(col("y").as("u"), col("z").as("v")))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_dead"))
    val next = keep.join(decr, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        (col("support") - coalesce(col("n_dead"), lit(0L))).as("support"))
      .localCheckpoint()
    (nRemoved, next)
  }

  /** Delta support-peeling to fixpoint from a fully-support-annotated
    * edge set: support is computed ONCE (the only full triangle pass),
    * then [[peelRound]] maintains it incrementally. Cascade DEPTH is
    * data-dependent — on near-uniform dense graphs it can be O(|E|)
    * levels, which is why the *entry* surface exposes the
    * bounded-round [[trussDecayProfile]] instead and this fixpoint form
    * is the library operator for structured graphs. */
  private def ktrussLoop(sup0: DataFrame, k: Int, maxIter: Int): DataFrame = {
    var alive = sup0.localCheckpoint()
    var nAlive = alive.count()
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      val (nRemoved, next) = peelRound(alive, k, nAlive)
      if (nRemoved == 0) done = true
      else {
        alive = next
        nAlive -= nRemoved
      }
      i += 1
    }
    if (!done)
      System.err.println(s"[graft] ktruss hit maxIter=$maxIter before fixpoint")
    alive.filter(col("support") >= k - 2).orderBy(col("u"), col("v"))
  }

  /** Truss-DECAY profile of the co-occurrence graph (the graph-profile
    * report next to [[degreeHistogram]] / [[componentSizeHistogram]]):
    * per bounded delta-peel round at truss tier k, how many edges fall
    * and how many survive. A fixed round count keeps the operator
    * deterministic and cheap on ANY graph (fixpoint truss cascades can
    * be O(|E|) levels deep on near-uniform dense graphs — this
    * testdata's co-rating projection is one), and makes the whole
    * computation — initial support included — exactly oracle-checkable
    * as unrolled SQL. Round 0 reuses the session-cached orientation. */
  /** Per-edge triangle support of the full co-occurrence graph —
    * k-independent, session-cached (the one full triangle pass any
    * truss-tier query needs; consumes the shared orientation). */
  private[graft] def userEdgeSupport(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "edge_support") {
      edgeSupportFrom(
        userCanonPairs(spark, dir).select(col("a").as("u"), col("b").as("v")),
        userOrientedEdges(spark, dir), userAdjPinned(spark, dir))
    }

  def trussDecayProfile(spark: SparkSession, dir: String,
      k: Int = 25, rounds: Int = 3): DataFrame = {
    import spark.implicits._
    var alive = userEdgeSupport(spark, dir).localCheckpoint()
    var nAlive = alive.count()
    val profile = (1 to rounds).map { r =>
      val (nRemoved, next) = peelRound(alive, k, nAlive)
      alive = next
      nAlive -= nRemoved
      (r.toLong, nRemoved, nAlive)
    }
    profile.toDF("round", "n_removed", "n_alive")
  }

  /** Degree-distribution histogram of the co-occurrence graph (the
    * standard graph-profile report next to [[componentSizeHistogram]]):
    * two chained aggregates, both map-side combining. */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame =
    RatingsGraph.cooccurrenceEdges(spark, dir)
      .groupBy(col("u1"))
      .agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))

  /** Personalized PageRank: teleport mass restricted to a fixed source
    * set (GDS personalized-PageRank / RWR family) — ranks measure
    * proximity to the sources instead of global importance. FIXED
    * iteration count, no convergence exit, so the unrolled-CTE oracle
    * replicates the loop exactly. Same normalized-shares join/aggregate
    * shape (and scale profile) as [[pageRank]]. */
  def personalizedPageRank(edges: DataFrame, sources: Seq[Long],
      iterations: Int = 5, damping: Double = 0.85): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("weight").cast("double"))
    val norm = normalizedShares(e).persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = nodesOf(e).localCheckpoint()
    val r = pprLoop(norm, nodes, sources, iterations, damping)
    norm.unpersist(blocking = false)
    r
  }

  private def pprLoop(norm: DataFrame, nodes: DataFrame, sources: Seq[Long],
      iterations: Int, damping: Double): DataFrame = {
    require(sources.nonEmpty, "personalized PageRank needs >= 1 source")
    val nV = nodes.count() // nodes is materialised by every caller
    val base = 1.0 / sources.size
    def teleport = when(col("node_id").isin(sources: _*), lit(base)).otherwise(lit(0.0))
    var ranks = nodes.select(col("node_id"), teleport.as("rank"))
    for (_ <- 1 to iterations) {
      ranks = norm
        .join(iterState(ranks.withColumnRenamed("node_id", "src"), nV, 24L),
          Seq("src"))
        .select(col("dst").as("node_id"), (col("share") * col("rank")).as("contrib"))
        .unionAll(nodes.select(col("node_id"), lit(0.0).as("contrib")))
        .groupBy(col("node_id"))
        .agg(sum(col("contrib")).as("inflow"))
        .select(col("node_id"),
          (lit(1.0 - damping) * teleport + lit(damping) * col("inflow")).as("rank"))
        .localCheckpoint()
    }
    ranks
  }

  /** Eigenvector centrality: fixed-iteration power method on the
    * weighted adjacency with per-iteration L2 normalization — the last
    * member of the GDS centrality family here (degree / PageRank / PPR
    * / betweenness / closeness / harmonic are all present). A FIXED
    * iteration count keeps the loop exactly oracle-checkable by
    * unrolling (the only floats are weight·score products and the
    * global norm — double drift ~1e-15 ≪ the 1e-6 rounding guard, the
    * PageRank-oracle argument). One join + one aggregate per iteration,
    * keyed on node id; the norm is an O(1) scalar probe per round. */
  def eigenvectorCentrality(edges: DataFrame, iterations: Int = 5,
      topK: Int = 20): DataFrame =
    eigenvectorFrame(edges, iterations)
      .select(col("node_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("node_id"))
      .limit(topK)

  /** [[eigenvectorCentrality]]'s power loop returning the full
    * unrounded per-node frame (pure code motion — the GDS catalog
    * modes consume this; the entry keeps its round/top-k tail). */
  def eigenvectorFrame(edges: DataFrame, iterations: Int = 5): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("weight").cast("double"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = nodesOf(e).localCheckpoint()
    val nV = nodes.count()
    var x = nodes.select(col("node_id"), lit(1.0).as("score"))
    for (_ <- 1 to iterations) {
      val raw = e
        .join(iterState(x.select(col("node_id").as("src"),
          col("score").as("xs")), nV, 24L), Seq("src"))
        .select(col("dst").as("node_id"), (col("weight") * col("xs")).as("c"))
        .unionAll(nodes.select(col("node_id"), lit(0.0).as("c")))
        .groupBy(col("node_id"))
        .agg(sum(col("c")).as("raw"))
        .localCheckpoint()
      val norm = math.sqrt(raw.agg(sum(col("raw") * col("raw"))).head().getDouble(0))
      x = raw.select(col("node_id"), (col("raw") / norm).as("score"))
    }
    e.unpersist(blocking = false)
    x
  }

  /** Maximum (or minimum) spanning FOREST via distributed Borůvka (GDS
    * `gds.spanningTree` family): each round every component hooks its
    * best incident cross-edge under a TOTAL order — (∓weight, src, dst)
    * — so the forest is UNIQUE and deterministic; picked edges can
    * never close a cycle (a cycle needs some component to pick a
    * non-extremal edge, impossible under a total order). Components
    * then contract by pointer-jumping the comp→comp pick graph (an
    * in-forest after mutual-pair roots are fixed — O(log) jumps on a
    * frame that is component-sized, not node-sized). O(log n) rounds,
    * each: one edges⋈labels join, one arg-min aggregate, comp-sized
    * relabel — the edge table is never mutated, so the big frame is
    * scanned once per round with the (tiny) labels side shuffled to
    * it. Input: one row per undirected pair. Returns the forest edges
    * (src, dst, weight). */
  def spanningForest(edges: DataFrame, maximum: Boolean = true,
      maxRounds: Int = 25): DataFrame = {
    // r13 driver leg (the CC/SCC/BZ precedent, same 5 M-edge gate): the
    // forest under the STRICT total order (∓weight, src, dst) is the
    // unique greedy basis of the graphic matroid, so Kruskal on the
    // driver and the distributed Borůvka rounds produce the identical
    // edge set (gate-forced spec asserts it) — and ~8 Borůvka rounds of
    // driver-blocking jobs on a frame that fits in one task are pure
    // scheduling overhead (probe: 10 s wall, 67 stages at sf0.1).
    val sparkIn = edges.sparkSession
    val gate = driverGate(sparkIn, DriverGateDefault)
    val eIn = gatedInput(edges.select(col("src"), col("dst"), col("weight").cast("double"))
      .filter(col("src") =!= col("dst")), gate) match {
      case Left(e) => e
      case Right(rows) =>
        val es = new Array[(Double, Long, Long, Double)](rows.length)
        var i = 0
        while (i < rows.length) {
          val r = rows(i)
          val w = r.getDouble(2)
          es(i) = ((if (maximum) -w else w), r.getLong(0), r.getLong(1), w)
          i += 1
        }
        val sorted = es.sortBy(t => (t._1, t._2, t._3))
        val uf = new UnionFind
        val kept = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
        sorted.foreach { case (_, src, dst, w) =>
          if (uf.union(src, dst)) kept += ((src, dst, w))
        }
        import sparkIn.implicits._
        return kept.toSeq.toDF("src", "dst", "weight")
          .orderBy(col("weight").desc, col("src"), col("dst"))
    }
    val e0 = eIn
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var e = e0
    val wkey = (if (maximum) -col("e.weight") else col("e.weight"))
    var labels = e.select(col("src").as("node_id"))
      .unionAll(e.select(col("dst").as("node_id")))
      .distinct()
      .withColumn("comp", col("node_id"))
      .localCheckpoint()
    var forest = e.limit(0).localCheckpoint()
    val nV = labels.count()
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      // r13 (guide §2 — don't rescan what can never matter again): the
      // cross set is CHECKPOINTED and becomes the next round's edge
      // table. An edge intra-component under this round's labels stays
      // intra forever (components only grow), so every later round
      // scans the geometrically-shrinking survivor set instead of the
      // full edge table (probe: rounds 2+ re-scanned all 1.57 M pairs;
      // cross collapses to a few thousand after round 1 on the
      // co-occurrence graph). The checkpoint also stops the two-sided
      // vote pass from recomputing the two label joins.
      // round 0's label join is the identity (comp = node_id), so the
      // first — and largest — round skips both joins and the checkpoint
      // outright: cross IS the persisted edge table with comp_s = src
      val cross =
        if (round == 0)
          e.select(col("src"), col("dst"), col("weight"),
            col("src").as("comp_s"), col("dst").as("comp_d"))
        else e
          .join(iterState(labels.select(col("node_id").as("src"),
            col("comp").as("comp_s")), nV, 24L), Seq("src"))
          .join(iterState(labels.select(col("node_id").as("dst"),
            col("comp").as("comp_d")), nV, 24L), Seq("dst"))
          .filter(col("comp_s") =!= col("comp_d"))
          .localCheckpoint()
      // each component votes from both sides of its incident cross
      // edges — ONE exploded pass (the unionAll form scanned the join
      // subtree twice); arg-min under the unique total order picks the
      // hook edge, so vote order can never matter
      val packed = struct(col("src"), col("dst"), col("weight"),
        col("comp_s"), col("comp_d")).as("e")
      val picks = cross
        .select(explode(array(col("comp_s"), col("comp_d"))).as("comp"), packed)
        .groupBy(col("comp"))
        .agg(min_by(col("e"), struct(wkey, col("e.src"), col("e.dst"))).as("e"))
        .localCheckpoint()
      val nPicks = picks.count()
      if (nPicks == 0) { done = true }
      else {
        // no per-round checkpoint: each branch of the union is already a
        // checkpointed picks frame, so the union tree stays shallow
        // (≤ maxRounds) and one deferred pass computes all the distincts
        forest = forest
          .unionAll(picks.select(col("e.src").as("src"), col("e.dst").as("dst"),
            col("e.weight").as("weight")).distinct())
        // comp→comp hook graph: functional (one out-edge per comp).
        // Contraction is size-adaptive (the dedup-clusters lever): the
        // hook graph is COMPONENT-sized and shrinks geometrically, so
        // under the limit a driver union-find collapses it in one pass
        // (two longs per comp — no convergence probes, no per-jump
        // jobs); above it, distributed pointer jumping with a bounded
        // jump count (log2 of the comp count — the in-forest depth
        // can't exceed it) keeps the 100 TB path shuffle-only.
        val pairs = picks.select(col("comp"),
          when(col("comp") === col("e.comp_s"), col("e.comp_d"))
            .otherwise(col("e.comp_s")).as("tgt"))
        val mapping: DataFrame = gatedInput(pairs, gate, Some(nPicks)) match {
          case Right(rows) =>
            // canonical label = min member comp id per merged set
            import sparkIn.implicits._
            UnionFind.componentsLocal(longPairs(rows)).toSeq.toDF("old_comp", "new_comp")
          case Left(pairs) =>
            // checkpointFresh, not bare localCheckpoint: every jump
            // self-joins the previous frame, which would square carried
            // stats per jump
            var par = pairs.withColumnRenamed("tgt", "par")
            par = checkpointFresh(par.alias("a")
              .join(par.select(col("comp").as("par"), col("par").as("pp")).alias("b"),
                Seq("par"), "left")
              .select(col("comp"),
                when(col("pp") === col("comp") && col("comp") < col("par"), col("comp"))
                  .otherwise(col("par")).as("par")))
            val bound = (64 - java.lang.Long.numberOfLeadingZeros(nPicks)) + 1
            for (_ <- 1 to bound) {
              par = checkpointFresh(par.alias("a")
                .join(par.select(col("comp").as("par"), col("par").as("pp")).alias("b"),
                  Seq("par"), "left")
                .select(col("comp"), coalesce(col("pp"), col("par")).as("par")))
            }
            par.select(col("comp").as("old_comp"), col("par").as("new_comp"))
        }
        labels = checkpointFresh(labels
          .join(mapping, labels("comp") === col("old_comp"), "left")
          .select(col("node_id"), coalesce(col("new_comp"), col("comp")).as("comp")))
        if (round > 0) e = cross.select(col("src"), col("dst"), col("weight"))
      }
      round += 1
    }
    if (!done) System.err.println(
      s"[graft] spanningForest hit maxRounds=$maxRounds before convergence")
    e0.unpersist(blocking = false)
    forest.orderBy(col("weight").desc, col("src"), col("dst"))
  }

  /** Greedy graph coloring via Jones–Plassmann (GDS
    * `gds.beta.k1coloring`): each round, every uncolored node that is a
    * LOCAL MAXIMUM of the seeded-hash priority among its uncolored
    * neighbours takes the smallest color absent from its colored
    * neighbourhood. Hash priorities are distinct (md5 over distinct
    * ids), so winners form an independent set and the coloring is
    * PROPER by construction; the global max always wins, so every
    * round makes progress and rounds are O(log n) in expectation.
    * Per round: two semi-joins scope the live subgraph, one max-
    * aggregate elects winners, one collect_set gathers used colors,
    * and the smallest-absent color is pure array algebra
    * (array_min(array_except(sequence(0, |used|), used))) — no UDF.
    * checkpointFresh per round (the stats-squaring hazard class).
    *
    * Round count is the longest DECREASING-priority path — O(log n)
    * expected on bounded-degree graphs but data-dependent in general
    * (the sf0.1 KNN graph needs 70). The driver branch therefore runs
    * the equivalent one-pass greedy (no cap, always complete); the
    * distributed branch keeps `maxRounds` as a tie-deadlock guard,
    * sized so a legitimate deep run is not truncated. */
  def k1Coloring(edges: DataFrame, maxRounds: Int = 300): DataFrame = {
    val bidir = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // size-adaptive (the dedup-clusters lever): below the limit the JP
    // rounds are SIMULATED on the driver — same priorities, same
    // round-atomic winner/mex semantics, bit-identical output to the
    // distributed path (spec-asserted) — because ~60 distributed rounds
    // of driver-actions on a label-sized frame cost more than the data
    val spark = edges.sparkSession
    gatedInput(bidir, driverGate(spark, DriverGateDefault), Some(bidir.count())) match {
      case Left(_) =>
      case Right(rows) =>
        import spark.implicits._
        val adj = scala.collection.mutable.Map[Long, scala.collection.mutable.ArrayBuffer[Long]]()
        rows.foreach { r =>
          adj.getOrElseUpdate(r.getLong(0),
            scala.collection.mutable.ArrayBuffer[Long]()) += r.getLong(1)
        }
        def prio(v: Long): String = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$v:color".getBytes("UTF-8")).map("%02x".format(_)).mkString
        val p = adj.keys.map(v => v -> prio(v)).toMap
        // Sequential greedy in DECREASING priority order — exactly the JP
        // fixpoint, not an approximation of it: when v colors, its
        // already-colored neighbours are precisely its higher-priority
        // neighbours (an adjacent lower-priority node can never win a JP
        // round while v is uncolored), so the mex every node computes is
        // identical to the round simulation's. Unlike the round
        // simulation this ALWAYS completes in one O(E) pass: JP's round
        // count is the longest decreasing-priority path, which is
        // data-dependent — 70 rounds on the sf0.1 KNN graph, where the
        // previous 60-round cap silently dropped 933 nodes from the
        // output. Ties (astronomically unlikely with md5 priorities)
        // break by node id for determinism; the distributed branch keeps
        // its round cap and warns, since a tie would deadlock JP proper.
        val order = adj.keys.toArray
          .sortWith((a, b) => p(a) > p(b) || (p(a) == p(b) && a < b))
        val color = scala.collection.mutable.Map[Long, Int]()
        for (v <- order) {
          val used = adj(v).flatMap(color.get).toSet
          color(v) = Iterator.from(0).find(!used.contains(_)).get
        }
        bidir.unpersist(blocking = false)
        return color.toSeq.sortBy(_._1).toDF("node_id", "color")
    }
    def prio(c: org.apache.spark.sql.Column) =
      md5(concat(c.cast("string"), lit(":color")))
    var uncolored = checkpointFresh(
      bidir.select(col("src").as("node_id")).distinct())
    var colored = checkpointFresh(
      uncolored.limit(0).withColumn("color", lit(0)))
    var round = 0
    var remaining = uncolored.count()
    while (remaining > 0 && round < maxRounds) {
      // live = edges with BOTH endpoints uncolored; a node with no live
      // neighbour has no uncolored competitor and wins by default
      val live = bidir
        .join(uncolored.select(col("node_id").as("src")), Seq("src"), "left_semi")
        .join(uncolored.select(col("node_id").as("dst")), Seq("dst"), "left_semi")
      val maxNbr = live
        .groupBy(col("src").as("node_id"))
        .agg(max(prio(col("dst"))).as("np"))
      val winners = checkpointFresh(uncolored
        .join(maxNbr, Seq("node_id"), "left")
        .filter(col("np").isNull || prio(col("node_id")) > col("np"))
        .select(col("node_id")))
      // smallest color absent from the winner's already-colored
      // neighbourhood; |used| + 1 candidate slots always suffice
      val used = bidir
        .join(winners.select(col("node_id").as("src")), Seq("src"), "left_semi")
        .join(colored.select(col("node_id").as("dst"), col("color")), Seq("dst"))
        .groupBy(col("src").as("node_id"))
        .agg(collect_set(col("color")).as("used"))
      val newlyColored = winners
        .join(used, Seq("node_id"), "left")
        .select(col("node_id"),
          array_min(array_except(
            sequence(lit(0), coalesce(size(col("used")), lit(0))),
            coalesce(col("used"), array().cast("array<int>")))).as("color"))
      colored = checkpointFresh(colored.unionAll(newlyColored))
      uncolored = checkpointFresh(
        uncolored.join(winners, Seq("node_id"), "left_anti"))
      remaining = uncolored.count()
      round += 1
    }
    if (remaining > 0) {
      // Round-cap leftovers (a >maxRounds decreasing-priority path, or
      // an md5-tie deadlock) previously shipped INCOMPLETE output with
      // only a stderr warning — diverging from the driver leg, which
      // always completes. Finish with the SAME sequential greedy the
      // driver leg runs (decreasing priority = the exact JP fixpoint
      // continuation), with already-colored neighbours' colors as fixed
      // constraints, so both legs now complete with identical
      // semantics. After maxRounds=300 halving-ish rounds the leftover
      // is pathologically tiny; the require guards the collect anyway.
      require(remaining <= 2000000L,
        s"k1Coloring: $remaining nodes uncolored after maxRounds=$maxRounds " +
          "— leftover exceeds the driver-completion gate")
      val spark = edges.sparkSession
      import spark.implicits._
      def prioS(v: Long): String = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$v:color".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val leftNodes = uncolored.collect().map(_.getLong(0))
      val adj = scala.collection.mutable.Map[Long, scala.collection.mutable.ArrayBuffer[Long]]()
      bidir.join(uncolored.select(col("node_id").as("src")), Seq("src"), "left_semi")
        .join(uncolored.select(col("node_id").as("dst")), Seq("dst"), "left_semi")
        .collect().foreach { r =>
          adj.getOrElseUpdate(r.getLong(0),
            scala.collection.mutable.ArrayBuffer[Long]()) += r.getLong(1)
        }
      val fixed = scala.collection.mutable.Map[Long, scala.collection.mutable.Set[Int]]()
      bidir.join(uncolored.select(col("node_id").as("src")), Seq("src"), "left_semi")
        .join(colored.select(col("node_id").as("dst"), col("color")), Seq("dst"))
        .select(col("src"), col("color"))
        .collect().foreach { r =>
          fixed.getOrElseUpdate(r.getLong(0),
            scala.collection.mutable.Set[Int]()) += r.getInt(1)
        }
      val p = leftNodes.map(v => v -> prioS(v)).toMap
      val order = leftNodes.sortWith((a, b) => p(a) > p(b) || (p(a) == p(b) && a < b))
      val doneC = scala.collection.mutable.Map[Long, Int]()
      for (v <- order) {
        val used = fixed.getOrElse(v, scala.collection.mutable.Set.empty[Int]).toSet ++
          adj.getOrElse(v, scala.collection.mutable.ArrayBuffer.empty[Long]).flatMap(doneC.get)
        doneC(v) = Iterator.from(0).find(!used.contains(_)).get
      }
      colored = colored.unionAll(doneC.toSeq.sortBy(_._1).toDF("node_id", "color"))
    }
    bidir.unpersist(blocking = false)
    colored.orderBy(col("node_id"))
  }

  /** Cypher's `shortestPath((a)-[*..maxHops]-(b))` with the actual node
    * sequence — the reference's one traversal primitive not yet
    * surfaced as a query (distances alone ride [[bfsHops]]-style
    * frames). BFS levels carry a DETERMINISTIC parent (the minimum
    * predecessor id at the previous level), so the reconstructed path
    * is unique and exactly SQL-checkable; the backtrack is ≤ maxHops
    * single-row lookups against the (checkpointed) visited frame —
    * depth-bounded driver work, never a collect of the frontier.
    * Returns (step, node_id), step 0 = source; empty if unreachable
    * within maxHops. */
  def shortestPathNodes(edges: DataFrame, source: Long, target: Long,
      maxHops: Int = 6): DataFrame = {
    val bidir = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    shortestPathNodesOn(bidir, source, target, maxHops, ownsPersist = true)
  }

  /** Session-cached distinct src-partitioned co-occurrence edge frame —
    * the substrate the BFS waves join against, shared across
    * shortest-path queries and built in the bench's silver phase so the
    * query line is warm traversal only (the r6 line paid this persist
    * in-line). The cooc projection is already symmetric, so no reverse
    * union is needed. */
  def userCoocBidir(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "cooc_bidir") {
      RatingsGraph.cooccurrenceEdges(spark, dir)
        .select(col("u1").as("src"), col("u2").as("dst")).distinct()
        .repartition(col("src"))
    }

  /** [[shortestPathNodes]] over an already-prepared (persisted or
    * session-cached) bidirectional edge frame; `ownsPersist` controls
    * whether this call unpersists it when done. */
  def shortestPathNodesOn(bidir: DataFrame, source: Long, target: Long,
      maxHops: Int = 6, ownsPersist: Boolean = false): DataFrame = {
    val spark = bidir.sparkSession
    import spark.implicits._
    var frontier = Seq(source).toDF("node_id")
    var visited = checkpointFresh(
      Seq((source, 0, Long.MinValue)).toDF("node_id", "dist", "parent"))
    var dist = 0
    var found = source == target
    while (!found && dist < maxHops && !frontier.isEmpty) {
      val next = checkpointFresh(bidir
        .join(frontier.select(col("node_id").as("src")), Seq("src"))
        .select(col("dst").as("node_id"), col("src"))
        .join(visited.select(col("node_id")), Seq("node_id"), "left_anti")
        .groupBy(col("node_id"))
        .agg(min(col("src")).as("parent")))
      dist += 1
      visited = checkpointFresh(visited.unionAll(
        next.select(col("node_id"), lit(dist).as("dist"), col("parent"))))
      found = next.filter(col("node_id") === target).limit(1).count() > 0
      frontier = next.select(col("node_id"))
    }
    if (!found) {
      // the empty frame is checkpointed (lineage-free), so the persist
      // can drop before the early return — leaking it would pin one
      // MEMORY_AND_DISK edge copy per unreachable query
      if (ownsPersist) bidir.unpersist(blocking = false)
      return visited.limit(0)
        .select(col("dist").as("step"), col("node_id"))
    }
    // backtrack: one indexed lookup per hop
    val path = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    var cur = target
    var step = dist
    while (cur != source) {
      path += ((step, cur))
      cur = visited.filter(col("node_id") === cur).head().getLong(2)
      step -= 1
    }
    path += ((0, source))
    if (ownsPersist) bidir.unpersist(blocking = false)
    path.sortBy(_._1).toSeq.toDF("step", "node_id")
      .select(col("step"), col("node_id"))
  }

  /** Per-community conductance (GDS `gds.conductance`): for each
    * community, cut weight / min(vol, totalVol − vol) over the
    * symmetric weighted graph — the community-quality metric next to
    * [[modularity]]. Integer-exact sums (cut, volume), one guarded
    * float division at the end; one labels join + one aggregate. */
  def conductance(edges: DataFrame, labels: DataFrame): DataFrame = {
    val labelled = edges
      .join(labels.select(col("node_id").as("src"), col("label").as("sl")), Seq("src"))
      .join(labels.select(col("node_id").as("dst"), col("label").as("dl")), Seq("dst"))
    val per = labelled.groupBy(col("sl").as("community"))
      .agg(sum(when(col("sl") =!= col("dl"), col("weight")).otherwise(lit(0L)))
        .cast("bigint").as("cut_w"),
        sum(col("weight")).cast("bigint").as("vol_w"))
    val tot = per.agg(sum(col("vol_w")).as("vol_all"))
    per.join(broadcast(tot))
      .select(col("community"), col("cut_w"), col("vol_w"),
        when(least(col("vol_w"), col("vol_all") - col("vol_w")) === 0, lit(0.0))
          .otherwise(round(col("cut_w").cast("double") /
            least(col("vol_w"), col("vol_all") - col("vol_w")).cast("double"), 6))
          .as("conductance"))
      .orderBy(col("community"))
  }

  /** Session-cached MAXIMUM spanning forest of the co-occurrence graph
    * (the strongest-co-rating backbone; GDS `gds.spanningTree` with
    * objective MAXIMUM): one row per undirected pair in, forest out. */
  def userSpanningForest(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "mst_forest") {
      spanningForest(RatingsGraph.cooccurrenceEdges(spark, dir)
        .filter(col("u1") < col("u2"))
        .select(col("u1").as("src"), col("u2").as("dst"), col("weight")))
    }

  /** k-spanning-tree clustering (GDS `gds.kSpanningTree`): cut the
    * k−1 WEAKEST edges of the maximum spanning forest — each cut splits
    * exactly one tree, so the result is exactly c(G) + k − 1 clusters,
    * each internally connected through its surviving strong-tie forest
    * path. Ties on weight break (src, dst) lexicographically, so the
    * cut set is deterministic. The expensive piece (the forest) is the
    * session-cached [[userSpanningForest]]; the cut is one top-(k−1)
    * driver-side limit over FOREST edges (|V|−c rows, never the full
    * edge set) plus one CC pass over the kept forest. */
  def kSpanningClusters(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    // session-cached: the entry and its invariants twin both need the
    // labels, and the tree-shaped CC pass is the expensive leg
    graft.Cache.cached(spark, dir, s"kspan_clusters_$k") {
      kSpanningClustersUncached(spark, dir, k)
    }

  /** The k−1 weakest forest edges — the cut set, with weights. ONE
    * definition shared by the operator and its invariants gate so the
    * tie-break contract (weight ASC, src, dst) cannot desynchronize. */
  def kSpanCut(spark: SparkSession, dir: String, k: Int): DataFrame =
    userSpanningForest(spark, dir)
      .select(col("src"), col("dst"), col("weight"))
      .orderBy(col("weight").asc, col("src"), col("dst")).limit(k - 1)

  private def kSpanningClustersUncached(spark: SparkSession, dir: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val forest = userSpanningForest(spark, dir)
      .select(col("src"), col("dst"), col("weight"))
    val cut = kSpanCut(spark, dir, k).select(col("src"), col("dst"))
    val kept = forest.join(cut, Seq("src", "dst"), "left_anti")
    // maxIter 60 on the distributed fallback: the input here is a TREE
    // — the worst diameter case there is. Below the size gate the
    // adaptive leg's driver union-find skips the whole propagation
    // (the tree shape that costs the distributed loop tens of rounds
    // is exactly the shape the union-find eats in one pass).
    val cc = connectedComponentsAdaptive(
      kept.select(col("src"), col("dst")), maxIter = 60)
    // forest spans every co-occurrence node; nodes whose trees were cut
    // down to themselves fall out of `kept` and become singletons
    val nodes = RatingsGraph.cooccurrenceEdges(spark, dir)
      .select(col("u1").as("node_id")).distinct()
    nodes.join(cc, Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("component"), col("node_id")).as("cluster"))
      .orderBy(col("node_id"))
  }

  /** Session-cached co-rated pair-statistics silver shared by the
    * whole similarity-function family (pearson, euclidean, the liked
    * cosine): one row per undirected user pair with ≥ 1 co-rated book
    * carrying every sufficient statistic the metrics need —
    * (n, Σr₁, Σr₂, Σr₁², Σr₂², Σr₁r₂). The ratings R⋈R self-join — the
    * §4 co-occurrence hazard — is paid ONCE per session instead of once
    * per metric, and the same `maxFanout` top-N-raters degree cap the
    * co-occurrence projection has bounds the per-book quadratic term
    * for 100 TB runs (deterministic: highest rating first, then
    * smallest user id). Default 0 = OFF for reference/oracle parity.
    * `minRating` restricts to the liked subset (the ≥ 6 cosine
    * variant); each (minRating, maxFanout) point caches separately. */
  def coRatedPairStats(spark: SparkSession, dir: String, minRating: Int = 0,
      maxFanout: Int = 0): DataFrame =
    graft.Cache.cached(spark, dir, s"pair_stats_${minRating}_$maxFanout") {
      val all = RatingsGraph.ratings(spark, dir)
        .filter(col("rating") >= minRating)
        .select(col("user_id"), col("book_id"), col("rating"))
      val r =
        if (maxFanout <= 0) all
        else graft.plans.TopKPerKey.topKPerKey(all, Seq("book_id"),
            Seq(("rating", false), ("user_id", true)), maxFanout)
          .select(col("user_id"), col("book_id"), col("rating"))
      r.select(col("user_id").as("u1"), col("book_id"), col("rating").as("r1"))
        .join(r.select(col("user_id").as("u2"), col("book_id"), col("rating").as("r2")),
          Seq("book_id"))
        .filter(col("u1") < col("u2"))
        .groupBy(col("u1"), col("u2"))
        .agg(count(lit(1)).as("n_common"),
          sum(col("r1")).as("s1"), sum(col("r2")).as("s2"),
          sum(col("r1") * col("r1")).as("q1"),
          sum(col("r2") * col("r2")).as("q2"),
          sum(col("r1") * col("r2")).as("dot"))
    }

  /** Per-user L2 norm² of the LIKED (rating ≥ 6) rating vector — the
    * denominator every liked-cosine consumer (userCosineTopK,
    * predictRatings) shares. Session-cached: one groupBy over the
    * ratings silver per session instead of one per call. */
  def likedNorms(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "liked_norms") {
      RatingsGraph.ratings(spark, dir)
        .filter(col("rating") >= 6)
        .groupBy(col("user_id"))
        .agg(sum(col("rating") * col("rating")).as("sq"))
    }

  /** Per-user PEARSON similarity (GDS `gds.similarity.pearson`, the
    * classic CF correlation) over CO-RATED books: for each user pair,
    * the correlation of their rating vectors restricted to the books
    * both rated, pairs with ≥ `minCommon` co-rated books and non-zero
    * variance on both sides. Every aggregate is an exact small-integer
    * sum (n, Σr, Σr², Σr₁r₂); the single float expression at the end
    * makes the top-k exactly oracle-checkable. Derives from the shared
    * [[coRatedPairStats]] silver — the R⋈R join is built once for the
    * whole metric family, with its degree cap. */
  def userPearsonTopK(spark: SparkSession, dir: String, k: Int = 20,
      minCommon: Int = 3, maxFanout: Int = 0): DataFrame = {
    val pairs = coRatedPairStats(spark, dir, maxFanout = maxFanout)
      .filter(col("n_common") >= minCommon)
    // var·n² stays integer: n·Σr² − (Σr)² — compare > 0 exactly, then
    // one float sqrt/division
    val v1 = col("n_common") * col("q1") - col("s1") * col("s1")
    val v2 = col("n_common") * col("q2") - col("s2") * col("s2")
    pairs
      .filter(v1 > 0 && v2 > 0)
      .select(col("u1"), col("u2"), col("n_common"),
        round((col("n_common") * col("dot") - col("s1") * col("s2")).cast("double") /
          (sqrt(v1.cast("double")) * sqrt(v2.cast("double"))), 6).as("pearson"))
      .orderBy(col("pearson").desc, col("u1"), col("u2"))
      .limit(k)
  }

  /** Top-k heaviest triangles, enumerated (GDS `alpha.triangles`
    * streams the triangle list; listing every triangle of a dense
    * graph is quadratic noise at scale, so the enumeration is scoped
    * to the densest-edge subgraph): the top `edgeBudget` co-occurrence
    * edges by (weight, id) — a deterministic, scale-free cut — closed
    * into triangles by an id-ordered three-way self-join INSIDE that
    * bounded subgraph (≤ budget³ᐟ² candidates by arboricity, trivially
    * broadcastable at any corpus size). */
  def topTriangles(spark: SparkSession, dir: String, k: Int = 20,
      edgeBudget: Int = 1000): DataFrame = {
    val top = RatingsGraph.cooccurrenceEdges(spark, dir)
      .filter(col("u1") < col("u2"))
      .orderBy(col("weight").desc, col("u1"), col("u2"))
      .limit(edgeBudget)
      .select(col("u1"), col("u2"), col("weight"))
      .localCheckpoint() // three self-join arms: cut the sort lineage
    top.select(col("u1").as("a"), col("u2").as("b"), col("weight").as("w_ab"))
      .join(top.select(col("u1").as("a"), col("u2").as("c"), col("weight").as("w_ac")),
        Seq("a"))
      .filter(col("b") < col("c"))
      .join(top.select(col("u1").as("b"), col("u2").as("c"), col("weight").as("w_bc")),
        Seq("b", "c"))
      .select(col("a"), col("b"), col("c"),
        (col("w_ab") + col("w_ac") + col("w_bc")).as("total_weight"))
      .orderBy(col("total_weight").desc, col("a"), col("b"), col("c"))
      .limit(k)
  }

  /** Per-user EUCLIDEAN similarity (GDS `gds.similarity.euclidean` —
    * completes the similarity-function family next to
    * cosine/Jaccard/OVERLAP/Pearson): over co-rated books,
    * dist² = Σr₁² + Σr₂² − 2Σr₁r₂ stays an exact integer; similarity
    * = 1/(1+√dist²) floats once at the end. Derives from the shared
    * [[coRatedPairStats]] silver (dist² = q1 + q2 − 2·dot, exactly the
    * per-row sum by linearity) — after Pearson warms the silver this
    * entry is one filter + projection, no join at all. */
  def userEuclideanTopK(spark: SparkSession, dir: String, k: Int = 20,
      minCommon: Int = 3, maxFanout: Int = 0): DataFrame = {
    coRatedPairStats(spark, dir, maxFanout = maxFanout)
      .filter(col("n_common") >= minCommon)
      .withColumn("dist_sq", col("q1") + col("q2") - lit(2) * col("dot"))
      .select(col("u1"), col("u2"), col("n_common"), col("dist_sq"),
        round(lit(1.0) / (lit(1.0) + sqrt(col("dist_sq").cast("double"))), 6)
          .as("euclidean_sim"))
      .orderBy(col("euclidean_sim").desc, col("u1"), col("u2"))
      .limit(k)
  }

  /** Per-user COSINE node similarity (GDS `nodeSimilarity` with
    * `similarityMetric: COSINE`) over liked-book RATING vectors: the
    * weighted sibling of [[userJaccardTopK]] / [[userOverlapTopK]].
    * Every sum is over small integers (exact, order-independent); only
    * the final sqrt/division floats, so the top-k is exactly
    * oracle-checkable. The pair dot products come from the liked
    * variant of the shared [[coRatedPairStats]] silver (minRating = 6);
    * only the per-user full-vector norms are computed here. */
  def userCosineTopK(spark: SparkSession, dir: String, k: Int = 20,
      maxFanout: Int = 0): DataFrame = {
    val norms = likedNorms(spark, dir)
    val num = coRatedPairStats(spark, dir, minRating = 6, maxFanout = maxFanout)
      .select(col("u1"), col("u2"), col("dot"))
    num
      .join(norms.select(col("user_id").as("u1"), col("sq").as("sq1")), Seq("u1"))
      .join(norms.select(col("user_id").as("u2"), col("sq").as("sq2")), Seq("u2"))
      .select(col("u1"), col("u2"), col("dot"),
        round(col("dot").cast("double") /
          (sqrt(col("sq1").cast("double")) * sqrt(col("sq2").cast("double"))), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("u1"), col("u2"))
      .limit(k)
  }

  /** The HITS mutual power loop (a ← Aᵀh/‖·‖, h ← Aa/‖·‖) over a
    * weighted directed edge list `(src, dst, weight)`, src and dst
    * treated as separate roles of the same id space: hubs live on the
    * src side (seeded 1.0 on every distinct src), authorities on the
    * dst side. Fixed-iteration with per-side L2 normalization, exactly
    * oracle-checkable unrolled (the eigenvector-oracle argument).
    * Returns `(hubs(node_id, h), auths(node_id, a))` — a node absent
    * from a side has score 0 there by construction (it never enters
    * that side's aggregate). Scale shape: 2 aggregate+join passes over
    * the edge frame per iteration, score state is O(V). Factored from
    * the bipartite `hitsTopK` (pure code motion — there src = user,
    * dst = book) so `gds.alpha.hits` routes onto the same loop. */
  def hitsSides(edges: DataFrame, iterations: Int): (DataFrame, DataFrame) = {
    require(iterations >= 1, s"need >= 1 iteration, got $iterations")
    val e = edges
      .select(col("src"), col("dst"), col("weight").cast("double").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val srcs = e.select(col("src")).distinct().localCheckpoint()
    val nSrc = srcs.count()
    val nDst = e.select(col("dst")).distinct().count()
    var hubs = srcs.select(col("src"), lit(1.0).as("h"))
    var auths: DataFrame = null
    for (_ <- 1 to iterations) {
      val aRaw = e.join(iterState(hubs, nSrc, 24L), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("w") * col("h")).as("raw"))
        .localCheckpoint()
      val aNorm = math.sqrt(aRaw.agg(sum(col("raw") * col("raw"))).head().getDouble(0))
      auths = aRaw.select(col("dst"), (col("raw") / aNorm).as("a"))
      val hRaw = e.join(iterState(auths, nDst, 24L), Seq("dst"))
        .groupBy(col("src"))
        .agg(sum(col("w") * col("a")).as("raw"))
        .localCheckpoint()
      val hNorm = math.sqrt(hRaw.agg(sum(col("raw") * col("raw"))).head().getDouble(0))
      hubs = hRaw.select(col("src"), (col("raw") / hNorm).as("h"))
    }
    e.unpersist(blocking = false)
    (hubs.select(col("src").as("node_id"), col("h")),
      auths.select(col("dst").as("node_id"), col("a")))
  }

  /** Session-cached HITS sides over the weighted RATED bipartite frame
    * at the oracled 5-iteration operating point — ONE mutual power loop
    * shared by `hits_topk` and the `gds.alpha.hits` route (which
    * re-encodes the ids into its projection stripe). Cached as one
    * side-tagged frame (the Cache seam holds single frames). */
  private[graft] def userHitsSides(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val both = graft.Cache.cached(spark, dir, "hits_sides_i5") {
      val (h, a) = hitsSides(
        RatingsGraph.ratings(spark, dir)
          .select(col("user_id").as("src"), col("book_id").as("dst"),
            col("rating").as("weight")), 5)
      h.select(lit("h").as("side"), col("node_id"), col("h").as("score"))
        .unionAll(
          a.select(lit("a").as("side"), col("node_id"), col("a").as("score")))
    }
    (both.filter(col("side") === "h")
      .select(col("node_id"), col("score").as("h")),
      both.filter(col("side") === "a")
        .select(col("node_id"), col("score").as("a")))
  }

  /** HITS (hubs & authorities), the natural centrality of a BIPARTITE
    * graph — here users are hubs, books authorities over the weighted
    * RATED edges (the [[hitsSides]] loop with src = user, dst = book).
    * Emits the top-k of each side with a role column. */
  def hitsTopK(spark: SparkSession, dir: String, iterations: Int = 5,
      topK: Int = 10): DataFrame = {
    val (hubs, auths) =
      if (iterations == 5) userHitsSides(spark, dir)
      else hitsSides(
        RatingsGraph.ratings(spark, dir)
          .select(col("user_id").as("src"), col("book_id").as("dst"),
            col("rating").as("weight")),
        iterations)
    val topHubs = hubs
      .select(lit("hub").as("role"), col("node_id"),
        round(col("h"), 6).as("score"))
      .orderBy(col("score").desc, col("node_id")).limit(topK)
    val topAuths = auths
      .select(lit("authority").as("role"), col("node_id"),
        round(col("a"), 6).as("score"))
      .orderBy(col("score").desc, col("node_id")).limit(topK)
    topHubs.unionAll(topAuths).orderBy(col("role"), col("score").desc, col("node_id"))
  }

  /** User-based collaborative-filtering rating PREDICTION for one
    * target user (the classic CF formulation the reference's top-3
    * recommenders summarise away): for each book the target hasn't
    * rated, r̂ = Σ sim(u,v)·r_v(b) / Σ sim(u,v) over the target's
    * cosine-top-`kSim` neighbours who rated b. The similarity leg is
    * one per-user row against the liked table (never all-pairs), the
    * prediction one join + one aggregate over the neighbours' ratings. */
  def predictRatings(spark: SparkSession, dir: String, user: Long = 1L,
      kSim: Int = 20, k: Int = 10): DataFrame = {
    // Similarity leg rides the session-cached liked pair-stats silver
    // (the same R⋈R build the cosine/Pearson/Euclidean family shares)
    // restricted to pairs incident to the target, plus the cached
    // liked-norms silver — per call this leg is a filter + two joins
    // over cached frames, no recomputed R⋈R and no per-call norm
    // shuffle. dot = Σ r_u·r_v over co-liked books is the integer the
    // inline formulation computed, so results are bit-identical.
    val norms = likedNorms(spark, dir)
    val sims = coRatedPairStats(spark, dir, minRating = 6)
      .filter(col("u1") === user || col("u2") === user)
      .select(when(col("u1") === user, col("u2")).otherwise(col("u1"))
        .as("user_id"), col("dot"))
      .join(norms.select(col("user_id"), col("sq").as("sq_v")), Seq("user_id"))
      .join(broadcast(norms.filter(col("user_id") === user)
        .select(col("sq").as("sq_me"))))
      .select(col("user_id"),
        (col("dot").cast("double") /
          (sqrt(col("sq_v").cast("double")) * sqrt(col("sq_me").cast("double"))))
          .as("sim"))
      .orderBy(col("sim").desc, col("user_id"))
      .limit(kSim)
    // anti-join on EVERYTHING the target rated (not just liked): a
    // recommender must not resurface a book the user already judged
    val allMine = RatingsGraph.ratings(spark, dir)
      .filter(col("user_id") === user).select(col("book_id"))
    val candidates = RatingsGraph.ratings(spark, dir)
      .join(broadcast(sims), Seq("user_id"))
      .join(broadcast(allMine), Seq("book_id"), "left_anti")
    candidates
      .groupBy(col("book_id"))
      .agg((sum(col("sim") * col("rating")) / sum(col("sim"))).as("pred"),
        count(lit(1)).as("n_raters"))
      .select(col("book_id"), round(col("pred"), 6).as("pred_rating"), col("n_raters"))
      .orderBy(col("pred_rating").desc, col("book_id"))
      .limit(k)
  }

  /** ITEM-based collaborative-filtering rating prediction — the
    * classic transpose of [[predictRatings]] (user-based CF): for each
    * book b the target hasn't rated, r̂(b) = Σ sim(b, b′)·r_u(b′) /
    * Σ sim(b, b′) over the target's own rated books b′, similarities
    * the liked-cosine between BOOK rating vectors (co-liker dot /
    * norms), each candidate capped at its `kSim` most similar of the
    * target's books. Item CF is the production-serving favourite
    * because the similarity substrate depends only on the CORPUS, not
    * the user — at 100 TB the pair statistics are a batch silver and
    * a request touches |rated(u)| posting lists.
    *
    * Candidate generation is bounded the scalable way: the pair join's
    * left side is restricted to the LIKERS OF THE TARGET'S OWN BOOKS
    * first (liked ⋈ broadcast(mine)), so the quadratic term is
    * Σ_{b′∈mine} likers(b′)·|their books| — never a corpus self-join.
    * All sums integer-valued; the two float divisions round at the
    * output; the per-candidate neighbour cut orders by the
    * bit-deterministic unrounded sim with book-id tie-break. */
  def predictRatingsItem(spark: SparkSession, dir: String, user: Long = 1L,
      kSim: Int = 20, k: Int = 10): DataFrame = {
    val liked = RatingsGraph.ratings(spark, dir)
      .filter(col("rating") >= 6)
      .select(col("user_id"), col("book_id"), col("rating"))
    val bookNorms = graft.Cache.cached(spark, dir, "liked_book_norms") {
      liked.groupBy(col("book_id")).agg(sum(col("rating") * col("rating")).as("sq"))
    }
    // the target's profile: EVERYTHING they rated (prediction weights),
    // tiny — broadcast both into the pair join and the anti-join
    val mine = RatingsGraph.ratings(spark, dir)
      .filter(col("user_id") === user)
      .select(col("book_id").as("m_b"), col("rating").as("r_me"))
    // co-liker dot products between candidate books and profile books:
    // likers-of-mine first, then one user-keyed join against liked
    val likedMine = liked
      .join(broadcast(mine.select(col("m_b"))), col("book_id") === col("m_b"))
      .select(col("user_id"), col("m_b"), col("rating").as("r_mine_side"))
    val dots = liked.as("c")
      .join(likedMine.as("m"), Seq("user_id"))
      .filter(col("c.book_id") =!= col("m.m_b"))
      .groupBy(col("c.book_id").as("book_id"), col("m.m_b").as("m_b"))
      .agg(sum(col("c.rating") * col("m.r_mine_side")).as("dot"))
    val sims = dots
      .join(bookNorms.select(col("book_id"), col("sq").as("sq_b")), Seq("book_id"))
      .join(broadcast(bookNorms.select(col("book_id").as("m_b"), col("sq").as("sq_mb"))
        .join(mine.select(col("m_b")), Seq("m_b"))), Seq("m_b"))
      .join(broadcast(mine), Seq("m_b"))
      .select(col("book_id"), col("m_b"), col("r_me"),
        (col("dot").cast("double") /
          (sqrt(col("sq_b").cast("double")) * sqrt(col("sq_mb").cast("double"))))
          .as("sim"))
      // drop candidates the target already rated
      .join(broadcast(mine.select(col("m_b").as("book_id"))), Seq("book_id"),
        "left_anti")
    // per-candidate neighbour cut: kSim most similar profile books
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("book_id")).orderBy(col("sim").desc, col("m_b"))
    sims.withColumn("rk", row_number().over(w)).filter(col("rk") <= kSim)
      .groupBy(col("book_id"))
      .agg((sum(col("sim") * col("r_me")) / sum(col("sim"))).as("pred"),
        count(lit(1)).as("n_neighbors"))
      .select(col("book_id"), round(col("pred"), 6).as("pred_rating"),
        col("n_neighbors"))
      .orderBy(col("pred_rating").desc, col("book_id"))
      .limit(k)
  }

  /** Degree assortativity (Newman's degree-correlation coefficient):
    * Pearson r of the endpoint degrees over every directed edge of a
    * symmetric graph. Positive = hubs link hubs, negative = hubs link
    * leaves — the one-number mixing profile of the graph. All sums are
    * integer-valued doubles (exact, order-independent), so the value is
    * deterministic and exactly oracle-checkable; only the final
    * division is floating. Two joins + one aggregate. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    val xy = e
      .join(deg.select(col("v").as("src"), col("d").as("x")), Seq("src"))
      .join(deg.select(col("v").as("dst"), col("d").as("y")), Seq("dst"))
      .select(col("x").cast("double").as("x"), col("y").cast("double").as("y"))
    xy.agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(round(
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
        .as("assortativity"))
  }

  /** Connected-component size histogram: how many components of each
    * size — the fragmentation profile (composes the exactly-oracled CC
    * fixpoint with a double aggregation). */
  def componentSizeHistogram(edges: DataFrame): DataFrame =
    connectedComponents(edges)
      .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("component_size"))
      .agg(count(lit(1)).as("n_components"))
      .orderBy(col("component_size"))

  /** Newman modularity Q of a community assignment over a weighted
    * graph (edges given in both directions). The reference's Louvain
    * call reports exactly this metric
    * (`Alg_Community_Detection.py:40-50`: YIELD communityCount,
    * modularity). Q = Σ_c (e_c/m − (a_c/m)²) with e_c = in-community
    * weight, a_c = community degree, m = total weight. Two joins + two
    * aggregations — no iteration. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("weight").cast("double"))
    val withLabels = e
      .join(labels.select(col("node_id").as("src"), col("label").as("src_label")), Seq("src"))
      .join(labels.select(col("node_id").as("dst"), col("label").as("dst_label")), Seq("dst"))
    val mRow = withLabels.agg(sum(col("weight"))).head()
    if (mRow.isNullAt(0)) {
      // no labelled edges: zero communities, undefined modularity
      return labels.sparkSession.range(1)
        .select(lit(0L).as("n_communities"),
          lit(null).cast("double").as("modularity"))
    }
    val m = mRow.getDouble(0)
    val perCommunity = withLabels
      .groupBy(col("src_label").as("community"))
      .agg(
        sum(when(col("src_label") === col("dst_label"), col("weight")).otherwise(0.0)).as("e_in"),
        sum(col("weight")).as("degree_w"))
    perCommunity
      .agg(
        count(lit(1)).as("n_communities"),
        sum(col("e_in") / m - (col("degree_w") / m) * (col("degree_w") / m)).as("modularity"))
  }

  /** Iterations the cached [[userPageRank]] build actually ran, memoized
    * alongside the frame (Cache holds DataFrames only); written exactly
    * once per (session, dir) since the cached builder runs once.
    * Registered with Cache so session eviction purges it too. */
  private val userPageRankIters = {
    val m = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    graft.Cache.registerSideMap(m)
    m
  }

  /** PageRank of the user co-occurrence graph, session-cached (shared
    * by the top-k view, the invariant gate, and the convergence gate). */
  def userPageRank(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "pagerank") {
      val (r, i) = pageRankLoop(userCoocNorm(spark, dir), userCoocNodes(spark, dir),
        iterations = 10, damping = 0.85, tol = 1e-6)
      userPageRankIters.put(s"${graft.Cache.sessionId(spark)}|$dir", i)
      r
    }

  /** PageRank by power iteration (damping 0.85) with CONVERGENCE EARLY
    * EXIT: stops as soon as max|Δrank| < tol, under a deterministic
    * iteration cap. Works on the directed edge list;
    * weight-proportional distribution. The convergence probe is an
    * O(|V|) join-aggregate per round — cheap next to the O(|E|) rank
    * propagation it can save, and with damping d the post-convergence
    * drift is bounded by tol·d/(1−d), so a tight tol stays well inside
    * any downstream comparison tolerance. */
  def pageRank(edges: DataFrame, iterations: Int = 10, damping: Double = 0.85,
      tol: Double = 1e-6): DataFrame =
    pageRankIters(edges, iterations, damping, tol)._1

  /** Weight-proportional out-shares of an edge list, repartitioned on
    * src so the per-iteration rank join only shuffles the ranks side. */
  private def normalizedShares(e: DataFrame): DataFrame = {
    val outW = e.groupBy("src").agg(sum(col("weight")).as("out_w"))
    e.join(outW, Seq("src"))
      .select(col("src"), col("dst"), (col("weight") / col("out_w")).as("share"))
      .repartition(col("src"))
  }

  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("node_id"))
      .unionAll(e.select(col("dst").as("node_id"))).distinct()

  /** As [[pageRank]], also returning how many iterations actually ran
    * (observable early exit, for tests and tuning). */
  def pageRankIters(edges: DataFrame, iterations: Int = 10, damping: Double = 0.85,
      tol: Double = 1e-6): (DataFrame, Int) = {
    val e = edges.select(col("src"), col("dst"), col("weight").cast("double"))
    // persist (NOT localCheckpoint): keeps the repartition(src) metadata
    // in the plan, so the per-iteration join only shuffles the ranks side
    val norm = normalizedShares(e).persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = nodesOf(e).localCheckpoint()
    val r = pageRankLoop(norm, nodes, iterations, damping, tol)
    norm.unpersist(blocking = false)
    r
  }

  /** The power-iteration loop over prebuilt shares/nodes — shared by
    * [[pageRankIters]] and the session-cached user-graph variants (the
    * share build is ~a third of a 5-iteration run; three queries
    * consume the same shares). */
  private def pageRankLoop(norm: DataFrame, nodes: DataFrame,
      iterations: Int, damping: Double, tol: Double): (DataFrame, Int) = {
    val nV = nodes.count() // nodes is materialised by every caller
    var ranks = nodes.withColumn("rank", lit(1.0))
    var i = 0
    var converged = false
    while (i < iterations && !converged) {
      // zero-contribution rows give in-degree-0 nodes their (1-d) base
      // term in the same aggregation (join + ONE shuffle per iteration).
      // NOTE: rank mass emitted by true dangling nodes (no out-edges) is
      // dropped, not redistributed — fine for the symmetric graphs used
      // here, where dangling nodes cannot exist
      val next = norm
        .join(iterState(ranks.withColumnRenamed("node_id", "src"), nV, 24L),
          Seq("src"))
        .select(col("dst").as("node_id"), (col("share") * col("rank")).as("contrib"))
        .unionAll(nodes.select(col("node_id"), lit(0.0).as("contrib")))
        .groupBy(col("node_id"))
        .agg((lit(1.0 - damping) + lit(damping) * sum(col("contrib"))).as("rank"))
        .localCheckpoint()
      // probe every 2nd round: the probe is an extra Spark action, so
      // halving its cadence halves overhead at the cost of (at most)
      // one surplus iteration after convergence. tol = 0 means a pinned
      // iteration count — skip the probe actions entirely
      if (tol > 0.0 && i % 2 == 1) {
        // max over an empty/NULL frame is NULL (empty graph) → converged
        val row = next.join(iterState(
            ranks.withColumnRenamed("rank", "_prev"), nV, 24L), Seq("node_id"))
          .agg(max(abs(col("rank") - col("_prev")))).head()
        converged = row.isNullAt(0) || row.getDouble(0) < tol
      }
      ranks = next
      i += 1
    }
    (ranks, i)
  }

  /** ArticleRank (`gds.articleRank`): PageRank with the contribution
    * denominator lifted by the MEAN out-degree — r(v) = (1−d) +
    * d·Σ_{u→v} r(u)/(deg(u) + avgDeg) — which damps the advantage of
    * citations from low-degree nodes (the bibliometric motivation).
    * Five pinned iterations; avgDeg comes from integer sums (one
    * scalar), every share is a deterministic double, so the whole run
    * replays exactly like pagerank_fixed_topk. */
  def articleRank(spark: SparkSession, dir: String,
      iterations: Int = 5, damping: Double = 0.85): DataFrame =
    articleRankFrame(RatingsGraph.cooccurrenceEdges(spark, dir)
        .select(col("u1").as("src"), col("u2").as("dst")),
        iterations, damping)
      .select(col("node_id"), round(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc, col("node_id"))
      .limit(20)

  /** [[articleRank]]'s loop over ANY (src, dst) edge frame — the full
    * unrounded per-node frame the GDS catalog modes consume (pure code
    * motion from the oracled entry; same operations, same plan). */
  def articleRankFrame(edges0: DataFrame, iterations: Int = 5,
      damping: Double = 0.85): DataFrame = {
    val edges = edges0.select(col("src"), col("dst"))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val s = deg.agg(sum(col("deg")), count(lit(1))).head()
    val avgDeg = s.getLong(0).toDouble / s.getLong(1)
    val norm = edges.join(deg, Seq("src"))
      .select(col("src"), col("dst"),
        (lit(1.0) / (col("deg").cast("double") + lit(avgDeg))).as("share"))
      .localCheckpoint()
    val nodes = deg.select(col("src").as("node_id"))
    val nV = s.getLong(1) // node count, already on the avgDeg row
    var ranks = nodes.withColumn("rank", lit(1.0))
    for (_ <- 1 to iterations) {
      ranks = norm
        .join(iterState(ranks.withColumnRenamed("node_id", "src"), nV, 24L),
          Seq("src"))
        .select(col("dst").as("node_id"), (col("share") * col("rank")).as("contrib"))
        .unionAll(nodes.select(col("node_id"), lit(0.0).as("contrib")))
        .groupBy(col("node_id"))
        .agg((lit(1.0 - damping) + lit(damping) * sum(col("contrib"))).as("rank"))
        .localCheckpoint()
    }
    ranks
  }

  private def userCoocNorm(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "cooc_norm") {
      normalizedShares(RatingsGraph.cooccurrenceEdges(spark, dir)
        .select(col("u1").as("src"), col("u2").as("dst"),
          col("weight").cast("double")))
    }

  private def userCoocNodes(spark: SparkSession, dir: String): DataFrame =
    graft.Cache.cached(spark, dir, "cooc_nodes") {
      nodesOf(RatingsGraph.cooccurrenceEdges(spark, dir)
        .select(col("u1").as("src"), col("u2").as("dst")))
    }

  /** Fixed-iteration PageRank over the cached co-occurrence shares
    * (tol = 0 pins the count — the unrolled-CTE oracle's contract). */
  def userPageRankFixed(spark: SparkSession, dir: String,
      iterations: Int = 5): DataFrame =
    pageRankLoop(userCoocNorm(spark, dir), userCoocNodes(spark, dir),
      iterations, damping = 0.85, tol = 0.0)._1

  /** Equivalence gate for the CONVERGENT PageRank leg (the one entry
    * in the reference family whose exact values rode specs alone): the
    * convergent run's ranks at whatever iteration count it actually ran
    * must equal a tol = 0 fixed run AT THAT COUNT — the probe is a side
    * observation, so the two dataflows are the same arithmetic and any
    * divergence means the early-exit machinery corrupted values.
    * Compared at the 1e-6 rounding every rank consumer uses (raw
    * doubles can differ by reduction-order ulps across executions).
    * Output (n_nodes, n_mismatch, max_abs_diff): n_nodes is
    * independently SQL-checkable from the cooc projection; the zeros
    * are the gate. */
  def userPageRankConvergenceGate(spark: SparkSession, dir: String): DataFrame = {
    val norm = userCoocNorm(spark, dir)
    val nodes = userCoocNodes(spark, dir)
    // the convergent side IS the session-cached userPageRank build
    // (warm after the bench silver phase) — only the fixed replay runs
    // at query time
    val conv = userPageRank(spark, dir)
    val iters = userPageRankIters
      .get(s"${graft.Cache.sessionId(spark)}|$dir").intValue()
    val fixed = pageRankLoop(norm, nodes, iters, damping = 0.85, tol = 0.0)._1
    conv.join(fixed.withColumnRenamed("rank", "rank_fixed"), Seq("node_id"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(when(round(col("rank"), 6) =!= round(col("rank_fixed"), 6), 1L)
          .otherwise(0L)).as("n_mismatch"),
        max(abs(round(col("rank"), 6) - round(col("rank_fixed"), 6)))
          .as("max_abs_diff"))
      .select(col("n_nodes"), col("n_mismatch"),
        round(col("max_abs_diff"), 6).as("max_abs_diff"))
  }

  /** Personalized PageRank over the cached co-occurrence shares. */
  def userPersonalizedPageRank(spark: SparkSession, dir: String,
      sources: Seq[Long], iterations: Int = 5): DataFrame =
    pprLoop(userCoocNorm(spark, dir), userCoocNodes(spark, dir),
      sources, iterations, damping = 0.85)

  /** Rich-club profile: for each degree threshold k, the sub-graph
    * induced on nodes with degree > k — node count, edge count, and
    * density 2E/(N(N-1)). The network-science companion to
    * `degree_assortativity` (do hubs preferentially link to hubs?).
    *
    * Shape: both aggregates reduce to HISTOGRAM lookups — per-edge
    * min(end degrees) and per-node degree histograms (tiny: one row per
    * distinct degree), then each threshold sums its suffix via a
    * broadcast range join. The full edge set is scanned exactly once
    * regardless of how many thresholds are requested.
    *
    * `edges` carries BOTH directions of each undirected edge (the
    * co-occurrence projection contract). */
  def richClub(edges: DataFrame, thresholds: Seq[Int]): DataFrame = {
    require(thresholds.nonEmpty, "at least one threshold")
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src").as("node_id"))
      .agg(count(lit(1)).as("deg"))
    val canon = e.filter(col("src") < col("dst"))
    val edgeMinDeg = canon
      .join(deg.select(col("node_id").as("src"), col("deg").as("deg_a")), Seq("src"))
      .join(deg.select(col("node_id").as("dst"), col("deg").as("deg_b")), Seq("dst"))
      .select(least(col("deg_a"), col("deg_b")).as("min_deg"))
    val edgeHist = edgeMinDeg.groupBy(col("min_deg"))
      .agg(count(lit(1)).as("cnt"))
    val nodeHist = deg.groupBy(col("deg")).agg(count(lit(1)).as("cnt"))
    import spark.implicits._
    val ks = thresholds.sorted.toDF("k")
    val nodesK = ks.join(broadcast(nodeHist), col("deg") > col("k"), "left")
      .groupBy(col("k")).agg(sum(col("cnt")).as("n_nodes"))
    val edgesK = ks.join(broadcast(edgeHist), col("min_deg") > col("k"), "left")
      .groupBy(col("k")).agg(sum(col("cnt")).as("n_edges"))
    nodesK.join(edgesK, Seq("k"))
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("density",
        when(col("n_nodes") >= 2,
          round(col("n_edges").cast("double") * 2.0 /
            (col("n_nodes").cast("double") * (col("n_nodes").cast("double") - 1.0)), 6))
          .otherwise(lit(0.0)))
      .orderBy(col("k"))
  }

  /** Strongly connected components of a DIRECTED graph — the
    * Trim + forward-coloring / backward-closure algorithm (the standard
    * distributed SCC decomposition; Tarjan's stack is inherently
    * sequential, this is the dataflow re-expression):
    *
    *   1. TRIM to fixpoint: a node with no in-edge or no out-edge in
    *      the live subgraph is its own SCC — this removes the singleton
    *      mass (most real graphs are mostly acyclic) in a handful of
    *      cheap semi-join rounds before any propagation runs;
    *   2. forward MAX-color propagation to fixpoint: color(v) = max
    *      node id that reaches v; roots (color(v)=v) are the max
    *      members of their SCCs;
    *   3. backward closure within equal color: v joins SCC root c iff
    *      some out-neighbour w with color(w)=color(v)=c is already
    *      assigned — after the fixpoint the assigned set of root r is
    *      exactly {v : r→v and v→r};
    *   4. peel the assigned nodes, repeat from 1.
    *
    * Every phase is bounded label propagation (one hash join + aggregate
    * per round, linear in live edges); rounds are convergence-checked
    * against `maxInner`/`maxOuter` like the k-core peel. Labels are
    * re-canonicalised to the MIN member id at the end (one aggregate) so
    * the output is deterministic and matches the mutual-reachability
    * oracle's MIN-label contract. */
  def stronglyConnectedComponents(edgesIn: DataFrame, maxOuter: Int = 30,
      maxInner: Int = 100): DataFrame = {
    val spark = edgesIn.sparkSession
    // size-adaptive leg (the clusterClosure precedent): under the edge
    // threshold a driver-side iterative Tarjan labels SCCs in
    // milliseconds — the distributed peel below pays tens of shuffle
    // rounds that only amortise on graphs too big to collect. Both legs
    // label by MIN member, so rows are identical either way.
    var e = gatedInput(edgesIn.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct(), driverGate(spark, DriverGateDefault)) match {
      case Right(rows) =>
        import spark.implicits._
        return tarjanLocal(longPairs(rows)).toSeq.toDF("node_id", "scc_id")
      case Left(materialised) => freshStats(materialised) // see checkpointFresh
    }
    var active = checkpointFresh(
      e.select(col("src").as("node_id"))
        .unionByName(e.select(col("dst").as("node_id"))).distinct())
    // accumulated (node_id, scc_root) — roots are per-phase canonical
    // ids (self for trimmed nodes, max member for colored SCCs)
    var out: DataFrame = null
    def emit(df: DataFrame): Unit =
      out = if (out == null) checkpointFresh(df)
            else checkpointFresh(out.unionByName(df))
    var outer = 0
    var live = active.count()
    while (live > 0 && outer < maxOuter) {
      outer += 1
      // ---- 1. trim to fixpoint ----
      // one action per round: the checkpointed trimmed set's count both
      // decides convergence AND updates `live` (live -= trimmed) — the
      // previous isEmpty + active.count() pair paid two jobs per round
      var trimming = true
      var trimRound = 0
      while (trimming && live > 0 && trimRound < maxInner) {
        trimRound += 1
        val both = e.select(col("src").as("node_id")).distinct()
          .join(e.select(col("dst").as("node_id")).distinct(), Seq("node_id"))
        val trimmed = checkpointFresh(active.join(both, Seq("node_id"), "left_anti"))
        val nTrimmed = trimmed.count()
        if (nTrimmed == 0) trimming = false
        else {
          emit(trimmed.select(col("node_id"), col("node_id").as("scc_root")))
          active = checkpointFresh(active.join(both, Seq("node_id"), "left_semi"))
          e = checkpointFresh(e
            .join(active.select(col("node_id").as("src")), Seq("src"), "left_semi")
            .join(active.select(col("node_id").as("dst")), Seq("dst"), "left_semi")
            .select(col("src"), col("dst")))
          live -= nTrimmed
        }
      }
      if (live > 0) {
        // ---- 2. forward max-color fixpoint ----
        // convergence rides a `chg` flag computed INSIDE the round's own
        // projection, so the probe is a limit(1) scan of the round's
        // checkpoint — the previous next⋈color probe paid a full shuffle
        // join per round (the #1 driver-chatter line in the r5 bench)
        var color = active.select(col("node_id"), col("node_id").as("color"))
        var changed = true
        var it = 0
        while (changed && it < maxInner) {
          it += 1
          val pushed = e
            .join(color.select(col("node_id").as("src"), col("color").as("c_src")),
              Seq("src"))
            .groupBy(col("dst").as("node_id"))
            .agg(max(col("c_src")).as("cand"))
          val next = checkpointFresh(color.join(pushed, Seq("node_id"), "left")
            .select(col("node_id"),
              greatest(col("color"), coalesce(col("cand"), col("color")))
                .as("color"),
              (coalesce(col("cand"), col("color")) > col("color")).as("chg")))
          changed = next.filter(col("chg")).limit(1).count() > 0
          color = next.select(col("node_id"), col("color"))
        }
        if (changed)
          System.err.println(s"[graft] scc: forward coloring hit maxInner=$maxInner without converging")
        // ---- 3. backward closure within equal color ----
        var assigned = color.filter(col("color") === col("node_id"))
          .select(col("node_id"), col("node_id").as("scc_root"))
        var growing = true
        var it2 = 0
        while (growing && it2 < maxInner) {
          it2 += 1
          val fresh = e
            .join(assigned.select(col("node_id").as("dst"), col("scc_root")), Seq("dst"))
            .join(color.select(col("node_id").as("dst"), col("color").as("c_dst")),
              Seq("dst"))
            .join(color.select(col("node_id").as("src"), col("color").as("c_src")),
              Seq("src"))
            .filter(col("c_src") === col("c_dst") && col("c_dst") === col("scc_root"))
            .select(col("src").as("node_id"), col("scc_root")).distinct()
            .join(assigned.select(col("node_id")), Seq("node_id"), "left_anti")
          val freshChk = checkpointFresh(fresh)
          if (freshChk.isEmpty) growing = false
          else assigned = checkpointFresh(assigned.unionByName(freshChk))
        }
        emit(assigned)
        // ---- 4. peel ----
        active = checkpointFresh(
          active.join(assigned.select(col("node_id")), Seq("node_id"), "left_anti"))
        e = checkpointFresh(e
          .join(active.select(col("node_id").as("src")), Seq("src"), "left_semi")
          .join(active.select(col("node_id").as("dst")), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")))
        live = active.count()
      }
    }
    if (live > 0) {
      System.err.println(s"[graft] scc: maxOuter=$maxOuter exhausted with $live nodes unassigned")
      emit(active.select(col("node_id"), col("node_id").as("scc_root")))
    }
    // canonical MIN-member labels (coloring roots are MAX members)
    val relabel = out.groupBy(col("scc_root"))
      .agg(min(col("node_id")).as("scc_id"))
    out.join(relabel, Seq("scc_root"))
      .select(col("node_id"), col("scc_id"))
  }

  /** Iterative (explicit-stack — no recursion depth limit) Tarjan SCC,
    * the driver-side leg of [[stronglyConnectedComponents]]. Returns
    * (node, min-member-of-its-SCC) for every node incident to an edge —
    * the same universe and labelling as the distributed peel. */
  private[graph] def tarjanLocal(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    import scala.collection.mutable
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    val nodes = mutable.LinkedHashSet.empty[Long]
    edges.foreach { case (s, d) =>
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d
      nodes += s; nodes += d
    }
    val indexOf = mutable.HashMap.empty[Long, Int]
    val lowOf = mutable.HashMap.empty[Long, Int]
    val onStack = mutable.HashSet.empty[Long]
    val stack = mutable.ArrayBuffer.empty[Long]
    val comp = mutable.HashMap.empty[Long, Long]
    val noNbrs = mutable.ArrayBuffer.empty[Long]
    var counter = 0
    // DFS frames: (node, next-neighbour index) — mutated in place
    val frames = mutable.ArrayBuffer.empty[Array[Long]]
    def open(v: Long): Unit = {
      indexOf(v) = counter; lowOf(v) = counter; counter += 1
      stack += v; onStack += v; frames += Array(v, 0L)
    }
    nodes.foreach { root =>
      if (!indexOf.contains(root)) {
        open(root)
        while (frames.nonEmpty) {
          val fr = frames.last
          val v = fr(0)
          val nbrs = adj.getOrElse(v, noNbrs)
          if (fr(1) < nbrs.length) {
            val w = nbrs(fr(1).toInt)
            fr(1) += 1
            if (!indexOf.contains(w)) open(w)
            else if (onStack(w)) lowOf(v) = math.min(lowOf(v), indexOf(w))
          } else {
            frames.remove(frames.length - 1)
            if (frames.nonEmpty) {
              val p = frames.last(0)
              lowOf(p) = math.min(lowOf(p), lowOf(v))
            }
            if (lowOf(v) == indexOf(v)) {
              val members = mutable.ArrayBuffer.empty[Long]
              var done = false
              while (!done) {
                val w = stack.remove(stack.length - 1)
                onStack -= w; members += w
                if (w == v) done = true
              }
              val label = members.min
              members.foreach(comp(_) = label)
            }
          }
        }
      }
    }
    nodes.iterator.map(v => (v, comp(v))).toArray
  }

  /** SCC of the supply-return flow graph: customer→supplier for kept
    * full-quantity lineitems, supplier→customer for RETURNED ones
    * (l_returnflag = 'R') — cycles are customer/supplier groups coupled
    * through return flows. Disjoint node ids via the bipartite 2n/2n+1
    * trick. */
  def supplyChainScc(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
      .join(graft.Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_quantity") >= 50)
    val fwd = li.filter(col("l_returnflag") =!= "R")
      .select((col("o_custkey") * 2).cast("bigint").as("src"),
        (col("l_suppkey") * 2 + 1).cast("bigint").as("dst")).distinct()
    val bwd = li.filter(col("l_returnflag") === "R")
      .select((col("l_suppkey") * 2 + 1).cast("bigint").as("src"),
        (col("o_custkey") * 2).cast("bigint").as("dst")).distinct()
    stronglyConnectedComponents(fwd.unionByName(bwd))
      .orderBy(col("node_id"))
  }

  /** Rich-club profile of the user co-occurrence graph. */
  def userRichClub(spark: SparkSession, dir: String,
      thresholds: Seq[Int] = Seq(1, 2, 4, 8, 16, 32, 64)): DataFrame =
    richClub(
      RatingsGraph.cooccurrenceEdges(spark, dir)
        .select(col("u1").as("src"), col("u2").as("dst")),
      thresholds)
}
