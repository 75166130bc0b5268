package graft.gds

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cypher.CypherLite

/** The GDS graph-catalog lifecycle + the three write procedures the
  * reference drives — the last "missing" row of the r7 verdict: a
  * reference user's full workflow (`Alg_KNN_FastRP.py:10-116`,
  * `Alg_Community_Detection.py:15-52`) is project → write → drop, and
  * this twins it over the engine's property frames so that workflow
  * runs end to end next to CypherLoad (load) and CypherLite (read).
  *
  * A projection is a NAMED pair of frames in an in-memory catalog —
  * the warehouse-native analog of GDS's in-memory graph: `nodes(id,
  * props…)` and `rels(src, dst, props…)` with UNDIRECTED stored as
  * both directions (the GDS convention every engine algorithm already
  * expects). Multi-label projections encode node ids as
  * `id × L + labelIndex` — exactly the engine's bipartite convention
  * (`Algorithms.bipartiteEdges`: user → 2·id, book → 2·id + 1), so
  * `fastRpWrite` over the reference's `['User','Book']`/RATED
  * projection is frame-identical to the session-cached
  * `FastRP.userEmbeddings` path (spec-proved).
  *
  * Write procedures MUTATE the session's `db` the way GDS writes
  * properties back to Neo4j: `fastRpWrite` adds the embedding property
  * to every projected label's node frame, `knnWrite` installs the
  * SIMILAR_TO edge frame, `louvainWrite` adds the community property —
  * each returning its YIELD row as a one-row DataFrame with GDS's
  * column names. All heavy lifting delegates to the existing oracled
  * operators (FastRP.embed, Lsh.scoredPairs/knnFromScoredRaw,
  * Louvain.louvain, Algorithms.modularity) — the catalog is routing,
  * not a second implementation. */
final class GdsSession(initial: CypherLite.Graph) {

  /** The mutable database the write procedures update — node frames
    * keyed by label (key column `id`), edge frames keyed by type. */
  @volatile var db: CypherLite.Graph = initial

  /** `mutRels` holds relationship frames added by `.mutate` procedures
    * (GDS mutates the in-memory graph, not the store); `relType` is the
    * projected base type ("" for cypher projections, which carry none). */
  final case class Projection(labels: Seq[String], nodes: DataFrame,
      rels: DataFrame, relType: String = "",
      mutRels: Map[String, DataFrame] = Map.empty)

  private val projections = TrieMap.empty[String, Projection]

  private def spark: SparkSession =
    (db.nodes.values ++ db.edges.values).headOption
      .map(_.sparkSession)
      .getOrElse(sys.error("empty graph: no session to plan on"))

  private def metaLong(cols: (String, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    cols match {
      case Seq((n1, v1)) => Seq(v1).toDF(n1)
      case Seq((n1, v1), (n2, v2)) => Seq((v1, v2)).toDF(n1, n2)
      case Seq((n1, v1), (n2, v2), (n3, v3)) =>
        Seq((v1, v2, v3)).toDF(n1, n2, n3)
      case _ => sys.error("unsupported meta arity")
    }
  }

  /** `gds.graph.project(name, [labels], {TYPE: {orientation,
    * properties}})` (`Alg_KNN_FastRP.py:36-49,83-97`). `srcLabel` /
    * `dstLabel` bind the relationship endpoints (GDS infers them from
    * store topology; the frames don't carry labels) — defaults cover
    * both reference projections (`['User','Book']`/RATED and
    * `['User']`/DUMMY). Node ids encode as id·L + labelIndex. A rel
    * type absent from the db projects the empty edge set (the
    * reference's DUMMY type before any dummy edges exist). */
  def graphProject(name: String, nodeLabels: Seq[String], relType: String,
      orientation: String = "UNDIRECTED",
      relProperties: Seq[String] = Nil,
      nodeProperties: Seq[String] = Nil,
      srcLabel: Option[String] = None,
      dstLabel: Option[String] = None): DataFrame = {
    require(!projections.contains(name),
      s"graph '$name' already exists (gds.graph.project fails on dup)")
    val labs = nodeLabels
    val l = labs.length.toLong
    def enc(label: String, c: org.apache.spark.sql.Column) =
      c * lit(l) + lit(labs.indexOf(label).toLong)
    val nodes = labs.map { lab =>
      val base = db.nodes.getOrElse(lab, sys.error(s"unknown label $lab"))
      val keep = nodeProperties.filter(base.columns.contains)
      base.select(enc(lab, col("id")).as("id") +: keep.map(col): _*)
    }.reduce(_ unionByName _)
    val sLab = srcLabel.getOrElse(labs.head)
    val dLab = dstLabel.getOrElse(labs.last)
    val rels0 = db.edges.get(relType) match {
      case Some(e) =>
        e.select(Seq(enc(sLab, col("src")).as("src"),
          enc(dLab, col("dst")).as("dst")) ++ relProperties.map(col): _*)
      case None =>
        nodes.limit(0).select(Seq(col("id").as("src"), col("id").as("dst")) ++
          relProperties.map(n => lit(null).cast("double").as(n)): _*)
    }
    val rels =
      if (orientation.equalsIgnoreCase("UNDIRECTED"))
        rels0.unionByName(rels0
          .withColumnRenamed("src", "_s").withColumnRenamed("dst", "src")
          .withColumnRenamed("_s", "dst").select(rels0.columns.map(col): _*))
      else rels0
    // materialise once: project() already pays an eager count of both
    // frames for the YIELD row, and every write procedure re-reads them
    // — without the checkpoint each consumer re-plans the projection
    val p = Projection(labs, nodes.localCheckpoint(), rels.localCheckpoint(),
      relType)
    projections.put(name, p)
    val s = spark
    import s.implicits._
    Seq((name, p.nodes.count(), p.rels.count()))
      .toDF("graphName", "nodeCount", "relationshipCount")
  }

  /** `gds.graph.project.cypher(name, nodeQuery, relQuery)`
    * (`Alg_Community_Detection.py:20-31`): both queries COMPILE via
    * CypherLite against the db — the node query must return `id`, the
    * rel query `source, target[, weight…]`. No id encoding: the
    * queries define the id space themselves. */
  def graphProjectCypher(name: String, nodeQuery: String,
      relQuery: String): DataFrame = {
    require(!projections.contains(name), s"graph '$name' already exists")
    val nodes = CypherLite.run(db, nodeQuery)
    require(nodes.columns.contains("id"), "node query must return `id`")
    val rels0 = CypherLite.run(db, relQuery)
    require(Seq("source", "target").forall(rels0.columns.contains),
      "rel query must return `source`, `target`")
    val rels = rels0.withColumnRenamed("source", "src")
      .withColumnRenamed("target", "dst")
    // the cypher rel query is typically a self-join (the reference's is
    // the co-rating projection) — checkpoint so the count here, louvain,
    // and the modularity pass don't each re-run it
    val p = Projection(Nil, nodes.localCheckpoint(), rels.localCheckpoint())
    projections.put(name, p)
    val s = spark
    import s.implicits._
    Seq((name, p.nodes.count(), p.rels.count()))
      .toDF("graphName", "nodeCount", "relationshipCount")
  }

  /** `gds.graph.exists(name) YIELD exists`. */
  def graphExists(name: String): DataFrame = {
    val s = spark
    import s.implicits._
    Seq(projections.contains(name)).toDF("exists")
  }

  /** `gds.graph.drop(name) YIELD graphName` — fails on a missing
    * graph, like GDS. */
  def graphDrop(name: String): DataFrame = {
    require(projections.remove(name).isDefined,
      s"graph '$name' does not exist")
    val s = spark
    import s.implicits._
    Seq(name).toDF("graphName")
  }

  /** The reference's delete_existing_graph cascade
    * (`Alg_KNN_FastRP.py:10-25`: exists → apoc.do.when → drop). */
  def graphDropIfExists(name: String): DataFrame = {
    val s = spark
    import s.implicits._
    if (projections.remove(name).isDefined) Seq(name).toDF("graphName")
    else Seq("Graph was not present").toDF("graphName")
  }

  /** `gds.graph.list()`-lite: (graphName) rows. */
  def graphList(): DataFrame = {
    val s = spark
    import s.implicits._
    projections.keys.toSeq.sorted.toDF("graphName")
  }

  /** `gds.graph.export(name, {…})` — GDS exports the in-memory graph
    * (projected topology PLUS everything `.mutate` added) to a new
    * database; the Spark-native sink is parquet: `<path>/nodes` (the
    * projection's node frame — encoded `id` first, then every node
    * property, mutated ones included) and `<path>/relationships`
    * (`relationshipType`, `src`, `dst`, then rel properties; `.mutate`
    * relationship types union in by name with nulls where a property
    * doesn't apply). YIELDs (graphName, nodeCount, relationshipCount,
    * relationshipTypeCount, nodePropertyCount) like the GDS row.
    *
    * Scale: both writes are plain partition-parallel `DataFrame.write`
    * — columnar, splittable, no driver funnel — so a 1000-executor
    * cluster exports a 100 TB projection at full write bandwidth; the
    * union of mutated rel types stays a metadata-only concat. */
  def graphExport(graphName: String, path: String): DataFrame = {
    val p = projOf(graphName)
    val relType = if (p.relType.nonEmpty) p.relType else "REL"
    val baseRels = p.rels.select(
      lit(relType).as("relationshipType") +: p.rels.columns.map(col)
        .toIndexedSeq: _*)
    val rels = p.mutRels.toSeq.sortBy(_._1).foldLeft(baseRels) {
      case (acc, (t, f)) =>
        acc.unionByName(
          f.select(lit(t).as("relationshipType") +: f.columns.map(col)
            .toIndexedSeq: _*),
          allowMissingColumns = true)
    }
    p.nodes.write.mode("overwrite").parquet(s"$path/nodes")
    rels.write.mode("overwrite").parquet(s"$path/relationships")
    val s = spark
    import s.implicits._
    // self-describing export (r12): a one-row metadata sidecar carrying
    // what the parquet schemas cannot — the label universe and which
    // relationshipType is the BASE projection vs a `.mutate` addition —
    // so graphImport needs no caller-restated arguments (GDS's own
    // export is self-describing). Written/read as a Spark json dataset:
    // no hand-rolled parser, works on any Hadoop-compatible path.
    Seq((p.labels, relType, p.mutRels.keys.toSeq.sorted))
      .toDF("labels", "relType", "mutatedRelTypes")
      .coalesce(1).write.mode("overwrite").json(s"$path/manifest")
    Seq((graphName, p.nodes.count(), rels.count(),
        (1 + p.mutRels.size).toLong, (p.nodes.columns.length - 1).toLong))
      .toDF("graphName", "nodeCount", "relationshipCount",
        "relationshipTypeCount", "nodePropertyCount")
  }

  /** The import twin of [[graphExport]] — registers a NEW projection
    * from an exported parquet directory (`<path>/nodes` +
    * `<path>/relationships`), closing the one-way interchange the r10
    * verdict flagged: export → import → stream ≡ original (spec-pinned,
    * including mutated node properties, which ride the nodes frame
    * as-is). Every relationshipType beyond the base rehydrates into
    * `mutRels` (where `.mutate` procedures put it pre-export). Labels
    * and the base relationshipType come from the export's
    * `manifest.json` sidecar (r12 — the export is self-describing like
    * GDS's own), so a round trip restates NOTHING; explicit `labels` /
    * `relType` arguments override the manifest, and a manifest-less
    * directory (pre-r12 export, foreign parquet) falls back to the old
    * contract: caller-stated labels, alphabetically first type as base.
    * Union-widening at export may have added all-null property columns
    * to frames that never carried them; they import as-written (nulls
    * don't perturb topology or property streams). */
  def graphImport(graphName: String, path: String,
      labels: Seq[String] = Nil,
      relType: Option[String] = None): DataFrame = {
    require(!projections.contains(graphName),
      s"graph '$graphName' already exists")
    val s = spark
    val manifest: Option[org.apache.spark.sql.Row] =
      try Some(s.read.json(s"$path/manifest").head())
      catch { case _: Exception => None }
    def manifestLabels: Seq[String] = manifest.toSeq.flatMap { m =>
      // an empty labels array may infer as a non-string element type —
      // read defensively: absent/empty both mean "no label encoding"
      try m.getAs[scala.collection.Seq[String]]("labels").toSeq
      catch { case _: Exception => Nil }
    }
    val effLabels = if (labels.nonEmpty) labels else manifestLabels
    val nodes = s.read.parquet(s"$path/nodes").localCheckpoint()
    val relsAll = s.read.parquet(s"$path/relationships").localCheckpoint()
    val types = relsAll.select(col("relationshipType")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    require(types.nonEmpty, s"no relationships at $path/relationships")
    val base = relType
      .orElse(manifest.map(_.getAs[String]("relType")))
      .getOrElse(types.head)
    require(types.contains(base),
      s"relationshipType '$base' not in export (carried: ${types.mkString(", ")})")
    def ofType(t: String) =
      relsAll.filter(col("relationshipType") === t).drop("relationshipType")
        .localCheckpoint()
    val p = Projection(effLabels, nodes, ofType(base), base,
      (types.toSet - base).map(t => t -> ofType(t)).toMap)
    projections.put(graphName, p)
    import s.implicits._
    Seq((graphName, p.nodes.count(), relsAll.count()))
      .toDF("graphName", "nodeCount", "relationshipCount")
  }

  /** `gds.graph.sample.rwr(to, from, {startNode, samplingRatio})` —
    * GDS's random-walk-with-restarts subgraph sampler: cut a
    * representative slice of a graph too big to process whole,
    * registered as a NEW named projection. Routes onto the engine's
    * deterministic RWR kernel (md5 hash-draw walkers — the `rwr_sample`
    * oracle's exact machinery), keeps the `ceil(ratio·|V|)`
    * most-visited nodes (visit-count desc, node-id tiebreak; bounded by
    * the fixed walker×step budget — a DOCUMENTED deviation from GDS's
    * walk-until-ratio loop: the budget keeps driver state O(walkers)
    * and the whole draw replayable), and induces the subgraph
    * (both-endpoint semi-joins — two hash joins, no shuffle of the
    * node payload). YIELDs the GDS row. */
  def graphSampleRwr(graphName: String, fromGraphName: String,
      startNode: Long, samplingRatio: Double = 0.5,
      walkers: Int = 6, steps: Int = 6): DataFrame = {
    require(!projections.contains(graphName),
      s"graph '$graphName' already exists")
    require(samplingRatio > 0 && samplingRatio <= 1.0,
      s"samplingRatio must be in (0, 1], got $samplingRatio")
    val p = projOf(fromGraphName)
    val visits = graft.graph.Algorithms.rwrSample(
      p.rels.select(col("src"), col("dst")), startNode, walkers, steps,
      symmetric = true) // projections store their orientation explicitly
    val target = math.max(1L,
      math.ceil(samplingRatio * p.nodes.count()).toLong)
    // Dataset.limit takes an Int — fail loudly instead of silently
    // truncating a >2³¹ sample target (a >2³¹-node ratio'd projection
    // should raise walkers/steps and sample in shards anyway)
    require(target <= Int.MaxValue,
      s"sample target $target exceeds Int.MaxValue (limit() bound); " +
        "lower samplingRatio or sample in shards")
    val sampled = visits
      .orderBy(col("n_visits").desc, col("node_id"))
      .limit(target.toInt)
      .select(col("node_id").as("id"))
    val nodes = p.nodes.join(sampled, Seq("id"), "left_semi")
      .localCheckpoint()
    val rels = p.rels
      .join(nodes.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(nodes.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select(p.rels.columns.map(col).toIndexedSeq: _*)
      .localCheckpoint()
    projections.put(graphName, Projection(p.labels, nodes, rels, p.relType))
    val s = spark
    import s.implicits._
    // nodeCount vs targetNodeCount makes UNDERSAMPLING visible at the
    // call site: the fixed walkers×steps budget can visit fewer
    // distinct nodes than ceil(ratio·|V|) (documented deviation from
    // GDS's walk-until-ratio loop) — without the target column a
    // silent shortfall looks like a satisfied ratio
    Seq((graphName, fromGraphName, nodes.count(), target, rels.count(), 1L))
      .toDF("graphName", "fromGraphName", "nodeCount", "targetNodeCount",
        "relationshipCount", "startNodeCount")
  }

  /** `gds.fastRP.write(name, {writeProperty, embeddingDimension})`
    * (`Alg_KNN_FastRP.py:63-76`): FastRP over the projection's rels
    * (weight = `relationshipWeightProperty`, 1.0 when absent — the
    * reference projection carries `rating`), embeddings decoded back
    * per label and written onto the db node frames. YIELDs
    * nodePropertiesWritten.
    *
    * `precomputed` is the materialised-silver reuse seam: a caller that
    * already holds the (node_id, embedding) frame over this projection's
    * ENCODED id space — e.g. the session-cached
    * `FastRP.bipartiteEmbeddings`, spec-proved frame-identical to the
    * in-workflow build — hands it in and the embed step is skipped, the
    * way GDS itself reuses a mutated in-memory graph. The decode +
    * write-back bookkeeping runs either way. */
  def fastRpWrite(graphName: String, writeProperty: String = "embedding",
      embeddingDimension: Int = 64,
      relationshipWeightProperty: Option[String] = Some("rating"),
      precomputed: Option[DataFrame] = None): DataFrame = {
    val p = projections.getOrElse(graphName,
      sys.error(s"graph '$graphName' does not exist"))
    val emb = fastRpEmbedOf(p, embeddingDimension,
      relationshipWeightProperty, precomputed)
    val l = math.max(p.labels.length, 1).toLong
    var written = 0L
    val updated = p.labels.zipWithIndex.foldLeft(db.nodes) {
      case (nodes, (lab, i)) =>
        val labEmb = emb.filter(pmod(col("node_id"), lit(l)) === i.toLong)
          .select(((col("node_id") - i.toLong) / l).cast("bigint").as("id"),
            col("embedding").as(writeProperty))
        written += labEmb.count()
        val base = nodes(lab).drop(writeProperty)
        nodes + (lab -> base.join(labEmb, Seq("id"), "left"))
    }
    db = db.copy(nodes = updated)
    metaLong("nodePropertiesWritten" -> written)
  }

  /** The FastRP frame all three fastRP modes share: (node_id,
    * embedding) over the projection's ENCODED id space. */
  private def fastRpEmbedOf(p: Projection, embeddingDimension: Int,
      relationshipWeightProperty: Option[String],
      precomputed: Option[DataFrame]): DataFrame = {
    val weight = relationshipWeightProperty
      .filter(p.rels.columns.contains)
      .map(col).getOrElse(lit(1.0))
    precomputed.getOrElse(graft.graph.FastRP.embed(
      p.rels.select(col("src"), col("dst"), weight.cast("double").as("weight")),
      embeddingDimension))
  }

  /** `gds.fastRP.stream(name, {...}) YIELD nodeId, embedding` — the
    * write mode's frame handed back as rows instead of mutated into the
    * db; `nodeId` is the projection's internal (encoded) id, exactly
    * GDS's stream contract. Spec-proved row-identical to the write
    * path's read-back. */
  def fastRpStream(graphName: String, embeddingDimension: Int = 64,
      relationshipWeightProperty: Option[String] = Some("rating"),
      precomputed: Option[DataFrame] = None): DataFrame = {
    val p = projections.getOrElse(graphName,
      sys.error(s"graph '$graphName' does not exist"))
    fastRpEmbedOf(p, embeddingDimension, relationshipWeightProperty, precomputed)
      .select(col("node_id").as("nodeId"), col("embedding"))
  }

  /** `gds.fastRP.stats(name, {...}) YIELD nodeCount` — the estimate/
    * dry-run mode: same compute graph, scalar YIELD, no db mutation. */
  def fastRpStats(graphName: String, embeddingDimension: Int = 64,
      relationshipWeightProperty: Option[String] = Some("rating"),
      precomputed: Option[DataFrame] = None): DataFrame = {
    val p = projections.getOrElse(graphName,
      sys.error(s"graph '$graphName' does not exist"))
    metaLong("nodeCount" ->
      fastRpEmbedOf(p, embeddingDimension, relationshipWeightProperty,
        precomputed).count())
  }

  /** `gds.knn.write(name, {nodeProperties, topK, similarityCutoff,
    * writeRelationshipType, writeProperty})`
    * (`Alg_KNN_FastRP.py:99-116`): cosine KNN over the projection
    * nodes' embedding property at the GDS operating point — similarity
    * normalised to (1 + cos)/2, cutoff on that scale, top-k per node —
    * the exact transform `Algorithms.userKnnEdgesRef` pins. Writes the
    * SIMILAR_TO edge frame into the db. Single-label projections only
    * (the reference's is `['User']`). */
  def knnWrite(graphName: String, nodeProperty: String = "embedding",
      topK: Int = 5, similarityCutoff: Double = 0.8,
      writeRelationshipType: String = "SIMILAR_TO",
      writeProperty: String = "similarity",
      embeddingDimension: Int = 64,
      precomputedScored: Option[DataFrame] = None): DataFrame = {
    val (nodesCompared, sims) = knnEdgesOf(graphName, nodeProperty, topK,
      similarityCutoff, embeddingDimension, precomputedScored)
    val edges = sims
      .select(col("src"), col("dst"), col("similarity").as(writeProperty))
      .localCheckpoint()
    db = db.copy(edges = db.edges + (writeRelationshipType -> edges))
    metaLong("nodesCompared" -> nodesCompared,
      "relationshipsWritten" -> edges.count())
  }

  /** The KNN edge frame all three knn modes share: (src, dst,
    * similarity) at the GDS operating point — similarity normalised to
    * (1 + cos)/2, cutoff on that scale, top-k per node — plus the
    * nodesCompared count the YIELD rows report. */
  private def knnEdgesOf(graphName: String, nodeProperty: String, topK: Int,
      similarityCutoff: Double, embeddingDimension: Int,
      precomputedScored: Option[DataFrame]): (Long, DataFrame) = {
    val p = projections.getOrElse(graphName,
      sys.error(s"graph '$graphName' does not exist"))
    require(p.labels.length <= 1,
      "knn modes expect a single-label projection (the reference's shape)")
    // GDS reads node properties from the in-memory graph: prefer the
    // projection's own frame when it carries the property (projected at
    // project() time, or added by fastRP.mutate); fall back to the db
    // label frame for the write-then-reproject workflow shape
    val withEmb = (if (p.nodes.columns.contains(nodeProperty)) p.nodes
      else p.labels.headOption.map(lab => db.nodes(lab)).getOrElse(p.nodes))
      .select(col("id"), col(nodeProperty))
      .filter(col(nodeProperty).isNotNull)
    val nodesCompared = withEmb.count()
    // precomputedScored: the (id_a, id_b, cosine) scored-pair silver
    // over the same ids/embeddings (Algorithms.userScoredPairs for the
    // reference projection — spec-proved identical); the banding +
    // scoring is the dominant cost, shared instead of rebuilt
    val scored = precomputedScored.getOrElse(
      graft.ann.Lsh.scoredPairs(withEmb, "id", nodeProperty,
        embeddingDimension))
    val sims = graft.ann.Lsh.knnFromScoredRaw(
        scored, topK, cutoff = 2 * similarityCutoff - 1)
      .withColumn("similarity", round((col("similarity") + 1) / 2, 6))
      .select(col("src"), col("dst"), col("similarity"))
    (nodesCompared, sims)
  }

  /** `gds.knn.stream(name, {...}) YIELD node1, node2, similarity` —
    * the write mode's edge frame as rows, GDS's stream column names,
    * no db mutation. Spec-proved row-identical to the installed
    * SIMILAR_TO frame. */
  def knnStream(graphName: String, nodeProperty: String = "embedding",
      topK: Int = 5, similarityCutoff: Double = 0.8,
      embeddingDimension: Int = 64,
      precomputedScored: Option[DataFrame] = None): DataFrame =
    knnEdgesOf(graphName, nodeProperty, topK, similarityCutoff,
      embeddingDimension, precomputedScored)._2
      .select(col("src").as("node1"), col("dst").as("node2"),
        col("similarity"))

  /** `gds.knn.stats(name, {...}) YIELD nodesCompared, similarityPairs`. */
  def knnStats(graphName: String, nodeProperty: String = "embedding",
      topK: Int = 5, similarityCutoff: Double = 0.8,
      embeddingDimension: Int = 64,
      precomputedScored: Option[DataFrame] = None): DataFrame = {
    val (nodesCompared, sims) = knnEdgesOf(graphName, nodeProperty, topK,
      similarityCutoff, embeddingDimension, precomputedScored)
    metaLong("nodesCompared" -> nodesCompared,
      "similarityPairs" -> sims.count())
  }

  /** `gds.louvain.write(name, {writeProperty,
    * relationshipWeightProperty}) YIELD communityCount, modularity`
    * (`Alg_Community_Detection.py:39-52`): Louvain over the
    * projection's rels, labels written onto every db label whose ids
    * appear (the cypher projection's id space is the raw node id). */
  def louvainWrite(graphName: String, writeProperty: String = "community",
      relationshipWeightProperty: Option[String] = Some("weight"),
      writeLabel: String = "User",
      precomputedLabels: Option[DataFrame] = None): DataFrame = {
    val (labels, q) = louvainLabelsOf(graphName, relationshipWeightProperty,
      precomputedLabels)
    val base = db.nodes(writeLabel).drop(writeProperty)
    db = db.copy(nodes = db.nodes + (writeLabel ->
      base.join(labels.select(col("node_id").as("id"),
        col("community").as(writeProperty)), Seq("id"), "left")))
    val s = spark
    import s.implicits._
    Seq((labels.select(col("community")).distinct().count(),
        if (q.isNullAt(1)) 0.0 else q.getDouble(1)))
      .toDF("communityCount", "modularity")
  }

  /** The (labels, modularity row) pair all three louvain modes share.
    * precomputedLabels: the (node_id, community) silver over the same
    * projection (Louvain.userCommunities for the reference's co-rating
    * projection — spec-proved identical); modularity still runs against
    * THIS projection's edges. */
  private def louvainLabelsOf(graphName: String,
      relationshipWeightProperty: Option[String],
      precomputedLabels: Option[DataFrame])
      : (DataFrame, org.apache.spark.sql.Row) = {
    val p = projections.getOrElse(graphName,
      sys.error(s"graph '$graphName' does not exist"))
    val weight = relationshipWeightProperty
      .filter(p.rels.columns.contains)
      .map(col).getOrElse(lit(1.0))
    val edges = p.rels.select(col("src"), col("dst"),
      weight.cast("double").as("weight"))
    val labels = precomputedLabels.getOrElse(
      graft.graph.Louvain.louvain(edges, assumeGrouped = true))
      .localCheckpoint()
    val q = graft.graph.Algorithms.modularity(edges,
        labels.select(col("node_id"), col("community").as("label")))
      .head()
    (labels, q)
  }

  /** `gds.louvain.stream(name, {...}) YIELD nodeId, communityId` — the
    * label frame as rows, no db mutation. Spec-proved row-identical to
    * the write path's read-back. */
  def louvainStream(graphName: String,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputedLabels: Option[DataFrame] = None): DataFrame =
    louvainLabelsOf(graphName, relationshipWeightProperty,
      precomputedLabels)._1
      .select(col("node_id").as("nodeId"), col("community").as("communityId"))

  /** `gds.louvain.stats(name, {...}) YIELD communityCount, modularity`
    * — the write mode's YIELD row without the write. */
  def louvainStats(graphName: String,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputedLabels: Option[DataFrame] = None): DataFrame = {
    val (labels, q) = louvainLabelsOf(graphName, relationshipWeightProperty,
      precomputedLabels)
    val s = spark
    import s.implicits._
    Seq((labels.select(col("community")).distinct().count(),
        if (q.isNullAt(1)) 0.0 else q.getDouble(1)))
      .toDF("communityCount", "modularity")
  }

  // ————— mutate modes: results land on the IN-MEMORY projection (the
  // GDS mutate contract — downstream procedures over the same graph see
  // them; the db is untouched) —————

  private def projOf(name: String): Projection =
    projections.getOrElse(name, sys.error(s"graph '$name' does not exist"))

  /** Join a (node_id, value) result onto the projection's node frame as
    * `mutateProperty` (node_id is the projection's own id space — no
    * label decode, exactly GDS's in-memory property). Returns the
    * property count (the mutate YIELD's nodePropertiesWritten). */
  private def mutateNodeProp(name: String, frame: DataFrame,
      mutateProperty: String): Long = {
    val p = projOf(name)
    val f = frame.toDF("id", mutateProperty).localCheckpoint()
    val n = f.count()
    projections.put(name, p.copy(nodes =
      p.nodes.drop(mutateProperty).join(f, Seq("id"), "left")
        .localCheckpoint()))
    n
  }

  /** `gds.fastRP.mutate(name, {mutateProperty, ...}) YIELD
    * nodePropertiesWritten` — embeddings onto the projection (ENCODED
    * ids), so a downstream `knn` over this graph reads them without a
    * write → re-project round-trip. */
  def fastRpMutate(graphName: String, mutateProperty: String = "embedding",
      embeddingDimension: Int = 64,
      relationshipWeightProperty: Option[String] = Some("rating"),
      precomputed: Option[DataFrame] = None): DataFrame = {
    val emb = fastRpEmbedOf(projOf(graphName), embeddingDimension,
      relationshipWeightProperty, precomputed)
    metaLong("nodePropertiesWritten" ->
      mutateNodeProp(graphName, emb.select(col("node_id"), col("embedding")),
        mutateProperty))
  }

  /** `gds.knn.mutate(name, {mutateRelationshipType, mutateProperty,
    * ...}) YIELD nodesCompared, relationshipsWritten` — the SIMILAR_TO
    * frame onto the projection's relationship set (readable via
    * [[graphRelationshipsStream]]), db untouched. */
  def knnMutate(graphName: String, nodeProperty: String = "embedding",
      topK: Int = 5, similarityCutoff: Double = 0.8,
      mutateRelationshipType: String = "SIMILAR_TO",
      mutateProperty: String = "similarity",
      embeddingDimension: Int = 64,
      precomputedScored: Option[DataFrame] = None): DataFrame = {
    val (nodesCompared, sims) = knnEdgesOf(graphName, nodeProperty, topK,
      similarityCutoff, embeddingDimension, precomputedScored)
    val edges = sims
      .select(col("src"), col("dst"), col("similarity").as(mutateProperty))
      .localCheckpoint()
    val p = projOf(graphName)
    projections.put(graphName,
      p.copy(mutRels = p.mutRels + (mutateRelationshipType -> edges)))
    metaLong("nodesCompared" -> nodesCompared,
      "relationshipsWritten" -> edges.count())
  }

  /** `gds.louvain.mutate(name, {mutateProperty}) YIELD communityCount,
    * modularity` — community labels onto the projection nodes. */
  def louvainMutate(graphName: String, mutateProperty: String = "community",
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputedLabels: Option[DataFrame] = None): DataFrame = {
    val (labels, q) = louvainLabelsOf(graphName, relationshipWeightProperty,
      precomputedLabels)
    mutateNodeProp(graphName,
      labels.select(col("node_id"), col("community")), mutateProperty)
    val s = spark
    import s.implicits._
    Seq((labels.select(col("community")).distinct().count(),
        if (q.isNullAt(1)) 0.0 else q.getDouble(1)))
      .toDF("communityCount", "modularity")
  }

  // ————— graph-catalog streamers (`gds.graph.nodeProperties.stream` /
  // `gds.graph.relationships.stream`): the observability procedures
  // that make projected + mutated state readable without a write —————

  /** `gds.graph.nodeProperties.stream(name, property) YIELD nodeId,
    * propertyValue` — from the projection frame (projected or mutated
    * properties; ids are the projection's internal space). */
  def graphNodePropertiesStream(graphName: String,
      nodeProperty: String): DataFrame = {
    val p = projOf(graphName)
    require(p.nodes.columns.contains(nodeProperty),
      s"projection carries no node property '$nodeProperty'")
    p.nodes.filter(col(nodeProperty).isNotNull)
      .select(col("id").as("nodeId"), col(nodeProperty).as("propertyValue"))
  }

  /** `gds.graph.relationships.stream(name[, type]) YIELD sourceNodeId,
    * targetNodeId, relationshipType` — base projected rels plus every
    * mutated relationship frame; `relationshipType` filters to one. */
  def graphRelationshipsStream(graphName: String,
      relationshipType: Option[String] = None): DataFrame = {
    val p = projOf(graphName)
    val all = (Seq(p.relType ->
        p.rels.select(col("src"), col("dst"))) ++
      p.mutRels.toSeq.map { case (t, f) =>
        t -> f.select(col("src"), col("dst")) })
      .filter { case (t, _) => relationshipType.forall(_ == t) }
    require(all.nonEmpty,
      s"projection carries no relationship type '${relationshipType.get}'")
    all.map { case (t, f) =>
      f.select(col("src").as("sourceNodeId"), col("dst").as("targetNodeId"),
        lit(t).as("relationshipType"))
    }.reduce(_ unionByName _)
  }

  /** `gds.graph.nodeProperties.write(name, [properties]) YIELD
    * propertiesWritten` — in-memory node properties (projected or
    * `.mutate`-added) pushed back to the db, decoded per label by the
    * same fold every `.write` procedure uses. The GDS idiom this
    * completes: `algo.mutate → … → nodeProperties.write` — compute a
    * whole chain in memory, persist ONCE at the end (one db write
    * instead of per-procedure write→re-project round-trips — the
    * pattern that matters when the store write is a 100 TB sink). */
  def graphNodePropertiesWrite(graphName: String,
      nodeProperties: Seq[String], writeLabel: String = "User"): DataFrame = {
    val p = projOf(graphName)
    val written = nodeProperties.map { prop =>
      require(p.nodes.columns.contains(prop),
        s"projection carries no node property '$prop'")
      writeNodeProp(p,
        p.nodes.filter(col(prop).isNotNull).select(col("id"), col(prop)),
        prop, writeLabel)
    }.sum
    metaLong("propertiesWritten" -> written)
  }

  /** `gds.graph.relationships.write(name, relationshipType) YIELD
    * relationshipsWritten` — a `.mutate`-added relationship frame
    * installed into the db edge store; multi-label endpoints decode to
    * raw per-label ids + label columns (the write-back-to-original-ids
    * contract [[nodeSimilarityWrite]] pins). */
  def graphRelationshipsWrite(graphName: String,
      relationshipType: String): DataFrame = {
    val p = projOf(graphName)
    val raw = p.mutRels.getOrElse(relationshipType, sys.error(
      s"projection carries no mutated relationship type '$relationshipType'"))
    val edges = (if (p.labels.length > 1) {
      val l = p.labels.length.toLong
      val labArr = array(p.labels.map(lit): _*)
      def decId(c: org.apache.spark.sql.Column) =
        ((c - pmod(c, lit(l))) / lit(l)).cast("bigint")
      def labOf(c: org.apache.spark.sql.Column) =
        element_at(labArr, (pmod(c, lit(l)) + 1).cast("int"))
      raw.select(Seq(decId(col("src")).as("src"),
        labOf(col("src")).as("srcLabel"),
        decId(col("dst")).as("dst"), labOf(col("dst")).as("dstLabel")) ++
        raw.columns.filterNot(c => c == "src" || c == "dst").map(col): _*)
    } else raw).localCheckpoint()
    db = db.copy(edges = db.edges + (relationshipType -> edges))
    metaLong("relationshipsWritten" -> edges.count())
  }

  // ————— algorithm breadth: the GDS procedures a reference user would
  // reach for next (wcc / pageRank / labelPropagation / degree /
  // triangleCount), all four modes each, routed onto the engine's
  // generic kernels (`Algorithms.connectedComponentsAdaptive`,
  // `pageRankIters`, `labelPropagation`, `triangleCountPerNode`) over
  // the projection's rels — routing, not a second implementation. —————

  /** The projection's weighted edge list (weight property when carried,
    * else 1.0) — the input shape every kernel expects. */
  private def weightedRelsOf(p: Projection,
      relationshipWeightProperty: Option[String]): DataFrame = {
    val w = relationshipWeightProperty.filter(p.rels.columns.contains)
      .map(col).getOrElse(lit(1.0))
    p.rels.select(col("src"), col("dst"), w.cast("double").as("weight"))
  }

  /** Fail-fast weight resolution for procedures whose
    * `relationshipWeightProperty` DEFAULT is None — there any supplied
    * property is explicit, so a typo'd name must error like GDS does,
    * not silently fall back to weight 1.0 (unweighted distances that
    * look weighted). Procedures defaulting to Some("weight") keep
    * [[weightedRelsOf]]'s lenient fallback: their default must keep
    * working on unweighted projections. */
  private def requireWeightProp(p: Projection,
      prop: Option[String]): Option[String] = {
    prop.foreach(n => require(p.rels.columns.contains(n),
      s"relationshipWeightProperty '$n' does not exist on the projection " +
        s"(carried: ${p.rels.columns.filterNot(c => c == "src" || c == "dst").mkString(", ")})"))
    prop
  }

  /** Left-join a kernel result onto the projection's FULL node set so
    * isolated nodes (no projected rels) still get a value — GDS labels
    * every node of the in-memory graph, and edge-derived kernels can't
    * see edgeless nodes. */
  private def overAllNodes(p: Projection, frame: DataFrame,
      default: org.apache.spark.sql.Column): DataFrame =
    p.nodes.select(col("id").as("node_id"))
      .join(frame, Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col(frame.columns.last), default).as("value"))

  /** The (node_id, value) frame of one breadth procedure — the single
    * compute definition its write/stream/stats/mutate modes share. */
  private def wccFrame(p: Projection): DataFrame =
    overAllNodes(p, graft.graph.Algorithms.connectedComponentsAdaptive(
      p.rels.select(col("src"), col("dst"))), col("node_id"))

  private def pageRankFrame(p: Projection, iterations: Int, damping: Double,
      relationshipWeightProperty: Option[String],
      sourceNodes: Seq[Long] = Nil): (DataFrame, Int) =
    if (sourceNodes.nonEmpty) {
      // GDS `sourceNodes` (personalized PageRank): teleport mass
      // restricted to the source set, 1/|S| each — routes onto the
      // fixed-iteration PPR kernel the `ppr_topk` oracle already pins.
      // An edgeless node's rank is its (1−d)·teleport base term: 0 for
      // non-sources, (1−d)/|S| for an edgeless source.
      val ranks = graft.graph.Algorithms.personalizedPageRank(
        weightedRelsOf(p, requireWeightProp(p, relationshipWeightProperty)),
        sourceNodes, iterations, damping)
      val base = (1.0 - damping) / sourceNodes.size
      (overAllNodes(p, ranks,
        when(col("node_id").isin(sourceNodes: _*), lit(base))
          .otherwise(lit(0.0))), iterations)
    } else {
      val (ranks, iters) = graft.graph.Algorithms.pageRankIters(
        weightedRelsOf(p, requireWeightProp(p, relationshipWeightProperty)),
        iterations, damping)
      // an edgeless node's rank is exactly its (1−d) base term
      (overAllNodes(p, ranks, lit(1.0 - damping)), iters)
    }

  private def lpaFrame(p: Projection, iterations: Int,
      relationshipWeightProperty: Option[String]): DataFrame =
    overAllNodes(p, graft.graph.Algorithms.labelPropagation(
      weightedRelsOf(p, relationshipWeightProperty), iterations),
      col("node_id"))

  /** Per-node degree over the projection as stored — UNDIRECTED
    * projections hold both directions, so the src-grouped count IS the
    * undirected degree (GDS's orientation-of-the-graph contract). */
  private def degreeFrame(p: Projection): DataFrame =
    overAllNodes(p,
      p.rels.groupBy(col("src").as("node_id"))
        .agg(count(lit(1)).cast("double").as("score")),
      lit(0.0))

  private def triangleFrame(p: Projection): DataFrame =
    overAllNodes(p, graft.graph.Algorithms.triangleCountPerNode(
      p.rels.select(col("src"), col("dst"))), lit(0L))

  /** Decode a (node_id, value) result back per label and write it onto
    * the db node frames as `writeProperty` — the [[fastRpWrite]] decode
    * fold generalised; cypher projections (no labels) write to
    * `writeLabel` in the raw id space like [[louvainWrite]]. Returns
    * nodePropertiesWritten. */
  private def writeNodeProp(p: Projection, frame: DataFrame,
      writeProperty: String, writeLabel: String): Long = {
    val f = frame.toDF("node_id", "value")
    if (p.labels.nonEmpty) {
      val l = p.labels.length.toLong
      var written = 0L
      val updated = p.labels.zipWithIndex.foldLeft(db.nodes) {
        case (nodes, (lab, i)) =>
          val labFrame = f.filter(pmod(col("node_id"), lit(l)) === i.toLong)
            .select(((col("node_id") - i.toLong) / l).cast("bigint").as("id"),
              col("value").as(writeProperty))
          written += labFrame.count()
          nodes + (lab -> nodes(lab).drop(writeProperty)
            .join(labFrame, Seq("id"), "left"))
      }
      db = db.copy(nodes = updated)
      written
    } else {
      val labFrame = f.select(col("node_id").as("id"),
        col("value").as(writeProperty))
      val n = labFrame.count()
      db = db.copy(nodes = db.nodes + (writeLabel ->
        db.nodes(writeLabel).drop(writeProperty)
          .join(labFrame, Seq("id"), "left")))
      n
    }
  }

  /** `gds.wcc.write(name, {writeProperty}) YIELD componentCount,
    * nodePropertiesWritten`. */
  def wccWrite(graphName: String, writeProperty: String = "componentId",
      writeLabel: String = "User"): DataFrame = {
    val p = projOf(graphName)
    val f = wccFrame(p).localCheckpoint()
    metaLong("componentCount" -> f.select(col("value")).distinct().count(),
      "nodePropertiesWritten" -> writeNodeProp(p, f, writeProperty, writeLabel))
  }

  /** `gds.wcc.stream(name) YIELD nodeId, componentId`. */
  def wccStream(graphName: String): DataFrame =
    wccFrame(projOf(graphName))
      .select(col("node_id").as("nodeId"), col("value").as("componentId"))

  /** `gds.wcc.stats(name) YIELD componentCount`. */
  def wccStats(graphName: String): DataFrame =
    metaLong("componentCount" ->
      wccFrame(projOf(graphName)).select(col("value")).distinct().count())

  /** `gds.wcc.mutate(name, {mutateProperty}) YIELD componentCount,
    * nodePropertiesWritten`. */
  def wccMutate(graphName: String,
      mutateProperty: String = "componentId"): DataFrame = {
    val f = wccFrame(projOf(graphName)).localCheckpoint()
    metaLong("componentCount" -> f.select(col("value")).distinct().count(),
      "nodePropertiesWritten" -> mutateNodeProp(graphName, f, mutateProperty))
  }

  /** `gds.pageRank.write(name, {writeProperty, maxIterations,
    * dampingFactor, sourceNodes}) YIELD nodePropertiesWritten,
    * ranIterations` — non-empty `sourceNodes` is GDS's personalized
    * mode (teleport restricted to the sources, fixed iterations). */
  def pageRankWrite(graphName: String, writeProperty: String = "pagerank",
      maxIterations: Int = 10, dampingFactor: Double = 0.85,
      relationshipWeightProperty: Option[String] = None,
      writeLabel: String = "User",
      sourceNodes: Seq[Long] = Nil): DataFrame = {
    val p = projOf(graphName)
    val (f, iters) = pageRankFrame(p, maxIterations, dampingFactor,
      relationshipWeightProperty, sourceNodes)
    metaLong(
      "nodePropertiesWritten" ->
        writeNodeProp(p, f.localCheckpoint(), writeProperty, writeLabel),
      "ranIterations" -> iters.toLong)
  }

  /** `gds.pageRank.stream(name, {...}) YIELD nodeId, score`. */
  def pageRankStream(graphName: String, maxIterations: Int = 10,
      dampingFactor: Double = 0.85,
      relationshipWeightProperty: Option[String] = None,
      sourceNodes: Seq[Long] = Nil): DataFrame =
    pageRankFrame(projOf(graphName), maxIterations, dampingFactor,
      relationshipWeightProperty, sourceNodes)._1
      .select(col("node_id").as("nodeId"), col("value").as("score"))

  /** `gds.pageRank.stats(name, {...}) YIELD ranIterations, nodeCount`. */
  def pageRankStats(graphName: String, maxIterations: Int = 10,
      dampingFactor: Double = 0.85,
      relationshipWeightProperty: Option[String] = None,
      sourceNodes: Seq[Long] = Nil): DataFrame = {
    val (f, iters) = pageRankFrame(projOf(graphName), maxIterations,
      dampingFactor, relationshipWeightProperty, sourceNodes)
    metaLong("ranIterations" -> iters.toLong, "nodeCount" -> f.count())
  }

  /** `gds.pageRank.mutate(name, {mutateProperty, ...}) YIELD
    * nodePropertiesWritten, ranIterations`. */
  def pageRankMutate(graphName: String, mutateProperty: String = "pagerank",
      maxIterations: Int = 10, dampingFactor: Double = 0.85,
      relationshipWeightProperty: Option[String] = None,
      sourceNodes: Seq[Long] = Nil): DataFrame = {
    val (f, iters) = pageRankFrame(projOf(graphName), maxIterations,
      dampingFactor, relationshipWeightProperty, sourceNodes)
    metaLong(
      "nodePropertiesWritten" ->
        mutateNodeProp(graphName, f.localCheckpoint(), mutateProperty),
      "ranIterations" -> iters.toLong)
  }

  /** `gds.labelPropagation.write(name, {writeProperty, maxIterations})
    * YIELD communityCount, nodePropertiesWritten`. */
  def labelPropagationWrite(graphName: String,
      writeProperty: String = "communityId", maxIterations: Int = 5,
      relationshipWeightProperty: Option[String] = Some("weight"),
      writeLabel: String = "User"): DataFrame = {
    val p = projOf(graphName)
    val f = lpaFrame(p, maxIterations, relationshipWeightProperty)
      .localCheckpoint()
    metaLong("communityCount" -> f.select(col("value")).distinct().count(),
      "nodePropertiesWritten" -> writeNodeProp(p, f, writeProperty, writeLabel))
  }

  /** `gds.labelPropagation.stream(name, {...}) YIELD nodeId,
    * communityId`. */
  def labelPropagationStream(graphName: String, maxIterations: Int = 5,
      relationshipWeightProperty: Option[String] = Some("weight")): DataFrame =
    lpaFrame(projOf(graphName), maxIterations, relationshipWeightProperty)
      .select(col("node_id").as("nodeId"), col("value").as("communityId"))

  /** `gds.labelPropagation.stats(name, {...}) YIELD communityCount`. */
  def labelPropagationStats(graphName: String, maxIterations: Int = 5,
      relationshipWeightProperty: Option[String] = Some("weight")): DataFrame =
    metaLong("communityCount" ->
      lpaFrame(projOf(graphName), maxIterations, relationshipWeightProperty)
        .select(col("value")).distinct().count())

  /** `gds.labelPropagation.mutate(name, {mutateProperty, ...}) YIELD
    * communityCount, nodePropertiesWritten`. */
  def labelPropagationMutate(graphName: String,
      mutateProperty: String = "communityId", maxIterations: Int = 5,
      relationshipWeightProperty: Option[String] = Some("weight")): DataFrame = {
    val f = lpaFrame(projOf(graphName), maxIterations,
      relationshipWeightProperty).localCheckpoint()
    metaLong("communityCount" -> f.select(col("value")).distinct().count(),
      "nodePropertiesWritten" -> mutateNodeProp(graphName, f, mutateProperty))
  }

  /** `gds.degree.write(name, {writeProperty}) YIELD
    * nodePropertiesWritten`. */
  def degreeWrite(graphName: String, writeProperty: String = "degree",
      writeLabel: String = "User"): DataFrame = {
    val p = projOf(graphName)
    metaLong("nodePropertiesWritten" ->
      writeNodeProp(p, degreeFrame(p).localCheckpoint(), writeProperty,
        writeLabel))
  }

  /** `gds.degree.stream(name) YIELD nodeId, score`. */
  def degreeStream(graphName: String): DataFrame =
    degreeFrame(projOf(graphName))
      .select(col("node_id").as("nodeId"), col("value").as("score"))

  /** `gds.degree.stats(name) YIELD nodeCount, meanDegree`. */
  def degreeStats(graphName: String): DataFrame = {
    val row = degreeFrame(projOf(graphName))
      .agg(count(lit(1)).as("nodeCount"),
        round(avg(col("value")), 6).as("meanDegree"))
    row
  }

  /** `gds.degree.mutate(name, {mutateProperty}) YIELD
    * nodePropertiesWritten`. */
  def degreeMutate(graphName: String,
      mutateProperty: String = "degree"): DataFrame =
    metaLong("nodePropertiesWritten" ->
      mutateNodeProp(graphName,
        degreeFrame(projOf(graphName)).localCheckpoint(), mutateProperty))

  /** `gds.triangleCount.write(name, {writeProperty}) YIELD
    * globalTriangleCount, nodeCount, nodePropertiesWritten`. */
  def triangleCountWrite(graphName: String,
      writeProperty: String = "triangles",
      writeLabel: String = "User"): DataFrame = {
    val p = projOf(graphName)
    val f = triangleFrame(p).localCheckpoint()
    // Σ t(v) counts each triangle at all three corners
    val global = f.agg(coalesce(sum(col("value")), lit(0L))).head().getLong(0) / 3
    metaLong("globalTriangleCount" -> global, "nodeCount" -> f.count(),
      "nodePropertiesWritten" -> writeNodeProp(p, f, writeProperty, writeLabel))
  }

  /** `gds.triangleCount.stream(name) YIELD nodeId, triangleCount`. */
  def triangleCountStream(graphName: String): DataFrame =
    triangleFrame(projOf(graphName))
      .select(col("node_id").as("nodeId"), col("value").as("triangleCount"))

  /** `gds.triangleCount.stats(name) YIELD globalTriangleCount,
    * nodeCount`. */
  def triangleCountStats(graphName: String): DataFrame = {
    val f = triangleFrame(projOf(graphName)).localCheckpoint()
    metaLong(
      "globalTriangleCount" -> f.agg(coalesce(sum(col("value")), lit(0L))).head().getLong(0) / 3,
      "nodeCount" -> f.count())
  }

  /** `gds.triangleCount.mutate(name, {mutateProperty}) YIELD
    * globalTriangleCount, nodeCount, nodePropertiesWritten`. */
  def triangleCountMutate(graphName: String,
      mutateProperty: String = "triangles"): DataFrame = {
    val f = triangleFrame(projOf(graphName)).localCheckpoint()
    metaLong(
      "globalTriangleCount" -> f.agg(coalesce(sum(col("value")), lit(0L))).head().getLong(0) / 3,
      "nodeCount" -> f.count(),
      "nodePropertiesWritten" -> mutateNodeProp(graphName, f, mutateProperty))
  }

  // ————— centrality/structure breadth: articleRank, eigenvector,
  // betweenness, closeness.harmonic, scc, localClusteringCoefficient —
  // each in all four modes via a factored mode driver, routing onto
  // the generic kernels (never a second implementation). —————

  /** The write/stream/stats/mutate boilerplate shared by every
    * (node_id, value)-shaped procedure — factored once instead of
    * re-printing the pageRank pattern six more times. `frame` is
    * re-evaluated per mode call (the kernels are lazy plans; heavy
    * shared state rides the session caches, not this object). */
  private final class NodeModes(graphName: String, streamCol: String,
      frame: () => DataFrame) {
    def stream(): DataFrame = frame()
      .select(col("node_id").as("nodeId"), col("value").as(streamCol))
    def write(writeProperty: String, writeLabel: String): DataFrame =
      metaLong("nodePropertiesWritten" -> writeNodeProp(projOf(graphName),
        frame().localCheckpoint(), writeProperty, writeLabel))
    def stats(): DataFrame =
      metaLong("nodeCount" -> frame().count())
    def mutate(mutateProperty: String): DataFrame =
      metaLong("nodePropertiesWritten" ->
        mutateNodeProp(graphName, frame(), mutateProperty))
  }

  /** Deterministic source sample for the sampled centralities: the
    * `samplingSize` LOWEST node ids. GDS samples randomly; a
    * deterministic choice is the only one a re-run (or an oracle) can
    * reproduce — documented deviation. */
  private def sampleSources(p: Projection, samplingSize: Int): Seq[Long] =
    p.nodes.select(col("id")).orderBy(col("id"))
      .limit(samplingSize).collect().map(_.getLong(0)).toSeq

  private def articleRankModes(graphName: String, maxIterations: Int,
      dampingFactor: Double): NodeModes =
    new NodeModes(graphName, "score", () => {
      val p = projOf(graphName)
      // an edgeless node's rank is exactly its (1−d) base term
      overAllNodes(p, graft.graph.Algorithms.articleRankFrame(
        p.rels.select(col("src"), col("dst")), maxIterations, dampingFactor),
        lit(1.0 - dampingFactor))
    })

  /** `gds.articleRank.*` — PageRank with the mean-out-degree-lifted
    * denominator; default maxIterations=5 is the repo's oracled
    * operating point (`article_rank_topk`). */
  def articleRankStream(graphName: String, maxIterations: Int = 5,
      dampingFactor: Double = 0.85): DataFrame =
    articleRankModes(graphName, maxIterations, dampingFactor).stream()
  def articleRankWrite(graphName: String, writeProperty: String = "articleRank",
      maxIterations: Int = 5, dampingFactor: Double = 0.85,
      writeLabel: String = "User"): DataFrame =
    articleRankModes(graphName, maxIterations, dampingFactor)
      .write(writeProperty, writeLabel)
  def articleRankStats(graphName: String, maxIterations: Int = 5,
      dampingFactor: Double = 0.85): DataFrame =
    articleRankModes(graphName, maxIterations, dampingFactor).stats()
  def articleRankMutate(graphName: String,
      mutateProperty: String = "articleRank", maxIterations: Int = 5,
      dampingFactor: Double = 0.85): DataFrame =
    articleRankModes(graphName, maxIterations, dampingFactor)
      .mutate(mutateProperty)

  private def eigenvectorModes(graphName: String, maxIterations: Int,
      relationshipWeightProperty: Option[String]): NodeModes =
    new NodeModes(graphName, "score", () => {
      val p = projOf(graphName)
      overAllNodes(p, graft.graph.Algorithms.eigenvectorFrame(
        weightedRelsOf(p, requireWeightProp(p, relationshipWeightProperty)),
        maxIterations), lit(0.0))
    })

  /** `gds.eigenvector.*` — fixed-iteration power method with
    * per-iteration L2 normalisation (the `eigenvector_topk` kernel). */
  def eigenvectorStream(graphName: String, maxIterations: Int = 5,
      relationshipWeightProperty: Option[String] = None): DataFrame =
    eigenvectorModes(graphName, maxIterations, relationshipWeightProperty)
      .stream()
  def eigenvectorWrite(graphName: String, writeProperty: String = "eigenvector",
      maxIterations: Int = 5,
      relationshipWeightProperty: Option[String] = None,
      writeLabel: String = "User"): DataFrame =
    eigenvectorModes(graphName, maxIterations, relationshipWeightProperty)
      .write(writeProperty, writeLabel)
  def eigenvectorStats(graphName: String, maxIterations: Int = 5,
      relationshipWeightProperty: Option[String] = None): DataFrame =
    eigenvectorModes(graphName, maxIterations, relationshipWeightProperty)
      .stats()
  def eigenvectorMutate(graphName: String,
      mutateProperty: String = "eigenvector", maxIterations: Int = 5,
      relationshipWeightProperty: Option[String] = None): DataFrame =
    eigenvectorModes(graphName, maxIterations, relationshipWeightProperty)
      .mutate(mutateProperty)

  private def betweennessModes(graphName: String, samplingSize: Int,
      maxHops: Int): NodeModes =
    new NodeModes(graphName, "score", () => {
      val p = projOf(graphName)
      // symmetric=false lets the kernel symmetrise: idempotent on
      // UNDIRECTED projections (both directions already stored), and
      // the correct completion on NATURAL ones
      overAllNodes(p, graft.graph.Algorithms.betweennessSample(
        p.rels.select(col("src"), col("dst")),
        sampleSources(p, samplingSize), maxHops), lit(0.0))
    })

  /** `gds.betweenness.*` — Brandes dependency sums from a
    * DETERMINISTIC source sample within a bounded horizon (exact
    * betweenness is full APSP and never runs at 100 TB; GDS's own
    * samplingSize knob, deterministic here). */
  def betweennessStream(graphName: String, samplingSize: Int = 8,
      maxHops: Int = 4): DataFrame =
    betweennessModes(graphName, samplingSize, maxHops).stream()
  def betweennessWrite(graphName: String, writeProperty: String = "betweenness",
      samplingSize: Int = 8, maxHops: Int = 4,
      writeLabel: String = "User"): DataFrame =
    betweennessModes(graphName, samplingSize, maxHops)
      .write(writeProperty, writeLabel)
  def betweennessStats(graphName: String, samplingSize: Int = 8,
      maxHops: Int = 4): DataFrame =
    betweennessModes(graphName, samplingSize, maxHops).stats()
  def betweennessMutate(graphName: String,
      mutateProperty: String = "betweenness", samplingSize: Int = 8,
      maxHops: Int = 4): DataFrame =
    betweennessModes(graphName, samplingSize, maxHops).mutate(mutateProperty)

  private def harmonicModes(graphName: String, samplingSize: Int,
      maxHops: Int): NodeModes =
    new NodeModes(graphName, "centrality", () => {
      val p = projOf(graphName)
      overAllNodes(p, graft.graph.Algorithms.harmonicCentrality(
        p.rels.select(col("src"), col("dst")),
        sampleSources(p, samplingSize), maxHops), lit(0.0))
    })

  /** `gds.closeness.harmonic.*` — Σ 1/d(s, v) over a deterministic
    * source sample within a bounded horizon (the scalable stand-in for
    * exact harmonic closeness, the `harmonic_centrality` kernel). */
  def harmonicStream(graphName: String, samplingSize: Int = 8,
      maxHops: Int = 3): DataFrame =
    harmonicModes(graphName, samplingSize, maxHops).stream()
  def harmonicWrite(graphName: String, writeProperty: String = "harmonic",
      samplingSize: Int = 8, maxHops: Int = 3,
      writeLabel: String = "User"): DataFrame =
    harmonicModes(graphName, samplingSize, maxHops)
      .write(writeProperty, writeLabel)
  def harmonicStats(graphName: String, samplingSize: Int = 8,
      maxHops: Int = 3): DataFrame =
    harmonicModes(graphName, samplingSize, maxHops).stats()
  def harmonicMutate(graphName: String, mutateProperty: String = "harmonic",
      samplingSize: Int = 8, maxHops: Int = 3): DataFrame =
    harmonicModes(graphName, samplingSize, maxHops).mutate(mutateProperty)

  private def sccModes(graphName: String): NodeModes =
    new NodeModes(graphName, "componentId", () => {
      val p = projOf(graphName)
      // an edgeless node is its own singleton SCC
      overAllNodes(p, graft.graph.Algorithms.stronglyConnectedComponents(
        p.rels.select(col("src"), col("dst"))), col("node_id"))
    })

  /** `gds.scc.*` — strongly connected components (size-adaptive
    * distributed peel / driver Tarjan, min-member labels — the
    * `scc_components` kernel). On an UNDIRECTED projection every weak
    * component is strongly connected by construction. */
  def sccStream(graphName: String): DataFrame = sccModes(graphName).stream()
  def sccWrite(graphName: String, writeProperty: String = "componentId",
      writeLabel: String = "User"): DataFrame =
    sccModes(graphName).write(writeProperty, writeLabel)
  def sccStats(graphName: String): DataFrame = {
    val f = sccModes(graphName).stream().localCheckpoint()
    metaLong("componentCount" ->
      f.select(col("componentId")).distinct().count(),
      "nodeCount" -> f.count())
  }
  def sccMutate(graphName: String,
      mutateProperty: String = "componentId"): DataFrame =
    sccModes(graphName).mutate(mutateProperty)

  private def lccModes(graphName: String): NodeModes =
    new NodeModes(graphName, "localClusteringCoefficient", () => {
      val p = projOf(graphName)
      overAllNodes(p, graft.graph.Algorithms.localClusteringCoefficients(
        p.rels.select(col("src"), col("dst"))), lit(0.0))
    })

  /** `gds.localClusteringCoefficient.*` — 2t/(d(d−1)) per node via the
    * factored triangle credits (the clustering-coefficient kernel). */
  def localClusteringCoefficientStream(graphName: String): DataFrame =
    lccModes(graphName).stream()
  def localClusteringCoefficientWrite(graphName: String,
      writeProperty: String = "localClusteringCoefficient",
      writeLabel: String = "User"): DataFrame =
    lccModes(graphName).write(writeProperty, writeLabel)
  def localClusteringCoefficientStats(graphName: String): DataFrame =
    lccModes(graphName).stats()
  def localClusteringCoefficientMutate(graphName: String,
      mutateProperty: String = "localClusteringCoefficient"): DataFrame =
    lccModes(graphName).mutate(mutateProperty)

  // ————— pathfinding: `gds.shortestPath.dijkstra` / `gds.bfs` —
  // routed onto the oracled kernels (`Algorithms.dijkstraPath`,
  // `Algorithms.bfsHops`); stream modes only — GDS's path procedures
  // are read-shaped (path writes-as-relationships have no consumer in
  // the reference workflow). —————

  /** `gds.shortestPath.dijkstra.stream(name, {sourceNode, targetNode,
    * relationshipWeightProperty}) YIELD index, sourceNode, targetNode,
    * totalCost, nodeIds, costs` — the GDS one-row path shape over the
    * kernel's (step, node_id, dist) frame. No weight property ⇒ every
    * hop costs 1.0 (GDS's unweighted fallback). Unreachable target (or
    * reachable only beyond `rounds` relaxation rounds — the kernel's
    * documented bounded-depth contract) ⇒ zero rows. */
  def shortestPathDijkstraStream(graphName: String, sourceNode: Long,
      targetNode: Long, relationshipWeightProperty: Option[String] = None,
      rounds: Int = 6): DataFrame = {
    val p = projOf(graphName)
    val lengths = weightedRelsOf(p, requireWeightProp(p, relationshipWeightProperty))
      .select(col("src"), col("dst"), col("weight").as("len"))
    val path = graft.graph.Algorithms.dijkstraPath(
      lengths, sourceNode, targetNode, rounds)
    path
      .agg(sort_array(collect_list(
        struct(col("step"), col("node_id"), col("dist")))).as("steps"))
      .filter(size(col("steps")) > 0)
      .select(lit(0L).as("index"), lit(sourceNode).as("sourceNode"),
        lit(targetNode).as("targetNode"),
        element_at(col("steps"), -1).getField("dist").as("totalCost"),
        transform(col("steps"), s => s.getField("node_id")).as("nodeIds"),
        transform(col("steps"), s => s.getField("dist")).as("costs"))
  }

  /** `gds.allShortestPaths.dijkstra.stream(name, {sourceNode,
    * relationshipWeightProperty}) YIELD sourceNode, targetNode,
    * distance` — single-source distances over the bounded min-plus
    * kernel (`Algorithms.ssspWeighted`); nodes unreached within
    * `rounds` relaxation rounds are absent (the kernel's documented
    * horizon), the source itself reports 0.0. */
  def allShortestPathsDijkstraStream(graphName: String, sourceNode: Long,
      relationshipWeightProperty: Option[String] = None,
      rounds: Int = 5): DataFrame = {
    val p = projOf(graphName)
    val lengths = weightedRelsOf(p, requireWeightProp(p, relationshipWeightProperty))
      .select(col("src"), col("dst"), col("weight").as("len"))
    graft.graph.Algorithms.ssspWeighted(lengths, sourceNode, rounds)
      .select(lit(sourceNode).as("sourceNode"),
        col("node_id").as("targetNode"), col("dist").as("distance"))
  }

  /** `gds.bfs.stream(name, {sourceNode, maxDepth}) YIELD sourceNode,
    * nodeIds` — breadth-first visit from the source over the
    * projection's rels. The kernel symmetrises its edge input, so the
    * traversal is UNDIRECTED — identical semantics on the reference's
    * UNDIRECTED projections (which already store both directions), a
    * documented deviation on NATURAL ones. GDS leaves same-depth visit order
    * implementation-defined; here it is pinned DETERMINISTIC:
    * ascending (hop, node_id) — the only order a distributed frontier
    * can reproduce run-to-run. */
  def bfsStream(graphName: String, sourceNode: Long,
      maxDepth: Int = 3): DataFrame = {
    val p = projOf(graphName)
    val hops = graft.graph.Algorithms.bfsHops(
      p.rels.select(col("src"), col("dst")), sourceNode, maxDepth)
    hops
      .agg(sort_array(collect_list(
        struct(col("hops"), col("node_id")))).as("visits"))
      .filter(size(col("visits")) > 0)
      .select(lit(sourceNode).as("sourceNode"),
        transform(col("visits"), v => v.getField("node_id")).as("nodeIds"))
  }

  // ————— nodeSimilarity: `gds.nodeSimilarity` (Jaccard of neighbour
  // sets) — the non-embedding similarity procedure a recommendations
  // user reaches for, routed onto the `Algorithms.userJaccardTopK`
  // posting-join shape over an arbitrary projection. —————

  /** The (node1, node2, similarity) frame all four nodeSimilarity
    * modes share, plus a LAZY nodesCompared thunk (stream mode never
    * pays the count job whose result it discards). Similarity of
    * out-neighbour SETS for every pair sharing ≥ 1 neighbour, top-k per
    * node1 (GDS emits a directed top-k list per source node, so both
    * (a,b) and (b,a) appear). Computed as one posting self-join on the
    * shared neighbour — pairs materialise only within a neighbour's
    * posting list, never all-pairs — plus a degree aggregate.
    *
    * `similarityMetric` is GDS's own parameter: JACCARD (default,
    * n/(|A|+|B|−n)), OVERLAP (n/min(|A|,|B|)), COSINE (n/√(|A|·|B|)) —
    * same intersection counts, different denominator algebra.
    *
    * `upperDegreeCutoff` is GDS's own lever with GDS's semantics:
    * nodes above the cutoff are excluded from COMPARISON (never appear
    * as node1/node2) but still count as set elements.
    *
    * `postingWidthCap` is the SCALE lever GDS lacks and 100 TB needs
    * (the containment df-cap pattern, `Dedup.containmentPairs`): a
    * shared hub NEIGHBOUR of posting width d contributes d² pairs to
    * the self-join, and `upperDegreeCutoff` bounds node1/node2 degree,
    * not the shared neighbour's width. With the cap set, neighbours
    * whose posting list exceeds it are excluded from PAIR GENERATION —
    * they still count as set elements in |A|/|B|, so capped
    * similarities are exact for pairs sharing no capped hub and strict
    * UNDERESTIMATES (never inventions) for pairs that do; a pair whose
    * every shared neighbour is capped disappears. Default None keeps
    * the GDS-exact semantics (the oracle entry's operating point).
    *
    * Similarity is rounded to 6dp BEFORE the per-node rank so the
    * top-k boundary replays bit-for-bit in the DuckDB oracle; the
    * default cutoff is 0.0 rather than GDS's 1e-42 — equivalent here,
    * since n_common ≥ 1 makes every scored pair strictly positive
    * pre-rounding. */
  private final case class NodeSimParts(nodesCompared: () => Long,
      postingsDropped: () => Long, sims: DataFrame)

  private def nodeSimFrame(p: Projection, topK: Int,
      similarityCutoff: Double,
      upperDegreeCutoff: Option[Long],
      postingWidthCap: Option[Long] = None,
      similarityMetric: String = "JACCARD"): NodeSimParts = {
    // neighbour SETS: distinct guards multigraph projections (idempotent
    // on the reference's unique (user, book) rels)
    val und = p.rels.select(col("src"), col("dst")).distinct()
    val sizesAll = und.groupBy(col("src")).agg(count(lit(1)).as("sz"))
    val sizes = upperDegreeCutoff
      .map(c => sizesAll.filter(col("sz") <= c)).getOrElse(sizesAll)
    val kept = upperDegreeCutoff.map(_ =>
      und.join(sizes.select(col("src")), Seq("src"), "left_semi"))
      .getOrElse(und)
    // the df-cap: bound every posting list BEFORE the self-join, so the
    // worst-case pair count is |E_kept| · cap instead of Σ_hub d_hub²
    val posting = postingWidthCap.map { cap =>
      require(cap >= 1, s"postingWidthCap must be >= 1, got $cap")
      val narrow = kept.groupBy(col("dst")).agg(count(lit(1)).as("pw"))
        .filter(col("pw") <= cap).select(col("dst"))
      kept.join(narrow, Seq("dst"), "left_semi")
    }.getOrElse(kept)
    // observability for the cap (r10 verdict: exact-or-underestimate is
    // documented but was invisible at runtime): how many posting lists
    // the cap excluded from pair generation — 0 means the capped run
    // was EXACT; paid only when a stats/write/mutate YIELD asks
    val postingsDropped: () => Long = postingWidthCap match {
      case Some(cap) => () =>
        kept.groupBy(col("dst")).agg(count(lit(1)).as("pw"))
          .filter(col("pw") > cap).count()
      case None => () => 0L
    }
    val inter = posting.select(col("src").as("node1"), col("dst"))
      .join(posting.select(col("src").as("node2"), col("dst")), Seq("dst"))
      .filter(col("node1") =!= col("node2"))
      .groupBy(col("node1"), col("node2"))
      .agg(count(lit(1)).as("n_common"))
    val n = col("n_common").cast("double")
    val simExpr = similarityMetric.toUpperCase match {
      case "JACCARD" => n / (col("sz1") + col("sz2") - col("n_common"))
      case "OVERLAP" => n / least(col("sz1"), col("sz2"))
      case "COSINE" => n / sqrt(col("sz1").cast("double") * col("sz2"))
      case other => sys.error(
        s"unknown similarityMetric '$other' (JACCARD | OVERLAP | COSINE)")
    }
    val scored = inter
      .join(sizes.select(col("src").as("node1"), col("sz").as("sz1")),
        Seq("node1"))
      .join(sizes.select(col("src").as("node2"), col("sz").as("sz2")),
        Seq("node2"))
      .withColumn("similarity", round(simExpr, 6))
      .filter(col("similarity") >= similarityCutoff)
    // r12: top-k per node1 via the bounded-heap TopKPerKey operator
    // (X4) instead of a row_number window — same rows under the same
    // total order (similarity desc, node2 asc), but one hash-partition
    // pass with per-partition heaps instead of an exchange + full sort
    // of every scored pair
    val sims = graft.plans.TopKPerKey.topKPerKey(scored, Seq("node1"),
        Seq(("similarity", false), ("node2", true)), topK)
      .select(col("node1"), col("node2"), col("similarity"))
    NodeSimParts(() => sizes.count(), postingsDropped, sims)
  }

  /** `gds.nodeSimilarity.stream(name, {topK, similarityCutoff,
    * similarityMetric}) YIELD node1, node2, similarity`. */
  def nodeSimilarityStream(graphName: String, topK: Int = 10,
      similarityCutoff: Double = 0.0,
      upperDegreeCutoff: Option[Long] = None,
      postingWidthCap: Option[Long] = None,
      similarityMetric: String = "JACCARD"): DataFrame =
    nodeSimFrame(projOf(graphName), topK, similarityCutoff,
      upperDegreeCutoff, postingWidthCap, similarityMetric).sims

  /** `gds.nodeSimilarity.stats(name, {...}) YIELD nodesCompared,
    * similarityPairs, postingsDropped` — postingsDropped counts the
    * posting lists `postingWidthCap` excluded from pair generation
    * (0 ⇒ the capped run was exact; always 0 with no cap), so a 100 TB
    * operator can SEE what the cap cost. */
  def nodeSimilarityStats(graphName: String, topK: Int = 10,
      similarityCutoff: Double = 0.0,
      upperDegreeCutoff: Option[Long] = None,
      postingWidthCap: Option[Long] = None,
      similarityMetric: String = "JACCARD"): DataFrame = {
    val parts = nodeSimFrame(projOf(graphName), topK,
      similarityCutoff, upperDegreeCutoff, postingWidthCap, similarityMetric)
    metaLong("nodesCompared" -> parts.nodesCompared(),
      "similarityPairs" -> parts.sims.count(),
      "postingsDropped" -> parts.postingsDropped())
  }

  /** `gds.nodeSimilarity.write(name, {writeRelationshipType,
    * writeProperty, ...}) YIELD nodesCompared, relationshipsWritten` —
    * installs the SIMILAR edge frame into the db (the knnWrite
    * contract, neighbour-set similarity instead of embedding cosine).
    * GDS writes back in ORIGINAL node ids: on a multi-label projection
    * the endpoints are decoded from the projection encoding
    * (id·L + labelIndex) to raw per-label ids, with `srcLabel` /
    * `dstLabel` columns carrying the label so the frame joins back to
    * the db node frames unambiguously (raw id spaces are per-label).
    * Single-label and cypher projections install plain (src, dst,
    * property) — their id space IS the db's. */
  def nodeSimilarityWrite(graphName: String, topK: Int = 10,
      similarityCutoff: Double = 0.0,
      writeRelationshipType: String = "SIMILAR",
      writeProperty: String = "similarity",
      upperDegreeCutoff: Option[Long] = None,
      postingWidthCap: Option[Long] = None,
      similarityMetric: String = "JACCARD"): DataFrame = {
    val p = projOf(graphName)
    val parts = nodeSimFrame(p, topK,
      similarityCutoff, upperDegreeCutoff, postingWidthCap, similarityMetric)
    val raw = parts.sims
      .select(col("node1").as("src"), col("node2").as("dst"),
        col("similarity").as(writeProperty))
    val edges = (if (p.labels.length > 1) {
      val l = p.labels.length.toLong
      val labArr = array(p.labels.map(lit): _*)
      def decId(c: org.apache.spark.sql.Column) =
        ((c - pmod(c, lit(l))) / lit(l)).cast("bigint")
      def labOf(c: org.apache.spark.sql.Column) =
        element_at(labArr, (pmod(c, lit(l)) + 1).cast("int"))
      raw.select(decId(col("src")).as("src"), labOf(col("src")).as("srcLabel"),
        decId(col("dst")).as("dst"), labOf(col("dst")).as("dstLabel"),
        col(writeProperty))
    } else raw).localCheckpoint()
    db = db.copy(edges = db.edges + (writeRelationshipType -> edges))
    metaLong("nodesCompared" -> parts.nodesCompared(),
      "relationshipsWritten" -> edges.count(),
      "postingsDropped" -> parts.postingsDropped())
  }

  /** `gds.nodeSimilarity.mutate(name, {mutateRelationshipType,
    * mutateProperty, ...}) YIELD nodesCompared, relationshipsWritten` —
    * the SIMILAR frame onto the projection's relationship set
    * (readable via [[graphRelationshipsStream]]) in the PROJECTION's
    * id space (GDS mutates the in-memory graph), db untouched. */
  def nodeSimilarityMutate(graphName: String, topK: Int = 10,
      similarityCutoff: Double = 0.0,
      mutateRelationshipType: String = "SIMILAR",
      mutateProperty: String = "similarity",
      upperDegreeCutoff: Option[Long] = None,
      postingWidthCap: Option[Long] = None,
      similarityMetric: String = "JACCARD"): DataFrame = {
    val parts = nodeSimFrame(projOf(graphName), topK,
      similarityCutoff, upperDegreeCutoff, postingWidthCap, similarityMetric)
    val edges = parts.sims
      .select(col("node1").as("src"), col("node2").as("dst"),
        col("similarity").as(mutateProperty))
      .localCheckpoint()
    val p = projOf(graphName)
    projections.put(graphName,
      p.copy(mutRels = p.mutRels + (mutateRelationshipType -> edges)))
    metaLong("nodesCompared" -> parts.nodesCompared(),
      "relationshipsWritten" -> edges.count(),
      "postingsDropped" -> parts.postingsDropped())
  }

  // ————— r11 kernel routing: leiden, modularityOptimization, sllpa,
  // kcore, kmeans, node2vec, shortestPath.yens — the remaining oracled
  // engine kernels get their gds.* front door (the r10 verdict's top
  // item: a GDS-fluent user who just ran `gds.louvain.write` types
  // `gds.leiden.write` next). Each route is a thin adapter onto the
  // already-oracled kernel — routing, never a second implementation. —————

  /** [[louvainLabelsOf]] generalised to any community kernel: `kernel`
    * maps the projection's weighted edge frame to (node_id, community).
    * The modularity row is a THUNK — stream mode never pays the
    * modularity aggregate it would discard. */
  private def communityLabelsOf(graphName: String,
      relationshipWeightProperty: Option[String],
      precomputedLabels: Option[DataFrame],
      kernel: DataFrame => DataFrame)
      : (DataFrame, () => org.apache.spark.sql.Row) = {
    val p = projOf(graphName)
    val edges = weightedRelsOf(p, relationshipWeightProperty)
    val labels = precomputedLabels.getOrElse(kernel(edges)).localCheckpoint()
    (labels, () => graft.graph.Algorithms.modularity(edges,
      labels.select(col("node_id"), col("community").as("label"))).head())
  }

  /** The louvain-contract YIELD row (communityCount, modularity). */
  private def communityYield(labels: DataFrame,
      q: org.apache.spark.sql.Row): DataFrame = {
    val s = spark
    import s.implicits._
    Seq((labels.select(col("community")).distinct().count(),
        if (q.isNullAt(1)) 0.0 else q.getDouble(1)))
      .toDF("communityCount", "modularity")
  }

  /** Four-mode driver for (node_id, community)-shaped detectors — the
    * community analog of [[NodeModes]] (write/stats/mutate YIELD
    * communityCount + modularity, the louvain contract). */
  private final class CommunityModes(graphName: String,
      labelsOf: () => (DataFrame, () => org.apache.spark.sql.Row)) {
    def stream(): DataFrame = labelsOf()._1
      .select(col("node_id").as("nodeId"), col("community").as("communityId"))
    def write(writeProperty: String, writeLabel: String): DataFrame = {
      val (labels, q) = labelsOf()
      writeNodeProp(projOf(graphName),
        labels.select(col("node_id"), col("community")), writeProperty,
        writeLabel)
      communityYield(labels, q())
    }
    def stats(): DataFrame = {
      val (labels, q) = labelsOf()
      communityYield(labels, q())
    }
    def mutate(mutateProperty: String): DataFrame = {
      val (labels, q) = labelsOf()
      mutateNodeProp(graphName,
        labels.select(col("node_id"), col("community")), mutateProperty)
      communityYield(labels, q())
    }
  }

  private def leidenModes(graphName: String,
      relationshipWeightProperty: Option[String],
      precomputedLabels: Option[DataFrame]): CommunityModes =
    new CommunityModes(graphName, () => communityLabelsOf(graphName,
      relationshipWeightProperty, precomputedLabels,
      e => graft.graph.Louvain.leiden(e, assumeGrouped = true)))

  /** `gds.leiden.*` — Louvain local-moving + the Leiden refinement pass
    * (connected communities), the `communities_leiden` kernel.
    * `precomputedLabels` is the same materialised-silver seam as
    * [[louvainWrite]]'s. */
  def leidenStream(graphName: String,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputedLabels: Option[DataFrame] = None): DataFrame =
    leidenModes(graphName, relationshipWeightProperty, precomputedLabels)
      .stream()
  def leidenWrite(graphName: String, writeProperty: String = "community",
      relationshipWeightProperty: Option[String] = Some("weight"),
      writeLabel: String = "User",
      precomputedLabels: Option[DataFrame] = None): DataFrame =
    leidenModes(graphName, relationshipWeightProperty, precomputedLabels)
      .write(writeProperty, writeLabel)
  def leidenStats(graphName: String,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputedLabels: Option[DataFrame] = None): DataFrame =
    leidenModes(graphName, relationshipWeightProperty, precomputedLabels)
      .stats()
  def leidenMutate(graphName: String, mutateProperty: String = "community",
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputedLabels: Option[DataFrame] = None): DataFrame =
    leidenModes(graphName, relationshipWeightProperty, precomputedLabels)
      .mutate(mutateProperty)

  private def modOptModes(graphName: String, maxIterations: Int,
      relationshipWeightProperty: Option[String],
      precomputedLabels: Option[DataFrame]): CommunityModes =
    new CommunityModes(graphName, () => communityLabelsOf(graphName,
      relationshipWeightProperty, precomputedLabels,
      e => graft.graph.Algorithms.modularityOptimization(e, maxIterations)
        .select(col("node_id"), col("label").as("community"))))

  /** `gds.beta.modularityOptimization.*` — greedy integer-exact ΔQ
    * label moving (the `communities_modopt` kernel). */
  def modularityOptimizationStream(graphName: String, maxIterations: Int = 3,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputedLabels: Option[DataFrame] = None): DataFrame =
    modOptModes(graphName, maxIterations, relationshipWeightProperty,
      precomputedLabels).stream()
  def modularityOptimizationWrite(graphName: String,
      writeProperty: String = "community", maxIterations: Int = 3,
      relationshipWeightProperty: Option[String] = Some("weight"),
      writeLabel: String = "User",
      precomputedLabels: Option[DataFrame] = None): DataFrame =
    modOptModes(graphName, maxIterations, relationshipWeightProperty,
      precomputedLabels).write(writeProperty, writeLabel)
  def modularityOptimizationStats(graphName: String, maxIterations: Int = 3,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputedLabels: Option[DataFrame] = None): DataFrame =
    modOptModes(graphName, maxIterations, relationshipWeightProperty,
      precomputedLabels).stats()
  def modularityOptimizationMutate(graphName: String,
      mutateProperty: String = "community", maxIterations: Int = 3,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputedLabels: Option[DataFrame] = None): DataFrame =
    modOptModes(graphName, maxIterations, relationshipWeightProperty,
      precomputedLabels).mutate(mutateProperty)

  /** The (node_id, community, strength) frame all four sllpa modes
    * share — SLPA is an OVERLAPPING detector, one row per retained
    * membership. `precomputed` is the materialised-silver seam (the
    * louvain/fastRP pattern; unseeded ≡ seeded spec-pinned). */
  private def sllpaFrameOf(graphName: String, rounds: Int,
      threshold: Double, precomputed: Option[DataFrame]): DataFrame =
    precomputed.getOrElse(graft.graph.Sllpa.sllpa(
      projOf(graphName).rels.select(col("src"), col("dst")), rounds,
      threshold))

  /** `gds.alpha.sllpa.stream(name, {maxIterations,
    * minAssociationStrength}) YIELD nodeId, communityId, strength` —
    * GDS streams the speaker-listener memory map per node; here it is
    * flattened to one row per retained membership (strength = memory
    * count), the `communities_sllpa` kernel's exact shape. */
  def sllpaStream(graphName: String, maxIterations: Int = 3,
      minAssociationStrength: Double = 0.3,
      precomputed: Option[DataFrame] = None): DataFrame =
    sllpaFrameOf(graphName, maxIterations, minAssociationStrength,
      precomputed)
      .select(col("node_id").as("nodeId"), col("community").as("communityId"),
        col("strength"))

  /** `gds.alpha.sllpa.write` — per-node SORTED membership array written
    * as `writeProperty` (GDS's pendingCommunities shape: overlapping
    * memberships can't be one scalar column). */
  def sllpaWrite(graphName: String,
      writeProperty: String = "pendingCommunities", maxIterations: Int = 3,
      minAssociationStrength: Double = 0.3,
      writeLabel: String = "User",
      precomputed: Option[DataFrame] = None): DataFrame = {
    val f = sllpaFrameOf(graphName, maxIterations, minAssociationStrength,
      precomputed)
      .groupBy(col("node_id"))
      .agg(sort_array(collect_list(col("community"))).as("value"))
      .localCheckpoint()
    metaLong("nodePropertiesWritten" ->
      writeNodeProp(projOf(graphName), f, writeProperty, writeLabel))
  }

  /** `gds.alpha.sllpa.stats YIELD nodeCount, communityCount`. */
  def sllpaStats(graphName: String, maxIterations: Int = 3,
      minAssociationStrength: Double = 0.3,
      precomputed: Option[DataFrame] = None): DataFrame = {
    val f = sllpaFrameOf(graphName, maxIterations, minAssociationStrength,
      precomputed)
      .localCheckpoint()
    metaLong(
      "nodeCount" -> f.select(col("node_id")).distinct().count(),
      "communityCount" -> f.select(col("community")).distinct().count())
  }

  /** `gds.alpha.sllpa.mutate` — the sorted membership array onto the
    * projection nodes. */
  def sllpaMutate(graphName: String,
      mutateProperty: String = "pendingCommunities", maxIterations: Int = 3,
      minAssociationStrength: Double = 0.3,
      precomputed: Option[DataFrame] = None): DataFrame = {
    val f = sllpaFrameOf(graphName, maxIterations, minAssociationStrength,
      precomputed)
      .groupBy(col("node_id"))
      .agg(sort_array(collect_list(col("community"))).as("value"))
      .localCheckpoint()
    metaLong("nodePropertiesWritten" ->
      mutateNodeProp(graphName, f, mutateProperty))
  }

  private def kcoreModes(graphName: String, k: Int,
      precomputed: Option[DataFrame]): NodeModes =
    new NodeModes(graphName, "coreValue", () => {
      val p = projOf(graphName)
      overAllNodes(p, precomputed.getOrElse(graft.graph.Algorithms.kcore(
        p.rels.select(col("src"), col("dst")), k)), lit(0L))
    })

  /** Fixed-k core membership (graft EXTENSION, not the GDS procedure):
    * coreValue is the node's degree WITHIN the k-core (≥ k by
    * definition), 0 for nodes peeled out — the membership question the
    * recommender asks ("who is in the dense core?") at one fixpoint.
    * For GDS's actual `gds.kCoreDecomposition` answer shape (per-node
    * core NUMBER) use `kcoreDecompositionStream` below. */
  def kcoreStream(graphName: String, k: Int = 10,
      precomputed: Option[DataFrame] = None): DataFrame =
    kcoreModes(graphName, k, precomputed).stream()
  def kcoreWrite(graphName: String, writeProperty: String = "coreValue",
      k: Int = 10, writeLabel: String = "User",
      precomputed: Option[DataFrame] = None): DataFrame =
    kcoreModes(graphName, k, precomputed).write(writeProperty, writeLabel)
  def kcoreStats(graphName: String, k: Int = 10,
      precomputed: Option[DataFrame] = None): DataFrame = {
    val f = kcoreModes(graphName, k, precomputed).stream().localCheckpoint()
    metaLong("coreNodeCount" -> f.filter(col("coreValue") > 0).count(),
      "nodeCount" -> f.count())
  }
  def kcoreMutate(graphName: String, mutateProperty: String = "coreValue",
      k: Int = 10, precomputed: Option[DataFrame] = None): DataFrame =
    kcoreModes(graphName, k, precomputed).mutate(mutateProperty)

  private def kcoreDecompositionModes(graphName: String,
      precomputed: Option[DataFrame]): NodeModes =
    new NodeModes(graphName, "coreValue", () => {
      val p = projOf(graphName)
      overAllNodes(p, precomputed.getOrElse(
        graft.graph.Algorithms.coreDecomposition(
          p.rels.select(col("src"), col("dst")))), lit(0L))
    })

  /** `gds.kCoreDecomposition.*` (aka `gds.kcore`) — GDS-faithful FULL
    * decomposition: coreValue is each node's core NUMBER (the max k it
    * survives peeling to), 0 for edgeless nodes. h-index-iteration
    * kernel (`Algorithms.coreDecomposition`); the fixed-k membership
    * family above stays as the documented graft extension for the
    * "who is in the dense core?" recommender question. */
  def kcoreDecompositionStream(graphName: String,
      precomputed: Option[DataFrame] = None): DataFrame =
    kcoreDecompositionModes(graphName, precomputed).stream()
  def kcoreDecompositionWrite(graphName: String,
      writeProperty: String = "coreValue", writeLabel: String = "User",
      precomputed: Option[DataFrame] = None): DataFrame =
    kcoreDecompositionModes(graphName, precomputed).write(writeProperty, writeLabel)
  def kcoreDecompositionStats(graphName: String,
      precomputed: Option[DataFrame] = None): DataFrame = {
    val f = kcoreDecompositionModes(graphName, precomputed).stream()
      .localCheckpoint()
    // coalesce: max over an empty projection is null, not a degeneracy
    metaLong("degeneracy" -> f
      .agg(coalesce(max(col("coreValue")), lit(0L))).head().getLong(0),
      "nodeCount" -> f.count())
  }
  def kcoreDecompositionMutate(graphName: String,
      mutateProperty: String = "coreValue",
      precomputed: Option[DataFrame] = None): DataFrame =
    kcoreDecompositionModes(graphName, precomputed).mutate(mutateProperty)

  // ————— r12b: the last kernels without a catalog front door — hits,
  // closeness, randomWalk, spanningTree / kSpanningTree — each a thin
  // adapter onto the already-oracled kernel, never a second
  // implementation. —————

  /** The completed (nodeId, hub, auth) frame the hits modes share —
    * the [[graft.graph.Algorithms.hitsSides]] mutual power loop over
    * the projection's rels, left-completed over the full node set
    * (a node with no out-rels has hub 0, no in-rels auth 0 — exactly
    * what the loop's aggregates produce for every node they DO see). */
  private def hitsFrame(graphName: String, hitsIterations: Int,
      relationshipWeightProperty: Option[String],
      precomputed: Option[(DataFrame, DataFrame)]): DataFrame = {
    val p = projOf(graphName)
    val (hubs, auths) = precomputed.getOrElse(
      graft.graph.Algorithms.hitsSides(
        weightedRelsOf(p, requireWeightProp(p, relationshipWeightProperty)),
        hitsIterations))
    p.nodes.select(col("id").as("nodeId"))
      .join(hubs.withColumnRenamed("node_id", "nodeId"), Seq("nodeId"), "left")
      .join(auths.withColumnRenamed("node_id", "nodeId"), Seq("nodeId"), "left")
      .select(col("nodeId"), coalesce(col("h"), lit(0.0)).as("hub"),
        coalesce(col("a"), lit(0.0)).as("auth"))
  }

  /** `gds.alpha.hits.stream` — hubs & authorities over the projection
    * as stored (NATURAL for the bipartite reference shape; an
    * UNDIRECTED projection holds both directions, so hub ≡ auth there,
    * which is HITS on an undirected graph). YIELDs flat `hub` / `auth`
    * columns where GDS nests them under a `values` map — documented
    * flattening, same numbers. `precomputed` is the (hubs, auths)
    * materialised-silver seam (the fastRP pattern) — frames already in
    * the PROJECTION id space. */
  def hitsStream(graphName: String, hitsIterations: Int = 5,
      relationshipWeightProperty: Option[String] = None,
      precomputed: Option[(DataFrame, DataFrame)] = None): DataFrame =
    hitsFrame(graphName, hitsIterations, relationshipWeightProperty,
      precomputed)

  /** `gds.alpha.hits.write` — both scores onto the db node frames as
    * `<writeProperty>Hub` / `<writeProperty>Auth` (GDS prefixes its
    * auth/hub property pair the same way). */
  def hitsWrite(graphName: String, writeProperty: String = "hits",
      hitsIterations: Int = 5,
      relationshipWeightProperty: Option[String] = None,
      writeLabel: String = "User",
      precomputed: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val p = projOf(graphName)
    val f = hitsFrame(graphName, hitsIterations, relationshipWeightProperty,
      precomputed).localCheckpoint()
    metaLong("nodePropertiesWritten" ->
      (writeNodeProp(p, f.select(col("nodeId"), col("hub")),
        writeProperty + "Hub", writeLabel) +
        writeNodeProp(p, f.select(col("nodeId"), col("auth")),
          writeProperty + "Auth", writeLabel)))
  }

  def hitsStats(graphName: String, hitsIterations: Int = 5,
      relationshipWeightProperty: Option[String] = None,
      precomputed: Option[(DataFrame, DataFrame)] = None): DataFrame =
    metaLong("nodeCount" ->
      hitsFrame(graphName, hitsIterations, relationshipWeightProperty,
        precomputed).count(),
      "hitsIterations" -> hitsIterations.toLong)

  def hitsMutate(graphName: String, mutateProperty: String = "hits",
      hitsIterations: Int = 5,
      relationshipWeightProperty: Option[String] = None,
      precomputed: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val f = hitsFrame(graphName, hitsIterations, relationshipWeightProperty,
      precomputed).localCheckpoint()
    metaLong("nodePropertiesWritten" ->
      (mutateNodeProp(graphName, f.select(col("nodeId"), col("hub")),
        mutateProperty + "Hub") +
        mutateNodeProp(graphName, f.select(col("nodeId"), col("auth")),
          mutateProperty + "Auth")))
  }

  private def closenessModes(graphName: String, samplingSize: Int,
      maxHops: Int, sourceNodes: Seq[Long],
      precomputed: Option[DataFrame]): NodeModes =
    new NodeModes(graphName, "score", () => {
      val p = projOf(graphName)
      overAllNodes(p, precomputed.getOrElse {
        val sources =
          if (sourceNodes.nonEmpty) sourceNodes
          else sampleSources(p, samplingSize)
        graft.graph.Algorithms.closenessSample(
          p.rels.select(col("src"), col("dst")),
          sources, maxHops, symmetric = true)
          .select(col("source").as("node_id"),
            col("closeness").as("value"))
      }, lit(0.0))
    })

  /** `gds.closeness.*` — closeness centrality OF a deterministic
    * source sample (the `samplingSize` lowest node ids, the
    * betweenness/harmonic sampling deviation; `sourceNodes` overrides
    * the sample explicitly — the pageRank-personalized precedent)
    * within a bounded `maxHops` horizon; non-sample nodes complete
    * with 0.0. GDS scores every node via full APSP — that never runs
    * at 100 TB, so the sampled estimate is the documented deviation
    * (the `closeness_sample` kernel, which the oracle pins). */
  def closenessStream(graphName: String, samplingSize: Int = 8,
      maxHops: Int = 3, sourceNodes: Seq[Long] = Nil,
      precomputed: Option[DataFrame] = None): DataFrame =
    closenessModes(graphName, samplingSize, maxHops, sourceNodes,
      precomputed).stream()
  def closenessWrite(graphName: String, writeProperty: String = "closeness",
      samplingSize: Int = 8, maxHops: Int = 3,
      sourceNodes: Seq[Long] = Nil, writeLabel: String = "User",
      precomputed: Option[DataFrame] = None): DataFrame =
    closenessModes(graphName, samplingSize, maxHops, sourceNodes,
      precomputed).write(writeProperty, writeLabel)
  def closenessStats(graphName: String, samplingSize: Int = 8,
      maxHops: Int = 3, sourceNodes: Seq[Long] = Nil,
      precomputed: Option[DataFrame] = None): DataFrame =
    closenessModes(graphName, samplingSize, maxHops, sourceNodes,
      precomputed).stats()
  def closenessMutate(graphName: String, mutateProperty: String = "closeness",
      samplingSize: Int = 8, maxHops: Int = 3,
      sourceNodes: Seq[Long] = Nil,
      precomputed: Option[DataFrame] = None): DataFrame =
    closenessModes(graphName, samplingSize, maxHops, sourceNodes,
      precomputed).mutate(mutateProperty)

  /** `gds.randomWalk.stream` — `walksPerNode` walks of `walkLength`
    * NODES (GDS's length convention: steps = walkLength − 1) from each
    * source, over the projection's rels as stored. Each YIELD row is
    * one walk's ordered `nodeIds`; `walkId` rides along as a graft
    * extension (the sampler is the seeded-hash-draw `randomWalks`
    * kernel — bit-reproducible, so walks are identifiable, and the
    * oracle unrolls them by id). A walk that strands on a node with no
    * out-rels simply ends early (shorter array, GDS's behavior). */
  def randomWalkStream(graphName: String, sourceNodes: Seq[Long],
      walkLength: Int = 5, walksPerNode: Int = 2): DataFrame = {
    require(walkLength >= 2, s"walkLength must be >= 2, got $walkLength")
    val p = projOf(graphName)
    graft.graph.Algorithms.randomWalks(
      p.rels.select(col("src"), col("dst")), sourceNodes,
      steps = walkLength - 1, walksPerSource = walksPerNode,
      symmetric = true)
      .groupBy(col("walk_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("step"), col("node_id")))),
        e => e.getField("node_id")).as("nodeIds"))
      .select(col("walk_id").as("walkId"), col("nodeIds"))
  }

  /** The projection's undirected weighted edge list, one row per pair
    * (least/greatest canonicalisation collapses the UNDIRECTED
    * store's direction twins) — the [[graft.graph.Algorithms
    * .spanningForest]] input shape. */
  private def undirectedPairsOf(p: Projection,
      relationshipWeightProperty: Option[String]): DataFrame =
    weightedRelsOf(p, requireWeightProp(p, relationshipWeightProperty))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"), col("weight"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Root the spanning forest at `source`: BFS over the tree edges of
    * the source's component, emitting (nodeId, parentId, weight) per
    * reached node — the source roots itself with weight 0. The forest
    * is |V|−c rows and tree depth is unbounded (a path-shaped MST is
    * |V| deep), so the rooting leg is driver-side under the repo's
    * standard 5M-row gate and fails loudly above it — the rooted
    * stream is a result-STREAMING shape (GDS walks the tree on one
    * machine too); the distributed artifact at scale is the unrooted
    * forest ([[graft.graph.Algorithms.spanningForest]] itself). */
  private def rootForest(forest: DataFrame, source: Long): DataFrame = {
    val spark = forest.sparkSession
    import spark.implicits._
    val edges = forest.select(col("src"), col("dst"),
      col("weight").cast("double")).collect()
    require(edges.length <= graft.graph.Algorithms.DriverGateDefault,
      s"rooted spanningTree stream is driver-side and gated at " +
        s"${graft.graph.Algorithms.DriverGateDefault} forest " +
        s"edges, got ${edges.length}; use the unrooted forest at this scale")
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Double)]]
    edges.foreach { r =>
      val (s, d, w) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      adj.getOrElseUpdate(s, scala.collection.mutable.ArrayBuffer.empty) += ((d, w))
      adj.getOrElseUpdate(d, scala.collection.mutable.ArrayBuffer.empty) += ((s, w))
    }
    val out = scala.collection.mutable.ArrayBuffer((source, source, 0.0))
    val seen = scala.collection.mutable.Set(source)
    val queue = scala.collection.mutable.Queue(source)
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      adj.getOrElse(u, Nil).foreach { case (v, w) =>
        if (seen.add(v)) { out += ((v, u, w)); queue.enqueue(v) }
      }
    }
    out.toSeq.toDF("nodeId", "parentId", "weight")
  }

  /** `gds.spanningTree.stream` — the `objective` (MAXIMUM/MINIMUM)
    * spanning tree of `sourceNode`'s component, rooted at the source:
    * one (nodeId, parentId, weight) row per reached node, the source
    * parenting itself at weight 0. The forest is the deterministic
    * Borůvka kernel (`mst_edges`' total-order uniqueness argument), so
    * the rooted answer is unique too. `precomputedForest` is the
    * materialised-silver seam (the fastRP pattern). */
  def spanningTreeStream(graphName: String, sourceNode: Long,
      objective: String = "MINIMUM",
      relationshipWeightProperty: Option[String] = None,
      precomputedForest: Option[DataFrame] = None): DataFrame =
    rootForest(forestOf(graphName, objective, relationshipWeightProperty,
      precomputedForest), sourceNode)

  private def forestOf(graphName: String, objective: String,
      relationshipWeightProperty: Option[String],
      precomputedForest: Option[DataFrame]): DataFrame =
    precomputedForest.getOrElse {
      require(Seq("MINIMUM", "MAXIMUM").contains(objective.toUpperCase),
        s"objective must be MINIMUM or MAXIMUM, got $objective")
      graft.graph.Algorithms.spanningForest(
        undirectedPairsOf(projOf(graphName), relationshipWeightProperty),
        maximum = objective.equalsIgnoreCase("MAXIMUM"))
    }

  /** `gds.spanningTree.write` — the rooted tree installed into the db
    * edge store as `writeRelationshipType` (parent → child, weight),
    * YIELDing GDS's (effectiveNodeCount, relationshipsWritten,
    * totalWeight). */
  def spanningTreeWrite(graphName: String, sourceNode: Long,
      writeRelationshipType: String = "MST",
      objective: String = "MINIMUM",
      relationshipWeightProperty: Option[String] = None,
      precomputedForest: Option[DataFrame] = None): DataFrame = {
    val rooted = spanningTreeStream(graphName, sourceNode, objective,
      relationshipWeightProperty, precomputedForest).localCheckpoint()
    val tree = rooted.filter(col("nodeId") =!= col("parentId"))
      .select(col("parentId").as("src"), col("nodeId").as("dst"),
        col("weight")).localCheckpoint()
    db = db.copy(edges = db.edges + (writeRelationshipType -> tree))
    val s = spark
    import s.implicits._
    Seq((rooted.count(), tree.count(),
      tree.agg(coalesce(sum(col("weight")), lit(0.0))).head().getDouble(0)))
      .toDF("effectiveNodeCount", "relationshipsWritten", "totalWeight")
  }

  def spanningTreeStats(graphName: String, sourceNode: Long,
      objective: String = "MINIMUM",
      relationshipWeightProperty: Option[String] = None,
      precomputedForest: Option[DataFrame] = None): DataFrame = {
    val rooted = spanningTreeStream(graphName, sourceNode, objective,
      relationshipWeightProperty, precomputedForest).localCheckpoint()
    val s = spark
    import s.implicits._
    Seq((rooted.count(),
      rooted.agg(coalesce(sum(col("weight")), lit(0.0))).head().getDouble(0)))
      .toDF("effectiveNodeCount", "totalWeight")
  }

  /** `gds.spanningTree.mutate` — the rooted tree onto the projection's
    * `mutRels` (the knnMutate idiom). */
  def spanningTreeMutate(graphName: String, sourceNode: Long,
      mutateRelationshipType: String = "MST",
      objective: String = "MINIMUM",
      relationshipWeightProperty: Option[String] = None,
      precomputedForest: Option[DataFrame] = None): DataFrame = {
    val p = projOf(graphName)
    val tree = spanningTreeStream(graphName, sourceNode, objective,
      relationshipWeightProperty, precomputedForest)
      .filter(col("nodeId") =!= col("parentId"))
      .select(col("parentId").as("src"), col("nodeId").as("dst"),
        col("weight")).localCheckpoint()
    projections.put(graphName,
      p.copy(mutRels = p.mutRels + (mutateRelationshipType -> tree)))
    metaLong("relationshipsWritten" -> tree.count())
  }

  private def kSpanningTreeModes(graphName: String, k: Int,
      objective: String, relationshipWeightProperty: Option[String],
      precomputed: Option[DataFrame]): NodeModes =
    new NodeModes(graphName, "communityId", () => {
      val p = projOf(graphName)
      overAllNodes(p, precomputed.getOrElse {
        val forest = forestOf(graphName, objective,
          relationshipWeightProperty, None).localCheckpoint()
        // the k−1 weakest forest edges, (src, dst) tie-break — forest
        // rows only (|V|−c), so the driver-side limit is bounded
        val cut = forest
          .orderBy(col("weight").asc, col("src"), col("dst")).limit(k - 1)
        val kept = forest.join(cut.select(col("src"), col("dst")),
          Seq("src", "dst"), "left_anti")
        // maxIter 60: tree-shaped input is the worst CC diameter case,
        // and below the size gate the adaptive driver leg skips the
        // propagation entirely (the kSpanningClusters argument)
        graft.graph.Algorithms.connectedComponentsAdaptive(
          kept.select(col("src"), col("dst")), maxIter = 60)
      }.toDF("node_id", "value"), col("node_id"))
    })

  /** `gds.kSpanningTree.*` — cut the k−1 weakest edges of the
    * `objective` spanning forest: exactly c(G) + k − 1 internally
    * connected clusters (the `k_spanning_clusters` kernel), every
    * node labelled (cut-out and rel-less nodes become their own
    * singleton cluster, GDS's every-node contract). */
  def kSpanningTreeStream(graphName: String, k: Int = 5,
      objective: String = "MAXIMUM",
      relationshipWeightProperty: Option[String] = None,
      precomputed: Option[DataFrame] = None): DataFrame =
    kSpanningTreeModes(graphName, k, objective, relationshipWeightProperty,
      precomputed).stream()
  def kSpanningTreeWrite(graphName: String, writeProperty: String = "community",
      k: Int = 5, objective: String = "MAXIMUM",
      relationshipWeightProperty: Option[String] = None,
      writeLabel: String = "User",
      precomputed: Option[DataFrame] = None): DataFrame =
    kSpanningTreeModes(graphName, k, objective, relationshipWeightProperty,
      precomputed).write(writeProperty, writeLabel)
  def kSpanningTreeStats(graphName: String, k: Int = 5,
      objective: String = "MAXIMUM",
      relationshipWeightProperty: Option[String] = None,
      precomputed: Option[DataFrame] = None): DataFrame = {
    val f = kSpanningTreeModes(graphName, k, objective,
      relationshipWeightProperty, precomputed).stream().localCheckpoint()
    metaLong("communityCount" ->
      f.select(col("communityId")).distinct().count(),
      "nodeCount" -> f.count())
  }
  def kSpanningTreeMutate(graphName: String,
      mutateProperty: String = "community", k: Int = 5,
      objective: String = "MAXIMUM",
      relationshipWeightProperty: Option[String] = None,
      precomputed: Option[DataFrame] = None): DataFrame =
    kSpanningTreeModes(graphName, k, objective, relationshipWeightProperty,
      precomputed).mutate(mutateProperty)

  /** The (node_id, cluster) frame the kmeans modes share — Lloyd's over
    * the projection nodes' `nodeProperty` vector column (the
    * `kmeans_clusters` kernel, hash-seeded + 1e-6-snapped centroids).
    * `precomputed` is the materialised-silver seam (the fastRP
    * pattern). */
  private def kmeansFrameOf(graphName: String, nodeProperty: String, k: Int,
      iterations: Int, dim: Int, precomputed: Option[DataFrame]): DataFrame =
    precomputed.getOrElse {
      val p = projOf(graphName)
      require(p.nodes.columns.contains(nodeProperty),
        s"projection carries no node property '$nodeProperty'")
      graft.ann.KMeans.lloyd(
        p.nodes.filter(col(nodeProperty).isNotNull)
          .select(col("id").as("vec_id"), col(nodeProperty).as("embedding")),
        k, iterations, dim)
    }.toDF("node_id", "value")

  private def kmeansModes(graphName: String, nodeProperty: String, k: Int,
      iterations: Int, dim: Int, precomputed: Option[DataFrame]): NodeModes =
    new NodeModes(graphName, "communityId",
      () => kmeansFrameOf(graphName, nodeProperty, k, iterations, dim,
        precomputed))

  /** `gds.kmeans.*` — Lloyd's clustering of a node vector property
    * (GDS's nodeProperty-based kmeans; communityId = cluster index). */
  def kmeansStream(graphName: String, nodeProperty: String = "embedding",
      k: Int = 8, maxIterations: Int = 3, dim: Int = 64,
      precomputed: Option[DataFrame] = None): DataFrame =
    kmeansModes(graphName, nodeProperty, k, maxIterations, dim, precomputed)
      .stream()
  def kmeansWrite(graphName: String, writeProperty: String = "communityId",
      nodeProperty: String = "embedding", k: Int = 8, maxIterations: Int = 3,
      dim: Int = 64, writeLabel: String = "User",
      precomputed: Option[DataFrame] = None): DataFrame =
    kmeansModes(graphName, nodeProperty, k, maxIterations, dim, precomputed)
      .write(writeProperty, writeLabel)
  def kmeansStats(graphName: String, nodeProperty: String = "embedding",
      k: Int = 8, maxIterations: Int = 3, dim: Int = 64,
      precomputed: Option[DataFrame] = None): DataFrame = {
    val f = kmeansFrameOf(graphName, nodeProperty, k, maxIterations, dim,
      precomputed).localCheckpoint()
    metaLong("nodeCount" -> f.count(),
      "communityCount" -> f.select(col("value")).distinct().count())
  }
  def kmeansMutate(graphName: String, mutateProperty: String = "communityId",
      nodeProperty: String = "embedding", k: Int = 8, maxIterations: Int = 3,
      dim: Int = 64, precomputed: Option[DataFrame] = None): DataFrame =
    kmeansModes(graphName, nodeProperty, k, maxIterations, dim, precomputed)
      .mutate(mutateProperty)

  /** The (node_id, embedding) frame the node2vec modes share — the
    * walk-corpus → SPPMI → projection kernel
    * ([[graft.graph.Node2Vec.embedGraph]], the `node2vec_embeddings`
    * oracle's machinery) over the projection's weighted rels. */
  private def node2vecEmbedOf(p: Projection, embeddingDimension: Int,
      relationshipWeightProperty: Option[String],
      precomputed: Option[DataFrame]): DataFrame =
    precomputed.getOrElse(graft.graph.Node2Vec.embedGraph(
      weightedRelsOf(p, relationshipWeightProperty), embeddingDimension))

  /** `gds.beta.node2vec.stream(name, {embeddingDimension,
    * relationshipWeightProperty}) YIELD nodeId, embedding`. */
  def node2vecStream(graphName: String, embeddingDimension: Int = 64,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputed: Option[DataFrame] = None): DataFrame =
    node2vecEmbedOf(projOf(graphName), embeddingDimension,
      relationshipWeightProperty, precomputed)
      .select(col("node_id").as("nodeId"), col("embedding"))

  /** `gds.beta.node2vec.write` — embeddings decoded per label back onto
    * the db node frames (the fastRP write contract). */
  def node2vecWrite(graphName: String, writeProperty: String = "node2vec",
      embeddingDimension: Int = 64,
      relationshipWeightProperty: Option[String] = Some("weight"),
      writeLabel: String = "User",
      precomputed: Option[DataFrame] = None): DataFrame = {
    val p = projOf(graphName)
    metaLong("nodePropertiesWritten" -> writeNodeProp(p,
      node2vecEmbedOf(p, embeddingDimension, relationshipWeightProperty,
        precomputed).localCheckpoint(),
      writeProperty, writeLabel))
  }

  /** `gds.beta.node2vec.stats YIELD nodeCount`. */
  def node2vecStats(graphName: String, embeddingDimension: Int = 64,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputed: Option[DataFrame] = None): DataFrame =
    metaLong("nodeCount" -> node2vecEmbedOf(projOf(graphName),
      embeddingDimension, relationshipWeightProperty, precomputed).count())

  /** `gds.beta.node2vec.mutate` — embeddings onto the projection. */
  def node2vecMutate(graphName: String, mutateProperty: String = "node2vec",
      embeddingDimension: Int = 64,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputed: Option[DataFrame] = None): DataFrame =
    metaLong("nodePropertiesWritten" -> mutateNodeProp(graphName,
      node2vecEmbedOf(projOf(graphName), embeddingDimension,
        relationshipWeightProperty, precomputed).localCheckpoint(),
      mutateProperty))

  /** `gds.shortestPath.yens.stream(name, {sourceNode, targetNode, k,
    * relationshipWeightProperty}) YIELD index, sourceNode, targetNode,
    * totalCost, nodeIds, costs` — K shortest loopless paths over the
    * oracled [[graft.graph.Algorithms.yensPaths]] kernel (its 0-based
    * path_rank IS the GDS index; `costs` is GDS's cumulative-cost-per-
    * step array, position-aligned with nodeIds — r12, closing the last
    * YIELD omission). Same bounded-horizon (`rounds`) and
    * no-weight-property-⇒-hop-cost-1.0 contract as
    * [[shortestPathDijkstraStream]]; fewer than k rows when the graph
    * has fewer loopless paths within the budget. */
  def shortestPathYensStream(graphName: String, sourceNode: Long,
      targetNode: Long, k: Int = 3,
      relationshipWeightProperty: Option[String] = None,
      rounds: Int = 6,
      precomputedPaths: Option[DataFrame] = None): DataFrame = {
    val p = projOf(graphName)
    val paths = precomputedPaths.getOrElse {
      val lengths = weightedRelsOf(p,
        requireWeightProp(p, relationshipWeightProperty))
        .select(col("src"), col("dst"), col("weight").as("len"))
      graft.graph.Algorithms.yensPaths(lengths, sourceNode, targetNode, k,
        rounds)
    }
    paths
      .groupBy(col("path_rank"))
      .agg(sort_array(collect_list(
          struct(col("step"), col("node_id"), col("step_cost")))).as("steps"),
        max(col("path_cost")).as("totalCost"))
      .select(col("path_rank").as("index"), lit(sourceNode).as("sourceNode"),
        lit(targetNode).as("targetNode"), col("totalCost"),
        transform(col("steps"), s => s.getField("node_id")).as("nodeIds"),
        transform(col("steps"), s => s.getField("step_cost")).as("costs"))
      .orderBy(col("index"))
  }

  // ————— r11 wave 2: the OPTIMIZATION / FEATURE procedures — maxkcut,
  // influenceMaximization.celf, scaleProperties, hashgnn, graph.generate
  // — same thin-adapter discipline onto the oracled kernels. —————

  private def maxKCutFrame(graphName: String, k: Int, iterations: Int,
      relationshipWeightProperty: Option[String],
      precomputed: Option[DataFrame]): DataFrame =
    precomputed.getOrElse {
      val p = projOf(graphName)
      graft.graph.Algorithms.maxKCut(
        weightedRelsOf(p, relationshipWeightProperty), k, iterations)
    }.toDF("node_id", "value")

  /** `gds.alpha.maxkcut.*` — approximate maximum k-cut (the
    * `maxkcut_classes` integer-exact local-search kernel); communityId
    * is the cut class. */
  def maxKCutStream(graphName: String, k: Int = 4, iterations: Int = 3,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputed: Option[DataFrame] = None): DataFrame =
    new NodeModes(graphName, "communityId",
      () => maxKCutFrame(graphName, k, iterations,
        relationshipWeightProperty, precomputed)).stream()
  def maxKCutWrite(graphName: String, writeProperty: String = "community",
      k: Int = 4, iterations: Int = 3,
      relationshipWeightProperty: Option[String] = Some("weight"),
      writeLabel: String = "User",
      precomputed: Option[DataFrame] = None): DataFrame =
    new NodeModes(graphName, "communityId",
      () => maxKCutFrame(graphName, k, iterations,
        relationshipWeightProperty, precomputed))
      .write(writeProperty, writeLabel)
  def maxKCutStats(graphName: String, k: Int = 4, iterations: Int = 3,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputed: Option[DataFrame] = None): DataFrame = {
    val f = maxKCutFrame(graphName, k, iterations,
      relationshipWeightProperty, precomputed).localCheckpoint()
    metaLong("nodeCount" -> f.count(),
      "communityCount" -> f.select(col("value")).distinct().count())
  }
  def maxKCutMutate(graphName: String, mutateProperty: String = "community",
      k: Int = 4, iterations: Int = 3,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputed: Option[DataFrame] = None): DataFrame =
    new NodeModes(graphName, "communityId",
      () => maxKCutFrame(graphName, k, iterations,
        relationshipWeightProperty, precomputed)).mutate(mutateProperty)

  private def influenceFrame(graphName: String, sims: Int, depth: Int,
      seedCount: Int, relationshipWeightProperty: Option[String],
      precomputed: Option[DataFrame]): DataFrame =
    precomputed.getOrElse {
      val p = projOf(graphName)
      graft.graph.Influence.influenceSeeds(
        weightedRelsOf(p, relationshipWeightProperty), sims, depth,
        seedCount)
    }

  /** `gds.beta.influenceMaximization.celf.stream(name, {seedSetSize})
    * YIELD rank, nodeId, spread` — the reverse-influence-sampling
    * kernel (`influence_seeds`); spread is the seed's marginal RR-set
    * coverage (the CELF gain column). */
  def influenceMaximizationStream(graphName: String, sims: Int = 64,
      depth: Int = 3, seedSetSize: Int = 5,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputed: Option[DataFrame] = None): DataFrame =
    influenceFrame(graphName, sims, depth, seedSetSize,
      relationshipWeightProperty, precomputed)
      .select(col("seed_rank").as("rank"), col("node_id").as("nodeId"),
        col("gain").as("spread"))

  /** `gds.beta.influenceMaximization.celf.stats YIELD seedCount,
    * totalSpread`. */
  def influenceMaximizationStats(graphName: String, sims: Int = 64,
      depth: Int = 3, seedSetSize: Int = 5,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputed: Option[DataFrame] = None): DataFrame = {
    val f = influenceFrame(graphName, sims, depth, seedSetSize,
      relationshipWeightProperty, precomputed).localCheckpoint()
    metaLong("seedCount" -> f.count(),
      "totalSpread" ->
        f.agg(coalesce(sum(col("gain")), lit(0L))).head().getLong(0))
  }

  /** `gds.beta.influenceMaximization.celf.write/mutate` — the seeds'
    * spread written as a node property (non-seeds stay null: GDS only
    * writes the seed set). */
  def influenceMaximizationWrite(graphName: String,
      writeProperty: String = "spread", sims: Int = 64, depth: Int = 3,
      seedSetSize: Int = 5,
      relationshipWeightProperty: Option[String] = Some("weight"),
      writeLabel: String = "User",
      precomputed: Option[DataFrame] = None): DataFrame = {
    val f = influenceFrame(graphName, sims, depth, seedSetSize,
      relationshipWeightProperty, precomputed)
    metaLong("nodePropertiesWritten" -> writeNodeProp(projOf(graphName),
      f.select(col("node_id"), col("gain")).localCheckpoint(),
      writeProperty, writeLabel))
  }
  def influenceMaximizationMutate(graphName: String,
      mutateProperty: String = "spread", sims: Int = 64, depth: Int = 3,
      seedSetSize: Int = 5,
      relationshipWeightProperty: Option[String] = Some("weight"),
      precomputed: Option[DataFrame] = None): DataFrame = {
    val f = influenceFrame(graphName, sims, depth, seedSetSize,
      relationshipWeightProperty, precomputed)
    metaLong("nodePropertiesWritten" -> mutateNodeProp(graphName,
      f.select(col("node_id"), col("gain")).localCheckpoint(),
      mutateProperty))
  }

  /** `gds.scaleProperties.stream(name, {nodeProperties, scaler}) YIELD
    * nodeId, scaled…` — the five-scaler family (`scale_properties`
    * kernel) over PROJECTION-DERIVED features: deg / weighted deg from
    * the rels (the properties a graph-scaler actually scales) plus one
    * caller-named node property (`nodeProperty` → the Mean-scaled
    * column). Population statistics come from integer aggregates
    * (one scalar-row pull) — the kernel's exact-replay contract. */
  def scalePropertiesStream(graphName: String, nodeProperty: String = "a",
      relationshipWeightProperty: Option[String] = Some("weight")): DataFrame = {
    val p = projOf(graphName)
    require(p.nodes.columns.contains(nodeProperty),
      s"projection carries no node property '$nodeProperty'")
    val gprops = weightedRelsOf(p,
      requireWeightProp(p, relationshipWeightProperty))
      .groupBy(col("src").as("node_id"))
      .agg(count(lit(1)).as("deg"),
        sum(col("weight").cast("long")).as("wdeg"))
    val stat = p.nodes.select(col("id").as("node_id"),
      col(nodeProperty).cast("double").as("a"))
    // complete over ALL projection nodes (0 deg/wdeg for rel-less ones)
    // — GDS returns scaled properties for every node, and every other
    // node procedure here uses the same overAllNodes completion
    val completed = stat.join(gprops, Seq("node_id"), "left_outer")
      .na.fill(0L, Seq("deg", "wdeg"))
    graft.graph.Algorithms.scaleProperties(completed)
      .withColumnRenamed("node_id", "nodeId")
  }

  private def hashGnnFrame(graphName: String, bitUniverse: Int, draws: Int,
      iterations: Int, density: Double,
      precomputed: Option[DataFrame]): DataFrame =
    precomputed.getOrElse(graft.graph.HashGnn.embeddings(
      projOf(graphName).rels.select(col("src"), col("dst")),
      bitUniverse, draws, iterations, density))

  /** `gds.hashgnn.stream(name, {embeddingDensity, iterations}) YIELD
    * nodeId, bit` — one row per SET bit of the binary embedding (the
    * `hashgnn_embeddings` kernel's exact shape; GDS streams the packed
    * vector, here it is exploded — the sparse form a feature join
    * consumes). */
  def hashGnnStream(graphName: String, bitUniverse: Int = 32,
      draws: Int = 8, iterations: Int = 2, density: Double = 0.25,
      precomputed: Option[DataFrame] = None): DataFrame =
    hashGnnFrame(graphName, bitUniverse, draws, iterations, density,
      precomputed)
      .select(col("node_id").as("nodeId"), col("bit"))

  /** `gds.hashgnn.write/mutate` — the SORTED set-bit array per node as
    * the embedding property (the sllpa array-write shape). */
  def hashGnnWrite(graphName: String, writeProperty: String = "hashgnn",
      bitUniverse: Int = 32, draws: Int = 8, iterations: Int = 2,
      density: Double = 0.25, writeLabel: String = "User",
      precomputed: Option[DataFrame] = None): DataFrame = {
    val f = hashGnnFrame(graphName, bitUniverse, draws, iterations,
      density, precomputed)
      .groupBy(col("node_id"))
      .agg(sort_array(collect_list(col("bit"))).as("value"))
      .localCheckpoint()
    metaLong("nodePropertiesWritten" ->
      writeNodeProp(projOf(graphName), f, writeProperty, writeLabel))
  }
  def hashGnnMutate(graphName: String, mutateProperty: String = "hashgnn",
      bitUniverse: Int = 32, draws: Int = 8, iterations: Int = 2,
      density: Double = 0.25,
      precomputed: Option[DataFrame] = None): DataFrame = {
    val f = hashGnnFrame(graphName, bitUniverse, draws, iterations,
      density, precomputed)
      .groupBy(col("node_id"))
      .agg(sort_array(collect_list(col("bit"))).as("value"))
      .localCheckpoint()
    metaLong("nodePropertiesWritten" ->
      mutateNodeProp(graphName, f, mutateProperty))
  }

  /** `gds.graph.filter(to, from, nodeFilter, relationshipFilter)` —
    * registers a FILTERED projection (GDS's subgraph procedure: cut the
    * working graph down BEFORE running algorithms — the shape that
    * matters when the full projection is 100 TB and the analysis wants
    * one community). Filters are boolean SQL expressions over the
    * frames' own columns (GDS's `n.`/`r.` prefixes dropped:
    * `community = 5`, `weight >= 3`); `"*"` keeps everything.
    * Surviving rels are additionally INDUCED on the surviving node set
    * (both endpoints must pass the node filter — GDS's contract), via
    * two semi-joins; mutated relationship frames do not carry over
    * (filter, like sample.rwr, starts a fresh working graph —
    * documented). YIELDs (graphName, fromGraphName, nodeCount,
    * relationshipCount). */
  def graphFilter(graphName: String, fromGraphName: String,
      nodeFilter: String = "*",
      relationshipFilter: String = "*"): DataFrame = {
    require(!projections.contains(graphName),
      s"graph '$graphName' already exists")
    val p = projOf(fromGraphName)
    val nodes = (if (nodeFilter == "*") p.nodes
      else p.nodes.filter(expr(nodeFilter))).localCheckpoint()
    val rels = (if (relationshipFilter == "*") p.rels
      else p.rels.filter(expr(relationshipFilter)))
      .join(nodes.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(nodes.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select(p.rels.columns.map(col).toIndexedSeq: _*)
      .localCheckpoint()
    projections.put(graphName, Projection(p.labels, nodes, rels, p.relType))
    val s = spark
    import s.implicits._
    Seq((graphName, fromGraphName, nodes.count(), rels.count()))
      .toDF("graphName", "fromGraphName", "nodeCount", "relationshipCount")
  }

  /** `gds.beta.graph.generate(name, {scale, edgeCount, a, b, c})` —
    * the R-MAT generator (`graph_generate_rmat` kernel: per-edge md5
    * quadrant recursion, O(E), bit-replayable) registered as a NEW
    * named projection, YIELDing (graphName, nodeCount,
    * relationshipCount). Deterministic: the same parameters register
    * the same graph in any session. */
  def graphGenerate(graphName: String, scale: Int = 10,
      edgeCount: Long = 10000L, a: Double = 0.57, b: Double = 0.19,
      c: Double = 0.19): DataFrame = {
    require(!projections.contains(graphName),
      s"graph '$graphName' already exists")
    val e = graft.graph.Algorithms.rmatEdges(spark, scale, edgeCount, a, b, c)
      .select(col("src"), col("dst")).localCheckpoint()
    // GDS's graph.generate registers the FULL requested node universe
    // (nodeCount = 2^scale), including ids the sampler never hit — not
    // just src ∪ dst of the drawn edges
    val nodes = spark.range(1L << scale).select(col("id")).localCheckpoint()
    projections.put(graphName, Projection(Nil, nodes, e, "REL"))
    val s = spark
    import s.implicits._
    Seq((graphName, nodes.count(), e.count()))
      .toDF("graphName", "nodeCount", "relationshipCount")
  }

  /** `gds.<procedure>.write.estimate(name, {...}) YIELD nodeCount,
    * relationshipCount, bytesMin, bytesMax, requiredMemory` — a
    * DOCUMENTED planning heuristic (per-element working-set arithmetic
    * over the projection's counts), not instrumentation: GDS's own
    * estimate mode is the same kind of closed-form model. Counts are
    * exact (the projection is materialised); bytes assume 8-byte ids,
    * float embeddings, and a 2× transient ceiling for the iterative
    * kernels' current+next frames. */
  def writeEstimate(graphName: String, procedure: String,
      embeddingDimension: Int = 64, topK: Int = 5): DataFrame = {
    val p = projOf(graphName)
    val n = p.nodes.count()
    val m = p.rels.count()
    val graphBytes = n * 16L + m * 24L
    val (resMin, resMax) = procedure match {
      case "fastRP" =>
        (n * embeddingDimension * 4L, n * embeddingDimension * 8L)
      case "knn" | "nodeSimilarity" => (n * topK * 24L, n * topK * 48L)
      case "louvain" | "labelPropagation" | "wcc" | "scc" => (n * 16L, n * 32L)
      case "pageRank" | "articleRank" | "eigenvector" | "betweenness" |
           "harmonic" => (n * 16L, n * 32L)
      case "degree" => (n * 8L, n * 16L)
      case "triangleCount" | "localClusteringCoefficient" =>
        (n * 8L + m * 8L, (n * 8L + m * 8L) * 2L)
      case other => sys.error(s"no estimate model for procedure '$other'")
    }
    val (bytesMin, bytesMax) = (graphBytes + resMin, graphBytes + resMax)
    val s = spark
    import s.implicits._
    Seq((n, m, bytesMin, bytesMax, s"[$bytesMin Bytes ... $bytesMax Bytes]"))
      .toDF("nodeCount", "relationshipCount", "bytesMin", "bytesMax",
        "requiredMemory")
  }
}
