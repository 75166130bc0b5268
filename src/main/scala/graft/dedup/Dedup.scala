package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ann.Lsh
import graft.graph.Algorithms

/** Near-duplicate detection suite over the `documents` table — the
  * standard large-corpus dedup ladder: exact hash (in
  * [[graft.text.TextOps.dedupExact]]), MinHash+LSH banding, SimHash
  * hamming blocking, and exact n-gram Jaccard verification of LSH
  * candidates.
  *
  * All hashes are md5-derived column expressions (48-bit BIGINTs from
  * the leading hex chars) — deterministic, codegen'd, no RNG state, no
  * UDFs, and exactly replayable in the DuckDB oracles. Everything is
  * candidate-generation-then-verify: the shuffles are keyed on bucket
  * hashes (|docs| × bands rows), and candidate-pair volume is set by
  * the banding dial — wide bands keep it ~linear in |docs|, while the
  * 1-row-band recall-complete configuration admits a background-
  * collision fraction of pairs in exchange for guaranteed recall (see
  * [[bandedCandidates]]; only used with a cheap exact prune behind it).
  */
object Dedup {

  /** Lower-cased whitespace tokens. Explicit char class, NOT `\s`:
    * Java's `\s` includes vertical tab (\x0B) while RE2's (the DuckDB
    * oracles') does not — the explicit class is identical in both. */
  private def tokens(c: Column): Column =
    filter(split(lower(c), "[ \\t\\n\\f\\r]+"), t => length(t) > 0)

  /** Word n-gram shingles (default 3); a document shorter than n tokens
    * contributes its whole token string as one shingle. */
  private def shingles(c: Column, n: Int = 3): Column =
    shinglesOfToks(tokens(c), n)

  /** [[shingles]] over an already-tokenized column — pass a BOUND
    * attribute when the shingling sits under a transform() (interpreted
    * lambdas re-evaluate an inlined split per element). */
  private def shinglesOfToks(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", toks)))

  /** Distinct-shingle set per document: (doc_id, shingle_set).
    * Tokenizes in its own projection first: higher-order lambdas are
    * interpreted (no CSE), so inlining the split into [[shingles]]'
    * transform re-runs the regex per shingle — O(tokens²) per doc. */
  def shingleSets(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    graft.Cache.cached(spark, dir, s"shingle_sets_$n") {
      Tables.documents(spark, dir)
        .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          array_distinct(shinglesOfToks(col("toks"), n)).as("shingle_set"))
    }


  /** MinHash + LSH banding candidate pairs with estimated Jaccard
    * (fraction of agreeing signature positions). Bands of `rowsPerBand`
    * signature values are hashed to buckets; docs colliding in any band
    * become a candidate pair.
    *
    * numHashes=32, bands=8×4: catches J≳0.5 pairs with high probability
    * while random pairs (J≈0.02 here) collide rarely. */
  /** MinHash signatures, session-cached per numHashes. sig[s] = min over
    * shingles of the 48-bit integer from the first 12 hex chars of
    * md5(s ":" shingle) — md5-derived so the EXACT signatures replay in
    * DuckDB (the oracle hashes the same strings; xxhash64 has no SQL
    * twin), 48 bits so the value rides a BIGINT in both engines.
    * Uniformity, and therefore the banding recall math, is unchanged
    * from the earlier xxhash64 basis. Measured alternative (hash
    * strings once, re-hash the longs per seed) was a net LOSS — the
    * extra hashed-array pass outweighs the cheaper per-element hash;
    * kept per-seed string hashing. */
  private[graft] def minhashSigs(spark: SparkSession, dir: String, numHashes: Int): DataFrame =
    graft.Cache.cached(spark, dir, s"minhash_sigs_$numHashes") {
      shingleSets(spark, dir)
        .select(col("doc_id"), sigExpr(col("shingle_set"), numHashes).as("sig"))
    }

  /** The signature array as a pure column expression over a distinct-
    * shingle-set column — shared by the batch silver above and the
    * STREAMING near-dup member ([[graft.streaming.DocStreams]]), which
    * computes signatures per micro-batch row with no dir/cache. */
  private[graft] def sigExpr(shingleSet: Column, numHashes: Int): Column =
    array((0 until numHashes).map { s =>
      array_min(transform(shingleSet, sh =>
        graft.plans.Md5Bits.md5Bits(concat_ws(":", lit(s), sh), 12)))
    }: _*)

  /** (doc_id, sig) for any (doc_id, text) frame — batch or streaming
    * (pure column algebra end to end; tokenization rides its own
    * projection per the [[shingleSets]] note). */
  private[graft] def signaturesOf(docs: DataFrame, numHashes: Int = 32,
      n: Int = 3): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(shinglesOfToks(col("toks"), n)).as("shingle_set"))
      .select(col("doc_id"), sigExpr(col("shingle_set"), numHashes).as("sig"))

  /** Banded candidate id pairs (id_a < id_b, distinct): docs colliding
    * in ≥1 band of `rowsPerBand` signature positions. The (bands,
    * rowsPerBand) pair is the recall/selectivity dial: a J-similar pair
    * collides per band with J^rowsPerBand and is missed entirely with
    * (1−J^rowsPerBand)^bands, while a random background pair (J≈0.02
    * here) collides with ≈ bands·(0.02^rowsPerBand). Wide bands
    * (rowsPerBand ≥ 2) keep the candidate set ~linear; 1-row bands are
    * recall-complete down to low thresholds but admit a background
    * fraction of pairs — only sane when a cheap exact prune follows. */
  private def bandedCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    // the band key is the raw signature SLICE, not a hash of it: the
    // shuffle key is rowsPerBand longs either way, the join becomes
    // exact tuple equality (no band-hash collision caveat), and the
    // DuckDB oracle can state the same equality directly. 1-row bands
    // key on the BARE element — an array<bigint> join key measured ~2×
    // slower than a long through the same self-join
    val banded = (if (rowsPerBand == 1)
        // slice(…, 1, bands) keeps the bands parameter binding (callers
        // may band fewer positions than the signature holds)
        sigs.select(col("doc_id"), posexplode(slice(col("sig"), 1, bands)))
      else
        sigs.select(col("doc_id"),
          posexplode(transform(sequence(lit(0), lit(bands - 1)),
            b => slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .select(col("doc_id"), col("pos").as("band_idx"), col("col").as("band_hash"))
    val l = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("id_a"))
    val r = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("id_b"))
    l.join(r, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  def minhashPairs(spark: SparkSession, dir: String,
      numHashes: Int = 32, bands: Int = 8, minEstJaccard: Double = 0.2): DataFrame = {
    val sigs = minhashSigs(spark, dir, numHashes)
    // verify on signatures: estimated jaccard = agreeing positions / numHashes
    bandedCandidates(sigs, bands, numHashes / bands)
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact n-gram Jaccard over the LSH candidate pairs (the verify stage
    * of the MinHash pipeline).
    *
    * Candidate generation runs the banding at 32 bands × 1 row: a pair
    * at Jaccard J shares any single-minhash band with prob J, so a
    * J ≥ 0.5 pair is missed with prob (1−J)^32 ≈ 2e-10 — i.e.
    * recall-complete UP TO that miss probability, not absolutely. The
    * all-pairs DuckDB oracle asserts exact equality, so it carries a
    * latent one-in-5-billion flake (accepted; any band/threshold retune
    * must re-derive (1−J^rows)^bands at the new operating point). (The
    * estimation-oriented 8×4 banding of [[minhashPairs]] is NOT
    * recall-safe at J near 0.5 — ~60% miss.)
    * The 1-row bands admit background-similarity candidates (see
    * [[bandedCandidates]]), so candidates stay ids-only and the verify
    * stage counts intersections from shingle POSTINGS (r6 — see
    * [[ngramJaccardPairsUncached]]) rather than shipping shingle
    * arrays; at production thresholds (0.8+) prefer ≥4-row bands,
    * where background collisions vanish and recall still holds.
    * Requires minJaccard > 0: the posting join materialises only pairs
    * with ≥ 1 shared shingle, so jaccard = 0 rows are unrepresentable
    * (they were emitted pre-r6 for zero-overlap band candidates). */
  def ngramJaccardPairs(spark: SparkSession, dir: String,
      minJaccard: Double = 0.5): DataFrame =
    // session-cached: the pair set feeds both the pairs entry and the
    // cluster closure ([[nearDupClusters]]) — verify once, consume twice
    graft.Cache.cached(spark, dir, s"ngram_jaccard_$minJaccard") {
      ngramJaccardPairsUncached(spark, dir, minJaccard)
    }

  private def ngramJaccardPairsUncached(spark: SparkSession, dir: String,
      minJaccard: Double): DataFrame = {
    require(minJaccard > 0,
      "posting-intersection verify cannot represent jaccard = 0 pairs")
    // ids-only candidates — no est-jaccard stage, no signature arrays.
    // Checkpointed: consumed three times below (pair semi-join + both
    // endpoints of the doc-level posting prefilter)
    val cand = bandedCandidates(minhashSigs(spark, dir, 32), bands = 32, rowsPerBand = 1)
      .localCheckpoint()
    val sets = shingleSets(spark, dir)
    val sizes = sets.select(col("doc_id"), size(col("shingle_set")).as("sz"))
    // Exact verify via POSTING-LIST intersection counts, not shipped
    // shingle arrays: the earlier shape joined the ~50-string arrays
    // onto every band candidate (1-row bands admit a background-J
    // candidate set — ~290k pairs here — so the array shuffle, not the
    // jaccard math, dominated at ~7 s). The per-shingle self-join
    // emits Σ C(df, 2) rows — background shingles have df ≈ 1, so only
    // genuinely-overlapping pairs materialise, and each row is two ids
    // instead of two arrays. |A∩B| comes out of one count aggregate;
    // |A∪B| = |A|+|B|−|A∩B| from the (id, size) table. The candidate
    // semi-join keeps the banded-LSH gate in the plan (recall proof
    // unchanged). Posting lists are pre-filtered to docs that appear in
    // ≥ 1 candidate pair BEFORE the self-join: Catalyst cannot push the
    // pair-level semi-join below the groupBy, so without this the
    // ΣC(df,2) explosion ran over the WHOLE corpus and the banded
    // prescreen bounded nothing — a hot shingle with df = d cost d²
    // posting rows corpus-wide; now d is its frequency among candidate
    // docs only. (A residual df-cap/salt on stop-grams within the
    // candidate set remains the 100 TB skew lever.)
    // checkpointed + explicitly broadcast: the posting table is read on
    // BOTH sides of the self-join below, and an un-materialized candDocs
    // would re-run its distinct on each branch and risk a sort-merge
    // semi-join (measured +6 exchanges in the plan pin)
    val candDocs = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct().localCheckpoint()
    val posts = sets.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(col("shingle_set")).as("sh"))
    val inter = posts.select(col("sh"), col("doc_id").as("id_a"))
      .join(posts.select(col("sh"), col("doc_id").as("id_b")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(cand, Seq("id_a", "id_b"), "left_semi")
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** CONTAINMENT near-dup pairs (Broder's overlap coefficient):
    * |A∩B| / min(|A|, |B|) over the DISCRIMINATIVE shingle sets — the
    * asymmetric-duplication detector Jaccard structurally misses (a
    * 20-token doc fully embedded in a 100-token doc scores J ≈ 0.2 but
    * containment 1.0; quote-inclusion and boilerplate-wrapping dups
    * look exactly like this). "Discriminative" = the df-cap made real:
    * shingles with corpus df > `dfCap` (stop-grams — the ΣC(df,2)
    * posting-explosion hazard documented at [[ngramJaccardPairs]]) and
    * df < 2 (can never pair) are dropped BEFORE the posting self-join,
    * which both bounds the join at any corpus size and sharpens the
    * metric to content that can actually identify a duplicate. Every
    * qualifying pair shares ≥ 1 kept shingle (containment > 0 requires
    * it), so the posting join is recall-complete by construction — the
    * oracle proves it against the all-pairs capped truth. */
  def containmentPairs(spark: SparkSession, dir: String,
      minContainment: Double = 0.8, dfCap: Int = 50): DataFrame = {
    val posts = shingleSets(spark, dir)
      .select(col("doc_id"), explode(col("shingle_set")).as("sh"))
      .localCheckpoint()
    val keep = posts.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
      .select(col("sh"))
    val cp = posts.join(keep, Seq("sh"), "left_semi").localCheckpoint()
    val sizes = cp.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = cp.select(col("sh"), col("doc_id").as("id_a"))
      .join(cp.select(col("sh"), col("doc_id").as("id_b")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("sz_a"), col("sz_b")))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Near-duplicate CLUSTERS: connected components over the verified
    * n-gram Jaccard pair graph (the step a production dedup actually
    * acts on — keep one doc per cluster, not per pair; pair output
    * alone double-counts transitive duplicate groups). Cluster id = min
    * doc id reachable; singleton docs are their own cluster. Composes
    * the exact-oracled pair stage with the min-label CC fixpoint, so
    * the whole path stays exactly oracle-checkable via a recursive-CTE
    * closure. */
  /** Pairs up to which [[nearDupClusters]] solves the closure with
    * driver-side union-find instead of the distributed min-label
    * fixpoint (read through `Algorithms.driverGate`). Near-dup pair
    * graphs are SPARSE (pairs ≪ corpus): when the verified pair set fits
    * on the driver, a 20-round distributed fixpoint is pure scheduling
    * overhead (measured ~8 s vs milliseconds at sf0.1). Above it — a
    * pathological corpus or 100 TB scale — the DataFrame CC runs. */
  val ClosurePairs = 1000000L

  def nearDupClusters(spark: SparkSession, dir: String,
      minJaccard: Double = 0.5): DataFrame =
    clusterClosure(spark, ngramJaccardPairs(spark, dir, minJaccard),
      Tables.documents(spark, dir).select(col("doc_id")))

  /** Near-dup clusters over an INDUCED document subset (e.g. the
    * quality-filtered corpus): the verified pair graph restricted to
    * `docIds` on both endpoints. Per-pair verification is
    * subset-independent, so the induced pair set equals re-running the
    * whole ladder on the subset — the session-cached corpus-wide pair
    * stage is reused instead of recomputed. */
  def nearDupClustersFor(spark: SparkSession, dir: String, docIds: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    val ids = docIds.select(col("doc_id"))
    val pairs = ngramJaccardPairs(spark, dir, minJaccard)
      .join(ids.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
      .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
    clusterClosure(spark, pairs, ids)
  }

  /** Component closure over a verified pair graph, size-adaptive (see
    * [[ClosurePairs]]); every doc in `docs` gets a cluster (singletons
    * keep their own id). */
  private[graft] def clusterClosure(spark: SparkSession, pairsIn: DataFrame,
      docs: DataFrame): DataFrame = {
    // materialised once: the gate's count and the closure (collect / CC)
    // both read the pair set, and on the induced-subset path the
    // semi-joins above it are NOT session-cached
    val cc = Algorithms.gatedInput(pairsIn.select(col("id_a"), col("id_b")),
        Algorithms.driverGate(spark, ClosurePairs)) match {
      case Right(rows) =>
        import spark.implicits._
        graft.graph.UnionFind.componentsLocal(Algorithms.longPairs(rows)).toSeq
          .toDF("node_id", "component")
      // connectedComponents bidirects + distincts internally — pass the
      // one-direction pairs straight through
      case Left(pairs) => Algorithms.connectedComponents(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    }
    docs
      .join(cc.withColumnRenamed("node_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Final dedup output: ONE surviving document per near-dup cluster
    * (the min doc id — deterministic, matches the cluster label), with
    * `n_merged` = its CLUSTER SIZE (survivor included — a singleton
    * reports 1; docs removed by dedup = Σ(n_merged − 1)). This is the
    * row a production
    * pipeline actually writes back out: `corpus ⋉ survivors` is the
    * deduplicated corpus. Composes the exact-oracled cluster closure,
    * so the whole pair→cluster→survivor path stays oracle-checkable;
    * one extra aggregation on cluster_id beyond [[nearDupClusters]]. */
  def dedupSurvivors(spark: SparkSession, dir: String,
      minJaccard: Double = 0.5): DataFrame =
    nearDupClusters(spark, dir, minJaccard)
      .groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_merged"))
      .select(col("doc_id"), col("n_merged"))
      .orderBy(col("doc_id"))

  /** 48-bit SimHash fingerprint per document, fully columnar: the token
    * array is hashed ONCE per doc, then the 48 ±1 bit votes are
    * fold-over-array aggregates inside one projection — no explode, no
    * shuffle of token rows (the earlier explode→groupBy form shipped
    * |tokens| rows through an aggregation; this ships |docs|).
    * Empty-token docs get simhash 0. */
  def simhashes(docs: DataFrame, nBits: Int = 48): DataFrame = {
    // token hash = first 12 hex chars of md5 as a 48-bit BIGINT — the
    // md5 basis makes the fingerprints (and so the pair set) exactly
    // replayable in the DuckDB oracle; all nBits=48 vote bits are real
    val withHs = docs.select(col("doc_id"),
      transform(tokens(col("text")), t =>
        graft.plans.Md5Bits.md5Bits(t, 12)).as("hs"))
    val votes = (0 until nBits).map { j =>
      aggregate(col("hs"), lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"b$j")
    }
    withHs.select(col("doc_id") +: size(col("hs")).as("_n") +: votes: _*)
      .select(col("doc_id"),
        when(col("_n") > 0,
          (0 until nBits).map(j =>
            when(col(s"b$j") >= 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _))
          .otherwise(lit(0L)).as("simhash"))
  }

  /** Hamming-distance pairs over any (doc_id, text) table via band
    * blocking (4 bands × 12 bits): a pair within hamming ≤ 3 of 48 bits
    * differs in at most 3 bands, so by pigeonhole it agrees exactly on
    * ≥1 band — the blocking is recall-COMPLETE for maxHamming ≤ 3, not
    * probabilistic. */
  def simhashPairsFor(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val nBits = 48
    val bandBits = 12
    val nBands = nBits / bandBits
    require(maxHamming < nBands, s"pigeonhole needs maxHamming < $nBands bands")
    // spread first: a small doc table arrives as one parquet partition
    // and the 48 per-doc vote folds would run on a single core
    val fan = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sim = simhashes(docs.repartition(fan), nBits).localCheckpoint()
    val banded = sim.select(col("doc_id"), col("simhash"),
        posexplode(expr(s"transform(sequence(0, ${nBands - 1}), " +
          s"b -> (simhash >> (b * $bandBits)) & ${(1L << bandBits) - 1}L)")))
      .select(col("doc_id"), col("simhash"), col("pos").as("band_idx"), col("col").as("band_key"))
    val l = banded.select(col("band_idx"), col("band_key"),
      col("doc_id").as("id_a"), col("simhash").as("sim_a"))
    val r = banded.select(col("band_idx"), col("band_key"),
      col("doc_id").as("id_b"), col("simhash").as("sim_b"))
    l.join(r, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("bigint").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SimHash near-dup pairs over the `documents` table. */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    simhashPairsFor(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), maxHamming)

  /** Embedding-cosine near-dup pairs over the `embeddings` table,
    * LSH-accelerated. Threshold tuned to the synthetic data's similarity
    * range (max pairwise cosine ≈ 0.48); at production thresholds
    * (≥0.9) the same operator applies unchanged.
    *
    * Band config is recall-tuned to the threshold: at cosine t the
    * per-hyperplane agreement probability is p = 1 − arccos(t)/π, so a
    * pair at t=0.4 (p≈0.63) survives a 2-bit band with p²≈0.40 and is
    * missed by all 32 bands with probability (1−0.40)³² ≈ 1e-7 — the
    * candidate set provably (verified by the all-pairs DuckDB oracle)
    * contains every ≥-threshold pair. At production thresholds (p≥0.97)
    * prefer wider bands (e.g. 16 bits) for smaller buckets: narrow
    * bands trade bucket selectivity for recall at low thresholds. */
  def embeddingPairs(spark: SparkSession, dir: String, minCosine: Double = 0.4,
      bands: Int = 32, bitsPerBand: Int = 2): DataFrame =
    Lsh.nearDupPairs(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", 64, minCosine, bands, bitsPerBand)
      .orderBy(col("id_a"), col("id_b"))
}
