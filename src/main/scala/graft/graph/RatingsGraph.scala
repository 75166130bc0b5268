package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.LocalPlans

/** The bipartite User–Book RATED property graph, derived from the TPC-H
  * testdata.
  *
  * Mirrors the reference's data model (reference `data/load_data.py:17-61`:
  * `(:User)-[:RATED {rating}]->(:Book)` with MERGE dedup semantics, and
  * `data/ratings_filtering.py:11-13`: drop rating==0 rows) on the driver
  * testdata mapping: User = customer (via orders.o_custkey), Book = part,
  * one raw rating event per lineitem with deterministic
  * `rating = int(l_quantity) % 11` in 0..10 (0 plays the role of the
  * reference dataset's implicit "no rating" rows that get filtered).
  *
  * Scale notes: the event build is a single join on l_orderkey (both sides
  * shuffle-hash on the key; AQE coalesces); the MERGE-dedup is one exchange
  * on (user_id, book_id) with map-side partial max. Nothing here is
  * quadratic; at 100 TB this is scan-bound.
  */
object RatingsGraph {
  import graft.Tables._

  /** One raw rating event per lineitem row: (user_id, book_id, rating). */
  def ratingEvents(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .join(orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        col("o_custkey").as("user_id"),
        col("l_partkey").as("book_id"),
        (col("l_quantity").cast("int") % 11).cast("bigint").as("rating"))

  /** Reference `data/ratings_filtering.py`: drop zero ratings. */
  def filteredEvents(spark: SparkSession, dir: String): DataFrame =
    ratingEvents(spark, dir).filter(col("rating") =!= 0)

  /** Incremental silver maintenance — the batch twin of the streaming
    * MERGE (S6) and the 100 TB alternative to rebuilding the whole
    * ratings ETL per batch: fold a delta of rating events into an
    * existing ratings table. Exact because max is associative — merging
    * per-batch maxima equals one max over all events (spec-proved
    * against the full rebuild). One exchange on (user_id, book_id) over
    * |base| + |delta|; with the base stored bucketed on the merge key
    * (T2), the base side ships zero rows. */
  def mergeRatings(base: DataFrame, deltaEvents: DataFrame): DataFrame =
    base.select(col("user_id"), col("book_id"), col("rating"))
      .unionAll(deltaEvents.filter(col("rating") =!= 0)
        .select(col("user_id"), col("book_id"), col("rating")))
      .groupBy(col("user_id"), col("book_id"))
      .agg(max(col("rating")).as("rating"))

  /** Session conf key naming a bucketed SILVER table of the ratings
    * edges (as written by [[graft.sources.GraphStore.saveBucketed]]).
    * When set and the table exists, [[ratings]] reads it instead of
    * rebuilding the ETL — downstream per-user joins/aggregations then
    * plan with NO Exchange on the bucketed key. Opt-in; unset = rebuild
    * from the raw tables (default, reference parity). */
  val SilverTableConf = "graft.silver.ratings.table"

  /** The RATED edge table: MERGE-dedup per (user, book), keep max rating.
    * Reference `data/load_data.py:48-61` (MERGE + SET r.rating).
    * Session-cached: ~20 downstream queries reuse it. */
  def ratings(spark: SparkSession, dir: String): DataFrame = {
    val silver = spark.conf.getOption(SilverTableConf)
    // fail fast on a typo'd conf: a silent fallback to the rebuild ETL
    // would LOOK like silver mode but carry none of its plan properties
    silver.foreach(t => require(spark.catalog.tableExists(t),
      s"$SilverTableConf is set but table '$t' does not exist"))
    // every derived cache key carries the resolved source (see
    // graft.Cache), so this entry only needs its own name
    graft.Cache.cached(spark, dir, "ratings") {
      silver match {
        case Some(t) => spark.table(t)
        case None =>
          filteredEvents(spark, dir)
            .groupBy(col("user_id"), col("book_id"))
            .agg(max(col("rating")).as("rating"))
      }
    }
  }

  /** Users that appear in the filtered ratings (reference
    * `data/user_books_filtering.py:22-33`) — left-semi join keeps the
    * customer scan pruned to needed columns. */
  def activeUsers(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_name").as("name"),
        col("c_nationkey").cast("bigint").as("community"), col("c_mktsegment").as("segment"))
      .join(ratings(spark, dir).select("user_id"), Seq("user_id"), "left_semi")

  /** Books that appear in the filtered ratings (reference
    * `data/user_books_filtering.py:35-46`). */
  def ratedBooks(spark: SparkSession, dir: String): DataFrame =
    part(spark, dir)
      .select(col("p_partkey").as("book_id"), col("p_name").as("title"),
        col("p_brand").as("brand"), col("p_type").as("book_type"))
      .join(ratings(spark, dir).select("book_id"), Seq("book_id"), "left_semi")

  /** Weighted user–user co-rating projection: edge weight = number of
    * books both users rated >= 6; both directions, no self-loops.
    * Reference `algorithms/Alg_Community_Detection.py:20-30` (Cypher
    * projection for Louvain).
    *
    * Scale: the self-join on book_id is the classic co-occurrence blowup
    * (quadratic in per-book raters); pre-filtering to rating>=6 happens
    * before the join and AQE skew handling splits hot books. The
    * `maxFanout` degree cap bounds the quadratic term for 100 TB runs by
    * keeping only each book's top-N raters (deterministic: highest
    * rating first, then smallest user id — the strongest signal
    * survives). Default 0 = OFF for reference parity (the reference
    * projects ALL co-raters, `Alg_Community_Detection.py:20-30`).
    */
  /** Incremental maintenance of the co-occurrence projection — the
    * declared scale hazard of the whole graph build (§4): fold a delta
    * of rating events into an existing (cooc, ratings) pair WITHOUT
    * re-running the self-join over the full corpus. Sound because the
    * ratings MERGE is max-MONOTONE: a delta can only raise a rating, so
    * the liked set (rating ≥ 6) only GROWS and co-occurrence weights
    * only increase — no retraction path is needed. The weight delta is
    * exactly the directed pairs that NEWLY share a book, generated per
    * affected book as (new likers × all likers) ∪ (old likers × new
    * likers) — disjoint by the first factor, so each new pair counts
    * once. Every join is keyed on the delta's books: at 100 TB the
    * update touches the liked-index buckets of those books only, never
    * the full projection (spec-proved ≡ the rebuilt projection).
    * Returns (newCooc, newRatings). maxFanout is not supported here —
    * the top-N-raters cap is not monotone under insertion.
    *
    * While the three inputs hold at most `graft.driver.localThreshold`
    * rows in all, they come in as local frames (one bounded collect for
    * those that are not local already) and both returned plans run on the
    * driver through `graft.plans.LocalPlans`, computed there once; the
    * newly-liked set is a driver materialisation instead of an eager
    * local checkpoint. */
  def mergeCooccurrence(oldCooc: DataFrame, oldRatings: DataFrame,
      deltaEvents: DataFrame): (DataFrame, DataFrame) =
    LocalPlans.overLocalInputs(oldCooc, oldRatings, deltaEvents) {
      case Seq(oldCooc, oldRatings, deltaEvents) =>
        // on the driver leg both are computed once here: the serving
        // merge reads them three times
        val (newCooc, newRatings) = foldCooccurrence(oldCooc, oldRatings, deltaEvents)
        (LocalPlans.materialize(newCooc).getOrElse(newCooc),
          LocalPlans.materialize(newRatings).getOrElse(newRatings))
    }

  private def foldCooccurrence(oldCooc: DataFrame, oldRatings: DataFrame,
      deltaEvents: DataFrame): (DataFrame, DataFrame) = {
    val newRatings = mergeRatings(oldRatings, deltaEvents)
    val oldLiked = oldRatings.filter(col("rating") >= 6)
      .select(col("user_id"), col("book_id"))
    // newly liked = liked now, not liked before (monotone: rating rose
    // across the 6 threshold, or the pair is brand-new)
    val newlyLiked = LocalPlans.localCheckpoint(newRatings.filter(col("rating") >= 6)
      .select(col("user_id"), col("book_id"))
      .join(oldLiked, Seq("user_id", "book_id"), "left_anti"))
    val touchedBooks = newlyLiked.select(col("book_id")).distinct()
    // NB the semi-join puts its key FIRST — re-project to (user, book)
    // before the position-based union, or every newlyLiked row arrives
    // with user/book swapped
    val oldOnTouched = oldLiked.join(touchedBooks, Seq("book_id"), "left_semi")
      .select(col("user_id"), col("book_id"))
    val allOnTouched = oldOnTouched.unionAll(newlyLiked)
    // directed new pairs: u newly-liked × v any-liked, plus u old-liked
    // × v newly-liked — u's provenance makes the two sets disjoint
    val delta = newlyLiked.select(col("user_id").as("u1"), col("book_id"))
      .join(allOnTouched.select(col("user_id").as("u2"), col("book_id")), Seq("book_id"))
      .unionAll(oldOnTouched.select(col("user_id").as("u1"), col("book_id"))
        .join(newlyLiked.select(col("user_id").as("u2"), col("book_id")), Seq("book_id")))
      .filter(col("u1") =!= col("u2"))
      .groupBy(col("u1"), col("u2"))
      .agg(count(lit(1)).as("weight"))
    val newCooc = oldCooc.select(col("u1"), col("u2"), col("weight"))
      .unionAll(delta)
      .groupBy(col("u1"), col("u2"))
      .agg(sum(col("weight")).as("weight"))
    (newCooc, newRatings)
  }

  def cooccurrenceEdges(spark: SparkSession, dir: String,
      maxFanout: Int = 0): DataFrame =
    graft.Cache.cached(spark, dir, s"cooccurrence_$maxFanout") {
      val likedAll = ratings(spark, dir).filter(col("rating") >= 6)
        .select(col("user_id"), col("book_id"), col("rating"))
      val liked =
        if (maxFanout <= 0) likedAll.select(col("user_id"), col("book_id"))
        else graft.plans.TopKPerKey.topKPerKey(likedAll, Seq("book_id"),
            Seq(("rating", false), ("user_id", true)), maxFanout)
          .select(col("user_id"), col("book_id"))
      val a = liked.select(col("user_id").as("u1"), col("book_id"))
      val b = liked.select(col("user_id").as("u2"), col("book_id"))
      a.join(b, Seq("book_id"))
        .filter(col("u1") =!= col("u2"))
        .groupBy(col("u1"), col("u2"))
        .agg(count(lit(1)).as("weight"))
    }
}
