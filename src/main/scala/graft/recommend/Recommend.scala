package graft.recommend

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.graph.RatingsGraph

/** The reference's recommendation query surface, re-expressed as
  * declarative Spark dataflows (anti-join = left_anti, top-k =
  * orderBy.limit, neighbourhood = join chains).
  *
  * "Community" here is the SQL-checkable community attribute (the user's
  * nation key, carried as `community` on activeUsers); the learned
  * Louvain-class communities live in
  * [[graft.graph.Algorithms.userCommunities]] and feed the same query
  * shapes.
  */
object Recommend {

  /** Default target user for the parameterised single-user queries; the
    * reference pins user ids the same way (Alg_KNN_FastRP.py:161 uses 19). */
  val TargetUser = 1L

  /** Books rated by the target user, highest rating first.
    * Reference `streamlit_app.py:33-46` (get_user_rated_books). */
  def userRatedBooks(spark: SparkSession, dir: String, user: Long = TargetUser): DataFrame =
    // broadcast the ONE user's ratings against the full book table —
    // never the reverse (ratedBooks grows with the catalogue)
    RatingsGraph.ratedBooks(spark, dir)
      .join(broadcast(RatingsGraph.ratings(spark, dir)
        .filter(col("user_id") === user)), Seq("book_id"))
      .select(col("book_id"), col("title"), col("rating"))
      .orderBy(col("rating").desc, col("book_id"))

  /** Top-k most similar users by co-rating weight, carrying the users'
    * properties — the reference returns the similar users' attributes,
    * not just ids (`recommender_knn.py:40`: u2.location, u2.age;
    * name/community/segment are this data model's user properties).
    * Reference `recommender_knn.py:31-45` (get_similar_users) with the
    * co-occurrence graph standing in for SIMILAR_TO. */
  def similarUsersCooc(spark: SparkSession, dir: String, user: Long = TargetUser, k: Int = 3): DataFrame =
    similarUsersFrom(RatingsGraph.cooccurrenceEdges(spark, dir),
      RatingsGraph.activeUsers(spark, dir), user, k)

  /** [[similarUsersCooc]] over any (cooc, active users) pair. */
  def similarUsersFrom(cooc: DataFrame, users: DataFrame, user: Long, k: Int): DataFrame = {
    val top = cooc
      .filter(col("u1") === user)
      .select(col("u2").as("user_id"), col("weight"))
      .orderBy(col("weight").desc, col("user_id"))
      .limit(k)
    // tiny top-k side broadcast against the full user-property table
    users
      .join(broadcast(top), Seq("user_id"))
      .select(col("user_id"), col("name"), col("community"), col("segment"), col("weight"))
      .orderBy(col("weight").desc, col("user_id"))
  }

  /** KNN-style recommendation: books rated by the target's most similar
    * users, excluding books the target already rated; score = avg rating +
    * vote count. Reference `recommender_knn.py:11-28` (recommend_books).
    *
    * Scale: `sims` (top-k per user) is tiny → broadcast; the anti-join on
    * the target's own books is also broadcast-size; the book/title table
    * is joined only AGAINST THE k-ROW RESULT (broadcasting the k rows).
    * The large inputs — ratings and books — are each scanned once and
    * never broadcast.
    */
  def recommendKnn(spark: SparkSession, dir: String, user: Long = TargetUser,
      simK: Int = 20, k: Int = 3): DataFrame =
    recommendFromSimilar(
      RatingsGraph.ratings(spark, dir),
      similarUsersCooc(spark, dir, user, simK).select(col("user_id")),
      RatingsGraph.ratedBooks(spark, dir), user, k)

  /** The reference's recommend_books core (`recommender_knn.py:11-28`),
    * parameterised by the similar-user set: their books, anti-join the
    * target's own, avg rating + votes, top-k. Shared by the
    * co-occurrence and embedding KNN paths; fixture-testable. */
  def recommendFromSimilar(ratings: DataFrame, sims: DataFrame, books: DataFrame,
      user: Long, k: Int): DataFrame = {
    val mine = ratings.filter(col("user_id") === user).select(col("book_id"))
    val top = ratings
      .join(broadcast(sims), Seq("user_id"))
      .join(broadcast(mine), Seq("book_id"), "left_anti")
      .groupBy(col("book_id"))
      .agg((sum(col("rating")).cast("double") / count(lit(1))).as("avg_rating"),
        count(lit(1)).as("votes"))
      .orderBy(col("avg_rating").desc, col("votes").desc, col("book_id"))
      .limit(k)
    // attach titles AFTER the top-k: broadcast the k-row result against
    // the full book table, never the (catalogue-sized) reverse
    books.join(broadcast(top), Seq("book_id"))
      .select(col("book_id"), col("title"), col("avg_rating"), col("votes"))
      .orderBy(col("avg_rating").desc, col("votes").desc, col("book_id"))
  }

  /** Community recommendation: books rated >=6 by other users of the
    * target's community, excluding the target's books, ranked by
    * recommendation count. Reference `recommender_community.py:11-32`. */
  def recommendCommunity(spark: SparkSession, dir: String, user: Long = TargetUser, k: Int = 3): DataFrame =
    recommendCommunityWith(spark, dir,
      RatingsGraph.activeUsers(spark, dir).select(col("user_id"), col("community")), user, k)

  /** Same query shape over the LEARNED Louvain communities — the
    * reference's actual path: `recommender_community.py:21-22` groups on
    * `u.community` as written by Louvain
    * (`Alg_Community_Detection.py:40-45`, writeProperty="community").
    * Iterative labels → rows-only oracle; spec-verified on clique
    * fixtures. */
  def recommendCommunityLouvain(spark: SparkSession, dir: String,
      user: Long = TargetUser, k: Int = 3): DataFrame =
    recommendCommunityWith(spark, dir,
      graft.graph.Louvain.userCommunities(spark, dir)
        .select(col("node_id").as("user_id"), col("community")), user, k)

  /** Community recommendation parameterised by any (user_id, community)
    * assignment — static attribute or learned labels. */
  def recommendCommunityWith(spark: SparkSession, dir: String, users: DataFrame,
      user: Long, k: Int): DataFrame =
    recommendCommunityFrom(RatingsGraph.ratings(spark, dir),
      RatingsGraph.ratedBooks(spark, dir), users, user, k)

  /** [[recommendCommunityWith]] over any (ratings, books) pair. */
  def recommendCommunityFrom(ratings: DataFrame, books: DataFrame, users: DataFrame,
      user: Long, k: Int): DataFrame = {
    val targetCommunity = users.filter(col("user_id") === user).select(col("community"))
    val peers = users
      .join(broadcast(targetCommunity), Seq("community"))
      .filter(col("user_id") =!= user)
      .select(col("user_id"))
    val mine = ratings.filter(col("user_id") === user).select(col("book_id"))
    val top = ratings
      .filter(col("rating") >= 6)
      // peers = a whole community — unbounded at scale, so NO broadcast
      // hint: let the size-based planner / AQE pick the join strategy
      .join(peers, Seq("user_id"))
      .join(broadcast(mine), Seq("book_id"), "left_anti")
      .groupBy(col("book_id"))
      .agg(count(lit(1)).as("recommend_count"))
      .orderBy(col("recommend_count").desc, col("book_id"))
      .limit(k)
    books.join(broadcast(top), Seq("book_id"))
      .select(col("book_id"), col("title"), col("recommend_count"))
      .orderBy(col("recommend_count").desc, col("book_id"))
  }

  /** All users belonging to a community with more than one member.
    * Reference `streamlit_app.py:15-30` (group → HAVING size>1 → unwind),
    * expressed as a window count so the members survive without a
    * re-join. */
  def usersInLargeGroups(spark: SparkSession, dir: String): DataFrame =
    usersInLargeGroupsWith(RatingsGraph.activeUsers(spark, dir))

  /** Same shape over the learned Louvain communities (the reference's
    * `streamlit_app.py:15-30` groups on the Louvain-written property).
    *
    * REFERENCE PARITY on unlabelled users: the Streamlit query groups
    * ALL `(u:User)` by `u.community`, and users Louvain never labelled
    * (no co-occurrence edge, so not in the Cypher projection) carry a
    * null property and group together in Neo4j. LEFT join + null
    * community reproduces that: the unlabelled users form one null
    * group that passes the size>1 filter like any other (pinned in
    * LearnedSurfaceSpec). */
  def usersInLargeGroupsLouvain(spark: SparkSession, dir: String): DataFrame =
    usersInLargeGroupsWith(
      RatingsGraph.activeUsers(spark, dir).drop("community")
        .join(graft.graph.Louvain.userCommunities(spark, dir)
          .select(col("node_id").as("user_id"), col("community")),
          Seq("user_id"), "left"))

  /** Large-community membership parameterised by any user table carrying
    * (user_id, name, community). */
  def usersInLargeGroupsWith(users: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("community"))
    users
      .withColumn("community_size", count(lit(1)).over(w))
      .filter(col("community_size") > 1)
      .select(col("user_id"), col("name"), col("community"), col("community_size"))
      .orderBy(col("community"), col("user_id"))
  }

  /** 2-hop neighbourhood for visualisation: the target's RATED edges, the
    * target's SIMILAR_TO (co-occurrence) edges, and the similar users'
    * RATED edges. Reference `recommender_knn.py:48-79` (get_graph_data).
    * Output is a typed edge list (edge_type, src, dst, weight). */
  def graphNeighborhood(spark: SparkSession, dir: String, user: Long = TargetUser, simK: Int = 3): DataFrame =
    graphNeighborhoodWith(RatingsGraph.ratings(spark, dir),
      similarUsersCooc(spark, dir, user, simK).select(col("user_id"), col("weight")),
      user)

  /** The 2-hop neighbourhood over the EMBEDDING-KNN SIMILAR_TO edges —
    * the reference's actual viz path (`recommender_knn.py:48-79` expands
    * over edges produced by `Alg_KNN_FastRP` with `similarity` carried
    * on the SIMILAR_TO hop). Similar users = the target's top-`simK`
    * KNN edges at the reference operating point (GDS-normalised cosine,
    * topK=20, cutoff=0.8). */
  def graphNeighborhoodKnn(spark: SparkSession, dir: String, user: Long = TargetUser, simK: Int = 3): DataFrame =
    graphNeighborhoodWith(RatingsGraph.ratings(spark, dir),
      graft.graph.Algorithms.userKnnEdgesRef(spark, dir)
        .filter(col("src") === user)
        .orderBy(col("similarity").desc, col("dst"))
        .limit(simK)
        .select(col("dst").as("user_id"), col("similarity").as("weight")),
      user)

  /** Neighbourhood expansion parameterised by any similar-user table
    * carrying (user_id, weight): the target's RATED edges, the
    * SIMILAR_TO edges (with their weight/similarity), and the similar
    * users' RATED edges. Output is a typed edge list
    * (edge_type, src, dst, weight). */
  def graphNeighborhoodWith(ratings: DataFrame, sims: DataFrame, user: Long): DataFrame = {
    val myBooks = ratings.filter(col("user_id") === user)
      .select(lit("RATED").as("edge_type"), col("user_id").as("src"),
        col("book_id").as("dst"), col("rating").cast("double").as("weight"))
    val simEdges = sims
      .select(lit("SIMILAR_TO").as("edge_type"), lit(user).as("src"),
        col("user_id").as("dst"), col("weight").cast("double").as("weight"))
    val theirBooks = ratings
      .join(broadcast(sims.select(col("user_id"))), Seq("user_id"))
      .select(lit("RATED").as("edge_type"), col("user_id").as("src"),
        col("book_id").as("dst"), col("rating").cast("double").as("weight"))
    myBooks.unionAll(simEdges).unionAll(theirBooks)
      .orderBy(col("edge_type"), col("src"), col("dst"))
  }

  /** The renderer payload behind the reference's pyvis visualization
    * (`recommender_knn.py:82-159` build_graph + `streamlit_app.py:98-108`):
    * the flattened node+edge list a client renders directly — users as
    * `dot` nodes, books as `box` nodes colored by rating (red ≤4,
    * yellow ≤7, green above), SIMILAR_TO edges with thickness scaled to
    * 1..10, RATED edges weighted by the rating. This is the one piece of
    * `get_graph_data`'s consumer that previously had no entry: the
    * neighborhood DATA is `graph_neighborhood`; this is the render-ready
    * projection of it.
    *
    * Determinism note: pyvis resolves repeated `add_node` calls by
    * iteration order (last write wins), which is dict-order-dependent in
    * the reference; here a book seen with several in-neighborhood
    * ratings takes the MAX rating for its color — a fixed, documented
    * rule. Edge thickness for SIMILAR_TO normalizes the co-rating weight
    * into the reference's 1..10 band (`1 + similarity * 9`,
    * recommender_knn.py:125) by the neighborhood max.
    *
    * No NULLs anywhere: absent fields are '' / 0.0 so the row hash and
    * the total order are engine-independent. */
  def graphVizPayload(spark: SparkSession, dir: String, user: Long = TargetUser, simK: Int = 3): DataFrame = {
    // the payload reads the neighborhood FOUR times (sim users, book
    // color agg, RATED edge rows, sim-edge normalizer); materialise the
    // few-hundred-row frame once instead of re-executing the expansion
    // subtree per branch — the cut is per-user-payload-sized, never
    // corpus-sized, so the checkpoint is safe at any scale
    val edges = graphNeighborhood(spark, dir, user, simK).localCheckpoint()
    val simUsers = edges.filter(col("edge_type") === "SIMILAR_TO")
      .select(col("dst").as("user_id"), col("weight"))
    // all user nodes in frame: the target plus the similar users
    val userIds = simUsers.select(col("user_id"))
      .unionAll(spark.range(1).select(lit(user).as("user_id"))).distinct()
    val userNodes = RatingsGraph.activeUsers(spark, dir)
      .join(broadcast(userIds), Seq("user_id"))
      .select(lit("node").as("kind"),
        concat(lit("user_"), col("user_id")).as("id"),
        lit("").as("src"), lit("").as("dst"),
        concat(lit("User "), col("user_id")).as("label"),
        lit("dot").as("shape"), lit("").as("color"),
        concat(lit("User-ID: "), col("user_id"), lit("\nName: "), col("name"),
          lit("\nSegment: "), col("segment")).as("title"),
        lit(0.0).as("value"))
    // book nodes: color from the MAX in-neighborhood rating (see note)
    val ratedAgg = edges.filter(col("edge_type") === "RATED")
      .groupBy(col("dst").as("book_id"))
      .agg(max(col("weight")).as("max_rating"))
    val bookNodes = RatingsGraph.ratedBooks(spark, dir)
      .join(broadcast(ratedAgg), Seq("book_id"))
      .select(lit("node").as("kind"),
        concat(lit("book_"), col("book_id")).as("id"),
        lit("").as("src"), lit("").as("dst"),
        col("title").as("label"), lit("box").as("shape"),
        when(col("max_rating") <= 4, "red")
          .when(col("max_rating") <= 7, "yellow").otherwise("green").as("color"),
        concat(lit("Title: "), col("title"), lit("\nBrand: "), col("brand"),
          lit("\nType: "), col("book_type")).as("title"),
        lit(0.0).as("value"))
    // SIMILAR_TO edges: thickness 1..10 by neighborhood-max normalization
    val maxW = simUsers.agg(max(col("weight")).as("max_w"))
    val simEdgeRows = simUsers.crossJoin(broadcast(maxW))
      .select(lit("edge").as("kind"), lit("").as("id"),
        concat(lit("user_"), lit(user)).as("src"),
        concat(lit("user_"), col("user_id")).as("dst"),
        lit("").as("label"), lit("").as("shape"), lit("").as("color"),
        // integer percent, not printf("%.2f"): Java formats halfway cases
        // HALF_UP while C printf is half-even, so 0.125 would render
        // differently across engines; round() is half-away-from-zero in
        // both for positives
        concat(lit("similarity: "),
          round(col("weight") * 100.0 / col("max_w"), 0).cast("int"),
          lit("%")).as("title"),
        round(lit(1.0) + (col("weight") * 9.0) / col("max_w"), 6).as("value"))
    val ratedEdgeRows = edges.filter(col("edge_type") === "RATED")
      .select(lit("edge").as("kind"), lit("").as("id"),
        concat(lit("user_"), col("src")).as("src"),
        concat(lit("book_"), col("dst")).as("dst"),
        lit("").as("label"), lit("").as("shape"), lit("").as("color"),
        // round() before the int cast: Spark's double→int cast truncates
        // while DuckDB's CAST rounds — parity must not hinge on rating
        // weights staying integral
        round(col("weight"), 0).cast("int").cast("string").as("title"),
        col("weight").as("value"))
    userNodes.unionAll(bookNodes).unionAll(simEdgeRows).unionAll(ratedEdgeRows)
      .orderBy(col("kind"), col("id"), col("src"), col("dst"), col("title"))
  }

  /** Item-item collaborative filtering: books most co-liked with a given
    * book (the "users who liked this also liked" shape — the item-side
    * twin of the user co-occurrence projection). */
  def similarBooksCooc(spark: SparkSession, dir: String, book: Long = 1L, k: Int = 10): DataFrame = {
    val liked = RatingsGraph.ratings(spark, dir).filter(col("rating") >= 6)
      .select(col("user_id"), col("book_id"))
    val seed = liked.filter(col("book_id") === book).select(col("user_id"))
    val top = liked
      // seed = all raters of one book — a hot item is unbounded, so no
      // broadcast hint; AQE picks (and can split skew)
      .join(seed, Seq("user_id"))
      .filter(col("book_id") =!= book)
      .groupBy(col("book_id"))
      .agg(count(lit(1)).as("co_liked"))
      .orderBy(col("co_liked").desc, col("book_id"))
      .limit(k)
    RatingsGraph.ratedBooks(spark, dir).join(broadcast(top), Seq("book_id"))
      .select(col("book_id"), col("title"), col("co_liked"))
      .orderBy(col("co_liked").desc, col("book_id"))
  }

  /** The reference's actual KNN recommendation path
    * (`Alg_KNN_FastRP.py:119-136`): FastRP embeddings → cosine KNN
    * SIMILAR_TO edges → books of similar users, anti-join already-rated,
    * avg rating + votes, top-k. Embedding-based, so rows-only oracle. */
  def recommendKnnEmbedding(spark: SparkSession, dir: String, user: Long = TargetUser,
      topK: Int = 20, cutoff: Double = 0.1, k: Int = 10): DataFrame =
    recommendFromSimilar(
      RatingsGraph.ratings(spark, dir),
      graft.graph.Algorithms.userKnnEdges(spark, dir, topK, cutoff)
        .filter(col("src") === user).select(col("dst").as("user_id")),
      RatingsGraph.ratedBooks(spark, dir), user, k)

  /** Top-k users by rating-degree (degree centrality on the bipartite
    * graph; the reference surfaces degree implicitly through its viz). */
  def degreeTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    RatingsGraph.ratings(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("degree"))
      .orderBy(col("degree").desc, col("user_id"))
      .limit(k)

  /** Graph cardinality / degree summary (sanity stats over the loaded
    * graph; reference `data/load_data.py:95-101` constraint checks). */
  def graphNodeStats(spark: SparkSession, dir: String): DataFrame = {
    val ratings = RatingsGraph.ratings(spark, dir)
    ratings.agg(
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(col("book_id")).as("n_books"),
      count(lit(1)).as("n_edges"),
      max(col("rating")).as("max_rating"),
      min(col("rating")).as("min_rating"))
  }
}
