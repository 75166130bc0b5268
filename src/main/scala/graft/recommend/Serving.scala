package graft.recommend

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ArraySeq

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.StructType

import graft.graph.{Algorithms, RatingsGraph}
import graft.plans.LocalPlans

/** The reference app's INTERACTIVE serving path. `streamlit_app.py:33-46`
  * (get_user_rated_books) and `recommender_knn.py:11-28` (recommend_books)
  * answer per-user queries from Neo4j's native store in milliseconds.
  * graft splits serving from analytics: Spark BUILDS and maintains a
  * precomputed serving silver bucketed on user_id (the T2/T4 layout),
  * and warm lookups are driver-local reads of a snapshot of it — no
  * Spark job and no parquet read per lookup.
  *
  * Snapshot leg (table rows ≤ `graft.driver.localThreshold`, the shared
  * driver-leg gate): the first lookup against a table collects it once,
  * globally sorted by (user_id, the lookup's own sort keys) — Spark's
  * own sort, so null/NaN/tie order is the bucketed leg's — into a
  * per-user map of rows. Each lookup returns one user's rows as a local
  * relation with the table's schema.
  *
  * Bucketed leg (over the gate, or the gate forced to 0 — the at-scale
  * shape): a point lookup
  *
  *  - prunes to ONE bucket at the scan (`SelectedBucketsCount: 1 out
  *    of N` — the other N−1 buckets are never opened), and
  *  - plans ZERO Exchange: scan → filter → project → in-partition sort.
  *
  * Both legs are spec-pinned (ScaleToolsSpec). At 100 TB the layout
  * holds — bucket count scales with the cluster, and a lookup still
  * touches a single bucket's row groups; this is the engine's answer to
  * the reference's interactive story without an OLTP store.
  *
  * The bucketed leg's per-user ORDER BY is done with
  * sortWithinPartitions, not orderBy: a global sort would plan a range
  * Exchange, while the pruned scan delivers the whole user in one
  * partition (asserted), where an in-partition sort IS a total order.
  */
object Serving {

  /** Warehouse tables are per-JVM (in-memory catalog) but their files
    * persist in spark-warehouse/ — tag the name with the source dir so
    * two SFs in one suite never read each other's buckets. */
  private def tag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** A previous JVM's warehouse files can survive without catalog
    * metadata (in-memory catalog dies with the session); CTAS then
    * refuses the orphaned location — clear it before building. */
  private def dropOrphanedLocation(spark: SparkSession, table: String): Unit = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(s"$wh/$table")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true): Unit
  }

  /** The user-books serving payload from any (ratings, books) pair —
    * shared by the full table build and the incremental merge. */
  private[graft] def userBooksPayload(ratings: DataFrame, books: DataFrame): DataFrame =
    ratings
      .join(books.select(col("book_id"), col("title")), Seq("book_id"))
      .select(col("user_id"), col("book_id"), col("title"), col("rating"))

  /** Serving silver #1: every user's rated books with the UI payload
    * (title, rating), bucketed+sorted by user_id. Built once per
    * session; SaveMode.Overwrite clears any stale files a previous JVM
    * left in the warehouse dir. */
  def userBooksTable(spark: SparkSession, dir: String, buckets: Int = 8): String = {
    // parameters live in the name: a same-session call with different
    // buckets must build its own table, not silently serve the old one
    val t = s"graft_serve_books_${tag(dir)}_$buckets"
    if (!GraftBridge.tableExists(spark, t)) {
      dropOrphanedLocation(spark, t)
      userBooksPayload(RatingsGraph.ratings(spark, dir),
          RatingsGraph.ratedBooks(spark, dir))
        .write.bucketBy(buckets, "user_id").sortBy("user_id")
        .format("parquet").mode(SaveMode.Overwrite).saveAsTable(t)
    }
    t
  }

  /** The planner's DisableUnnecessaryBucketedScan rule turns the
    * bucketed scan OFF for filter-only queries (no join/agg needs the
    * partitioning) — but bucket PRUNING is exactly what a point lookup
    * is for. Lookups therefore plan on their OWN session (shared
    * SparkContext + catalog, independent runtime conf) with
    * auto-bucketed-scan pinned off, so the pruned read
    * (`SelectedBucketsCount: 1 out of N`) survives WITHOUT mutating
    * the caller's planner config — plans of unrelated queries must not
    * depend on whether a serving lookup ran first.
    *
    * ONE pinned session per SparkContext, reused across lookups: a
    * serving tier holds its session open between requests, and building
    * a fresh session per call pays session-state + analyzer warm-up on
    * every lookup (BENCH_r06 measured the per-call variant at 4.6–5.2×
    * the warm pin under load). The same per-context holder keeps the
    * table snapshots. The pinned session strongly references its
    * context, so weak keying alone could never collect an entry —
    * instead each context gets an application-end listener that evicts
    * its holder when it stops (the graft.Cache eviction pattern), so a
    * JVM cycling Spark applications doesn't accumulate dead sessions or
    * snapshots. */
  private final class ServingState(val session: SparkSession) {
    /** table name → its snapshot at one catalog createTime */
    val snapshots = new ConcurrentHashMap[String, Snapshot]()
  }

  private val servingStates = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkContext, ServingState]())

  private def servingState(spark: SparkSession): ServingState =
    servingStates.synchronized {
      val sc = spark.sparkContext
      var s = servingStates.get(sc)
      if (s == null) {
        val session = spark.newSession()
        session.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        s = new ServingState(session)
        servingStates.put(sc, s)
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            evictContext(sc)
        })
      }
      s
    }

  /** What the application-end listener runs: drop the context's pinned
    * session and snapshots. Package-private so the spec can exercise the
    * action without stopping the shared test context. */
  private[graft] def evictContext(sc: SparkContext): Unit =
    servingStates.remove(sc): Unit

  /** Snapshot builds in this JVM (the spec's single-flight probe). */
  private[graft] val snapshotBuilds = new AtomicLong()

  /** A driver-local, read-only copy of one serving table as created at
    * `createTime`. The lazy vals are single-flight: concurrent first
    * lookups wait on the one count and the one build, and a failed
    * build is retried by the next lookup. */
  private final class Snapshot(session: SparkSession, table: String,
      val createTime: Long, payload: Seq[String], order: Seq[Column]) {
    /** The gate's measure: the table's row count, counted once. */
    lazy val rows: Long = session.table(table).count()

    // one task sorts the whole table (it is under the driver gate):
    // a global sort over a single partition plans no range Exchange
    private lazy val sorted = session.table(table)
      .filter(col("user_id").isNotNull)
      .coalesce(1)
      .orderBy(col("user_id") +: order: _*)
      .select(col("user_id").cast("long") +: payload.map(col): _*)

    lazy val schema: StructType = StructType(sorted.schema.fields.tail)

    lazy val byUser: Map[Long, Array[InternalRow]] = {
      snapshotBuilds.incrementAndGet()
      val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
      // groupBy keeps each user's rows in the collected (sorted) order
      sorted.collect().groupBy(_.getLong(0)).map { case (u, rs) =>
        u -> rs.map(r => toInternal(Row.fromSeq(r.toSeq.tail)).asInstanceOf[InternalRow])
      }
    }

    /** One user's rows in lookup order, under fresh attribute ids (two
      * lookups may meet in one plan). */
    def lookup(spark: SparkSession, user: Long): DataFrame =
      GraftBridge.localFrame(spark, schema,
        ArraySeq.unsafeWrapArray(byUser.getOrElse(user, Array.empty[InternalRow])))
  }

  /** A point lookup: one user's `payload` columns in `order`. Answered
    * from the table's snapshot while the table's row count is under the
    * driver gate, else by the bucketed one-bucket scan. */
  private def lookup(spark: SparkSession, table: String, payload: Seq[String],
      order: Seq[Column], user: Long): DataFrame = {
    val state = servingState(spark)
    // keyed by (context, table, createTime): a dropped and rebuilt table
    // is never served from the old snapshot
    val created = GraftBridge.tableCreateTime(spark, table)
    val snapshot = state.snapshots.compute(table, (_, old) =>
      if (old != null && old.createTime == created) old
      else {
        // the pinned session's relation cache still lists the dropped
        // table's files
        if (old != null) state.session.catalog.refreshTable(table)
        new Snapshot(state.session, table, created, payload, order)
      })
    val gate = Algorithms.driverGate(spark, Algorithms.DriverGateDefault)
    if (gate > 0 && snapshot.rows <= gate) snapshot.lookup(spark, user)
    else state.session.table(table)
      .filter(col("user_id") === user)
      .select(payload.map(col): _*)
      .sortWithinPartitions(order: _*)
  }

  /** Point lookup against [[userBooksTable]]: the get_user_rated_books
    * serving story. */
  def userBooksLookup(spark: SparkSession, dir: String,
      user: Long = Recommend.TargetUser): DataFrame =
    // the table is built (if needed) on the caller's session
    lookup(spark, userBooksTable(spark, dir), Seq("book_id", "title", "rating"),
      Seq(col("rating").desc, col("book_id")), user)

  /** The all-user recommendation payload from any (ratings, cooc,
    * books) state — the batch precompute behind interactive
    * recommend_books: per-user top-simK similar users (TopKPerKey,
    * never a global sort), the per-(target, book) avg/votes candidate
    * aggregate, anti-join of each target's own books, per-user top-k —
    * all shuffle-keyed, no driver loops. Shared by the full table
    * build and the incremental merge (which passes a target-restricted
    * cooc frame). */
  private[graft] def recommendationsPayload(ratings: DataFrame, cooc: DataFrame,
      books: DataFrame, simK: Int = 20, k: Int = 3): DataFrame = {
    val sims = graft.plans.TopKPerKey.topKPerKey(cooc,
        Seq("u1"), Seq(("weight", false), ("u2", true)), simK)
      .select(col("u1").as("target"), col("u2").as("user_id"))
    val cand = ratings
      .join(sims, Seq("user_id"))
      .join(ratings.select(col("user_id").as("target"), col("book_id")),
        Seq("target", "book_id"), "left_anti")
      .groupBy(col("target"), col("book_id"))
      .agg((sum(col("rating")).cast("double") / count(lit(1))).as("avg_rating"),
        count(lit(1)).as("votes"))
    graft.plans.TopKPerKey.topKPerKey(cand, Seq("target"),
        Seq(("avg_rating", false), ("votes", false), ("book_id", true)), k)
      .join(books.select(col("book_id"), col("title")), Seq("book_id"))
      .select(col("target").as("user_id"), col("book_id"), col("title"),
        col("avg_rating"), col("votes"))
  }

  def recommendationsTable(spark: SparkSession, dir: String, simK: Int = 20,
      k: Int = 3, buckets: Int = 8): String = {
    // parameters live in the name (see userBooksTable)
    val t = s"graft_serve_recs_${tag(dir)}_${simK}_${k}_$buckets"
    if (!GraftBridge.tableExists(spark, t)) {
      dropOrphanedLocation(spark, t)
      recommendationsPayload(RatingsGraph.ratings(spark, dir),
          RatingsGraph.cooccurrenceEdges(spark, dir),
          RatingsGraph.ratedBooks(spark, dir), simK, k)
        .write.bucketBy(buckets, "user_id").sortBy("user_id")
        .format("parquet").mode(SaveMode.Overwrite).saveAsTable(t)
    }
    t
  }

  /** Incremental maintenance of the user-books serving payload (T8's
    * ratings MERGE carried through to the serving layer): only the
    * delta's users' rows can change, so the fold is one anti-join on
    * the touched-user set plus a payload rebuild RESTRICTED to it —
    * every join keyed on the delta, never a full recompute. At 100 TB
    * this is a keyed MERGE into the bucketed table (the delta's user
    * ids prune to their buckets); locally the dataflow is spec-proved
    * ≡ the full rebuild on the merged ratings.
    *
    * Driver leg: while the four inputs hold at most
    * `graft.driver.localThreshold` rows in all, the ones that are not
    * local frames already come in by one bounded collect, and the
    * returned frame's plan is all-local: `graft.plans.LocalPlans` runs it
    * on the driver (no job to collect it). Over the gate the same plan
    * runs distributed. */
  def mergeUserBooksServing(base: DataFrame, oldRatings: DataFrame,
      deltaEvents: DataFrame, books: DataFrame): DataFrame =
    LocalPlans.overLocalInputs(base, oldRatings, deltaEvents, books) {
      case Seq(base, oldRatings, deltaEvents, books) =>
        val newRatings = RatingsGraph.mergeRatings(oldRatings, deltaEvents)
        val touched = deltaEvents.filter(col("rating") =!= 0)
          .select(col("user_id")).distinct()
        val rebuilt = userBooksPayload(
          newRatings.join(touched, Seq("user_id"), "left_semi"), books)
        base.join(touched, Seq("user_id"), "left_anti").unionAll(rebuilt)
    }

  /** Incremental maintenance of the recommendation serving payload —
    * the serving-freshness story composed with T9's incremental
    * co-occurrence MERGE. A target's top-k can change only if
    *  (a) its own rated set changed (the anti-join and its seed), or
    *  (b) an incident co-occurrence edge changed — every changed edge
    *      touches a user whose delta crossed the liked threshold, or
    *  (c) a current top-simK sim's ratings changed (the avg/votes) —
    *      that sim IS a delta user and shares an edge with the target.
    * All three put the target inside deltaUsers ∪ N_newCooc(deltaUsers)
    * (edges only grow under the monotone MERGE, so the NEW adjacency
    * covers the old), so the payload rebuild is restricted to that
    * blast radius and every join stays keyed on it. Returns
    * (mergedServing, newCooc, newRatings); spec-proved ≡ the full
    * rebuild. Same driver leg as [[mergeUserBooksServing]] over its five
    * inputs; the affected set is materialised on the driver there, and
    * by an eager local checkpoint over the gate. */
  def mergeRecommendationsServing(base: DataFrame, oldCooc: DataFrame,
      oldRatings: DataFrame, deltaEvents: DataFrame, books: DataFrame,
      simK: Int = 20, k: Int = 3): (DataFrame, DataFrame, DataFrame) =
    LocalPlans.overLocalInputs(base, oldCooc, oldRatings, deltaEvents, books) {
      case Seq(base, oldCooc, oldRatings, deltaEvents, books) =>
        val (newCooc, newRatings) =
          RatingsGraph.mergeCooccurrence(oldCooc, oldRatings, deltaEvents)
        val deltaUsers = deltaEvents.filter(col("rating") =!= 0)
          .select(col("user_id")).distinct()
        val affected = LocalPlans.localCheckpoint(deltaUsers
          .unionAll(newCooc
            .join(deltaUsers.select(col("user_id").as("u2")), Seq("u2"), "left_semi")
            .select(col("u1").as("user_id")))
          .distinct())
        val rebuilt = recommendationsPayload(newRatings,
          newCooc.join(affected.select(col("user_id").as("u1")), Seq("u1"), "left_semi"),
          books, simK, k)
        (base.join(affected, Seq("user_id"), "left_anti").unionAll(rebuilt),
          newCooc, newRatings)
    }

  /** Point lookup against [[recommendationsTable]]: the recommend_books
    * serving story. Same legs as [[userBooksLookup]]. */
  def recommendationsLookup(spark: SparkSession, dir: String,
      user: Long = Recommend.TargetUser): DataFrame =
    lookup(spark, recommendationsTable(spark, dir),
      Seq("book_id", "title", "avg_rating", "votes"),
      Seq(col("avg_rating").desc, col("votes").desc, col("book_id")), user)
}
