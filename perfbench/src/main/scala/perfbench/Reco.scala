package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.graph.{Algorithms, FastRP, Louvain, RatingsGraph}
import graft.recommend.{Recommend, Serving}

/** The reference app end to end, over the base tables (`base/`: every
  * rating except those of a few held-out users):
  *
  *  1. the GDS-style batch build, stage by stage;
  *  2. per-user serving lookups, a closed loop of one caller per core
  *     over a seeded uniform mix of active users, after a fixed number
  *     of unmeasured warm-up pages;
  *  3. live per-user recommendations, the same loop over the live
  *     queries (after the correctness checks, which warm its KNN query);
  *  4. the write path: the held-out users' ratings (`batch/`) folded
  *     into both serving payloads, checked against a full rebuild over
  *     all tables. */
object Reco {
  val buildStages: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "ratings" -> ((s, d) => RatingsGraph.ratings(s, d).count(): Unit),
    "cooc" -> ((s, d) => RatingsGraph.cooccurrenceEdges(s, d).count(): Unit),
    "fastrp" -> ((s, d) => FastRP.userEmbeddings(s, d).count(): Unit),
    "knn" -> ((s, d) => Algorithms.userKnnEdgesRef(s, d).count(): Unit),
    "louvain" -> ((s, d) => Louvain.userCommunities(s, d).count(): Unit),
    "serve_books_table" -> ((s, d) => Serving.userBooksTable(s, d): Unit),
    "serve_recs_table" -> ((s, d) => Serving.recommendationsTable(s, d): Unit))

  /** Unmeasured pages per caller before the lookup window: enough for the
    * lookup path's JIT and codegen to settle. */
  val WarmUpPages = 2
  /** Share of the measuring window given to the lookups; the live phase
    * gets the rest. */
  val LookupShare = 0.7

  def readIds(path: String): Array[Long] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map(_.toLong).toArray

  def run(c: Ctx): Outcome = {
    val s = c.spark
    val (d, full) = (s"${c.data}/base", c.data)
    val mix = readIds(s"${c.data}/mix.txt")
    val checkUsers = readIds(s"${c.data}/check_users.txt")

    val t0 = System.nanoTime()
    c.readTables(d, Seq("orders", "lineitem", "part"))
    val delta = c.span("setup.delta") {
      RatingsGraph.ratingEvents(s, s"${c.data}/batch").localCheckpoint()
    }
    val readS = (System.nanoTime() - t0) / 1e9

    c.span("reco.build") {
      buildStages.foreach { case (n, f) => c.span(s"reco.build.$n")(f(s, d)) }
    }

    // one request is one page of the reference app: the user's rated
    // books, then their recommendations
    val lookups = new Loop(c, "reco.lookup", mix, Seq("page" -> { u =>
      c.span("reco.lookup.books")(Serving.userBooksLookup(s, d, u).collect())
      c.span("reco.lookup.recs")(Serving.recommendationsLookup(s, d, u).collect()): Unit
    }))
    val (lookupWarm, warmS) = lookups.runCount(WarmUpPages)
    val windowStart = System.nanoTime()
    val (lookupSamples, lookupS) = lookups.run(c.seconds * LookupShare)

    // the checks run between the phases, outside both windows
    val t1 = System.nanoTime()
    val checks = check(s, d, checkUsers)
    val checkS = (System.nanoTime() - t1) / 1e9

    // the live phase continues the same user mix where lookups stopped
    val live = new Loop(c, "reco.live", mix.drop(lookups.drawn.length), Seq(
      "knn" -> (u => Recommend.recommendKnn(s, d, u).collect(): Unit),
      "community" -> (u => Recommend.recommendCommunityLouvain(s, d, u).collect(): Unit),
      "similar" -> (u => Recommend.similarUsersCooc(s, d, u).collect(): Unit)))
    val (liveSamples, liveS) = live.run(c.seconds * (1 - LookupShare))

    val catalog = Tables.part(s, d).select(col("p_partkey").as("book_id"), col("p_name").as("title"))
    val (books, recs, ratings, cooc) = c.span("refresh") {
      val books = c.span("refresh.books") {
        Serving.mergeUserBooksServing(s.table(Serving.userBooksTable(s, d)),
          RatingsGraph.ratings(s, d), delta, catalog).localCheckpoint()
      }
      val (r, newCooc, newRatings) = Serving.mergeRecommendationsServing(
        s.table(Serving.recommendationsTable(s, d)), RatingsGraph.cooccurrenceEdges(s, d),
        RatingsGraph.ratings(s, d), delta, catalog)
      val recs = c.span("refresh.recs")(r.localCheckpoint())
      c.span("refresh.state") {
        (books, recs, newRatings.localCheckpoint(), newCooc.localCheckpoint())
      }
    }
    val peakRss = Load.peakRssMb()
    val rebuilt = c.span("refresh.full_rebuild") {
      (s.table(Serving.userBooksTable(s, full)), s.table(Serving.recommendationsTable(s, full)))
    }
    val foldChecks = checkFold(s, full, books, recs, ratings, cooc, rebuilt)

    val drawn = lookups.drawn ++ live.drawn
    val repeatFrac = 1.0 - drawn.distinct.length.toDouble / math.max(1, drawn.length)

    val all = lookupWarm ++ lookupSamples ++ liveSamples
    val l = new Layers(c.tracer)
    val build = l.named("reco.build")
    val fold = l.named("refresh")
    val foldS = fold.map(_.seconds).sum
    val fullRebuildS = l.named("refresh.full_rebuild").map(_.seconds).sum
    val buildC = l.sum(build)
    val touched = delta.filter(col("rating") =!= 0).select("user_id").distinct().count()
    val layer =
      buildStages.flatMap { case (n, _) => l.step(s"reco.build.$n", l.named(s"reco.build.$n")) } ++
      Seq(("reco.build.jobs", buildC.jobs.toDouble, "count"),
        ("reco.build.tasks", buildC.tasks.toDouble, "count"),
        ("reco.build.planning_ms", buildC.planningMs.toDouble, "ms"),
        ("reco.build.gc_s", buildC.gcMs / 1e3, "s"),
        ("reco.build.spill_mb", buildC.spillB / 1e6, "MB"),
        ("reco.build.busy_frac", l.busyFrac(build, c.cores), "ratio")) ++
      Seq("books", "recs").flatMap(k => l.perRequest(s"reco.lookup.$k",
        l.named(s"reco.lookup.$k").filter(_.startNs >= windowStart))) ++
      Seq("knn", "community", "similar").flatMap(k => l.perRequest(s"reco.live.$k",
        l.named(s"reco.live.$k"))) ++
      Seq("books", "recs", "state").flatMap(k => l.step(s"refresh.$k", l.named(s"refresh.$k"))) ++
      Seq(("refresh.fold_s", foldS, "s"),
        ("refresh.full_rebuild_s", fullRebuildS, "s"),
        ("refresh.rebuild_ratio", foldS / fullRebuildS, "ratio"),
        ("refresh.delta_events", delta.count().toDouble, "count"),
        ("refresh.touched_users", touched.toDouble, "count"),
        ("reco.mix.repeat_frac", repeatFrac, "ratio"))

    Outcome(
      endToEnd = Seq(("setup_s", readS + warmS, "s"),
        ("batch_s", build.map(_.seconds).sum + foldS, "s"),
        ("op_ms", Stats.median(lookupSamples.filter(_.ok).map(_.ms)), "ms"),
        ("peak_rss_mb", peakRss, "MB")),
      perLayer = layer ++ Stats.loop("reco.lookup", Some(0.9), lookupSamples, lookupS) ++
        Stats.loop("reco.live", None, liveSamples, liveS),
      attempted = all.length.toLong,
      failed = all.count(!_.ok).toLong,
      checks = checks ++ foldChecks,
      detail = Map(
        "lookup_requests" -> lookupSamples.length, "live_requests" -> liveSamples.length,
        "read_s" -> readS, "warm_up_s" -> warmS, "warm_up_ms" -> lookupWarm.map(_.ms),
        "lookup_ms" -> lookupSamples.map(_.ms),
        "live_ms" -> liveSamples.map(x => x.kind -> x.ms),
        "lookup_window_s" -> lookupS, "live_window_s" -> liveS, "check_s" -> checkS,
        "mix_repeat_frac" -> repeatFrac, "users_drawn" -> drawn.length,
        "build_stage_s" -> buildStages.map(_._1).map(n =>
          n -> l.named(s"reco.build.$n").map(_.seconds).sum).toMap,
        "fold_s" -> foldS, "full_rebuild_s" -> fullRebuildS, "touched_users" -> touched,
        "fingerprints" -> Map(
          "knn_edges" -> fingerprint(Algorithms.userKnnEdgesRef(s, d)),
          "louvain" -> fingerprint(Louvain.userCommunities(s, d)))))
  }

  /** Row count and an order-independent hash of a frame's rows. */
  def fingerprint(df: DataFrame): Map[String, Long] = {
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(df.columns.map(col).toSeq: _*), lit(1000000007L)))).head()
    Map("rows" -> r.getLong(0), "hash" -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
  }

  /** Outside the timed region: the serving lookups must answer exactly
    * like the live per-user queries they precompute, row for row and in
    * order, and the KNN and Louvain outputs must be well formed. */
  def check(s: SparkSession, d: String, users: Seq[Long]): Seq[(String, Boolean, String)] = {
    val pairs = users.flatMap { u =>
      def same(name: String, a: DataFrame, b: DataFrame) = {
        val (x, y) = (a.collect().toSeq, b.collect().toSeq)
        (s"$name user $u", a.columns.sameElements(b.columns) && x == y,
          s"${x.length} vs ${y.length} rows")
      }
      Seq(same("userBooksLookup == userRatedBooks",
          Serving.userBooksLookup(s, d, u), Recommend.userRatedBooks(s, d, u)),
        same("recommendationsLookup == recommendKnn",
          Serving.recommendationsLookup(s, d, u), Recommend.recommendKnn(s, d, u)))
    }
    val bad = col("src") === col("dst") || col("similarity") < 0.8 || col("similarity") > 1.0
    val knn = Algorithms.userKnnEdgesRef(s, d).groupBy("src")
      .agg(count(lit(1)).as("n"), sum(when(bad, 1).otherwise(0)).as("bad"))
      .agg(sum("bad"), max("n")).head()
    val knnBad = knn.getLong(0) + (if (knn.getLong(1) > 20) 1 else 0)
    // one label per cooc node and none for any other node, each label
    // its community's least member
    val comm = Louvain.userCommunities(s, d)
    val nodes = RatingsGraph.cooccurrenceEdges(s, d).select(col("u1").as("node_id")).distinct()
      .withColumn("is_node", lit(true))
    val labels = comm.groupBy("node_id").agg(count(lit(1)).as("labels"))
    val commBad = nodes.join(labels, Seq("node_id"), "full_outer")
      .filter(col("is_node").isNull || col("labels").isNull || col("labels") =!= 1)
      .select(lit(1).as("bad"))
      .union(comm.groupBy("community").agg(min("node_id").as("m"))
        .filter(col("m") =!= col("community")).select(lit(1).as("bad")))
      .count()
    pairs ++ Seq(
      ("knn edges: no self-loops, similarity in [0.8, 1], at most 20 per user",
        knnBad == 0, s"$knnBad violations"),
      ("louvain: one label per cooc node, labelled by its least member",
        commBad == 0, s"$commBad violations"))
  }

  /** The fold must equal a full rebuild over all tables: both payloads,
    * the ratings and the cooc edges (the serving MERGE property). */
  def checkFold(s: SparkSession, full: String, books: DataFrame, recs: DataFrame,
      ratings: DataFrame, cooc: DataFrame, rebuilt: (DataFrame, DataFrame))
      : Seq[(String, Boolean, String)] = {
    def same(name: String, a: DataFrame, b: DataFrame) = {
      val n = a.exceptAll(b).withColumn("only_in", lit("fold"))
        .unionByName(b.exceptAll(a).withColumn("only_in", lit("rebuild")))
        .groupBy("only_in").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (name, n.isEmpty, s"rows only in the fold: ${n.getOrElse("fold", 0L)}, " +
        s"only in the rebuild: ${n.getOrElse("rebuild", 0L)}")
    }
    Seq(same("folded user-books payload == full rebuild", books, rebuilt._1),
      same("folded recommendations payload == full rebuild", recs, rebuilt._2),
      same("folded ratings == full rebuild", ratings.select("user_id", "book_id", "rating"),
        RatingsGraph.ratings(s, full).select("user_id", "book_id", "rating")),
      same("folded cooc == full rebuild", cooc.select("u1", "u2", "weight"),
        RatingsGraph.cooccurrenceEdges(s, full).select("u1", "u2", "weight")))
  }
}
