package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Louvain, RatingsGraph}
import graft.plans.{DriverLocalExec, LocalPlans, TopKPerKey}
import graft.recommend.{Recommend, Serving}

/** The driver route for all-local plans (`graft.plans.LocalPlans`): a
  * corpus of the reference app's plans over local frames runs with no
  * Spark job, with the rows and schemas of default planning (the route
  * off: `graft.driver.localThreshold=0`), with AQE on and off, from
  * concurrent callers; mixed plans plan as before; no broadcast is left
  * behind; and the fold runs on both legs with identical results. */
class LocalPlanSpec extends AnyFunSuite {
  import TestSpark._

  private val Gate = "graft.driver.localThreshold"

  /** A session with the route registered; gate 0 turns it off. */
  private def session(gate: Option[Long], aqe: Boolean = true): SparkSession = {
    val s = spark.newSession()
    gate.foreach(g => s.conf.set(Gate, g.toString))
    s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    LocalPlans.ensureStrategy(s)
    s
  }

  /** `df`'s rows as a local frame of session `s`. */
  private def localOf(s: SparkSession, df: DataFrame): DataFrame = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(df.schema)
    GraftBridge.localFrame(s, df.schema,
      df.collect().toSeq.map(r => toInternal(r).asInstanceOf[InternalRow]))
  }

  /** The reference build's silvers at sf0.001, as (name, frame). */
  private lazy val silvers: Seq[(String, DataFrame)] = Seq(
    "ratings" -> RatingsGraph.ratings(spark, sf),
    "cooc" -> RatingsGraph.cooccurrenceEdges(spark, sf),
    "active" -> RatingsGraph.activeUsers(spark, sf),
    "books" -> RatingsGraph.ratedBooks(spark, sf).select("book_id", "title"),
    "louvain" -> Louvain.userCommunities(spark, sf)
      .select(col("node_id").as("user_id"), col("community")),
    "events" -> RatingsGraph.ratingEvents(spark, sf))

  private def locals(s: SparkSession): Map[String, DataFrame] =
    silvers.map { case (n, df) => n -> localOf(s, df) }.toMap

  private lazy val user = RatingsGraph.ratings(spark, sf)
    .groupBy("user_id").count().orderBy(col("count").desc, col("user_id"))
    .head().getAs[Any]("user_id").asInstanceOf[Number].longValue

  /** The fold fixture of NewOpsSpec: the ratings of one half of the
    * events as the base, the other half as the delta. */
  private def foldInputs(l: Map[String, DataFrame]) = {
    val events = l("events")
    val h = pmod(xxhash64(col("user_id"), col("book_id"), col("rating")), lit(2))
    val baseRatings = events.filter(h === 0).filter(col("rating") =!= 0)
      .groupBy("user_id", "book_id").agg(max("rating").as("rating"))
    val baseLiked = baseRatings.filter(col("rating") >= 6)
    val baseCooc = baseLiked.select(col("user_id").as("u1"), col("book_id"))
      .join(baseLiked.select(col("user_id").as("u2"), col("book_id")), Seq("book_id"))
      .filter(col("u1") =!= col("u2"))
      .groupBy("u1", "u2").agg(count(lit(1)).as("weight"))
    (baseRatings, baseCooc, events.filter(h === 1), l("books"))
  }

  /** (name, ordered, plan over a session's local frames). */
  private val corpus: Seq[(String, Boolean, Map[String, DataFrame] => DataFrame)] = Seq(
    ("recommendKnn", true, l => Recommend.recommendFromSimilar(l("ratings"),
      Recommend.similarUsersFrom(l("cooc"), l("active"), user, 20).select(col("user_id")),
      l("books"), user, 3)),
    ("recommendCommunityLouvain", true, l =>
      Recommend.recommendCommunityFrom(l("ratings"), l("books"), l("louvain"), user, 3)),
    ("similarUsersCooc", true, l => Recommend.similarUsersFrom(l("cooc"), l("active"), user, 3)),
    ("userBooksPayload", false, l => Serving.userBooksPayload(l("ratings"), l("books"))),
    ("recommendationsPayload", false, l =>
      Serving.recommendationsPayload(l("ratings"), l("cooc"), l("books"))),
    ("topKPerKey", false, l => TopKPerKey.topKPerKey(l("cooc"), Seq("u1"),
      Seq(("weight", false), ("u2", true)), 5)),
    ("mergeUserBooksServing", false, l => {
      val (r, _, d, b) = foldInputs(l)
      Serving.mergeUserBooksServing(Serving.userBooksPayload(r, b), r, d, b)
    }),
    ("mergeRecommendationsServing", false, l => {
      val (r, c, d, b) = foldInputs(l)
      Serving.mergeRecommendationsServing(Serving.recommendationsPayload(r, c, b), c, r, d, b)._1
    }),
    ("mergeCooccurrence", false, l => {
      val (r, c, d, _) = foldInputs(l)
      RatingsGraph.mergeCooccurrence(c, r, d)._1
    }))

  private def rows(df: DataFrame, ordered: Boolean): Seq[String] = {
    val out = df.collect().map(_.toString).toSeq
    if (ordered) out else out.sorted
  }

  for (aqe <- Seq(true, false)) {
    test(s"corpus over local frames: 0 jobs, rows and schemas of default planning (AQE $aqe)") {
      val (on, off) = (session(None, aqe), session(Some(0L), aqe))
      try {
        val (lOn, lOff) = (locals(on), locals(off))
        assert(user > 0) // the target user is picked by a Spark job
        corpus.foreach { case (name, ordered, plan) =>
          val (got, jobs) = jobsDuring {
            val df = plan(lOn)
            (df.schema, rows(df, ordered))
          }
          assert(jobs == 0, s"$name ran $jobs jobs on the driver route")
          val want = plan(lOff)
          assert(got._1 == want.schema, s"$name: schema ${got._1.treeString} vs ${want.schema.treeString}")
          assert(got._2 == rows(want, ordered), s"$name: rows differ from default planning")
          assert(got._2.nonEmpty, s"$name: empty corpus entry proves nothing")
          // run by the route, or already computed by it (the fold's
          // cooc and ratings come back as driver-held relations)
          assert(plan(lOn).queryExecution.executedPlan match {
            case _: DriverLocalExec | _: LocalTableScanExec => true
            case _ => false
          }, name)
          assert(!plan(lOff).queryExecution.executedPlan.toString.contains("DriverLocal"), name)
        }
      } finally Seq(on, off).foreach(Cache.clear)
    }
  }

  test("the live queries over local frames answer like the live queries") {
    val s = session(None)
    try {
      val l = locals(s)
      def same(a: DataFrame, b: DataFrame) = assert(a.collect().toSeq == b.collect().toSeq)
      same(corpus(0)._3(l), Recommend.recommendKnn(spark, sf, user))
      same(corpus(1)._3(l), Recommend.recommendCommunityLouvain(spark, sf, user))
      same(corpus(2)._3(l), Recommend.similarUsersCooc(spark, sf, user))
    } finally Cache.clear(s)
  }

  test("8 concurrent callers get identical rows, each in a driver task of its own") {
    val s = session(None)
    val threads = 8
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val l = locals(s)
      val shared = corpus.find(_._1 == "recommendationsPayload").get._3(l)
      val want = rows(shared, ordered = false)
      val barrier = new CyclicBarrier(threads)
      val futures = (1 to threads).map { i =>
        pool.submit(new java.util.concurrent.Callable[Seq[Seq[String]]] {
          def call(): Seq[Seq[String]] = {
            barrier.await()
            // one frame shared by every thread, and one built per thread
            Seq(rows(shared, ordered = false),
              rows(corpus.find(_._1 == "mergeRecommendationsServing").get._3(l), ordered = false),
              rows(shared, ordered = false))
          }
        })
      }
      val got = futures.map(_.get(300, TimeUnit.SECONDS))
      assert(got.forall(g => g.head == want && g(2) == want))
      assert(got.map(_(1)).distinct.size == 1)
      assert(org.apache.spark.TaskContext.get() == null)
    } finally { pool.shutdownNow(); Cache.clear(s) }
  }

  test("mixed plans: a local leaf beside a parquet leaf plans as before; nothing reports SinglePartition") {
    val (on, off) = (session(None, aqe = false), session(Some(0L), aqe = false))
    try {
      def mixed(s: SparkSession, fold: Boolean) = {
        val ratings = Tables.lineitem(s, sf)
          .select(col("l_partkey").as("book_id"), col("l_quantity"))
        val local = localOf(s, RatingsGraph.ratedBooks(spark, sf).select("book_id", "title"))
        // a bare local leaf, or one the optimizer folds a filter into
        val side = if (fold) local.filter(col("book_id") > 3) else local
        ratings.join(side, Seq("book_id")).groupBy("title").agg(sum("l_quantity"))
      }
      def shape(df: DataFrame) = df.queryExecution.executedPlan.collect { case p => p.nodeName }
      for (fold <- Seq(false, true)) {
        val (a, b) = (mixed(on, fold), mixed(off, fold))
        assert(shape(a) == shape(b), s"${shape(a)} vs ${shape(b)}")
        assert(rows(a, ordered = false) == rows(b, ordered = false))
      }
      // an all-local subtree inside a mixed plan runs on the driver, but
      // reports no SinglePartition: the parquet side is never shuffled
      // into one partition
      val l = locals(on)
      val sub = Serving.userBooksPayload(l("ratings"), l("books"))
      val df = Tables.lineitem(on, sf).select(col("l_partkey").as("book_id"))
        .join(sub, Seq("book_id"))
      val plan = df.queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[DriverLocalExec]), plan.toString)
      assert(!plan.exists(_.outputPartitioning == SinglePartition), plan.toString)
      val want = Tables.lineitem(off, sf).select(col("l_partkey").as("book_id"))
        .join(Serving.userBooksPayload(locals(off)("ratings"), locals(off)("books")), Seq("book_id"))
      assert(rows(df, ordered = false) == rows(want, ordered = false))
    } finally Seq(on, off).foreach(Cache.clear)
  }

  test("broadcast hints inside the route start no job and leave no broadcast behind") {
    val s = session(None)
    try {
      val l = locals(s)
      val sc = spark.sparkContext
      def nextBroadcastId() = { val b = sc.broadcast(0); b.destroy(); b.id }
      // recommendKnn's plan carries three broadcast hints
      def run() = corpus.take(3).foreach(c => c._3(l).collect())
      assert(user > 0)
      assert(jobsDuring(run())._2 == 0)
      val before = nextBroadcastId()
      run()
      assert(nextBroadcastId() == before + 1, "the route created a broadcast")
    } finally Cache.clear(s)
  }

  test("layout-dependent plans keep the default path") {
    val s = session(None)
    try {
      val l = locals(s)
      val r = l("ratings")
      Seq(r.withColumn("x", rand(7)), r.withColumn("x", monotonically_increasing_id()),
          r.withColumn("x", spark_partition_id()), r.sample(0.5, 7),
          r.repartition(3).groupBy("user_id").count())
        .foreach(df => assert(!df.queryExecution.executedPlan.exists(_.isInstanceOf[DriverLocalExec]),
          df.queryExecution.executedPlan.toString))
    } finally Cache.clear(s)
  }

  test("the fold on both legs: identical rows and schemas, bounded jobs on the driver leg") {
    // NewOpsSpec's fixture over the test data, materialised (not local)
    // like the serving tables and silvers a fold reads
    def inputs(s: SparkSession) = {
      val (r, c, d, b) = foldInputs(Map("events" -> RatingsGraph.ratingEvents(s, sf),
        "books" -> RatingsGraph.ratedBooks(s, sf).select(col("book_id"), col("title"))))
      Seq(r, c, d, b, Serving.userBooksPayload(r, b), Serving.recommendationsPayload(r, c, b))
        .map(_.localCheckpoint())
    }
    def fold(in: Seq[DataFrame]) = {
      val Seq(r, c, d, b, booksBase, recsBase) = in
      val books = Serving.mergeUserBooksServing(booksBase, r, d, b)
      val (recs, cooc, ratings) = Serving.mergeRecommendationsServing(recsBase, c, r, d, b)
      val (cooc2, ratings2) = RatingsGraph.mergeCooccurrence(c, r, d)
      Seq(books, recs, cooc, ratings, cooc2, ratings2)
        .map(df => (df.schema, rows(df, ordered = false)))
    }
    val (on, off) = (session(None), session(Some(0L)))
    try {
      val onInputs = inputs(on)
      val (got, jobs) = jobsDuring(fold(onInputs))
      assert(got == fold(inputs(off)))
      // three merges, one bounded collect of their inputs each; the
      // payloads they merge into are computed on the driver
      assert(jobs <= 3, s"the driver-leg fold ran $jobs jobs")
      // and the fold equals the rebuild over all the ratings
      val full = RatingsGraph.ratings(on, sf).select("user_id", "book_id", "rating")
      assert(got(3)._2 == rows(full, ordered = false))
    } finally Seq(on, off).foreach(Cache.clear)
  }
}
