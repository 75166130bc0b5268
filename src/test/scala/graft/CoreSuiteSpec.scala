package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  val sf = "/root/testdata/sf0.001"

  /** `body`'s value and the Spark jobs it started, counted once a marker
    * job reaches the listener: the listener bus is FIFO, so by then
    * every job `body` could have started has been seen. */
  def jobsDuring[T](body: => T): (T, Int) = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new AtomicInteger()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.marker") != null)
          marker.countDown()
        else jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty("graft.spec.marker", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.marker", null)
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

class CoreSuiteSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without queries: $missing")
  }

  test("all queries run and return rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("ratings are deduped per (user, book) with ratings in 1..10") {
    import org.apache.spark.sql.functions._
    val r = graph.RatingsGraph.ratings(spark, sf)
    assert(r.groupBy("user_id", "book_id").count().filter(col("count") > 1).isEmpty)
    val mm = r.agg(min("rating"), max("rating")).head()
    assert(mm.getLong(0) >= 1 && mm.getLong(1) <= 10)
  }

  test("cooccurrence edges are symmetric without self-loops") {
    import org.apache.spark.sql.functions._
    val e = graph.RatingsGraph.cooccurrenceEdges(spark, sf)
    assert(e.filter(col("u1") === col("u2")).isEmpty)
    val asym = e.as("a").join(e.as("b"),
        col("a.u1") === col("b.u2") && col("a.u2") === col("b.u1") &&
          col("a.weight") === col("b.weight"), "left_anti")
    assert(asym.isEmpty)
  }

  test("recommend_knn excludes books the target already rated") {
    import org.apache.spark.sql.functions._
    val recs = recommend.Recommend.recommendKnn(spark, sf)
    val mine = graph.RatingsGraph.ratings(spark, sf)
      .filter(col("user_id") === recommend.Recommend.TargetUser).select("book_id")
    assert(recs.join(mine, Seq("book_id"), "left_semi").isEmpty)
  }

  test("sessionize: no session spans a gap larger than 30 minutes") {
    import org.apache.spark.sql.functions._
    val s = olap.Olap.eventsSessionize(spark, sf)
    // session count per user equals number of gap-breaks + 1
    val sessions = s.groupBy("user_id").count()
    assert(sessions.count() > 0)
    // session bounds ordered
    assert(s.filter(col("session_end") < col("session_start")).isEmpty)
  }
}
