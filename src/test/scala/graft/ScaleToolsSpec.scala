package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.RatingsGraph
import graft.olap.Skew
import graft.sources.GraphStore

class ScaleToolsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("saltedJoin equals the plain join on a skewed dataset") {
    // hot key: 90% of left rows share key 1
    val big = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong % 7 else 1L, i.toLong))
      .toDF("k", "payload")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (6L, "c")).toDF("k", "tag")
    val plain = big.join(small, Seq("k")).select("k", "payload", "tag")
    val salted = Skew.saltedJoin(big, small, "k").select("k", "payload", "tag")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("hotKeys surfaces the dominant key with its share") {
    val df = (1 to 100).map(i => if (i <= 60) 7L else i.toLong).toDF("k")
    val top = Skew.hotKeys(df, "k", 1).head()
    assert(top.getLong(0) == 7L && top.getLong(1) == 60L)
    assert(math.abs(top.getDouble(2) - 0.6) < 1e-12)
  }

  test("bucketed edge table: per-user aggregation plans without Exchange") {
    val t = GraphStore.saveBucketed(spark, sf, "graft_test_bucketed", buckets = 4)
    val agg = t.groupBy("user_id").agg(count(lit(1)).as("degree"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed aggregation still shuffles:\n$plan")
    // and the data round-trips
    val orig = graph.RatingsGraph.ratings(spark, sf)
    assert(t.count() == orig.count())
    spark.sql("DROP TABLE IF EXISTS graft_test_bucketed")
  }

  test("cooccurrence maxFanout: tight cap shrinks the edge set, generous cap is exact reference parity") {
    import org.apache.spark.sql.functions._
    import graft.graph.RatingsGraph
    val full = RatingsGraph.cooccurrenceEdges(spark, sf)
    val capped = RatingsGraph.cooccurrenceEdges(spark, sf, maxFanout = 3)
    assert(capped.count() < full.count(), "tight cap should prune pairs")
    // capped pairs are a subset of the full projection
    assert(capped.select("u1", "u2").exceptAll(full.select("u1", "u2")).isEmpty)
    // cap >= max per-book raters → identical result
    val maxDeg = RatingsGraph.ratings(spark, sf).filter(col("rating") >= 6)
      .groupBy("book_id").count().agg(max("count")).head().getLong(0).toInt
    val generous = RatingsGraph.cooccurrenceEdges(spark, sf, maxFanout = maxDeg)
    assert(generous.exceptAll(full).isEmpty && full.exceptAll(generous).isEmpty)
  }

  /** A session with every driver-leg gate forced to the at-scale
    * shape: serving lookups take the bucketed leg. The serving tables
    * are built on the default session first, so the forced one caches
    * nothing of its own (`Cache.clear` on it would unpersist the
    * default session's identical plans). */
  private def gateForcedSession(): org.apache.spark.sql.SparkSession = {
    graft.recommend.Serving.userBooksTable(spark, sf)
    graft.recommend.Serving.recommendationsTable(spark, sf)
    val forced = spark.newSession()
    forced.conf.set("graft.driver.localThreshold", "0")
    forced
  }

  /** The first `n` users with ratings, by id. */
  private def sampleUsers(n: Int): Seq[Long] =
    graph.RatingsGraph.ratings(spark, sf)
      .select("user_id").distinct().orderBy("user_id").limit(n)
      .collect().map(_.getLong(0)).toSeq

  // the bucketed (at-scale) leg, taken here by forcing the driver gate
  test("serving lookups: one bucket read, zero Exchange, ≡ the online per-user queries") {
    import graft.recommend.{Recommend, Serving}
    val forced = gateForcedSession()
    val books = Serving.userBooksLookup(forced, sf)
    val plan = books.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"serving lookup shuffles:\n$plan")
    assert(plan.contains("SelectedBucketsCount: 1 out of"),
      s"lookup does not prune to one bucket:\n$plan")
    // the premise that makes the in-partition sort a total order: the
    // pruned scan leaves every surviving row in ONE partition (pruned
    // buckets surface as empty partitions — that's fine)
    val nonEmpty = books.rdd
      .mapPartitions(it => Iterator(if (it.hasNext) 1 else 0)).collect().sum
    assert(nonEmpty <= 1, s"lookup rows spread over $nonEmpty partitions")
    // the precomputed silver answers EXACTLY like the online queries —
    // for the fixture user and a sample of others (order-sensitive)
    sampleUsers(3).foreach { u =>
      assert(Serving.userBooksLookup(forced, sf, u).collect().toSeq ==
        Recommend.userRatedBooks(spark, sf, u).collect().toSeq,
        s"user $u: serving books != online query")
      assert(Serving.recommendationsLookup(forced, sf, u).collect().toSeq ==
        Recommend.recommendKnn(spark, sf, u).collect().toSeq,
        s"user $u: serving recommendations != online query")
    }
    val rplan = Serving.recommendationsLookup(forced, sf)
      .queryExecution.executedPlan.toString
    assert(!rplan.contains("Exchange") &&
      rplan.contains("SelectedBucketsCount: 1 out of"),
      s"recommendation lookup plan not serving-shaped:\n$rplan")
  }

  test("serving lookups, snapshot leg: zero Spark jobs, ≡ the online per-user queries, empty user keeps the schema") {
    import graft.recommend.{Recommend, Serving}
    val users = sampleUsers(5)
    // first lookups build the snapshots; the probe below times warm ones
    users.foreach { u =>
      Serving.userBooksLookup(spark, sf, u).collect()
      Serving.recommendationsLookup(spark, sf, u).collect()
    }
    val (got, jobs) = jobsDuring {
      users.map(u => (Serving.userBooksLookup(spark, sf, u).collect().toSeq,
        Serving.recommendationsLookup(spark, sf, u).collect().toSeq))
    }
    assert(jobs == 0, s"warm lookups ran $jobs Spark jobs")
    users.zip(got).foreach { case (u, (books, recs)) =>
      assert(books == Recommend.userRatedBooks(spark, sf, u).collect().toSeq,
        s"user $u: snapshot books != online query")
      assert(recs == Recommend.recommendKnn(spark, sf, u).collect().toSeq,
        s"user $u: snapshot recommendations != online query")
    }
    // a user with no ratings: no rows, and exactly the bucketed leg's
    // schema (names, types, nullability)
    val (noUser, forced) = (-1L, gateForcedSession())
    Seq[(org.apache.spark.sql.SparkSession, Long) => org.apache.spark.sql.DataFrame](
      Serving.userBooksLookup(_, sf, _), Serving.recommendationsLookup(_, sf, _)
    ).foreach { lookup =>
      val empty = lookup(spark, noUser)
      assert(empty.collect().isEmpty)
      assert(empty.schema == lookup(forced, noUser).schema)
      assert(empty.schema == lookup(spark, users.head).schema)
    }
  }

  test("serving snapshot: a dropped and rebuilt table is served fresh") {
    import graft.recommend.Serving
    val u = sampleUsers(1).head
    val before = Serving.userBooksLookup(spark, sf, u).collect().toSeq
    val t = Serving.userBooksTable(spark, sf)
    spark.sql(s"DROP TABLE $t")
    try {
      Serving.userBooksPayload(graph.RatingsGraph.ratings(spark, sf),
          graph.RatingsGraph.ratedBooks(spark, sf))
        .withColumn("title", concat(lit("rebuilt "), col("title")))
        .write.bucketBy(8, "user_id").sortBy("user_id")
        .format("parquet").mode("overwrite").saveAsTable(t)
      val after = Serving.userBooksLookup(spark, sf, u).collect().toSeq
      assert(after == before.map(r =>
        org.apache.spark.sql.Row(r.get(0), "rebuilt " + r.getString(1), r.get(2))),
        "lookup served the dropped table's snapshot")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t") // the next lookup rebuilds it
  }

  test("serving snapshot: application-end eviction drops it; concurrent first lookups build it once") {
    import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
    import graft.recommend.Serving
    val u = sampleUsers(1).head
    Serving.userBooksLookup(spark, sf, u).collect()
    val built = Serving.snapshotBuilds.get
    Serving.userBooksLookup(spark, sf, u).collect()
    assert(Serving.snapshotBuilds.get == built, "a warm lookup rebuilt the snapshot")
    Serving.evictContext(spark.sparkContext) // what onApplicationEnd runs
    val frames = Serving.frameBuilds.get
    val threads = 8
    val barrier = new CyclicBarrier(threads)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (1 to threads).map(_ => pool.submit(
          new java.util.concurrent.Callable[(org.apache.spark.sql.DataFrame, Seq[String])] {
        def call(): (org.apache.spark.sql.DataFrame, Seq[String]) = {
          barrier.await()
          val df = Serving.userBooksLookup(spark, sf, u)
          (df, df.collect().map(_.toString).toSeq)
        }
      }))
      val (dfs, rows) = futures.map(_.get(300, TimeUnit.SECONDS)).unzip
      assert(Serving.snapshotBuilds.get == built + 1,
        s"${Serving.snapshotBuilds.get - built} builds after eviction, expected exactly 1")
      assert(rows.distinct.size == 1 && rows.head.nonEmpty, "threads saw different rows")
      assert(Serving.frameBuilds.get == frames + 1 && dfs.forall(_ eq dfs.head),
        s"${Serving.frameBuilds.get - frames} frames built for one user, expected exactly 1")
    } finally pool.shutdownNow(): Unit
  }

  /** A planner strategy that plans nothing and counts the plans offered
    * to it: a frame whose plans are built already offers none. */
  private final class PlanCounter extends org.apache.spark.sql.execution.SparkStrategy {
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = { calls.incrementAndGet(); Nil }
  }

  test("serving frame memo: a warm repeat runs no job, builds no frame and plans nothing; rows ≡ the online queries") {
    import graft.recommend.{Recommend, Serving}
    gateForcedSession() // the tables, built on the default session
    val s = spark.newSession()
    val counter = new PlanCounter
    s.experimental.extraStrategies = Seq(counter)
    try {
      val users = sampleUsers(5)
      def page(u: Long) = (Serving.userBooksLookup(s, sf, u), Serving.recommendationsLookup(s, sf, u))
      val first = users.map { u => val p = page(u); p._1.collect(); p._2.collect(); p }
      val (frames, planned) = (Serving.frameBuilds.get, counter.calls.get)
      val (warm, jobs) = jobsDuring {
        users.map { u => val p = page(u); (p, p._1.collect().toSeq, p._2.collect().toSeq) }
      }
      assert(jobs == 0, s"warm lookups ran $jobs Spark jobs")
      assert(Serving.frameBuilds.get == frames, "a warm lookup built a frame")
      assert(counter.calls.get == planned, "a warm lookup planned")
      users.zip(first).zip(warm).foreach { case ((u, (b0, r0)), ((b, r), books, recs)) =>
        assert((b eq b0) && (r eq r0), s"user $u: a warm lookup returned a new frame")
        assert(books == Recommend.userRatedBooks(spark, sf, u).collect().toSeq,
          s"user $u: memoised books != online query")
        assert(recs == Recommend.recommendKnn(spark, sf, u).collect().toSeq,
          s"user $u: memoised recommendations != online query")
      }
    } finally Cache.clear(s)
  }

  test("serving frame memo: no session gets another session's frame, a gate-0 one included") {
    import graft.recommend.Serving
    val forced = gateForcedSession()
    val other = spark.newSession()
    try {
      val u = sampleUsers(1).head
      val frames = Seq(spark, other, forced).map(Serving.userBooksLookup(_, sf, u))
      Seq(spark, other).zip(frames).foreach { case (s, df) =>
        assert(df.sparkSession eq s, "a lookup returned a frame of another session")
        assert(Serving.userBooksLookup(s, sf, u) eq df)
      }
      assert(frames.combinations(2).forall { case Seq(a, b) => a ne b })
      // the gate-0 session reads the bucketed table, never a held frame
      assert(frames(2).queryExecution.executedPlan.toString
        .contains("SelectedBucketsCount: 1 out of"))
      assert(Serving.userBooksLookup(forced, sf, u) ne frames(2))
      assert(frames.map(_.collect().toSeq).distinct.size == 1, "sessions saw different rows")
    } finally Cache.clear(other)
  }

  test("serving frame memo: Cache.clear drops only its session's frames, evictContext drops all") {
    import graft.recommend.Serving
    val (a, b) = (spark.newSession(), spark.newSession())
    try {
      val u = sampleUsers(1).head
      val (fa, fb) = (Serving.userBooksLookup(a, sf, u), Serving.userBooksLookup(b, sf, u))
      Cache.clear(a)
      val built = Serving.frameBuilds.get
      assert(Serving.userBooksLookup(b, sf, u) eq fb, "clearing one session dropped another's frame")
      val fa2 = Serving.userBooksLookup(a, sf, u)
      assert((fa2 ne fa) && Serving.frameBuilds.get == built + 1,
        "the cleared session was served its dropped frame")
      Serving.evictContext(spark.sparkContext)
      assert((Serving.userBooksLookup(a, sf, u) ne fa2) && (Serving.userBooksLookup(b, sf, u) ne fb),
        "a frame outlived its context's eviction")
      assert(Serving.frameBuilds.get == built + 3)
    } finally { Cache.clear(a); Cache.clear(b) }
  }

  test("serving frame memo: past the bound, lookups build fresh frames that still answer correctly") {
    import graft.recommend.{Recommend, Serving}
    val s = spark.newSession()
    try {
      // users with no ratings fill the memo with empty frames
      (1 to Serving.MaxFramesPerSnapshot).foreach(i => Serving.userBooksLookup(s, sf, -i.toLong))
      val u = sampleUsers(1).head
      val built = Serving.frameBuilds.get
      val (x, y) = (Serving.userBooksLookup(s, sf, u), Serving.userBooksLookup(s, sf, u))
      assert((x ne y) && Serving.frameBuilds.get == built + 2, "a lookup past the bound was held")
      val online = Recommend.userRatedBooks(spark, sf, u).collect().toSeq
      assert(x.collect().toSeq == online && y.collect().toSeq == online)
    } finally Cache.clear(s)
  }

  test("serving frame memo: lookups still union and USING-join in one plan, one user's two lookups included") {
    import graft.recommend.{Recommend, Serving}
    val Seq(u1, u2) = sampleUsers(2)
    val (a, b) = (Serving.userBooksLookup(spark, sf, u1), Serving.userBooksLookup(spark, sf, u2))
    val again = Serving.userBooksLookup(spark, sf, u1)
    assert(again eq a, "one user's two lookups built two frames")
    val (oa, ob) = (Recommend.userRatedBooks(spark, sf, u1), Recommend.userRatedBooks(spark, sf, u2))
    sameResult("two users' union", a.union(b), oa.union(ob))
    sameResult("two users' join", a.join(b, Seq("book_id")), oa.join(ob, Seq("book_id")))
    sameResult("one user's union", a.union(again), oa.union(oa))
    sameResult("one user's join", a.join(again, Seq("book_id")), oa.join(oa, Seq("book_id")))
  }

  test("coRatedPairStats maxFanout: capped pairs subset, generous cap exact, stats sufficient") {
    import org.apache.spark.sql.functions._
    import graft.graph.{Algorithms, RatingsGraph}
    val full = Algorithms.coRatedPairStats(spark, sf)
    val capped = Algorithms.coRatedPairStats(spark, sf, maxFanout = 3)
    assert(capped.count() < full.count(), "tight cap should prune pairs")
    assert(capped.select("u1", "u2").exceptAll(full.select("u1", "u2")).isEmpty)
    // cap >= max per-book raters → bit-identical statistics
    val maxDeg = RatingsGraph.ratings(spark, sf)
      .groupBy("book_id").count().agg(max("count")).head().getLong(0).toInt
    val generous = Algorithms.coRatedPairStats(spark, sf, maxFanout = maxDeg)
    assert(generous.exceptAll(full).isEmpty && full.exceptAll(generous).isEmpty)
    // the statistics really are sufficient: dist² = q1+q2−2·dot is a
    // sum of squares, so it can never go negative, and Cauchy–Schwarz
    // bounds dot² ≤ q1·q2 for every pair
    assert(full.filter(col("q1") + col("q2") - lit(2) * col("dot") < 0).isEmpty)
    assert(full.filter(col("dot") * col("dot") > col("q1") * col("q2")).isEmpty)
    // capped pearson/euclidean stay well-formed (the 100 TB operating
    // point): same schema, scores in range
    val eu = Algorithms.userEuclideanTopK(spark, sf, maxFanout = 3)
    assert(eu.columns.toSeq == Seq("u1", "u2", "n_common", "dist_sq", "euclidean_sim"))
    assert(eu.filter(col("euclidean_sim") <= 0.0 || col("euclidean_sim") > 1.0).isEmpty)
  }

  test("silver mode: ratings() reads the bucketed table, matches the rebuilt ETL, and aggregates with no Exchange") {
    import graft.graph.RatingsGraph
    import org.apache.spark.sql.functions._
    val rebuilt = RatingsGraph.ratings(spark, sf)
    val table = "graft_silver_spec"
    sources.GraphStore.saveBucketed(spark, sf, table, buckets = 4)
    spark.conf.set(RatingsGraph.SilverTableConf, table)
    try {
      val silver = RatingsGraph.ratings(spark, sf)
      assert(silver.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(silver).isEmpty,
        "silver table diverges from the rebuilt ETL")
      val agg = silver.groupBy("user_id").agg(count(lit(1)).as("degree"))
      val exchanges = agg.queryExecution.executedPlan.toString
        .split("\n").count(_.contains("Exchange"))
      assert(exchanges == 0, s"bucketed silver agg planned $exchanges Exchanges")
    } finally {
      spark.conf.unset(RatingsGraph.SilverTableConf)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
    // a typo'd silver conf must fail loudly, not silently rebuild the
    // ETL while looking like silver mode
    spark.conf.set(RatingsGraph.SilverTableConf, "graft_no_such_silver")
    try intercept[IllegalArgumentException] { RatingsGraph.ratings(spark, sf) }
    finally spark.conf.unset(RatingsGraph.SilverTableConf)
  }

  test("lsh probe prunes: IN-literal band keys, no full-corpus row-to-row filter, bucket pruning on the posted table") {
    import graft.ann.AnnSearch
    // default (session-cached postings) path: the probe must be a
    // literal IN on bkey — never the old crossJoin + OR-of-band-
    // equalities shape that scanned every signature row per query
    val probe = AnnSearch.lshTopK(spark, sf)
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"probe still cross-joins the corpus:\n$plan")
    // OptimizeIn rewrites >10-value IN lists to INSET — accept either
    // literal-membership form, but nothing looser (a bare mention of the
    // column anywhere in the plan must NOT pass)
    assert("bkey#\\d+L? IN(SET)?[ (]".r.findFirstIn(plan).isDefined,
      s"probe plan lost the literal IN band-key filter:\n$plan")
    val expected = probe.collect()

    // bucketed-table mode: the same probe against the persisted posting
    // list must BUCKET-PRUNE the scan (SelectedBucketsCount well below
    // the bucket count) — the plan property that makes the query path
    // sublinear at 100 TB
    val table = "graft_lsh_postings_spec"
    AnnSearch.savePostingsBucketed(spark, sf, table, buckets = 16)
    spark.conf.set(AnnSearch.PostingsTableConf, table)
    // the probe is filter-only, so Spark's planner auto-disables the
    // bucketed scan (it only keeps it for joins/aggs on the bucket
    // column); force it on to get file-level bucket pruning
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val bucketed = AnnSearch.lshTopK(spark, sf)
      val bPlan = bucketed.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(bPlan)
      assert(sel.isDefined, s"no bucket pruning in probe scan:\n$bPlan")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"probe read every bucket: ${sel.get.matched}")
      // and table mode returns exactly the cached-mode result
      assert(bucketed.collect().toSeq == expected.toSeq)
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.conf.unset(AnnSearch.PostingsTableConf)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
    // a typo'd postings conf must fail loudly, not silently rebuild
    spark.conf.set(AnnSearch.PostingsTableConf, "graft_no_such_table")
    try intercept[IllegalArgumentException] { AnnSearch.lshTopK(spark, sf) }
    finally spark.conf.unset(AnnSearch.PostingsTableConf)

    // and a probe whose LSH parameters differ from the ones the table
    // was built with must fail loudly too — mismatched band keys would
    // silently lose recall, not error
    val t2 = "graft_lsh_postings_params_spec"
    AnnSearch.savePostingsBucketed(spark, sf, t2, buckets = 4)
    spark.conf.set(AnnSearch.PostingsTableConf, t2)
    try intercept[IllegalArgumentException] {
      AnnSearch.lshTopK(spark, sf, bands = 6, bitsPerBand = 4)
    } finally {
      spark.conf.unset(AnnSearch.PostingsTableConf)
      spark.sql(s"DROP TABLE IF EXISTS $t2")
    }
  }

  /** A silver that stays persisted under the default driver gate (the
    * ratings silver is held on the driver there): a parquet projection
    * no other test caches. */
  private def sharedSilver(s: org.apache.spark.sql.SparkSession) =
    Cache.cached(s, sf, "shared-silver-probe") {
      Tables.embeddings(s, sf).select("vec_id").filter(col("vec_id") % 2 === 0)
    }

  private def isCached(df: org.apache.spark.sql.DataFrame) =
    org.apache.spark.sql.graftbridge.GraftBridge.isCached(df)

  test("cache: eviction refuses a live context, keeps every entry") {
    val s = spark.newSession()
    var builds = 0
    def probe() = Cache.cached(s, "cache-evict-spec", "probe") {
      builds += 1; Seq(1L).toDF("x").groupBy("x").count()
    }
    try {
      probe(); probe()
      assert(builds == 1, "second ask should hit the cache")
      val silver = sharedSilver(spark)
      // what onApplicationEnd runs, on a context that has not stopped
      intercept[IllegalArgumentException](Cache.evictContext(spark.sparkContext))
      probe()
      assert(builds == 1, "a refused eviction dropped an entry")
      assert(sharedSilver(spark) eq silver, "the shared session's silver was dropped")
    } finally Cache.clear(s)
  }

  test("cache: a refused eviction then another session's clear keeps the shared silver cached") {
    // the order-dependent failure this guards: eviction emptied the store
    // without unpersisting, and the next clear of any session then found
    // no holder for the shared silver and unpersisted it under the plans
    // of the shared session
    val silver = sharedSilver(spark)
    assert(isCached(silver))
    intercept[IllegalArgumentException](Cache.evictContext(spark.sparkContext))
    val other = spark.newSession()
    sharedSilver(other).count()
    Cache.clear(other)
    assert(isCached(silver), "clearing another session uncached the shared silver")
    assert(sharedSilver(spark) eq silver)
  }

  test("ratings silver: a local relation under the gate, persisted at gate 0 and in silver-table mode") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val held = RatingsGraph.ratings(spark, sf)
    assert(held.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(!isCached(held))
    val forced = spark.newSession()
    forced.conf.set("graft.driver.localThreshold", "0")
    val table = "graft_silver_held_spec"
    val silverMode = spark.newSession()
    try {
      val persisted = RatingsGraph.ratings(forced, sf)
      assert(!persisted.queryExecution.analyzed.isInstanceOf[LocalRelation])
      assert(isCached(persisted), "the gate-0 ratings silver is not persisted")
      assert(persisted.schema == held.schema)
      assert(persisted.collect().map(_.toString).sorted.toSeq ==
        held.collect().map(_.toString).sorted.toSeq)
      GraphStore.saveBucketed(silverMode, sf, table, buckets = 4)
      silverMode.conf.set(RatingsGraph.SilverTableConf, table)
      val bucketed = RatingsGraph.ratings(silverMode, sf)
      assert(!bucketed.queryExecution.analyzed.isInstanceOf[LocalRelation])
      assert(isCached(bucketed), "the silver-table ratings are not persisted")
    } finally {
      Seq(forced, silverMode).foreach(Cache.clear)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("ratings silver: holding it on the driver keeps a live gate-0 session's silver cached") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // Spark caches by plan: both sessions build the same ratings plan, and
    // the gate-0 session's persist made the one cache entry
    val (forced, held) = (spark.newSession(), spark.newSession())
    forced.conf.set("graft.driver.localThreshold", "0")
    try {
      val persisted = RatingsGraph.ratings(forced, sf)
      assert(isCached(persisted))
      assert(RatingsGraph.ratings(held, sf).queryExecution.analyzed.isInstanceOf[LocalRelation])
      assert(isCached(persisted), "holding the silver on the driver uncached the gate-0 session's")
    } finally Seq(forced, held).foreach(Cache.clear)
  }

  test("cache: clearing one session keeps another live session's identical frame cached") {
    val (a, b) = (spark.newSession(), spark.newSession())
    // two sessions, one name, the same plan: Spark holds ONE cache entry
    def probe(s: org.apache.spark.sql.SparkSession) =
      Cache.cached(s, sf, "cross-session-probe") { Tables.embeddings(s, sf).select("vec_id") }
    val (fa, fb) = (probe(a), probe(b))
    assert(isCached(fa))
    Cache.clear(a)
    assert(isCached(fb), "clearing session a uncached session b's frame")
    Cache.clear(b)
    assert(!isCached(fb),
      "clearing the last holder must uncache the frame")
  }

  test("quality_filter plans exactly ONE documents scan (no self-join of the two signals)") {
    val plan = text.TextOps.qualityFilter(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = plan.sliding("Scan parquet".length).count(_ == "Scan parquet")
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
  }

  test("corpus_ngrams scan prunes to the shared silver's (doc_id, text)") {
    // corpus_ngrams rides the tokedDocs silver (tokenize-once — the
    // interpreted-lambda O(tokens²) fix), whose contract is (doc_id,
    // toks); the scan must prune to exactly those two source columns —
    // source/split/props must NOT be read
    val plan = text.TextOps.corpusNgrams(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>")
        || plan.contains("ReadSchema: struct<text:string>"),
      s"scan not pruned to (doc_id, text):\n$plan")
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val day = 86400000L
    def ev(id: Long, min: Long) = EventStreams.Event(
      id, new java.sql.Timestamp(day + min * 60000L), 1L, "click", 1.0)
    val q = EventStreams.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      input.addData(ev(1, 1), ev(2, 2), ev(1, 3), ev(3, 4), ev(2, 4))
      q.processAllAvailable()
      val ids = spark.table("dd").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("zValue interleaves bits; z-ordered write clusters BOTH dimensions per file") {
    import graft.sources.Layout
    // hand-checked Morton values: z(3,5) = interleave(011, 101) =
    // b=1,a=1 | b=0,a=1 | b=1,a=0 → bits (a0→0)=1,(b0→1)=1,(a1→2)=1,
    // (b1→3)=0,(a2→4)=0,(b2→5)=1 → 100111b = 39
    val z = Seq((3L, 5L)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"))).head().getLong(0)
    assert(z == 39L, s"z(3,5) = $z, want 39")

    val out = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    Layout.saveZOrdered(graft.Tables.lineitem(spark, sf)
        .select(col("l_partkey"), col("l_suppkey")),
      "l_partkey", "l_suppkey", out, nFiles = 8)
    // per-file bounding boxes: a z-ordered layout keeps the average
    // per-file range of BOTH keys well under the global range (a
    // single-column sort clusters only one; unsorted clusters neither)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length >= 4, s"expected several files, got ${files.length}")
    def spans(c: String) = files.map { f =>
      val r = spark.read.parquet(f).agg(min(col(c)), max(col(c))).head()
      (r.getLong(0), r.getLong(1))
    }
    def meanRange(s: Array[(Long, Long)]) = s.map(p => p._2 - p._1).sum.toDouble / s.length
    val global = spark.read.parquet(out)
      .agg(max(col("l_partkey")) - min(col("l_partkey")),
        max(col("l_suppkey")) - min(col("l_suppkey"))).head()
    // a z-curve cut into 8 range pieces gives per-file boxes of ~1/2 ×
    // 1/4 of the key space; 0.75 cleanly separates from the ~1.0 a
    // single-column sort leaves on its OTHER dimension
    assert(meanRange(spans("l_partkey")) < 0.75 * global.getLong(0),
      "z-order failed to cluster l_partkey")
    assert(meanRange(spans("l_suppkey")) < 0.75 * global.getLong(1),
      "z-order failed to cluster l_suppkey")
    // aliasing guard: keys beyond the bit budget are rejected
    intercept[IllegalArgumentException] {
      Layout.saveZOrdered(Seq((-1L, 2L)).toDF("x", "y"), "x", "y", out + "-bad")
    }
  }
}
