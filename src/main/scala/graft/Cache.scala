package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.storage.StorageLevel

/** Session-scoped memoization of shared derived tables (ratings edges,
  * co-occurrence projection, FastRP embeddings…). ~20 of the engine's
  * queries derive from the same handful of intermediates; without this,
  * a full query sweep rebuilds the ratings ETL dozens of times.
  *
  * At 100 TB the equivalent is a materialised/bucketed silver table;
  * in-session `persist(MEMORY_AND_DISK)` is the local analog. Keyed by
  * (sessionUUID, sfDir, name) so concurrent sessions/dirs don't collide
  * — sessionUUID is stable and never reused, unlike identity hashes,
  * which can recur after a dead session is GC'd.
  */
object Cache {
  private val store = new ConcurrentHashMap[String, DataFrame]()

  /** Per-session-OBJECT id: a UUID held in a weak-keyed map on the
    * SparkSession itself (SparkSession doesn't override equals, so
    * WeakHashMap keys by identity). NOT stamped into the session conf:
    * conf-cloning sessions (cloneSession — structured streaming does
    * this internally) would inherit the stamp and share cache keys with
    * a different live session, the same hazard class raw identity
    * hashes had. The weak keying only matters once a session's entries
    * are gone from `store` ([[clear]] or the application-end listener):
    * until then the persisted DataFrames' plans strongly reference the
    * session, which pins the map key regardless of key weakness. */
  private val ids = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, String]())

  /** Contexts that already carry the eviction listener (weak keys: a
    * collected context needs no bookkeeping). */
  private val hooked = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  def sessionId(spark: org.apache.spark.sql.SparkSession): String = {
    ensureEvictionHook(spark.sparkContext)
    ids.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)
  }

  /** Automatic eviction at application end: when a context stops, every
    * cache entry belonging to one of its sessions is dropped, so a JVM
    * that cycles `SparkSession`s *across* contexts (suite after suite,
    * or a service restarting Spark) never pins a dead application's
    * plans. Sessions cycled WITHIN one live application still need
    * [[clear]] — Spark has no per-session close event to hook. */
  private def ensureEvictionHook(sc: SparkContext): Unit =
    if (hooked.putIfAbsent(sc, java.lang.Boolean.TRUE) == null) {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          evictContext(sc)
      })
    }

  /** Drop every entry whose DataFrame belongs to `sc`, once `sc` has
    * stopped (no unpersist: the context's storage dies with it; the point
    * is unpinning the plan and session references). A live context is
    * refused: dropping its entries without unpersisting would leave their
    * cached data behind with no holder on record, and a later [[clear]]
    * of another session could then unpersist data that live plans still
    * read. Live sessions are dropped one at a time by [[clear]]. */
  private[graft] def evictContext(sc: SparkContext): Unit = {
    require(sc.isStopped, "Cache.evictContext: the context is still running; " +
      "clear its sessions with Cache.clear instead")
    val it = store.entrySet().iterator()
    while (it.hasNext) {
      if (it.next().getValue.sparkSession.sparkContext eq sc) it.remove()
    }
    val prefixes = ids.synchronized {
      val out = scala.collection.mutable.ListBuffer[String]()
      val eit = ids.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        if (e.getKey.sparkContext eq sc) out += e.getValue + "|"
      }
      out.toList
    }
    prefixes.foreach(evictSideMaps)
  }

  /** Scalar side-state memoized NEXT TO a cached frame (PageRank's
    * iteration count, KMeans' WSS trace) lives in caller-owned maps
    * keyed `sessionId|…`. Registering them here ties their lifetime to
    * the frame cache: [[clear]] and the application-end listener purge
    * the session's side entries too, so a long-lived JVM cycling
    * sessions doesn't grow them unboundedly. */
  private val sideMaps =
    new java.util.concurrent.CopyOnWriteArrayList[ConcurrentHashMap[String, _]]()

  def registerSideMap(m: ConcurrentHashMap[String, _]): Unit =
    sideMaps.add(m): Unit

  private def evictSideMaps(prefix: String): Unit =
    sideMaps.forEach { m =>
      val it = m.keySet().iterator()
      while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
    }

  def cached(spark: org.apache.spark.sql.SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame = {
    // every key carries the resolved ratings silver source: nearly all
    // cached intermediates (cooccurrence, FastRP, communities, KNN
    // pairs …) derive from the ratings ETL, so flipping the silver conf
    // mid-session must cold-start them rather than serve intermediates
    // built from the other source
    val silverTag = spark.conf
      .getOption(graft.graph.RatingsGraph.SilverTableConf).getOrElse("-")
    val key = s"${sessionId(spark)}|$dir|$silverTag|$name"
    // the session's plans over driver-held silvers take the driver route
    graft.plans.LocalPlans.ensureStrategy(spark)
    var df = store.get(key)
    if (df == null) {
      val built = build
      // a driver leg's output (or a projection of it) is kept as its
      // LocalRelation: the rows are already on the driver, and persisting
      // them would add a job to fill the cache and one per later action;
      // any other plan over local frames that the driver route runs is
      // computed there once and kept the same way
      df = GraftBridge.localRelation(built)
        .map(GraftBridge.ofRows(spark, _))
        .orElse(graft.plans.LocalPlans.materialize(built))
        .getOrElse(built.persist(StorageLevel.MEMORY_AND_DISK))
      val prev = store.putIfAbsent(key, df)
      if (prev != null) { df.unpersist(); df = prev }
    }
    df
  }

  /** Drop and unpersist every entry of one session. Application end
    * evicts automatically (see [[ensureEvictionHook]]); this is for
    * stopping ONE session while its application lives on — a service or
    * a test JVM cycling sessions over a shared context should call it,
    * or the map pins each dead session's plans and storage until the
    * application ends. */
  def clear(spark: org.apache.spark.sql.SparkSession): Unit = {
    val prefix = s"${sessionId(spark)}|"
    val removed = scala.collection.mutable.ListBuffer[DataFrame]()
    val it = store.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(prefix)) { removed += e.getValue; it.remove() }
    }
    // Spark caches by plan, not by session: an identical frame another
    // live session still holds shares the cache entry, so it stays
    val kept = store.values().toArray(Array.empty[DataFrame])
      .map(_.queryExecution.analyzed)
    removed.foreach { df =>
      val plan = df.queryExecution.analyzed
      if (!kept.exists(_.sameResult(plan)))
        try df.unpersist(blocking = false) catch { case _: Throwable => () }
    }
    evictSideMaps(prefix)
  }
}
