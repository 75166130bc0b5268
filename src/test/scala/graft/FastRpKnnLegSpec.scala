package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.Lsh
import graft.graph.{Algorithms, FastRP, RatingsGraph}

/** The FastRP and LSH KNN driver legs (one bounded collect under
  * `graft.driver.localThreshold`, the Spark expressions' kernels on the
  * driver) against the distributed legs that run over the gate: job
  * counts, and row and schema identity on the test data and on
  * degenerate ratings and embeddings tables. */
class FastRpKnnLegSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def session(gate: Option[Long]): SparkSession = {
    val s = spark.newSession()
    gate.foreach(g => s.conf.set("graft.driver.localThreshold", g.toString))
    s
  }

  /** Fresh sessions, cleared afterwards. The shared session holds the
    * ratings silver first: the new sessions' silver shares its cache
    * entry, and clearing them must leave that entry to the later suites. */
  private def withSessions[T](gates: Option[Long]*)(body: Seq[SparkSession] => T): T = {
    RatingsGraph.ratings(spark, sf)
    val ss = gates.map(session)
    try body(ss) finally ss.foreach(Cache.clear)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Same schema (nullability included) and rows, or the same error. */
  private def sameResult(name: String, a: => DataFrame, b: => DataFrame): Unit = {
    def run(df: => DataFrame) =
      try Right((df.schema, rows(df)))
      catch { case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    val (ra, rb) = (run(a), run(b))
    (ra, rb) match {
      case (Right((sa, xa)), Right((sb, xb))) =>
        assert(sa == sb, s"$name: schema ${sa.treeString} vs ${sb.treeString}")
        assert(xa == xb, s"$name: ${xa.size} vs ${xb.size} rows, first differences " +
          xa.diff(xb).take(3) + " / " + xb.diff(xa).take(3))
      case _ => assert(ra == rb, s"$name: the legs disagree")
    }
  }

  /** Every FastRP/KNN frame the reference build reads, across two sessions. */
  private def sameFrames(d: SparkSession, f: SparkSession, dir: String): Unit = {
    val (ed, ef) = (FastRP.embedStates(Algorithms.bipartiteEdges(d, dir)),
      FastRP.embedStates(Algorithms.bipartiteEdges(f, dir)))
    assert(ed.states.length == ef.states.length)
    ed.states.zip(ef.states).zipWithIndex.foreach { case ((a, b), k) =>
      sameResult(s"$dir embedStates state $k", a, b)
    }
    sameResult(s"$dir embedStates embedding", ed.embedding, ef.embedding)
    Seq[(String, (SparkSession, String) => DataFrame)](
      "bipartiteEmbeddings" -> ((s, x) => FastRP.bipartiteEmbeddings(s, x)),
      "userEmbeddings" -> ((s, x) => FastRP.userEmbeddings(s, x)),
      "userScoredPairs" -> ((s, x) => Algorithms.userScoredPairs(s, x)),
      "userKnnEdges(20, 0.1)" -> ((s, x) => Algorithms.userKnnEdges(s, x, 20, 0.1)),
      "userKnnEdgesRef" -> ((s, x) => Algorithms.userKnnEdgesRef(s, x))
    ).foreach { case (name, build) => sameResult(s"$dir $name", build(d, dir), build(f, dir)) }
  }

  test("driver legs: cold userEmbeddings and userKnnEdgesRef run ≤ 2 jobs each, warm none") {
    withSessions(None) { case Seq(s) =>
      RatingsGraph.ratings(s, sf).count()
      val (_, coldEmb) = jobsDuring(FastRP.userEmbeddings(s, sf).collect())
      val (_, coldKnn) = jobsDuring(Algorithms.userKnnEdgesRef(s, sf).collect())
      val (_, warm) = jobsDuring {
        FastRP.userEmbeddings(s, sf).collect()
        Algorithms.userKnnEdgesRef(s, sf).collect()
      }
      assert(coldEmb <= 2, s"cold userEmbeddings ran $coldEmb jobs")
      assert(coldKnn <= 2, s"cold userKnnEdgesRef ran $coldKnn jobs")
      assert(warm == 0, s"warm reads ran $warm jobs")
    }
  }

  test("driver and distributed legs: identical rows and schemas at sf0.001") {
    withSessions(None, Some(0L)) { case Seq(d, f) =>
      // the default session really answers on the driver, the forced one not
      assert(GraftBridge.localRelation(FastRP.bipartiteEmbeddings(d, sf)).isDefined)
      assert(GraftBridge.localRelation(Algorithms.userScoredPairs(d, sf)).isDefined)
      assert(GraftBridge.localRelation(Algorithms.userKnnEdgesRef(d, sf)).isDefined)
      assert(GraftBridge.localRelation(FastRP.bipartiteEmbeddings(f, sf)).isEmpty)
      sameFrames(d, f, sf)
    }
  }

  test("hostile ratings shapes and repeated vectors: both legs agree") {
    val root = Files.createTempDirectory("graft-fastrp-knn").toFile
    try {
      // (user, book, quantity): rating = quantity % 11, and 0 is filtered
      val shapes = Map(
        "no_ratings" -> Seq((1L, 1L, 0), (1L, 2L, 11), (2L, 1L, 22)),
        "one_user" -> Seq((1L, 1L, 3), (1L, 2L, 7), (1L, 3L, 10)),
        "star_hub" -> (1L to 30L).map(u => (u, 7L, (u % 10 + 1).toInt)),
        "forest" -> (0L until 5L).flatMap(c =>
          Seq((10 * c + 1, 100 * c + 1, 4), (10 * c + 2, 100 * c + 1, 9),
            (10 * c + 2, 100 * c + 2, 6), (10 * c + 3, 100 * c + 2, 2))))
      shapes.foreach { case (name, triples) =>
        val dir = s"$root/$name"
        triples.toDF("l_orderkey", "l_partkey", "l_quantity")
          .write.parquet(s"$dir/lineitem.parquet")
        triples.map(_._1).distinct.map(u => (u, u)).toDF("o_orderkey", "o_custkey")
          .write.parquet(s"$dir/orders.parquet")
        withSessions(None, Some(0L)) { case Seq(d, f) => sameFrames(d, f, dir) }
      }

      // 40 copies of one vector share every band bucket: 8 · C(40, 2) =
      // 6240 candidate pairs, over a gate of 4000 that the 45 × 64 = 2880
      // vector scalars fit under
      val rnd = new scala.util.Random(5)
      def vec() = Array.fill(64)(rnd.nextGaussian())
      val same = vec()
      (Seq.tabulate(40)(i => (i.toLong, same)) ++ Seq.tabulate(5)(i => (40L + i, vec())))
        .toDF("id", "vec").write.parquet(s"$root/embeddings.parquet")
      withSessions(None, Some(4000L), Some(0L)) { case Seq(d, g, f) =>
        def emb(s: SparkSession) = s.read.parquet(s"$root/embeddings.parquet")
        assert(Lsh.scoredPairsLocal(emb(g), "id", "vec", 64, 8, 10).isEmpty,
          "the candidate guard should refuse the driver leg")
        assert(Lsh.scoredPairsLocal(emb(d), "id", "vec", 64, 8, 10).isDefined)
        def scored(s: SparkSession) = Lsh.scoredPairs(emb(s), "id", "vec", 64)
        sameResult("repeated vectors, guarded", scored(g), scored(f))
        sameResult("repeated vectors, driver", scored(d), scored(f))
        sameResult("repeated vectors, knn",
          Lsh.knnFromScoredRaw(scored(d), 20, 0.1), Lsh.knnFromScoredRaw(scored(f), 20, 0.1))
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("Tables.table: a second read infers no schema, a rewritten table is inferred again") {
    val dir = Files.createTempDirectory("graft-tables").toFile
    try {
      Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
      val (first, inferJobs) = jobsDuring(Tables.table(spark, dir.toString, "t"))
      val (again, jobs) = jobsDuring(Tables.table(spark, dir.toString, "t"))
      assert(inferJobs >= 1, "a plain read infers the schema with a Spark job")
      assert(jobs == 0, s"the second read ran $jobs jobs")
      assert(again.schema == first.schema && again.collect().toSeq == first.collect().toSeq)
      Seq((2L, 2.5, 3)).toDF("k", "x", "y").write.mode("overwrite").parquet(s"$dir/t.parquet")
      val rewritten = Tables.table(spark, dir.toString, "t")
      assert(rewritten.columns.toSeq == Seq("k", "x", "y"))
      assert(rewritten.collect().map(_.toString).toSeq == Seq("[2,2.5,3]"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
