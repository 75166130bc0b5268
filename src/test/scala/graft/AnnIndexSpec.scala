package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.AnnSearch

/** The ANN index's two legs: under `graft.driver.localThreshold` the IVF
  * and PQ index is built on the driver from one bounded collect; with
  * the gate at 0 the distributed builders run. Both must yield the same
  * artifacts and answers, on the test corpus and on degenerate ones. */
class AnnIndexSpec extends AnyFunSuite {
  import TestSpark._

  /** A fresh session (cold index), the driver gate forced to 0 if asked. */
  private def session(forced: Boolean): SparkSession = {
    val s = spark.newSession()
    if (forced) s.conf.set("graft.driver.localThreshold", "0")
    s
  }

  private def withLegs[T](body: (SparkSession, SparkSession) => T): T = {
    val (local, dist) = (session(forced = false), session(forced = true))
    try body(local, dist) finally { Cache.clear(local); Cache.clear(dist) }
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** Sorted rows, or the error's class: what two legs must agree on. */
  private def outcome(df: => DataFrame): Either[String, Seq[String]] =
    Try(df.collect().map(_.toString).sorted.toSeq) match {
      case Success(rows) => Right(rows)
      case Failure(e) => Left(e.getClass.getName)
    }

  private val artifacts: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "ivfAssignment" -> ((s, d) => AnnSearch.ivfAssignment(s, d)),
    "ivfCentroids" -> ((s, d) => AnnSearch.ivfCentroids(s, d, 16)),
    "ivfProbeCells" -> ((s, d) => AnnSearch.ivfProbeCells(s, d)),
    "pqCodes" -> ((s, d) => AnnSearch.pqCodes(s, d)),
    "pqCodebooks" -> ((s, d) => AnnSearch.pqCodebooks(s, d, 8, 16)))

  test("ivfPqTopK, driver leg: at most one Spark job cold, none warm, ≡ the distributed leg") {
    withLegs { (local, dist) =>
      val (cold, coldJobs) = jobsDuring(AnnSearch.ivfPqTopK(local, sf).collect().toSeq)
      assert(coldJobs <= 1, s"cold driver-leg ivfPqTopK ran $coldJobs Spark jobs")
      val (warm, warmJobs) = jobsDuring(AnnSearch.ivfPqTopK(local, sf).collect().toSeq)
      assert(warmJobs == 0, s"warm driver-leg ivfPqTopK ran $warmJobs Spark jobs")
      val distributed = AnnSearch.ivfPqTopK(dist, sf)
      assert(!isLocal(distributed))
      assert(cold.length == 10)
      assert(cold == warm)
      assert(cold == distributed.collect().toSeq, "driver leg != distributed leg (ordered)")
      assert(AnnSearch.ivfPqTopK(local, sf).schema == distributed.schema)
      // an unknown query: no rows, the distributed leg's schema
      val (none, noneDist) = (AnnSearch.ivfPqTopK(local, sf, queryId = -1L),
        AnnSearch.ivfPqTopK(dist, sf, queryId = -1L))
      assert(none.collect().isEmpty && noneDist.collect().isEmpty)
      assert(none.schema == noneDist.schema)
    }
  }

  test("index artifacts: ivfAssignment, pqCodes, centroids and codebooks are row- and schema-identical across legs") {
    withLegs { (local, dist) =>
      artifacts.foreach { case (name, f) =>
        val (a, b) = (f(local, sf), f(dist, sf))
        assert(isLocal(a), s"$name: the default gate should answer from the driver index")
        assert(!isLocal(b), s"$name: the forced gate should run the distributed builder")
        assert(a.schema == b.schema, s"$name schema: ${a.schema} vs ${b.schema}")
        val (ra, rb) = (outcome(a), outcome(b))
        assert(ra == rb, s"$name rows differ across legs")
        assert(ra.exists(_.nonEmpty), s"$name returned no rows")
      }
    }
  }

  // Degenerate corpora, written under the system temp dir: each ANN
  // entry, artifact and an unknown-query top-k must give identical rows
  // on both legs (or fail with the same error class on both).
  test("hostile embeddings shapes: both legs agree") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def vec(): Array[Float] = Array.fill(AnnSearch.Dim)(rnd.nextFloat() * 2 - 1)
    val zero = Array.fill(AnnSearch.Dim)(0.0f)
    val distinct = Seq.fill(5)(vec())
    val shapes: Seq[(String, Seq[(Long, Array[Float])])] = Seq(
      "unknown_query" -> (1L to 30L).map(i => (i, vec())),
      "five_vectors" -> (0L until 5L).map(i => (i, vec())),
      "duplicated_vectors" -> (0L until 40L).map(i => (i, distinct((i % 5).toInt))),
      "zero_vectors" -> (0L until 30L).map(i => (i, if (i == 0 || i == 7) zero else vec())),
      "empty" -> Nil)
    val root = java.nio.file.Files.createTempDirectory("graft-ann-shapes")
    val entries = Seq("ann_ivf_topk", "ann_pq_topk", "ann_ivfpq_topk",
      "ivf_invariants", "pq_invariants", "ivfpq_invariants")
    try shapes.foreach { case (shape, rows) =>
      val dir = root.resolve(shape).toString
      rows.map { case (id, v) => (id, v.toSeq, 0) }.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
      withLegs { (local, dist) =>
        assert(isLocal(AnnSearch.ivfAssignment(local, dir)),
          s"$shape: the default gate should build the index on the driver")
        val calls: Seq[(String, (SparkSession, String) => DataFrame)] =
          entries.map(e => e -> SparkEntry.queries(e)) ++ artifacts :+
            ("ivfPqTopK(unknown id)" -> ((s: SparkSession, d: String) =>
              AnnSearch.ivfPqTopK(s, d, queryId = 1000L)))
        calls.foreach { case (name, f) =>
          val (a, b) = (outcome(f(local, dir)), outcome(f(dist, dir)))
          assert(a == b, s"$shape / $name: driver leg $a, distributed leg $b")
        }
        if (shape == "zero_vectors") {
          // the query IS the zero vector: every cosine is 0.0, never NaN
          val cos = AnnSearch.ivfPqTopK(local, dir).collect().map(_.getDouble(1))
          assert(cos.nonEmpty && cos.forall(_ == 0.0), cos.mkString(","))
        }
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(root.toFile)
    }
  }
}
