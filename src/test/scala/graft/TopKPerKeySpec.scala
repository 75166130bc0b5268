package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{DriverLocalExec, TopKPerKey}

class TopKPerKeySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("topKPerKey equals the window row_number formulation") {
    val df = (1 to 5000).map { i =>
      (i % 37L, (i * 2654435761L % 1000) / 1000.0, i.toLong)
    }.toDF("key", "score", "id")
    val viaHeap = TopKPerKey.topKPerKey(df, Seq("key"),
        Seq(("score", false), ("id", true)), 3)
      .select("key", "score", "id")
    val w = Window.partitionBy("key").orderBy(col("score").desc, col("id"))
    val viaWindow = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).select("key", "score", "id")
    assert(viaHeap.count() == viaWindow.count())
    assert(viaHeap.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaHeap).isEmpty)
  }

  test("plans one exchange and NO sort") {
    val df = (1 to 100).map(i => (i % 5L, i.toDouble)).toDF("key", "score")
    val out = TopKPerKey.topKPerKey(df, Seq("key"), Seq(("score", false)), 2)
    out.count() // force planning + execution
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.toLowerCase.contains("sortexec") && !plan.contains("Sort "), plan)
  }

  test("spill path: a tiny per-partition key budget still equals the window form") {
    // 500 distinct keys through a 7-key heap budget → dozens of spill
    // passes per partition, same answer
    val df = (1 to 5000).map { i =>
      (i % 500L, (i * 2654435761L % 1000) / 1000.0, i.toLong)
    }.toDF("key", "score", "id")
    spark.conf.set(TopKPerKey.MaxHeapKeysConf, "7")
    try {
      val viaHeap = TopKPerKey.topKPerKey(df, Seq("key"),
          Seq(("score", false), ("id", true)), 3)
        .select("key", "score", "id")
      val w = Window.partitionBy("key").orderBy(col("score").desc, col("id"))
      val viaWindow = df.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3).select("key", "score", "id")
      assert(viaHeap.count() == viaWindow.count())
      assert(viaHeap.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaHeap).isEmpty)
    } finally spark.conf.unset(TopKPerKey.MaxHeapKeysConf)
  }

  test("keeps ties deterministically via the secondary sort key") {
    val df = Seq((1L, 5.0, 10L), (1L, 5.0, 11L), (1L, 5.0, 12L), (1L, 4.0, 13L))
      .toDF("key", "score", "id")
    val got = TopKPerKey.topKPerKey(df, Seq("key"),
        Seq(("score", false), ("id", true)), 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(10L, 11L))
  }

  test("k <= 0 keeps no row, through the distributed operator and the driver route") {
    val rows = Seq((1L, 2L, 0.5), (1L, 3L, 0.9), (2L, 1L, 0.4))
    val off = spark.newSession()
    off.conf.set("graft.driver.localThreshold", "0")
    for (k <- Seq(0, -1)) {
      val driver = TopKPerKey.topKPerKey(rows.toDF("a", "b", "c"), Seq("a"), Seq(("c", false)), k)
      val dist = TopKPerKey.topKPerKey(off.createDataFrame(rows).toDF("a", "b", "c"),
        Seq("a"), Seq(("c", false)), k)
      assert(driver.queryExecution.executedPlan.isInstanceOf[DriverLocalExec])
      assert(!dist.queryExecution.executedPlan.toString.contains("DriverLocal"))
      assert(driver.collect().isEmpty, s"top-$k on the driver route kept rows")
      assert(dist.collect().isEmpty, s"top-$k on the distributed operator kept rows")
    }
  }
}
