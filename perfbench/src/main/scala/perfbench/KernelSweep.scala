package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Small-data kernels run cold, one after another in a fixed order, in
  * one fresh session: per-job planning and scheduling dominate here. The
  * only workload that reaches the gds, cypher, text, dedup and ANN-index
  * layers. */
object KernelSweep {
  /** (entry, layer) in run order. */
  val entries: Seq[(String, String)] = Seq(
    "gds_nodesim_stream" -> "gds",
    "kcore_decomposition" -> "graph",
    "cypher_bfs_hops" -> "cypher",
    "quality_filter" -> "text",
    "dedup_minhash_pairs" -> "dedup",
    "ann_ivfpq_topk" -> "ann")

  val layers: Seq[String] = Seq("graph", "gds", "cypher", "text", "dedup", "ann")

  /** The input tables the entries read, read once at set-up. */
  val tables: Seq[String] =
    Seq("customer", "part", "orders", "lineitem", "documents", "embeddings")

  /** Each entry is timed to a full collect, so every output column is
    * computed; the rows are kept for the oracle check, which `run.py`
    * runs in DuckDB after this JVM exits (`outputs/`). */
  def run(c: Ctx): Outcome = {
    val s = c.spark
    val out = s"${c.data}/../outputs"
    val readS = c.readTables(c.data, tables)
    val results = c.span("kernel_sweep") {
      entries.flatMap { case (e, layer) =>
        try c.span(s"kernel_sweep.$layer.$e") {
          val df = SparkEntry.queries(e)(s, c.data)
          Some((e, df.schema, df.collect()))
        } catch { case ex: Exception =>
          System.err.println(s"[perfbench] $e failed: $ex")
          None
        }
      }
    }
    val peakRss = Load.peakRssMb()
    Files.createDirectories(Paths.get(out))
    results.foreach { case (e, schema, rows) =>
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$out/$e")
    }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json(entries.map(_._1).map(e => e -> SparkEntry.oracleSql(e)).toMap))

    val l = new Layers(c.tracer)
    val sweep = l.named("kernel_sweep")
    val entrySpans = l.spans.filter(_.parent == sweep.head.id)
    val layer = layers.flatMap { m =>
      val ss = l.spans.filter(_.name.startsWith(s"kernel_sweep.$m."))
      val k = l.sum(ss)
      Seq((s"kernel_sweep.$m.s", ss.map(_.seconds).sum, "s"),
        (s"kernel_sweep.$m.jobs", k.jobs.toDouble, "count"),
        (s"kernel_sweep.$m.tasks", k.tasks.toDouble, "count"),
        (s"kernel_sweep.$m.planning_ms", k.planningMs.toDouble, "ms"),
        (s"kernel_sweep.$m.busy_frac", l.busyFrac(ss, c.cores), "ratio"))
    }
    Outcome(
      endToEnd = Seq(("setup_s", readS, "s"), ("batch_s", sweep.map(_.seconds).sum, "s"),
        ("op_ms", Stats.geomean(entrySpans.map(_.seconds * 1e3)), "ms"),
        ("peak_rss_mb", peakRss, "MB")),
      perLayer = layer,
      attempted = entries.length.toLong,
      failed = (entries.length - results.length).toLong,
      checks = Nil,
      detail = Map(
        "entry_s" -> entrySpans.map(sp => sp.name.split('.').last -> sp.seconds).toMap,
        "entry_rows" -> results.map(r => r._1 -> r._3.length).toMap))
  }
}
