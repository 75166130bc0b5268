package perfbench

/** Per-layer metrics read off the traced spans and their counters. */
final class Layers(t: Tracer) {
  private val inc = t.inclusive()
  val spans: Seq[Span] = t.spans

  def counters(s: Span): Counters = inc(s.id)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def sum(ss: Seq[Span]): Counters = {
    val c = new Counters
    ss.foreach(s => c += counters(s))
    c
  }

  /** Seconds, stages, executor CPU and shuffle written of one build or
    * fold step, summed over its spans. */
  def step(prefix: String, ss: Seq[Span]): Seq[(String, Double, String)] = {
    val c = sum(ss)
    Seq((s"$prefix.s", ss.map(_.seconds).sum, "s"),
      (s"$prefix.stages", c.stages.toDouble, "count"),
      (s"$prefix.exec_cpu_s", c.cpuNs / 1e9, "s"),
      (s"$prefix.shuffle_write_mb", c.shuffleWriteB / 1e6, "MB"))
  }

  /** Median latency and engine work per request of one request kind. */
  def perRequest(prefix: String, ss: Seq[Span]): Seq[(String, Double, String)] = {
    val ok = ss.filter(_.ok)
    val c = sum(ok)
    val n = math.max(1, ok.length).toDouble
    Seq((s"$prefix.ms", if (ok.isEmpty) 0.0 else Stats.median(ok.map(_.seconds * 1e3)), "ms"),
      (s"$prefix.jobs_per_req", c.jobs / n, "count"),
      (s"$prefix.planning_ms_per_req", c.planningMs / n, "ms"),
      (s"$prefix.input_kb_per_req", c.inputB / 1e3 / n, "KB"))
  }

  /** Share of the wall time the cores spent running tasks. */
  def busyFrac(ss: Seq[Span], cores: Int): Double = {
    val wall = ss.map(_.seconds).sum
    if (wall <= 0) 0.0 else sum(ss).runMs / 1e3 / (wall * cores)
  }
}
