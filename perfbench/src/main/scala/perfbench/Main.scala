package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Tables

/** What a workload hands back: its end-to-end metrics (with its own
  * set-up seconds, and the peak RSS read when its measured part ends)
  * and its per-layer metrics, each as (name, value, unit); the
  * operations it attempted and how many failed; the correctness checks
  * it ran; and free-form detail for the run record. */
final case class Outcome(
    endToEnd: Seq[(String, Double, String)],
    perLayer: Seq[(String, Double, String)],
    attempted: Long,
    failed: Long,
    checks: Seq[(String, Boolean, String)],
    detail: Map[String, Any])

/** Everything a workload needs: the session, its data directory, the
  * tracer, the core count, and the measuring window in seconds. */
final case class Ctx(spark: SparkSession, data: String, tracer: Tracer,
    cores: Int, seconds: Double) {
  def span[A](name: String, request: Long = -1L)(body: => A): A =
    tracer.span(name, request)(body)

  /** Set-up work: reads every named input table under `dir` once, through
    * `graft.Tables`; returns the seconds it took. */
  def readTables(dir: String, names: Seq[String]): Double = {
    val t0 = System.nanoTime()
    span("setup.tables") {
      names.foreach { n =>
        Tables.table(spark, dir, n).count()
      }
    }
    (System.nanoTime() - t0) / 1e9
  }
}

/** One benchmark run in a fresh JVM. `run.py` generates the inputs,
  * starts this main and turns the record it writes into the result line.
  *
  * Usage: perfbench.Main <workload> <dataDir> <runDir> <trace 0|1>
  *   <seconds> <cores> <outJson>
  *
  * Set-up time here runs from JVM start until the session is up; the
  * workload adds its own set-up (reading its input tables, warm-up
  * requests) to it. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, data, runDir, traceArg, secondsArg, coresArg, out) = args
    val cores = coresArg.toInt
    val traced = traceArg == "1"
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
    if (traced) b.config("spark.sql.queryExecutionListeners", classOf[PlanningListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val tracer = new Tracer(spark.sparkContext, traced)
    val ctx = Ctx(spark, data, tracer, cores, secondsArg.toDouble)
    val load0 = Load.sample()
    val gc0 = Load.gcMs()
    val o = workload match {
      case "reco" => Reco.run(ctx)
      case "kernel_sweep" => KernelSweep.run(ctx)
      // the shared set-up alone: what the build runs to record the JVM's
      // class-data archive
      case "setup_only" =>
        Outcome(Seq(("setup_s", ctx.readTables(data, KernelSweep.tables), "s")),
          Nil, 0L, 0L, Nil, Map.empty)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    tracer.drain()
    val load1 = Load.sample()
    val setup = o.endToEnd.collectFirst { case ("setup_s", v, _) => v }.getOrElse(0.0)
    val e2e = o.endToEnd.filterNot(_._1 == "setup_s") :+ (("setup_s", sessionS + setup, "s"))
    val layers = new Layers(tracer)
    val root = layers.spans.filter(_.parent == 0L)
    val wallS = (root.map(_.endNs).max - root.map(_.startNs).min) / 1e9
    // tracing overhead: the traced run reports its end-to-end timings
    // under these names, to set against the untraced run's
    val layer = if (!traced) Nil else o.perLayer ++ Seq(
      (s"$workload.gc_s", (Load.gcMs() - gc0) / 1e3, "s"),
      (s"$workload.busy_frac", layers.sum(root).runMs / 1e3 / (wallS * cores), "ratio")) ++
      o.endToEnd.collect { case (n @ ("batch_s" | "op_ms"), v, u) =>
        (s"$workload.traced_$n", v, u) }
    val record = Map(
      "workload" -> workload, "traced" -> traced, "cores" -> cores,
      "correct" -> o.checks.forall(_._2),
      "attempted" -> o.attempted, "failed" -> o.failed,
      "end_to_end" -> e2e.map(m => m._1 -> Map("value" -> m._2, "unit" -> m._3)).toMap,
      "per_layer" -> layer.map(m => m._1 -> Map("value" -> m._2, "unit" -> m._3)).toMap,
      "checks" -> o.checks.map(c => Map("name" -> c._1, "ok" -> c._2, "detail" -> c._3)),
      "stamps" -> Load.stamps(load0, load1),
      "session_s" -> sessionS,
      "detail" -> o.detail)
    Files.writeString(Paths.get(out), Json(record))
    if (traced) Files.writeString(Paths.get(out.stripSuffix(".json") + ".spans.json"),
      Json(layers.spans.map { s =>
        val c = layers.counters(s)
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "request" -> s.request, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "ok" -> s.ok, "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "exec_run_ms" -> c.runMs, "exec_cpu_ms" -> c.cpuNs / 1e6, "gc_ms" -> c.gcMs,
          "shuffle_read_b" -> c.shuffleReadB, "shuffle_write_b" -> c.shuffleWriteB,
          "spill_b" -> c.spillB, "input_b" -> c.inputB, "planning_ms" -> c.planningMs)
      }))
    spark.stop()
  }
}

/** Machine and process readings for the run record. */
object Load {
  /** (total jiffies, steal jiffies, busy jiffies) from /proc/stat and
    * this process's user+system jiffies from /proc/self/stat. */
  final case class Sample(total: Long, steal: Long, busy: Long, own: Long)

  def sample(): Sample = {
    val cols = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    // user..steal; guest and guest_nice are already counted in user
    val total = cols.take(8).sum
    val idle = cols(3) + cols(4)
    val steal = if (cols.length > 7) cols(7) else 0L
    val self = Files.readString(Paths.get("/proc/self/stat"))
    val f = self.substring(self.lastIndexOf(')') + 2).split(" ")
    Sample(total, steal, total - idle - steal, f(11).toLong + f(12).toLong)
  }

  /** CPU steal and co-tenant CPU over the run, each as a share of all
    * CPU time of the machine: a noisy run is identifiable from these. */
  def stamps(a: Sample, b: Sample): Map[String, Double] = {
    val dt = math.max(1L, b.total - a.total).toDouble
    Map("steal_frac" -> (b.steal - a.steal) / dt,
      "cotenant_cpu_frac" -> math.max(0L, (b.busy - a.busy) - (b.own - a.own)) / dt,
      "own_cpu_frac" -> (b.own - a.own) / dt,
      "loadavg_1m" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** VmHWM: the peak resident set of this process. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(-1.0)
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
