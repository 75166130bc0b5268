package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine work attributed to one span: summed over the Spark jobs,
  * stages and tasks that ran while the span was the innermost open span
  * of the calling thread. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleReadB, shuffleWriteB, spillB, inputB = 0L
  var planningMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB
    spillB += o.spillB; inputB += o.inputB; planningMs += o.planningMs
  }
}

final case class Span(id: Long, name: String, parent: Long, request: Long,
    startNs: Long, endNs: Long, ok: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around every call the benchmark makes into a library layer.
  *
  * Spans are always timed, since the end-to-end metrics are read off
  * them. With `enabled`, each span also carries a Spark job tag on the
  * calling thread (a thread-local job property, so concurrent callers
  * stay apart) and the listeners below attribute every job, stage, task
  * and query plan to the tagged span. Everything is kept in memory and
  * written out once the run ends. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  /** Open spans of the calling thread, innermost first: (id, request). */
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()

  private def tag(id: Long) = s"perfbench-span-$id"

  /** Times `body` as a span; a span opened without a request id takes
    * its parent's. */
  def span[A](name: String, request: Long = -1L)(body: => A): A = {
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val parent = outer.headOption.map(_._1).getOrElse(0L)
    val req = if (request >= 0L) request else outer.headOption.map(_._2).getOrElse(-1L)
    if (enabled) {
      if (parent != 0L) sc.removeJobTag(tag(parent))
      sc.addJobTag(tag(id))
    }
    stack.set((id, req) :: outer)
    val t0 = System.nanoTime()
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      if (enabled) {
        sc.removeJobTag(tag(id))
        if (parent != 0L) sc.addJobTag(tag(parent))
      }
      done.add(Span(id, name, parent, req, t0, t1, ok))
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Counters of each span including all of its descendants. */
  def inclusive(): Map[Long, Counters] = {
    val all = spans
    val byId = all.map(s => s.id -> s).toMap
    val out = all.map(s => s.id -> new Counters).toMap
    for ((id, c) <- counters.asScala) {
      var cur = id
      while (cur != 0L && out.contains(cur)) { out(cur) += c; cur = byId(cur).parent }
    }
    out
  }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(","))
      .collectFirst { case t if t.startsWith("perfbench-span-") =>
        t.stripPrefix("perfbench-span-").toLong }
      .getOrElse(0L)

  private def add(span: Long)(f: Counters => Unit): Unit =
    if (span != 0L) f(counters.computeIfAbsent(span, _ => new Counters))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      add(spanOf(e.properties))(_.jobs += 1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = spanOf(e.properties)
      stageSpan.put(e.stageInfo.stageId, s)
      add(s)(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) add(stageSpan.getOrDefault(e.stageId, 0L)) { c =>
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.diskBytesSpilled
        c.inputB += m.inputMetrics.bytesRead
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobTags.collectFirst { case t if t.startsWith("perfbench-span-") =>
          execSpan.put(s.executionId, t.stripPrefix("perfbench-span-").toLong) }
        PlanningListener.flush(Tracer.this)
      case _ =>
    }
  }
  /** Planning times reported so far, matched to their spans by the SQL
    * execution id (a query's plan is built before its execution starts,
    * so the pairing is complete once the listener bus has drained). */
  private[perfbench] def takePlanning(execId: Long, ms: Long): Boolean = {
    val s = execSpan.getOrDefault(execId, -1L)
    if (s < 0L) false else { add(s)(_.planningMs += ms); true }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Waits for the listener bus to deliver every event posted so far. */
  def drain(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBridge.drain(sc)
    PlanningListener.flush(this)
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session gets it, including the separate session the serving lookups
  * plan on. Reports analysis + optimisation + planning time per query. */
class PlanningListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanningListener.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    PlanningListener.record(qe)
}

object PlanningListener {
  private val pending = new ConcurrentHashMap[Long, Long]()

  private def record(qe: QueryExecution): Unit = {
    import org.apache.spark.sql.catalyst.QueryPlanningTracker._
    val ph = qe.tracker.phases
    val ms = Seq(ANALYSIS, OPTIMIZATION, PLANNING).flatMap(ph.get).map(_.durationMs).sum
    pending.merge(qe.id, ms, (a, b) => a + b)
  }

  private[perfbench] def flush(t: Tracer): Unit =
    pending.keySet.asScala.toSeq.foreach { id =>
      val ms = pending.get(id)
      if (t.takePlanning(id, ms)) pending.remove(id)
    }
}
