package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

/** One timed request of a closed loop. */
final case class Sample(kind: String, ms: Double, ok: Boolean)

/** Closed-loop load: each caller sends its next request only when the
  * previous one has returned, so a slower system receives less load.
  * Callers draw users from one shared seeded mix, in order, and rotate
  * through the request kinds. */
final class Loop(c: Ctx, phase: String, users: Array[Long],
    kinds: Seq[(String, Long => Unit)]) {
  private val cursor = new AtomicInteger(0)
  private val requests = new AtomicInteger(0)

  /** Users drawn so far, in draw order. */
  def drawn: Seq[Long] = (0 until cursor.get()).map(i => users(i % users.length))

  private def call(kind: String, f: Long => Unit): Sample = {
    val u = users(cursor.getAndIncrement() % users.length)
    val t0 = System.nanoTime()
    val ok =
      try { c.span(s"$phase.$kind", requests.incrementAndGet().toLong)(f(u)); true }
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $phase.$kind user $u failed: $e")
        false
      }
    Sample(kind, (System.nanoTime() - t0) / 1e6, ok)
  }

  private def callers(body: Int => Seq[Sample]): Seq[Sample] = {
    val out = Array.fill(c.cores)(Seq.empty[Sample])
    val threads = (0 until c.cores).map { i =>
      new Thread(() => out(i) = body(i), s"perfbench-$phase-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.toSeq.flatten
  }

  /** Runs the loop for `seconds`; returns every sample and the seconds
    * until the last caller finished. */
  def run(seconds: Double): (Seq[Sample], Double) = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    drive(_ => System.nanoTime() < deadline)
  }

  /** Runs exactly `perCaller` requests on each caller. */
  def runCount(perCaller: Int): (Seq[Sample], Double) = drive(_ < perCaller)

  private def drive(more: Int => Boolean): (Seq[Sample], Double) = {
    val t0 = System.nanoTime()
    val samples = callers { i =>
      val mine = ArrayBuffer[Sample]()
      while (more(mine.length)) {
        val (kind, f) = kinds((i + mine.length) % kinds.length)
        mine += call(kind, f)
      }
      mine.toSeq
    }
    (samples, (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)

  /** The metrics of one closed-loop phase: median latency of the
    * successful requests, the `tail` percentile when one is given (it
    * needs ten samples beyond it), and completed requests per second. */
  def loop(prefix: String, tail: Option[Double], samples: Seq[Sample], seconds: Double)
      : Seq[(String, Double, String)] = {
    val ok = samples.filter(_.ok).map(_.ms)
    Seq((s"${prefix}_p50_ms", median(ok), "ms")) ++
      tail.map(p => (f"${prefix}_p${(p * 100).round}%d_ms", pct(ok, p), "ms")) :+
      ((s"${prefix}_qps", ok.length / seconds, "1/s"))
  }
}
