package graft.plans

import java.security.MessageDigest

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native weighted node2vec step draw over a BROADCAST CSR adjacency
  * (r12).
  *
  * The weighted walk step used to EXPLODE one row per (walk, candidate)
  * — |frontier|·avg-degree rows per step (≈12.5 M at sf0.1), each
  * paying a string concat + md5 + the min_by shuffle — to realise the
  * Efraimidis–Spirakis exponential-clock draw. A first rewrite joined
  * the frontier against a grouped adjacency-array frame, but paid TWO
  * fresh ~75 MB broadcast-exchange builds per step (localCheckpoint
  * cuts the query, so exchange reuse never fires across steps;
  * measured ~5.5 s/step of pure broadcast build). This version collects
  * the adjacency ONCE into a CSR (sorted src index → sorted (dst, w)
  * slices), ships it as ONE `sc.broadcast`, and evaluates each step as
  * a MAP-ONLY projection over the ≤|walks|-row frontier: for each
  * candidate `nxt` with edge weight `w`,
  *
  *   u     = (uint48(md5("<walk>:<step>:<nxt>")) + 0.5) / 2^48
  *   score = −ln(u) / (classW · w)
  *   classW = wBack if nxt == prev; wNbr if (prev, nxt) ∈ E; else wOut
  *
  * and returns the argmin — IDENTICAL double arithmetic to the
  * `−log(u) / (classW · weight)` column form (the md5 fold is
  * [[Md5Bits.compute]]'s, the uniform is the same `+ 0.5 / 2^48`), so
  * the walk corpus and everything downstream of it (SPPMI counts,
  * node2vec embeddings, their DuckDB oracles) is bit-unchanged
  * (spec-pinned against the column form). First-min wins; a tie needs
  * two 48-bit md5 draws to collide within one walk step AND equal
  * class·edge weights — probability ~2⁻³³ per corpus, and the unrolled
  * SQL oracle would flag it loudly. Candidate iteration order is the
  * CSR's dst-ascending order — order only matters on those ties.
  *
  * Scale: gated by `Algorithms.Node2VecAdjEdges` through
  * `Algorithms.driverGate` (the caller's gate) — above it the pair-join column form runs, which is
  * the 100 TB-safe shape. */
final class N2vCsr(val srcs: Array[Long], val offs: Array[Int],
    val dsts: Array[Long], val ws: Array[Double]) extends Serializable {
  def sliceOf(node: Long): Int = java.util.Arrays.binarySearch(srcs, node)
}

/** `pick = graft_n2v_step_<bcId>(walkId, prev, cur)` — see
  * [[Node2VecStep]]. Null when `cur` has no adjacency row (the walk
  * strands, matching the old inner-join semantics). */
case class Node2VecStepDraw(first: Expression, second: Expression,
    third: Expression, step: Int, wBack: Int, wNbr: Int, wOut: Int,
    csr: Broadcast[N2vCsr])
    extends TernaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_n2v_step expects (bigint walkId, bigint prev, bigint cur)")

  override def nullSafeEval(w: Any, p: Any, c: Any): Any = {
    val r = Node2VecStep.draw(w.asInstanceOf[Long], p.asInstanceOf[Long],
      c.asInstanceOf[Long], csr.value, step, wBack, wNbr, wOut)
    if (r == Long.MinValue) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("n2vCsrBc", csr,
      classOf[Broadcast[N2vCsr]].getName)
    nullSafeCodeGen(ctx, ev, (w, p, c) => s"""
       |long r = graft.plans.Node2VecStep.draw($w, $p, $c,
       |  (graft.plans.N2vCsr) $bc.value(), $step, $wBack, $wNbr, $wOut);
       |if (r == Long.MIN_VALUE) { ${ev.isNull} = true; }
       |else { ${ev.value} = r; }
     """.stripMargin)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object Node2VecStep {

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Collect a both-directions (src, dst, weight) frame into a CSR
    * with dst-sorted slices, and broadcast it. Caller gates the size
    * (`Algorithms.Node2VecAdjEdges`). */
  def buildCsr(bidir: DataFrame): Broadcast[N2vCsr] = {
    import org.apache.spark.sql.functions.col
    // sort DISTRIBUTED (a driver-side boxed-tuple sort of the collected
    // rows measured 6.5 s at 3.1 M edges; the cluster sort is free) and
    // build the CSR streaming over toLocalIterator — a full collect()
    // held every boxed GenericRow on the driver at once (multi-GB
    // transient heap at the gate boundary); the iterator holds one
    // partition's batch at a time and the CSR arrays grow primitively
    // (r13, ADVICE fix).
    val sorted = bidir.select(col("src"), col("dst"),
      col("weight").cast("double").as("weight"))
      .orderBy(col("src"), col("dst"))
    val srcsB = Array.newBuilder[Long]
    val offsB = Array.newBuilder[Int]
    var dsts = new Array[Long](1 << 16)
    var ws = new Array[Double](1 << 16)
    var n = 0
    var prev = Long.MinValue
    val it = sorted.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      if (n == dsts.length) {
        dsts = java.util.Arrays.copyOf(dsts, n * 2)
        ws = java.util.Arrays.copyOf(ws, n * 2)
      }
      val s = r.getLong(0)
      if (s != prev) { srcsB += s; offsB += n; prev = s }
      dsts(n) = r.getLong(1)
      ws(n) = r.getDouble(2)
      n += 1
    }
    offsB += n // sentinel
    bidir.sparkSession.sparkContext.broadcast(new N2vCsr(srcsB.result(),
      offsB.result(), java.util.Arrays.copyOf(dsts, n),
      java.util.Arrays.copyOf(ws, n)))
  }

  /** Argmin candidate from cur's CSR slice, or Long.MinValue when cur
    * has none. */
  def draw(walkId: Long, prev: Long, cur: Long, csr: N2vCsr,
      step: Int, wBack: Int, wNbr: Int, wOut: Int): Long = {
    val si = csr.sliceOf(cur)
    if (si < 0) return Long.MinValue
    val from = csr.offs(si)
    val until = csr.offs(si + 1)
    if (from == until) return Long.MinValue
    // prev's slice for the is_nbr probe (absent prev → never a nbr)
    val pi = csr.sliceOf(prev)
    val (pFrom, pUntil) =
      if (pi < 0) (0, 0) else (csr.offs(pi), csr.offs(pi + 1))
    val md = digests.get()
    val prefix = java.lang.Long.toString(walkId) + ":" + step + ":"
    var best = Double.PositiveInfinity
    var bestNxt = Long.MinValue
    var i = from
    while (i < until) {
      val nxt = csr.dsts(i)
      val w = csr.ws(i)
      val classW: Int =
        if (nxt == prev) wBack
        else if (pUntil > pFrom && sortedRangeContains(csr.dsts, pFrom, pUntil, nxt)) wNbr
        else wOut
      md.reset()
      val d = md.digest((prefix + nxt)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 12 hex nibbles = first 6 bytes, big-endian (Md5Bits fold)
      var v = 0L
      var b = 0
      while (b < 6) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      // EXACT column arithmetic: (cast(double) + 0.5) / 2^48, then
      // −log(u) / (classW · weight) with classW promoted int→double
      val u = (v.toDouble + 0.5) / 281474976710656.0
      val score = -math.log(u) / (classW.toDouble * w)
      if (score < best) { best = score; bestNxt = nxt }
      i += 1
    }
    bestNxt
  }

  private def sortedRangeContains(a: Array[Long], from: Int, until: Int,
      v: Long): Boolean =
    java.util.Arrays.binarySearch(a, from, until, v) >= 0

  private val counter = new java.util.concurrent.atomic.AtomicLong()

  /** Column for one step's draw: registers a session temp function
    * whose closure captures the CSR broadcast (unique name per CSR —
    * cheap, and concurrent builds in one session can't race). Callers
    * MUST pair the walk loop with [[release]] once every step frame is
    * materialised — the registry entry pins the broadcast closure for
    * the session's lifetime otherwise (r13, ADVICE fix). */
  def drawCol(spark: SparkSession, csr: Broadcast[N2vCsr], walkId: Column,
      prev: Column, cur: Column, step: Int, wBack: Int, wNbr: Int,
      wOut: Int): Column = {
    val name = s"graft_n2v_step_${csr.id}_${counter.incrementAndGet()}"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name,
      exprs => Node2VecStepDraw(exprs(0), exprs(1), exprs(2),
        step, wBack, wNbr, wOut, csr), "built-in")
    call_function(name, walkId, prev, cur)
  }

  /** Deregister every step function of `csr` and destroy the broadcast.
    * Safe once all step frames are eagerly checkpointed (the walk loop
    * materialises each step before the next): the checkpointed blocks
    * no longer reference the draw expression or the broadcast. */
  def release(spark: SparkSession, csr: Broadcast[N2vCsr]): Unit = {
    val reg = spark.sessionState.functionRegistry
    val prefix = s"graft_n2v_step_${csr.id}_"
    reg.listFunction().filter(_.funcName.startsWith(prefix))
      .foreach(reg.dropFunction)
    csr.destroy()
  }
}
