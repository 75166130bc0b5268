package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.GraftBridge

/** Whole-operator custom plan: per-key top-k WITHOUT a full sort.
  *
  * The composed form (`row_number().over(Window.partitionBy(key)
  * .orderBy(...)) <= k`) sorts every partition — O(n log n) buffer and
  * spill per key group. This operator keeps a bounded k-element heap per
  * key: O(n log k) time, O(#keys × k) memory, no sort spill. At 100 TB
  * (e.g. topK=20 KNN edges per node over billions of candidate pairs)
  * the difference is a full external sort vs a streaming pass.
  *
  * The full custom-operator tier: logical node → strategy → physical
  * exec (`requiredChildDistribution` = ClusteredDistribution(keys), so
  * Catalyst inserts the one hash Exchange it actually needs), exposed as
  * a plain DataFrame transform via a session-registered strategy.
  *
  * MEMORY: the per-key heaps live on the JVM heap outside Spark's
  * memory manager, but they are BOUNDED — at most
  * `graft.topk.maxKeysPerPartition` (session conf, default 4M) keys are
  * heaped per pass; rows of further keys spill to a local temp file and
  * are processed in another bounded pass after the first drains
  * (recursing while keys remain — each pass retires `maxKeys` distinct
  * keys, so passes = ceil(cardinality / maxKeys); the common KNN shape
  * of billions of rows over modest key counts never spills at all).
  * Worst-case memory is O(maxKeys × k × rowSize) per task regardless of
  * key cardinality.
  */
case class TopKPerKeyNode(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    maxHeapKeys: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    maxHeapKeys: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val sortOrder = order
    val kk = k
    val maxKeys = maxHeapKeys
    val numFields = childOutput.size
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val rowOrdering: Ordering[InternalRow] =
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .create(sortOrder, childOutput)
      // per spill file: whichever stream (writer, then reader) is
      // currently open — the task-completion listener closes it, so a
      // consumer that stops draining mid-spill leaks neither fd nor file
      val spillStreams = mutable.Map.empty[java.io.File, java.io.Closeable]

      // One bounded pass: heap the first `maxKeys` distinct keys; rows
      // of any further key spill to a local temp file (UnsafeRow bytes)
      // and are drained by the next pass — memory stays O(maxKeys × k)
      // rows however many keys the partition holds.
      def pass(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
        // per key: bounded heap ordered by the DISPLAY ordering, so the
        // heap root (max = sorts last) is the worst kept row and
        // eviction is O(log k)
        val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
        var spillFile: java.io.File = null
        var spillOut: java.io.DataOutputStream = null
        val writeBuffer = new Array[Byte](4096)
        rows.foreach { row =>
          val key = keyProj(row)
          // probe with the reused projected key; copy only on insert
          // miss (a per-row copy on hash hits is pure allocation churn)
          heaps.get(key) match {
            case Some(heap) =>
              if (heap.size < kk) {
                heap.enqueue(row.asInstanceOf[UnsafeRow].copy())
              } else if (rowOrdering.compare(row, heap.head) < 0) {
                // strictly better (sorts before the worst kept row)
                heap.dequeue()
                heap.enqueue(row.asInstanceOf[UnsafeRow].copy())
              }
            case None if heaps.size < maxKeys =>
              val h = mutable.PriorityQueue.empty[UnsafeRow](
                rowOrdering.asInstanceOf[Ordering[UnsafeRow]])
              h.enqueue(row.asInstanceOf[UnsafeRow].copy())
              heaps.put(key.copy(), h)
            case None =>
              // key budget exhausted: spill the raw row for a later pass
              if (spillOut == null) {
                spillFile = java.io.File.createTempFile("graft-topk-spill", ".bin")
                spillOut = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
                  new java.io.FileOutputStream(spillFile), 1 << 16))
                // cleanup rides task completion (not deleteOnExit, whose
                // shutdown-hook entries would accumulate for the JVM
                // lifetime): close whatever stream is open — including a
                // reader a short-circuiting consumer abandoned mid-drain
                // — then drop the file
                val f = spillFile
                spillStreams(f) = spillOut
                val tc = org.apache.spark.TaskContext.get()
                if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
                  spillStreams.remove(f).foreach(s => try s.close() catch { case _: Throwable => () })
                  f.delete(): Unit
                }
              }
              val u = row.asInstanceOf[UnsafeRow]
              spillOut.writeInt(u.getSizeInBytes)
              u.writeToStream(spillOut, writeBuffer)
          }
        }
        val drained = heaps.iterator.flatMap { case (_, heap) =>
          heap.dequeueAll.reverseIterator // best-first within each key
        }
        if (spillOut == null) drained
        else {
          spillOut.close()
          // lazy: the next pass opens the spill only after this one is
          // fully consumed; it retires the NEXT maxKeys keys, so the
          // recursion depth is ceil(remaining keys / maxKeys)
          drained ++ {
            val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
              new java.io.FileInputStream(spillFile), 1 << 16))
            spillStreams(spillFile) = in // writer is closed; track the reader
            val f = spillFile
            val spilled = new Iterator[InternalRow] {
              private var nextSize = readSize()
              private def readSize(): Int =
                try in.readInt()
                catch { case _: java.io.EOFException =>
                  in.close(); spillStreams.remove(f); -1 }
              override def hasNext: Boolean = nextSize >= 0
              override def next(): InternalRow = {
                val bytes = new Array[Byte](nextSize)
                in.readFully(bytes)
                val r = new UnsafeRow(numFields)
                r.pointTo(bytes, nextSize)
                nextSize = readSize()
                r
              }
            }
            pass(spilled)
          }
        }
      }

      // a top-0 (or less) keeps nothing: no heap is ever seeded
      if (kk <= 0) Iterator.empty else pass(iter)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, maxHeapKeys, child) =>
      TopKPerKeyExec(keys, order, k, maxHeapKeys, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {
  // sessionUUID keys: stable, never reused (identity hashes can recur
  // after a dead session is GC'd)
  @volatile private var registered = Set.empty[String]

  private def ensureStrategy(spark: SparkSession): Unit = {
    val id = graft.Cache.sessionId(spark)
    if (!registered.contains(id)) synchronized {
      if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy)) {
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ TopKPerKeyStrategy
      }
      registered += id
    }
  }

  /** Session conf: max distinct keys heaped per partition per pass —
    * the memory bound of [[TopKPerKeyExec]]. Rows of keys beyond the
    * budget spill to local disk and drain in further bounded passes. */
  val MaxHeapKeysConf = "graft.topk.maxKeysPerPartition"
  val DefaultMaxHeapKeys = 4000000

  /** Keep the top `k` rows per key group, best-first by `orderCols`
    * ((name, ascending) pairs compared lexicographically — "best" is the
    * row that sorts FIRST). */
  def topKPerKey(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    ensureStrategy(spark)
    // a top-k over local frames runs on the driver
    LocalPlans.ensureStrategy(spark)
    val maxHeapKeys = spark.conf.getOption(MaxHeapKeysConf)
      .map(_.toInt).getOrElse(DefaultMaxHeapKeys)
    require(maxHeapKeys > 0, s"$MaxHeapKeysConf must be positive")
    val plan = GraftBridge.logicalPlan(df)
    val resolve = plan.output.map(a => a.name -> a).toMap
    val keys = keyCols.map(c => resolve(c): Expression)
    val order = orderCols.map { case (c, asc) =>
      SortOrder(resolve(c), if (asc) Ascending else Descending)
    }
    GraftBridge.ofRows(spark, TopKPerKeyNode(keys, order, k, maxHeapKeys, plan))
  }
}
