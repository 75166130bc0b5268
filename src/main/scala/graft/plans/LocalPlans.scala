package graft.plans

import scala.collection.immutable.ArraySeq

import org.apache.spark.{Partition, SparkEnv, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, InnerLike, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, RebalancePartitions, Repartition, RepartitionByExpression, ReturnAnswer, Sample, Union}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode, BroadcastPartitioning, Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, LeafExecNode, SparkPlan, SparkStrategy, UnaryExecNode, UnionExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.graph.Algorithms

/** Spark's own plans, run on the driver when every input is a local
  * frame (ROADMAP item 1; REPOSE's rule: answer from a local structure,
  * distribute once the data outgrows one node).
  *
  * [[LocalPlanStrategy]] decides per plan. It fires on a subtree when
  *  - every leaf is a `LocalRelation` (a driver leg's output, a
  *    `Seq.toDF`, a materialised fold input);
  *  - the leaves hold at most `Algorithms.driverGate` rows in all
  *    (`graft.driver.localThreshold`; 0 turns the route off);
  *  - the result cannot depend on the partition layout: no
  *    nondeterministic expression (`rand`, `monotonically_increasing_id`,
  *    `spark_partition_id`, `first`…), no sample, no shuffling
  *    repartition, no subquery.
  * A bare `LocalRelation` (or a projection or filter the optimizer folds
  * into one) keeps the `LocalTableScanExec` path.
  *
  * The fired subtree is planned again with single-partition local scans
  * ([[DriverScanExec]]) and unions coalesced to one partition, so every
  * distribution requirement is met and `EnsureRequirements` adds no
  * shuffle; broadcast exchanges become [[DriverBroadcastExec]], which
  * builds the relation in the same task and registers no broadcast.
  * If anything could still start a job (an Exchange, a nested-loop join
  * that broadcasts its outer side), the route does not fire and the
  * default plan runs.
  *
  * The result is one leaf, [[DriverLocalExec]], that computes the single
  * partition on the calling thread in a driver task of its own:
  * `collect` runs no Spark job, and `execute()` hands the computed rows
  * on as a one-partition RDD. The leaf reports `UnknownPartitioning(1)`,
  * never `SinglePartition`, so a mixed plan around it is planned as it
  * would be around any other scan.
  */
object LocalPlans {
  /** Whether the route runs `plan` on the driver under `gate` rows. */
  private[graft] def fires(plan: LogicalPlan, gate: Long): Boolean = plan match {
    case _: LocalRelation => false
    case _ =>
      val leaves = plan.collectLeaves()
      gate > 0 && leaves.forall {
        case l: LocalRelation => !l.isStreaming
        case _ => false
      } && leaves.iterator.map(_.asInstanceOf[LocalRelation].data.size.toLong).sum <= gate &&
        plan.deterministic && !plan.exists {
          case _: Sample | _: RepartitionByExpression | _: RebalancePartitions => true
          case r: Repartition => r.shuffle
          case p => p.expressions.exists(SubqueryExpression.hasSubquery)
        }
  }

  // sessionUUID keys (see TopKPerKey.ensureStrategy)
  @volatile private var registered = Set.empty[String]

  /** Registers [[LocalPlanStrategy]] on `spark`, first among its extra
    * strategies, once per session. */
  def ensureStrategy(spark: SparkSession): Unit = {
    val id = graft.Cache.sessionId(spark)
    if (!registered.contains(id)) synchronized {
      if (!spark.experimental.extraStrategies.contains(LocalPlanStrategy)) {
        spark.experimental.extraStrategies =
          LocalPlanStrategy +: spark.experimental.extraStrategies
      }
      registered += id
    }
  }

  /** `df` computed on the driver and held as a local frame, when the
    * route runs its plan: no Spark job. None otherwise. The probe plans a
    * copy of `df`, so `df`'s own execution (and a later `persist`) is
    * untouched. */
  def materialize(df: DataFrame): Option[DataFrame] = {
    val spark = df.sparkSession
    val analyzed = GraftBridge.logicalPlan(df)
    if (!analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) return None
    ensureStrategy(spark)
    GraftBridge.ofRows(spark, analyzed).queryExecution.executedPlan match {
      case d: DriverLocalExec =>
        Some(GraftBridge.localFrame(spark, df.schema, ArraySeq.unsafeWrapArray(d.executeCollect())))
      case _ => None
    }
  }

  /** `df` materialised: computed on the driver when the route runs it,
    * else by an eager local checkpoint. */
  def localCheckpoint(df: DataFrame): DataFrame =
    materialize(df).getOrElse(df.localCheckpoint())

  /** `fold` over `inputs` as local frames while together they are under
    * the driver gate (one bounded collect for the inputs that are not
    * local already, see `Algorithms.driverFrames`), so the route runs
    * the fold's plans on the driver; over the gate, or with it at 0,
    * over `inputs` as they are. */
  def overLocalInputs[A](inputs: DataFrame*)(fold: Seq[DataFrame] => A): A = {
    val spark = inputs.head.sparkSession
    ensureStrategy(spark)
    val gate = Algorithms.driverGate(spark, Algorithms.DriverGateDefault)
    fold(Algorithms.driverFrames(inputs, gate).getOrElse(inputs))
  }

  /** Whether `plan` is planned inside a fired subtree on this thread. */
  private val planningInner = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** The fired subtree's physical plan, or None when something in it
    * could still start a job. */
  private[plans] def planOnDriver(plan: LogicalPlan): Option[SparkPlan] = {
    planningInner.set(true)
    val physical =
      try GraftBridge.planPhysical(plan, DriverBroadcasts)
      finally planningInner.set(false)
    val startsJob = physical.exists {
      case _: Exchange => true
      case j: BroadcastNestedLoopJoinExec => (j.joinType, j.buildSide) match {
        case (_: InnerLike, _) | (LeftOuter, BuildRight) | (RightOuter, BuildLeft) => false
        case (LeftSemi | LeftAnti | _: ExistenceJoin, BuildRight) => false
        case _ => true
      }
      case _ => false
    }
    if (startsJob) None else Some(physical)
  }

  private[plans] def inner: Boolean = planningInner.get()

  /** Every partition of `rdd` computed in task `tc` on this thread, as
    * unsafe rows of `output` bound to `input`. It runs as an executor
    * runs a task: over a deserialized copy of the RDD chain and the plan
    * nodes its closures hold, so an operator that keeps per-task state in
    * its plan node (a sort keeps its sorter there) never shares it with
    * another call or thread. */
  private[plans] def computeRows(rdd: RDD[InternalRow], output: Seq[Attribute],
      input: Seq[Attribute], tc: TaskContext): Array[InternalRow] = {
    // the scheduler resolves every dependency before it serializes a
    // task; a copy reaches its parents only through resolved ones
    def resolve(r: RDD[_]): Unit = r.dependencies.foreach(d => resolve(d.rdd))
    resolve(rdd)
    val ser = SparkEnv.get.closureSerializer.newInstance()
    val loader = Option(Thread.currentThread().getContextClassLoader)
      .getOrElse(getClass.getClassLoader)
    val (copy, parts) = ser.deserialize[(RDD[InternalRow], Array[Partition])](
      ser.serialize((rdd, rdd.partitions)), loader)
    val toUnsafe = UnsafeProjection.create(output, input)
    parts.iterator.flatMap(copy.iterator(_, tc)).map(toUnsafe(_).copy()).toArray
  }

  /** Inside a fired subtree: broadcast exchanges build on the driver. */
  private object DriverBroadcasts extends Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case BroadcastExchangeExec(mode, child) => DriverBroadcastExec(mode, child)
    }
  }
}

object LocalPlanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    if (LocalPlans.inner) plan match {
      case l: LocalRelation => DriverScanExec(l.output, l.data) :: Nil
      case u: Union => CoalesceExec(1, UnionExec(u.children.map(planLater))) :: Nil
      case _ => Nil
    } else {
      val subtree = plan match {
        case ReturnAnswer(child) => child
        case p => p
      }
      val gate = Algorithms.driverGate(SparkSession.active, Algorithms.DriverGateDefault)
      if (!LocalPlans.fires(subtree, gate)) Nil
      else LocalPlans.planOnDriver(subtree).map(DriverLocalExec(subtree.output, _)).toList
    }
}

/** A fired subtree: `inner` (planned by [[LocalPlans.planOnDriver]]) run
  * on the calling thread. `inner` is not a child, so the enclosing
  * plan's preparation rules never touch it; explain shows it. */
case class DriverLocalExec(output: Seq[Attribute], inner: SparkPlan) extends LeafExecNode {
  override def outputPartitioning: Partitioning = UnknownPartitioning(1)
  override def innerChildren: Seq[SparkPlan] = inner :: Nil

  private def compute(): Array[InternalRow] =
    GraftBridge.onDriverTask(LocalPlans.computeRows(inner.execute(), output, inner.output, _))

  override def executeCollect(): Array[InternalRow] = compute()
  override def executeTake(n: Int): Array[InternalRow] = compute().take(n)
  override def executeTail(n: Int): Array[InternalRow] = compute().takeRight(n)
  override def executeToIterator(): Iterator[InternalRow] = compute().iterator
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(ArraySeq.unsafeWrapArray(compute()), 1)

  override def simpleString(maxFields: Int): String =
    s"DriverLocal ${output.mkString("[", ", ", "]")}"
}

/** A local relation as one partition (planned only inside a fired
  * subtree, where every operator then runs without a shuffle). */
case class DriverScanExec(output: Seq[Attribute], @transient rows: Seq[InternalRow])
    extends LeafExecNode {
  override def outputPartitioning: Partitioning = SinglePartition

  // transient, as in LocalTableScanExec: closures that capture this node
  // are serialized (checked, and copied per call), the rows travel once
  // in the RDD's partition
  @transient private lazy val unsafeRows: Array[InternalRow] = {
    val proj = UnsafeProjection.create(output, output)
    rows.iterator.map(r => proj(r).copy()).toArray
  }

  override def executeCollect(): Array[InternalRow] = unsafeRows
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(ArraySeq.unsafeWrapArray(unsafeRows), 1)

  override def simpleString(maxFields: Int): String =
    s"DriverScan ${output.mkString("[", ", ", "]")} (${rows.size} rows)"
}

/** A broadcast inside a fired subtree: the build side is computed in the
  * calling thread's task and handed over as a plain in-memory value. No
  * job runs and no broadcast variable is created. */
case class DriverBroadcastExec(mode: BroadcastMode, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException("DriverBroadcast is only read as a broadcast")

  override def doExecuteBroadcast[T](): Broadcast[T] =
    GraftBridge.onDriverTask { tc =>
      val rows = LocalPlans.computeRows(child.execute(), output, output, tc)
      new DriverBroadcastExec.Value(mode.transform(rows)).asInstanceOf[Broadcast[T]]
    }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object DriverBroadcastExec {
  /** A broadcast that is only ever read in the JVM that made it. */
  private final class Value(v: Any) extends Broadcast[Any](-1L) {
    override protected def getValue(): Any = v
    override protected def doUnpersist(blocking: Boolean): Unit = ()
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }
}
