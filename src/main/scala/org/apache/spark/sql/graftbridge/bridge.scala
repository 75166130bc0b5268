package org.apache.spark.sql.graftbridge {

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.graftbridge.Preparations
import org.apache.spark.sql.types.StructType

/** Minimal package bridge: build a DataFrame from a custom LogicalPlan.
  * `Dataset.ofRows` is private[sql]; a one-line forwarder in an
  * org.apache.spark.sql subpackage is the standard extension-library
  * pattern for plugging custom logical nodes into a session. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(castToImpl(spark), plan)

  def logicalPlan(df: DataFrame): LogicalPlan = castToImpl(df).logicalPlan

  /** A frame over driver-held rows (Catalyst's internal values) with
    * exactly `schema`, nullability included, under fresh attribute ids:
    * the output of every driver leg. Actions on it that the optimizer
    * folds into the relation (collect, projections, filters) run no
    * Spark job. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `df`'s plan as the LocalRelation the optimizer folds it into, when
    * every leaf of it is one and the fold keeps the schema: a driver
    * leg's output, or a projection or filter of one. Its rows are already
    * on the driver. */
  def localRelation(df: DataFrame): Option[LocalRelation] =
    if (!df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else df.queryExecution.optimizedPlan match {
      case l: LocalRelation if l.schema == df.schema => Some(l)
      case _ => None
    }

  /** `df`'s rows as Catalyst's internal values, collected as `collect`
    * does (one SQL execution, the same jobs) without converting each one
    * to a `Row`. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = castToImpl(df).queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** Whether Spark's cache holds `df`'s plan (from any session: the
    * cache is keyed by plan). */
  def isCached(df: DataFrame): Boolean =
    castToImpl(df.sparkSession).sharedState.cacheManager.lookupCachedData(castToImpl(df)).isDefined

  /** Catalog creation time (epoch ms) of a session-catalog table, None
    * when there is no such table: a dropped and rebuilt table of the same
    * name gets a new one. One catalog read, with no analyzer pass (as
    * `spark.catalog.tableExists` runs) and no schema copy (as
    * `getTableMetadata` makes): serving lookups read it once per
    * request. */
  def tableCreateTime(spark: SparkSession, table: String): Option[Long] =
    try Some(castToImpl(spark).sessionState.catalog
      .getTableRawMetadata(TableIdentifier(table)).createTime)
    catch { case _: NoSuchTableException => None }

  /** Physical planning of `plan` in the active session, as
    * `QueryExecution` does it: the planner's strategies, then the
    * preparation rules (no adaptive execution) with `afterRequirements`
    * run right after `EnsureRequirements`. */
  def planPhysical(plan: LogicalPlan, afterRequirements: Rule[SparkPlan]): SparkPlan = {
    val spark = castToImpl(SparkSession.active)
    val planned = spark.sessionState.planner.plan(plan).next()
    Preparations.prepare(spark, planned, afterRequirements)
  }

  /** Driver task attempt ids count down from -1, so they never meet the
    * scheduler's (which count up from 0) in the memory manager's books. */
  private val driverTaskIds = new AtomicLong()

  /** Runs `body` as a task on the calling thread: a `TaskContext` of its
    * own with its own `TaskMemoryManager` over the driver's memory
    * manager, completed (its listeners run) and freed when `body` ends.
    * A thread that already runs inside a task reuses that task. */
  def onDriverTask[A](body: TaskContext => A): A = {
    val current = TaskContext.get()
    if (current != null) return body(current)
    val env = SparkEnv.get
    val id = driverTaskIds.decrementAndGet()
    val memory = new TaskMemoryManager(env.memoryManager, id)
    val tc = new TaskContextImpl(0, 0, 0, id, 0, 1, memory, new java.util.Properties,
      env.metricsSystem, TaskMetrics.empty, 1, Map.empty)
    TaskContext.setTaskContext(tc)
    var error: Option[Throwable] = None
    try body(tc)
    catch { case t: Throwable => error = Some(t); tc.markTaskFailed(t); throw t }
    finally {
      try tc.markTaskCompleted(error)
      finally {
        memory.cleanUpAllAllocatedMemory()
        TaskContext.unset()
      }
    }
  }
}
}

package org.apache.spark.sql.execution.graftbridge {

import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.{CollapseCodegenStages, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.EnsureRequirements

/** The one piece of the bridge that needs the execution package: the
  * preparation rules `QueryExecution` runs on a physical plan, here
  * without whole-stage code generation (under the driver gate, compiling
  * a stage costs more than interpreting it; measured on the serving
  * fold). */
private[sql] object Preparations {
  def prepare(spark: SparkSession, plan: SparkPlan,
      afterRequirements: Rule[SparkPlan]): SparkPlan = {
    val rules = QueryExecution.preparations(spark, None, subquery = false).flatMap {
      case r: EnsureRequirements => Seq(r, afterRequirements)
      case _: CollapseCodegenStages => Nil
      case r => Seq(r)
    }
    QueryExecution.prepareForExecution(rules, plan)
  }
}
}
