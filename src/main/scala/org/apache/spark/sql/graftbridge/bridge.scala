package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset
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

  /** Session-catalog existence check without the analyzer pass that
    * `spark.catalog.tableExists` runs on every call — serving lookups
    * check once per request. */
  def tableExists(spark: SparkSession, table: String): Boolean =
    castToImpl(spark).sessionState.catalog.tableExists(TableIdentifier(table))

  /** Catalog creation time (epoch ms) of a session-catalog table: a
    * dropped and rebuilt table of the same name gets a new one. */
  def tableCreateTime(spark: SparkSession, table: String): Long =
    castToImpl(spark).sessionState.catalog
      .getTableMetadata(TableIdentifier(table)).createTime
}
