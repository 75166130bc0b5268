package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset

/** Minimal package bridge: build a DataFrame from a custom LogicalPlan.
  * `Dataset.ofRows` is private[sql]; a one-line forwarder in an
  * org.apache.spark.sql subpackage is the standard extension-library
  * pattern for plugging custom logical nodes into a session. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(castToImpl(spark), plan)

  def logicalPlan(df: DataFrame): LogicalPlan = castToImpl(df).logicalPlan

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
