package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources.Filter

/** The `private[sql]` doorways this library needs, kept deliberately to
  * single calls so the internal surface we touch stays minimal: turning a
  * custom LogicalPlan node into a DataFrame, and translating a Catalyst
  * predicate into the data-source `Filter` a file index prunes by. Spark
  * exposes no public form of either (plans are an internal API), so every
  * library that ships its own logical operators or file indexes carries a
  * bridge in an `org.apache.spark.sql` subpackage; this is ours.
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The pushdown form of `e` (top-level columns only), as the file
    * source's own scan translates its data filters. */
  def translateFilter(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = false)
}
