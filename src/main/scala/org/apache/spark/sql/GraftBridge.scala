package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column ↔ Expression converters —
  * the standard pattern for extension libraries that define custom
  * Catalyst expressions (Spark 4 moved Column onto ColumnNode, so
  * `new Column(expr)` no longer exists).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a (custom) logical plan — `Dataset.ofRows` is
    * private[sql] in Spark 4.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A session with a copy of `spark`'s confs and state, sharing its
    * SparkContext and cache: a conf set on it never reaches `spark`.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** Whether Spark's file index skips a file or directory of this name
    * when it lists a table (`_`/`.` names, except the parquet summary
    * files and `k=v` partition directories) — `HadoopFSUtils` is
    * `private[spark]`.
    */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
