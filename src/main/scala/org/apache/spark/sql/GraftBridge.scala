package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark 4's `private[sql]` Column↔Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`) so the engine can expose
  * custom Catalyst expressions as user-facing `Column`s, and into
  * `classic.Dataset.ofRows` so a DataFrame can be rebound onto another
  * session.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df`'s logical plan as a DataFrame of `spark`: it is planned and its
    * jobs run under `spark`'s session state (and artifact classloader)
    * instead of the session that built `df`.
    */
  def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], df.queryExecution.logical)
}
