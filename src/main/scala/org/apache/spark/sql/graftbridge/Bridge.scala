package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for custom Catalyst expressions, and the
  * session plumbing the pipeline needs.
  *
  * Spark 4's public `Column` wraps a connect-compatible ColumnNode; the
  * converters to/from Catalyst `Expression` live in the `sql.classic`
  * package-private API, so libraries that define native expressions expose
  * them through a package-internal accessor like this one (the same
  * technique frameless/delta use for their expression surfaces).
  * `cloneSession` and `Dataset.ofRows` are `private[sql]` as well.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A child of `spark` that plans every query without generated code:
    * `spark.sql.codegen.factoryMode = NO_CODEGEN` makes every expression
    * evaluate interpreted, and `CollapseCodegenStages` skips whole-stage
    * codegen under it too. The child is a clone, so it shares the
    * SparkContext and copies the caller's SQL conf and query-execution
    * listeners; `spark` itself is not changed. */
  def withoutCodegen(spark: SparkSession): SparkSession = {
    val child = spark.asInstanceOf[classic.SparkSession].cloneSession()
    child.sessionState.conf.setConfString("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    child
  }

  /** `df`'s logical plan as a frame of `spark`: its actions plan and run
    * under `spark`'s conf. */
  def rooted(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)
}
