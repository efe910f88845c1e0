package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` Dataset and Column constructors graft needs, spliced into
  * Spark's package — the established pattern for out-of-tree sources
  * (Delta's DeltaSource and Qbeast's DatasetFactory call the same
  * methods from their own sql-package shims); everything else lives in
  * `graft.*`. */
object GraftSqlBridge {

  /** V1 streaming-source bridge (r11): `Source.getBatch` must return a
    * DataFrame whose logical plan carries `isStreaming = true` — the
    * engine asserts it — and the ONLY constructor that sets the flag,
    * `SparkSession.internalCreateDataFrame`, is `private[sql]`. The
    * input frame's physical RDD is taken lazily (`queryExecution.toRdd`
    * plans but does not run), so the batch still executes on the
    * cluster when the micro-batch does. */
  def asStreamingBatch(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, cdf.schema, isStreaming = true)
  }

  /** A DataFrame over an already-built logical plan (`Dataset.ofRows`):
    * how the engine reads its own tables through a DSv2 relation it
    * constructs with in-memory state, instead of a `spark.read` that
    * could carry only option strings. Analysis only — no job. */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `sql` parsed by the session's parser, as `functions.expr(sql)`
    * is: an unresolved Catalyst expression. */
  def parseExpression(spark: SparkSession, sql: String): Expression =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser.parseExpression(sql)

  /** A Column over an already-parsed expression (no second parse). */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
