package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst-Expression bridge.
  *
  * Spark 4 split the public Column API from catalyst; the converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`) are `private[sql]`.
  * Hosting this one-file shim inside the `org.apache.spark.sql` package
  * namespace is the standard technique third-party Spark extensions use
  * to attach custom native expressions to the Column API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Strip a sort-direction wrapper (`$"x".desc` wraps the child in an
    * sql.internal.SortOrder COLUMN NODE — not the catalyst SortOrder)
    * so the child can be used in value contexts (hashing, projection),
    * where an ordering wrapper is Unevaluable. Identity on plain
    * columns. */
  def stripSortOrder(c: Column): Column = c.node match {
    case so: org.apache.spark.sql.internal.SortOrder => Column(so.child)
    case _ => c
  }

  /** Wrap a (resolved) logical plan as a DataFrame — the entry point for
    * custom logical operators (classic.Dataset.ofRows is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's SQL conf (classic.SparkSession.sessionState is
    * private[sql]) — what Spark's own readers build their parquet
    * schema converter from. */
  def sqlConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf

  /** The analyzed logical plan of a DataFrame. */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Wrap an RDD of InternalRow as a DataFrame WITHOUT the external
    * Row encode pass (classic.SparkSession.internalCreateDataFrame is
    * private[sql]) — the exit lane for operators that compute on the
    * Tungsten representation directly. Rows may be reused UnsafeRows
    * (the standard operator-iterator contract). */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Register an extra planner strategy on a live session (the
    * SparkSessionExtensions path covers sessions built through
    * GraftSession; this covers pre-existing ones). */
  def addStrategy(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }

  /** Register an extra optimizer rule on a live session. */
  def addOptimization(spark: org.apache.spark.sql.SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraOptimizations.contains(rule))
      exp.extraOptimizations = exp.extraOptimizations :+ rule
  }
}
