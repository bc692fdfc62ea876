package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Minimal bridge to Spark's private[sql] Column ↔ Expression and
  * LogicalPlan → DataFrame converters, `StructType.asNullable` and
  * `SQLConf.withExistingConf` — the
  * standard shim every Spark extension library ships so custom Catalyst
  * expressions can surface as Columns without registering a SQL function
  * first. No Spark internals are modified.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** A DataFrame over an (analyzed) logical plan. */
  def frame(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
  /** The schema with every field (nested too) nullable — what a file
    * source relation exposes as its data schema. */
  def asNullable(s: StructType): StructType = s.asNullable
  /** Runs `f` with `conf` as this thread's `SQLConf.get`. */
  def withConf[T](conf: SQLConf)(f: => T): T = SQLConf.withExistingConf(conf)(f)
}
