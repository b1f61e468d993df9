package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{AbstractDataType, DataType, TypeCollection}

/** Minimal `private[sql]` access bridge (the standard pattern for third-party
  * Catalyst extensions): Column <-> Expression and DataFrame <-> plan
  * conversion, and the input-type vocabulary of a function's argument
  * checks, are not public API in Spark 4, so this one-file shim lives in
  * the sql package. Nothing else in this repo compiles into Spark's
  * namespace. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** An argument type a function accepts (`ExpectsInputTypes.inputTypes`). */
  type InputType = AbstractDataType
  /** An argument that accepts any of `ts`, uncast. */
  def anyOf(ts: DataType*): InputType = TypeCollection(ts: _*)

  /** `df` with its analyzed plan rewritten by `f`. */
  def withPlan(df: DataFrame)(f: LogicalPlan => LogicalPlan): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession, f(ds.queryExecution.analyzed))
  }
}
