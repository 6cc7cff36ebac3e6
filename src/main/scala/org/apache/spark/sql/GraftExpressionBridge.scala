package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to package-private Column plumbing (Spark 4 moved Column
  * construction behind `classic.ExpressionUtils`, which is private[sql], and
  * keeps `Column.internalFn` private[sql] too). Standard extension-library
  * escape hatch: this is the only file in the Spark namespace, and it only
  * forwards three calls.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A call of one of Spark's internal SQL functions (e.g. `collect_top_k`,
    * whose `CollectTopK` is private[catalyst]), resolved by the analyzer.
    */
  def internalFn(name: String, inputs: Column*): Column = Column.internalFn(name, inputs: _*)
}
