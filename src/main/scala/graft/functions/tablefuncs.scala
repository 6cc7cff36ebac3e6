package graft.functions

import graft.ts.Resample
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** SQL-callable TABLE functions — the pure-SQL entry into the resample
  * plane (SURVEY §7.3's revisit trigger: the flagship `resampleTimeSeries`
  * pipeline was DataFrame-only, invisible to SQL clients).
  *
  * {{{
  *   graft.functions.tablefuncs.register(spark)
  *   spark.sql("""
  *     SELECT * FROM graft_resample('events_view', 'ts', '1h', 'mean', 'ffill')
  *   """)
  * }}}
  *
  * Arguments (all literals): table/view name, timestamp column, frequency
  * offset string ('15m', '1h', '1d'...), then optional resample method
  * ('mean','sum','first','last' — omit or NULL for pure reindex) and
  * optional fill method ('ffill','bfill','interpolate').
  *
  * Mechanics: the builder runs at analysis time — it resolves the named
  * table through the session catalog, applies the SAME
  * [[graft.ts.Resample.resampleTimeSeries]] the DataFrame API uses, and
  * splices that plan's analyzed tree in as the function's output (so SQL
  * and DataFrame callers share one implementation and one test surface).
  * `resampleTimeSeries` keeps its grid bounds in the plan instead of
  * collecting them, so analysing the enclosing query runs no min/max job.
  */
object tablefuncs {

  private def strLit(e: Expression, name: String): Option[String] = e match {
    case f if f.foldable => Option(f.eval(null)).map(_.toString)
    case _ => throw new IllegalArgumentException(
      s"graft_resample: $name must be a string literal")
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.tableFunctionRegistry
    reg.createOrReplaceTempFunction("graft_resample",
      { exprs: Seq[Expression] =>
        if (exprs.length < 3 || exprs.length > 5)
          throw new IllegalArgumentException(
            "graft_resample(table, tsCol, frequency[, methodResample[, methodFill]])")
        val names = Seq("table", "tsCol", "frequency", "methodResample",
          "methodFill")
        val args = exprs.zip(names).map { case (e, n) => strLit(e, n) }
        val table = args(0).getOrElse(
          throw new IllegalArgumentException("graft_resample: table is required"))
        val tsCol = args(1).getOrElse(
          throw new IllegalArgumentException("graft_resample: tsCol is required"))
        val freq = args(2).getOrElse(
          throw new IllegalArgumentException("graft_resample: frequency is required"))
        val mResample = if (exprs.length >= 4) args(3) else None
        val mFill = if (exprs.length >= 5) args(4) else None
        val out = Resample.resampleTimeSeries(
          spark.table(table), tsCol, freq,
          methodResample = mResample, methodFill = mFill)
        out.queryExecution.analyzed: LogicalPlan
      }, "scala_udf")
  }
}
