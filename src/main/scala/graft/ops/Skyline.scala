package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D skyline (Pareto front) — rows not dominated by any other row,
  * MINIMIZING `xCol` and MAXIMIZING `yCol`. Row r2 dominates r1 iff
  * `x2 <= x1 AND y2 >= y1` with at least one strict; equal (x, y) pairs
  * never dominate each other, so exact duplicates of a skyline point all
  * survive (matching the NOT EXISTS relational definition).
  *
  * The 100 TB shape: a skyline point must achieve the maximum y at its own
  * x, so the front is a subset of the per-x maxima. The per-x aggregation
  * is one map-side-combined keyed shuffle over the data; the global
  * running-max window then runs over the |distinct x|-sized aggregate
  * (dates/price-bands — bounded), NEVER over raw rows, sidestepping the
  * single-partition global-window trap. Surviving (x, ymax) points are a
  * front-sized table that broadcasts back to recover the full rows.
  */
object Skyline {

  /** Skyline rows of `df` with all original columns, minimizing `xCol`
    * (any orderable type) and maximizing integral `yCol`.
    */
  def skyline2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val perX = df.groupBy(col(xCol)).agg(max(col(yCol)).as("__ymax"))
    // |distinct x| rows only: the unpartitioned window is safe by design
    val prior = Window.orderBy(col(xCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val front = perX
      .withColumn("__prior", max(col("__ymax")).over(prior))
      // survive = strictly above every strictly-earlier x's best y
      .filter(col("__prior").isNull || col("__ymax") > col("__prior"))
      .select(col(xCol).as("__fx"), col("__ymax"))
    df.join(broadcast(front),
        df(xCol) === col("__fx") && df(yCol) === col("__ymax"))
      .select(df.columns.map(df.apply): _*)
  }
}
