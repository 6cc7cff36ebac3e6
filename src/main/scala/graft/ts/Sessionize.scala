package graft.ts

import graft.core.Offsets
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.time.Duration

/** Gap-based sessionization: assign a session id per series key whenever
  * consecutive events are separated by more than `gap` (the standard
  * event-pipeline operator built from the same lag-diff primitive as gap
  * detection, W1/W2).
  *
  * Scale: one window sort per series partition (shared by the lag and the
  * running sum), session stats via one hash agg — two shuffles total, both
  * keyed by the series columns so hot users parallelize across... the same
  * key; genuinely skewed users are bounded by their own event count, and
  * AQE's skew handling covers the aggregate join-side.
  */
object Sessionize {

  /** Adds `session_id` (0-based per series) to every row. */
  def withSessionIds(
      df: DataFrame,
      tsCol: String,
      gap: Duration,
      seriesCols: Seq[String]
  ): DataFrame = {
    val w = Window.partitionBy(seriesCols.map(col): _*).orderBy(col(tsCol))
    val gapUs = Offsets.toMicros(gap)
    df.withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull, 0L)
          .when(unix_micros(col(tsCol)) - unix_micros(col("__prev")) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev", "__new")
  }

  /** One row per session: bounds, event count, duration. */
  def sessions(
      df: DataFrame,
      tsCol: String,
      gap: Duration,
      seriesCols: Seq[String]
  ): DataFrame =
    withSessionIds(df, tsCol, gap, seriesCols)
      .groupBy((seriesCols.map(col) :+ col("session_id")): _*)
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        (unix_micros(max(col(tsCol))) - unix_micros(min(col(tsCol))))
          .as("duration_us"))
}
