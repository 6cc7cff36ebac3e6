package graft.ts

import graft.core.{Offsets, TimeSeriesGap}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.time.Duration

/** Continuity analysis (reference load_file.py:2024-2125):
  * consecutive-diff gap scan (W1/W2), span/coverage stats (A5), frequency
  * inference (A6).
  *
  * Scale design: the diff is a lag window. With `seriesCols` given, the window
  * partitions by series key -> fully parallel, one hash shuffle. Without keys
  * (single global series, the reference's model) Spark must use a single
  * ordered partition for the window — correct, but the scan/filter before it
  * still run distributed and only (ts) columns flow into the sort, so the
  * narrow projection keeps the single-partition stage small even at large row
  * counts. Gap LISTS are driver-sized by definition (one entry per hole), so
  * collecting them is metadata-plane, not data-plane.
  */
object Continuity {

  final case class ContinuityReport(
      inferredFrequency: Option[String],
      totalSpan: Option[Duration],
      gaps: Seq[TimeSeriesGap],
      totalGapDuration: Duration,
      coveragePercent: Double,
      totalPoints: Long
  )

  /** Lagged diff in seconds (W1, reference load_file.py:2080). With no
    * seriesCols the lag runs through RangeSeries' two-pass range-partitioned
    * form — a global window would single-task the whole timeline's sort.
    */
  def withDiff(
      df: DataFrame,
      tsCol: String,
      seriesCols: Seq[String] = Nil,
      diffCol: String = "diff_us"
  ): DataFrame = {
    val lagged =
      if (seriesCols.nonEmpty) {
        val w = Window.partitionBy(seriesCols.map(col): _*).orderBy(col(tsCol))
        df.withColumn("__prev_ts", lag(col(tsCol), 1).over(w))
      } else
        RangeSeries.withGlobalRunning(df, unix_micros(col(tsCol)), Nil,
          lags = Seq(RangeSeries.Lagged("__prev_ts", col(tsCol))))
    lagged.withColumn(
      diffCol,
      unix_micros(col(tsCol)) - unix_micros(col("__prev_ts"))
    )
  }

  /** Median consecutive diff, in whole seconds (A6 fallback semantics,
    * reference load_file.py:2064-2074 — emits "{n}s"; int() TRUNCATES, so a
    * 90.7s median infers "90s", not "91s"). The reference first tries
    * pd.infer_freq — intentionally omitted here: it only succeeds on
    * perfectly regular index strings and the median fallback subsumes it for
    * gap thresholds/grids. Exact median; switch to percentile_approx at
    * extreme scale if the exact sort ever shows up in profiles.
    */
  def inferFrequencySeconds(df: DataFrame, tsCol: String, seriesCols: Seq[String] = Nil): Option[Long] = {
    val row = withDiff(df, tsCol, seriesCols).agg(median(col("diff_us"))).head()
    if (row.isNullAt(0)) None else Some(usToSeconds(row.getDouble(0)))
  }

  private def usToSeconds(us: Double): Long = (us / 1e6).toLong

  def inferFrequency(df: DataFrame, tsCol: String): Option[String] =
    inferFrequencySeconds(df, tsCol).map(s => Offsets.toFreqString(Duration.ofSeconds(s)))

  /** Gap rows as a DataFrame (W2, reference load_file.py:2084-2092):
    * rows whose diff exceeds expected + minGap, with
    * expected_points = diff/expected - 1 (points missing inside the hole).
    */
  def gapsDf(
      df: DataFrame,
      tsCol: String,
      expected: Duration,
      minGap: Duration,
      seriesCols: Seq[String] = Nil
  ): DataFrame = gapRows(withDiff(df, tsCol, seriesCols), tsCol, expected, minGap, seriesCols)

  /** `gapsDf` over a frame that already carries `withDiff`'s columns. */
  private def gapRows(
      diffed: DataFrame,
      tsCol: String,
      expected: Duration,
      minGap: Duration,
      seriesCols: Seq[String]
  ): DataFrame = {
    val thresholdUs = (expected.getSeconds + minGap.getSeconds) * 1000000L
    val selectCols: Seq[Column] =
      seriesCols.map(col) ++ Seq(
        col("__prev_ts").as("gap_start"),
        col(tsCol).as("gap_end"),
        col("diff_us").as("duration_us"),
        (floor(col("diff_us") / lit(expected.getSeconds * 1000000L)) - lit(1))
          .cast("long").as("expected_points")
      )
    diffed
      .filter(col("diff_us") > lit(thresholdUs))
      .select(selectCols: _*)
  }

  /** Collected gap list, in start order (driver-sized, so the sort runs on
    * the driver, not as a distributed orderBy).
    */
  def gaps(
      df: DataFrame,
      tsCol: String,
      expected: Duration,
      minGap: Duration
  ): Seq[TimeSeriesGap] = collectGaps(gapsDf(df, tsCol, expected, minGap))

  private def collectGaps(gapRows: DataFrame): Seq[TimeSeriesGap] =
    gapRows
      .collect()
      .map { r =>
        TimeSeriesGap(
          r.getTimestamp(r.fieldIndex("gap_start")),
          r.getTimestamp(r.fieldIndex("gap_end")),
          Duration.ofMillis(r.getLong(r.fieldIndex("duration_us")) / 1000L),
          r.getLong(r.fieldIndex("expected_points"))
        )
      }
      .toVector
      .sortBy(_.start)

  /** Full continuity report (reference analyze_time_series_continuity,
    * load_file.py:2024-2125). One diff frame feeds both actions: one agg for
    * span, count and (when no frequency is given) the median diff, and one
    * collect of the gap rows.
    */
  def analyze(
      df: DataFrame,
      tsCol: String,
      expectedFrequency: Option[Duration] = None,
      minGapSize: Duration = Duration.ofMinutes(1)
  ): ContinuityReport = {
    val diffed = withDiff(df, tsCol)
    val inferAgg = if (expectedFrequency.isEmpty) Seq(median(col("diff_us"))) else Nil
    val statsRow = diffed
      .agg(min(col(tsCol)), (Seq(max(col(tsCol)), count(lit(1))) ++ inferAgg): _*)
      .head()
    val expected = expectedFrequency
      .orElse(Option.unless(statsRow.isNullAt(3))(Duration.ofSeconds(usToSeconds(statsRow.getDouble(3)))))
      .getOrElse(Duration.ofSeconds(1))
    val n = statsRow.getLong(2)
    val span =
      if (statsRow.isNullAt(0) || statsRow.isNullAt(1)) None
      else Some(Duration.ofMillis(statsRow.getTimestamp(1).getTime - statsRow.getTimestamp(0).getTime))
    val gapList = collectGaps(gapRows(diffed, tsCol, expected, minGapSize, Nil))
    val gapTotal = gapList.foldLeft(Duration.ZERO)((acc, g) => acc.plus(g.duration))
    val coverage = span match {
      case Some(s) if s.toMillis > 0 =>
        100.0 * (s.toMillis - gapTotal.toMillis).toDouble / s.toMillis
      case _ => 100.0
    }
    ContinuityReport(
      Some(Offsets.toFreqString(expected)),
      span,
      gapList,
      gapTotal,
      coverage,
      n
    )
  }
}
