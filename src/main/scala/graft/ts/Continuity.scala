package graft.ts

import graft.core.{Offsets, TimeSeriesGap}
import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge, Row}
import org.apache.spark.sql.functions._
import java.time.Duration
import java.time.temporal.ChronoUnit

/** Continuity analysis (reference load_file.py:2024-2125):
  * consecutive-diff gap scan (W1/W2), span/coverage stats (A5), frequency
  * inference (A6).
  *
  * Scale design: the diff is one RangeSeries lag. With `seriesCols` given,
  * the window partitions by series key -> fully parallel, one hash shuffle.
  * Without keys (single global series, the reference's model) it runs
  * RangeSeries' two-pass range-partitioned form instead of a single-task
  * global sort. Gap LISTS are driver-sized by definition (one entry per
  * hole), so collecting them is metadata-plane, not data-plane: `analyze`
  * brings back the largest diffs in its one stats aggregate and needs a
  * second action only for a series with more gaps than that. Thresholds,
  * expected points and frequencies are in microseconds, so sub-second
  * cadences work.
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

  /** Adds `diffCol`, the microseconds since the previous row (W1, reference
    * load_file.py:2080), and keeps that row's `__prev_ts`; per series with
    * `seriesCols`. One RangeSeries lag: a keyed window, or the two-pass
    * form for one global series.
    */
  def withDiff(
      df: DataFrame,
      tsCol: String,
      seriesCols: Seq[String] = Nil,
      diffCol: String = "diff_us"
  ): DataFrame =
    RangeSeries.withRunning(df, unix_micros(col(tsCol)), Nil,
        lags = Seq(RangeSeries.Lagged("__prev_ts", col(tsCol))), keys = seriesCols)
      .withColumn(diffCol, unix_micros(col(tsCol)) - unix_micros(col("__prev_ts")))

  /** The frequency a median consecutive diff of `row(i)` microseconds
    * infers (A6 fallback semantics, reference load_file.py:2064-2074 —
    * emits "{n}s"; int() TRUNCATES, so a 90.7s median infers "90s", not
    * "91s"): whole seconds at 1 s or more, microseconds below; None when the
    * median is null or zero. The reference first tries pd.infer_freq —
    * intentionally omitted here: it only succeeds on perfectly regular index
    * strings and the median fallback subsumes it for gap thresholds/grids.
    */
  private def medianFrequency(row: Row, i: Int): Option[Duration] =
    Option.unless(row.isNullAt(i))(row.getDouble(i)).flatMap { us =>
      val d =
        if (us >= 1e6) Duration.ofSeconds((us / 1e6).toLong)
        else Duration.of(us.toLong, ChronoUnit.MICROS)
      Option.unless(d.isZero)(d)
    }

  /** [[analyze]]'s inferred frequency alone, as an offset string ("3600s",
    * "500ms"); None for fewer than two rows or a zero median. Exact median;
    * switch to percentile_approx at extreme scale if the exact sort ever
    * shows up in profiles.
    */
  def inferFrequency(df: DataFrame, tsCol: String): Option[String] =
    medianFrequency(withDiff(df, tsCol).agg(median(col("diff_us"))).head(), 0)
      .map(Offsets.toFreqString)

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
  ): DataFrame = {
    val expectedUs = Offsets.frequencyMicros(expected)
    val selectCols: Seq[Column] =
      seriesCols.map(col) ++ Seq(
        col("__prev_ts").as("gap_start"),
        col(tsCol).as("gap_end"),
        col("diff_us").as("duration_us"),
        (floor(col("diff_us") / lit(expectedUs)) - lit(1))
          .cast("long").as("expected_points")
      )
    withDiff(df, tsCol, seriesCols)
      .filter(col("diff_us") > lit(thresholdMicros(expected, minGap)))
      .select(selectCols: _*)
  }

  /** A gap's smallest diff, exclusive: expected + minGap, in microseconds. */
  private def thresholdMicros(expected: Duration, minGap: Duration): Long =
    Offsets.frequencyMicros(expected) + Offsets.toMicros(minGap)

  /** Collected gap list, in start order (driver-sized, so the sort runs on
    * the driver, not as a distributed orderBy).
    */
  def gaps(
      df: DataFrame,
      tsCol: String,
      expected: Duration,
      minGap: Duration
  ): Seq[TimeSeriesGap] =
    gapsDf(df, tsCol, expected, minGap)
      .collect()
      .map { r =>
        TimeSeriesGap(
          r.getTimestamp(r.fieldIndex("gap_start")),
          r.getTimestamp(r.fieldIndex("gap_end")),
          Duration.of(r.getLong(r.fieldIndex("duration_us")), ChronoUnit.MICROS),
          r.getLong(r.fieldIndex("expected_points"))
        )
      }
      .toVector
      .sortBy(_.start)

  /** Diffs [[analyze]]'s one aggregate brings back, largest first. */
  private val Cap = 10000

  /** Full continuity report (reference analyze_time_series_continuity,
    * load_file.py:2024-2125), in one action when it can be. One aggregate
    * over the diff frame returns span, count, (when no frequency is given)
    * the median diff, and the `Cap` largest diffs with their two rows
    * (`collect_top_k`). Every gap's diff exceeds the threshold, so when
    * fewer than `Cap` rows came back or the smallest one returned is at or
    * below it, those diffs hold every gap and the driver filters them.
    * Otherwise a second action collects the gap rows. Both paths build the
    * gap list the same way, with `gapsDf`'s expected_points formula.
    */
  def analyze(
      df: DataFrame,
      tsCol: String,
      expectedFrequency: Option[Duration] = None,
      minGapSize: Duration = Duration.ofMinutes(1)
  ): ContinuityReport = {
    val diffed = withDiff(df, tsCol)
    val gapCols = Seq(col("diff_us"), col("__prev_ts"), col(tsCol))
    val inferAgg = if (expectedFrequency.isEmpty) Seq(median(col("diff_us"))) else Nil
    val statsRow = diffed
      .agg(unix_micros(max(col(tsCol))) - unix_micros(min(col(tsCol))),
        (count(lit(1)) +: GraftExpressionBridge.internalFn("collect_top_k",
          struct(gapCols: _*), lit(Cap), lit(false)) +: inferAgg): _*)
      .head()
    val expected = expectedFrequency
      .orElse(medianFrequency(statsRow, 3))
      .getOrElse(Duration.ofSeconds(1))
    val expectedUs = Offsets.frequencyMicros(expected)
    val thresholdUs = thresholdMicros(expected, minGapSize)
    val n = statsRow.getLong(1)
    val spanUs = Option.unless(statsRow.isNullAt(0))(statsRow.getLong(0))
    val top = statsRow.getSeq[Row](2)
    def isGap(r: Row) = !r.isNullAt(0) && r.getLong(0) > thresholdUs
    val gapRows =
      if (top.size < Cap || !isGap(top.last)) top.filter(isGap)
      else diffed.filter(col("diff_us") > lit(thresholdUs)).select(gapCols: _*).collect().toSeq
    val gapList = gapRows.map { r =>
      val diffUs = r.getLong(0)
      TimeSeriesGap(r.getTimestamp(1), r.getTimestamp(2), Duration.of(diffUs, ChronoUnit.MICROS),
        math.floor(diffUs.toDouble / expectedUs).toLong - 1)
    }.toVector.sortBy(_.start)
    val gapTotal = gapList.foldLeft(Duration.ZERO)((acc, g) => acc.plus(g.duration))
    val coverage = spanUs match {
      case Some(s) if s > 0 => 100.0 * (s - Offsets.toMicros(gapTotal)).toDouble / s
      case _ => 100.0
    }
    ContinuityReport(
      Some(Offsets.toFreqString(expected)),
      spanUs.map(Duration.of(_, ChronoUnit.MICROS)),
      gapList,
      gapTotal,
      coverage,
      n
    )
  }
}
