package graft.ts

import graft.core.{Offsets, TimeSeriesGap}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import java.sql.Timestamp
import java.time.Duration

/** Resampling operators (A1/A2/U3/J1; reference load_file.py:2127-2360).
  *
  * Scale design:
  *   - tumbling resample = groupBy(window(ts, freq)) -> map-side partial
  *     aggregation, one hash shuffle, no sort;
  *   - regular right-closed bins (the resample_time_series path) = O(1)
  *     arithmetic bucket per row from the series start, which arrives by a
  *     join against the bounds frame (one row per series; broadcast) — no
  *     edge array, no range join, no driver round trip;
  *   - irregular custom edges = O(#edges) lookup on a broadcast sorted edge
  *     array (edges are config-sized by construction);
  *   - target grids are generated ON EXECUTORS via sequence()+explode over
  *     that same bounds frame (or the driver's gap-excluding segment list),
  *     never a driver-side row loop;
  *   - non-numeric "nearest" columns reuse AsOf.join (one sort shuffle,
  *     per series when keyed) instead of the reference's O(n*m) python scan.
  */
object Resample {

  sealed trait Method
  object Method {
    case object Mean extends Method
    case object Sum extends Method
    case object Last extends Method
    case object First extends Method
    def parse(s: String): Method = s.toLowerCase match {
      case "mean" => Mean
      case "sum" => Sum
      case "last" => Last
      case "first" => First
      case other =>
        throw new graft.core.ConfigValidationException(
          s"Unsupported resampling method: $other" // reference load_file.py:2146-2148
        )
    }
  }

  private def aggFor(method: Method, c: String, tsCol: String, skipna: Boolean,
      sumAllNullZero: Boolean = false): Column = {
    val base = method match {
      case Method.Mean => avg(col(c))
      case Method.Sum => sum(col(c))
      // deterministic last/first-by-time among non-null values
      case Method.Last => max_by(col(c), when(col(c).isNotNull, col(tsCol)))
      case Method.First => min_by(col(c), when(col(c).isNotNull, col(tsCol)))
    }
    // pandas skipna=False: one null poisons the bucket (survey §7.4 trap #1);
    // Spark aggregates always skip nulls, so detect-any-null and override.
    // The skipna=True direction has its own trap (reference
    // load_file.py:2188-2194): pandas sum(skipna=True) of an ALL-null group
    // is 0.0 where Spark/SQL return null — opt in via sumAllNullZero (loader
    // columns are double-coerced, so the 0.0 literal keeps the column type).
    val agg =
      if (!skipna)
        when(count(when(col(c).isNull, lit(1))) > 0, lit(null)).otherwise(base)
      else if (sumAllNullZero && method == Method.Sum)
        when(count(col(c)) === 0, lit(0.0)).otherwise(base)
      else base
    agg.as(c)
  }

  /** A1: fixed-frequency tumbling-window resample (reference "upsample_df",
    * load_file.py:2127-2149). Bucket label = window start; left-closed
    * buckets, pandas df.resample() semantics.
    */
  def upsample(
      df: DataFrame,
      tsCol: String,
      freq: Duration,
      method: Method,
      valueCols: Seq[String],
      skipna: Boolean = true,
      seriesCols: Seq[String] = Nil,
      sumAllNullZero: Boolean = false
  ): DataFrame = {
    val win = window(col(tsCol), s"${freq.getSeconds} seconds")
    val groups: Seq[Column] = win +: seriesCols.map(col)
    val aggs = valueCols.map(c => aggFor(method, c, tsCol, skipna, sumAllNullZero))
    df.groupBy(groups: _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((col("window.start").as(tsCol) +: seriesCols.map(col)) ++ valueCols.map(col): _*)
  }

  /** Bucket lookup for irregular right-closed bins: pd.cut(bins,
    * include_lowest=True) semantics — intervals (b_i, b_{i+1}] with the first
    * closed at b_0; label = LEFT edge (reference load_file.py:2183-2185).
    * Broadcast sorted-edge array + higher-order filter: O(#edges) per row,
    * zero shuffle. Evenly spaced bins need no edges: `resampleTimeSeries`
    * computes them arithmetically.
    */
  def bucketExpr(tsCol: String, edges: Seq[Timestamp]): Column = {
    require(edges.size >= 2, "need at least two bin edges")
    val sorted = edges.sortBy(_.getTime)
    val arr = array(sorted.map(e => lit(e)): _*)
    val t = col(tsCol)
    val firstE = lit(sorted.head)
    val lastE = lit(sorted.last)
    val leftOpen = element_at(filter(arr, e => e < t), -1)
    when(t < firstE || t > lastE, lit(null).cast("timestamp"))
      .when(t === firstE, firstE)
      .otherwise(leftOpen)
  }

  private def isNumeric(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType.isInstanceOf[NumericType]

  /** Aggregate a pre-bucketed frame per (`keys`, bucket): numeric columns per
    * `method`+`skipna`, non-numeric columns by the row nearest to the bucket
    * label within the same series (J1), original column order preserved
    * (reference load_file.py:2151-2239). Expects a non-null `__bucket`
    * timestamp column.
    */
  private def aggregateBuckets(
      bucketed: DataFrame,
      original: DataFrame,
      tsCol: String,
      keys: Seq[String],
      method: Method,
      skipna: Boolean,
      sumAllNullZero: Boolean = false
  ): DataFrame = {
    val dataCols = original.columns.filterNot(c => c == tsCol || keys.contains(c)).toSeq
    val (numeric, nonNumeric) = dataCols.partition(isNumeric(original, _))
    val groups = (keys :+ "__bucket").map(col)

    val numAgg =
      if (numeric.nonEmpty) {
        val aggs = numeric.map(c => aggFor(method, c, tsCol, skipna, sumAllNullZero))
        bucketed.groupBy(groups: _*).agg(aggs.head, aggs.tail: _*)
      } else bucketed.select(groups: _*).distinct()

    val result =
      if (nonNumeric.isEmpty) numAgg
      else {
        val nearest = AsOf.join(
          left = numAgg.select(groups: _*),
          right = original.select(((keys :+ tsCol) ++ nonNumeric).map(col): _*),
          leftTs = "__bucket",
          rightTs = tsCol,
          valueCols = nonNumeric,
          keys = keys,
          direction = AsOf.Direction.Nearest,
          prefix = "__n_"
        )
        numAgg.join(
          nearest.select(groups ++ nonNumeric.map(c => col(s"__n_$c").as(c)): _*),
          keys :+ "__bucket",
          "left"
        )
      }
    result.select((keys.map(col) :+ col("__bucket").as(tsCol)) ++ dataCols.map(col): _*)
  }

  /** A2 + J1: irregular-bin resample ("resample_with_dates", reference
    * load_file.py:2151-2239) over explicit edges.
    */
  def resampleWithDates(
      df: DataFrame,
      tsCol: String,
      edges: Seq[Timestamp],
      method: Method,
      skipna: Boolean = true,
      sumAllNullZero: Boolean = false
  ): DataFrame = {
    val bucketed = df
      .withColumn("__bucket", bucketExpr(tsCol, edges))
      .filter(col("__bucket").isNotNull)
    aggregateBuckets(bucketed, df, tsCol, Nil, method, skipna, sumAllNullZero)
  }

  /** Segment bounds excluding gap interiors. We implement the reference's
    * DOCUMENTED semantics ("gaps larger than max_gap_size are excluded from
    * the grid", load_file.py:2264-2266); its code inverts its own docstring
    * (survey §7.4 trap #5).
    */
  def segmentsExcludingGaps(
      start: Timestamp,
      end: Timestamp,
      gaps: Seq[TimeSeriesGap],
      maxGapSize: Option[Duration]
  ): Seq[(Timestamp, Timestamp)] = {
    val excluded = maxGapSize match {
      case Some(mx) => gaps.filter(_.duration.compareTo(mx) > 0)
      case None => gaps
    }
    val sorted = excluded.sortBy(_.start.getTime)
    var cur = start
    val segs = Seq.newBuilder[(Timestamp, Timestamp)]
    sorted.foreach { g =>
      if (g.start.after(cur)) segs += ((cur, g.start))
      if (g.end.after(cur)) cur = g.end
    }
    if (!end.before(cur)) segs += ((cur, end))
    segs.result()
  }

  /** Full resample_time_series parity (reference load_file.py:2241-2360):
    * build grid (optionally excluding big gaps) -> align or aggregate ->
    * fill, over one global series or, with `seriesCols`, one series per key
    * (each with its own grid and bucket origin). The min/max bounds are one
    * frame that feeds both the grid and the bucket rule and stays in the
    * plan; only gap exclusion (global-only) collects it, next to the
    * continuity jobs it runs anyway. "interpolate" fills numeric columns
    * only; non-numeric columns keep their aligned values.
    */
  def resampleTimeSeries(
      df: DataFrame,
      tsCol: String,
      frequency: String,
      methodResample: Option[String] = None,
      methodFill: Option[String] = None,
      fillLimit: Option[Int] = None,
      includeAllGaps: Boolean = true,
      maxGapSize: Option[String] = None,
      valueCols: Seq[String] = Nil,
      seriesCols: Seq[String] = Nil
  ): DataFrame = {
    require(includeAllGaps || seriesCols.isEmpty,
      "includeAllGaps = false excludes gaps of one global series; it takes no seriesCols")
    val freq = Offsets.parse(frequency)
    val keys = seriesCols.map(col)
    val vals =
      if (valueCols.nonEmpty) valueCols
      else df.columns.filterNot(c => c == tsCol || seriesCols.contains(c)).toSeq
    val proj = df.select((keys :+ col(tsCol)) ++ vals.map(col): _*)

    val bounds = proj.groupBy(keys: _*)
      .agg(min(col(tsCol)).as("__s"), max(col(tsCol)).as("__e"))
    val segments =
      if (includeAllGaps) bounds
      else {
        val b = bounds.head()
        val gaps = Continuity.analyze(proj, tsCol).gaps
        import df.sparkSession.implicits._
        segmentsExcludingGaps(b.getTimestamp(0), b.getTimestamp(1), gaps,
          maxGapSize.map(Offsets.parse)).toDF("__s", "__e")
      }
    val grid = segments.select(keys :+ explode(sequence(col("__s"), col("__e"),
      expr(s"interval ${freq.getSeconds} second"))).as(tsCol): _*)

    val aligned = methodResample match {
      case None =>
        // pure reindex: exact-timestamp alignment (reference 2332-2333)
        grid.join(proj, seriesCols :+ tsCol, "left")
      case Some(m) =>
        // right-closed regular bins from the series start: ts in
        // (s+(k-1)f, s+kf] -> s+(k-1)f, ts == s -> s (include_lowest), in
        // microseconds because sequence() grid points keep sub-second precision
        val fUs = freq.getSeconds * 1000000L
        val t = col(tsCol)
        val s = col("__s")
        val k = ceil((unix_micros(t) - unix_micros(s)).cast("double") / fUs.toDouble).cast("long")
        val bucketed = proj.join(bounds.drop("__e"), seriesCols)
          .withColumn("__bucket",
            when(t === s, s).otherwise(timestamp_micros(unix_micros(s) + (k - 1) * fUs)))
          .drop("__s")
          .filter(col("__bucket").isNotNull)
        val agg = aggregateBuckets(bucketed, proj, tsCol, seriesCols, Method.parse(m),
          skipna = true)
        grid.join(agg, seriesCols :+ tsCol, "left")
    }

    methodFill match {
      case Some("ffill") => Fill.ffill(aligned, tsCol, vals, fillLimit, seriesCols)
      case Some("bfill") => Fill.bfill(aligned, tsCol, vals, fillLimit, seriesCols)
      case Some("interpolate") =>
        Fill.interpolateTime(aligned, tsCol, vals.filter(isNumeric(aligned, _)), fillLimit,
          seriesCols)
      case _ => aligned
    }
  }
}
