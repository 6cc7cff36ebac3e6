package graft.ts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** M4 visualization-oriented downsampling (Jugel et al., "M4: A
  * Visualization-Oriented Time Series Data Aggregation", VLDB 2014): split
  * the series' time extent into `buckets` equal-width pixel columns and
  * keep, per series per bucket, the first, last, min and max values — the
  * four rows that make a line rendering of the bucket pixel-exact.
  *
  * Scale design: one tiny bounds aggregate (2 values per series — broadcast
  * back), then ONE hash-partitioned groupBy with map-side combine; state per
  * group is four scalars. No sort, no window, no collect. At 100 TB this is
  * the cheapest full-pass shape Spark has.
  *
  * Bucket index uses integer microsecond arithmetic
  * (`(t - tmin) * buckets / (tmax - tmin + 1)`) so engine-independent
  * oracles agree exactly; first/last tie-break on (ts, orderCol) via struct
  * min/max, deterministic when orderCol is unique.
  */
object Downsample {

  def m4(
      df: DataFrame,
      tsCol: String,
      valueCol: String,
      buckets: Int,
      seriesCols: Seq[String] = Nil,
      tieCol: Option[String] = None
  ): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val e = unix_micros(col(tsCol))
    val keyCols = seriesCols.map(col)

    val bounds =
      if (seriesCols.nonEmpty)
        df.groupBy(keyCols: _*)
          .agg(min(e).as("__tmin"), max(e).as("__tmax"))
      else
        df.agg(min(e).as("__tmin"), max(e).as("__tmax"))

    // per-series bounds are one row per key: broadcast-join them back
    val withBounds =
      if (seriesCols.nonEmpty)
        df.join(broadcast(bounds), seriesCols)
      else df.crossJoin(broadcast(bounds))

    // double divide + floor (NOT cast-truncate): floor of an identical IEEE
    // double is engine-portable, while BIGINT casts round in some engines
    // and truncate in others
    val bucket =
      floor((e - col("__tmin")) * buckets / (col("__tmax") - col("__tmin") + 1))

    val tie = tieCol.map(col).getOrElse(lit(0L))
    val rec = struct(col(tsCol).as("t"), tie.as("tb"),
      col(valueCol).cast("double").as("v"))

    withBounds
      .withColumn("__bucket", bucket)
      .groupBy((keyCols :+ col("__bucket").as("bucket")): _*)
      .agg(
        min(rec).as("__first"),
        max(rec).as("__last"),
        min(col(valueCol).cast("double")).as("v_min"),
        max(col(valueCol).cast("double")).as("v_max"),
        count(lit(1)).as("n_rows"))
      .select((keyCols :+ col("bucket") :+
        col("__first.t").as("t_first") :+ col("__first.v").as("v_first") :+
        col("__last.t").as("t_last") :+ col("__last.v").as("v_last") :+
        col("v_min") :+ col("v_max") :+ col("n_rows")): _*)
  }

  /** SAX — Symbolic Aggregate approXimation (Lin et al., "A Symbolic
    * Representation of Time Series", DMKD 2003): split each series into
    * fixed-length frames, reduce each frame to its mean (PAA), then map
    * the PAA values onto a small alphabet so downstream motif/anomaly
    * search runs on strings. The classic breakpoints are Gaussian
    * quantiles of a z-normalized series; this variant bins by EXACT GLOBAL
    * RANK instead (`sym = (rank−1)·alphabet div n_frames`), which is the
    * same equi-depth intent with no distribution assumption — and every
    * output is an exact integer, so the whole transform replays in SQL.
    *
    * Exactness: requires an integral value column; the PAA mean is kept
    * as the exact integer `paa_u = 1000·Σx div n` (milli-units) and the
    * alphabet bin is integer rank arithmetic — no doubles anywhere.
    *
    * Scale shape: frame indexing and PAA ride ONE keyed window exchange
    * (row_number) + a groupBy on the same partitioning; the exact global
    * rank over the FRAME table (rows/frame of the input — corpus-sized,
    * NOT vocab-bounded) runs on the [[RangeSeries.withRunning]]
    * chunked spine: quantile chunks on paa_u, per-chunk row_number, one
    * O(#chunks) driver offset pass — never a single-task global window
    * (plan-pinned by the PLANS.json `window_unpartitioned` counter).
    */
  def sax(
      df: DataFrame,
      orderCols: Seq[String],
      valueCol: String,
      frame: Int = 16,
      alphabet: Int = 8,
      seriesCols: Seq[String] = Nil
  ): DataFrame = {
    require(frame >= 1, s"frame must be >= 1, got $frame")
    require(alphabet >= 2, s"alphabet must be >= 2, got $alphabet")
    df.schema(valueCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => ()
      case other => throw new IllegalArgumentException(
        s"sax needs an integral value column, got $valueCol: $other — " +
          "scale to integer units first")
    }
    import org.apache.spark.sql.expressions.Window
    val keyCols = seriesCols.map(col)
    val ordered = (if (seriesCols.nonEmpty)
      Window.partitionBy(keyCols: _*) else Window.partitionBy(lit(1)))
      .orderBy(orderCols.map(col): _*)
    val frames = df
      .withColumn("__rn", row_number().over(ordered))
      .withColumn("__widx", expr(s"CAST((__rn - 1) DIV $frame AS BIGINT)"))
      .groupBy((keyCols :+ col("__widx").as("widx")): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("long")).as("__s"))
      .withColumn("paa_u", expr("1000 * __s DIV n"))
      .drop("__s")
    // exact global rank by (paa_u, series, widx) WITHOUT a single-task
    // window: chunked spine + literal total count. The frame table is
    // rows/frame — corpus-sized, so the old Window.orderBy here was the
    // one-task-for-100TB shape. localCheckpoint so the count pass and the
    // spine's three internal jobs share one materialization.
    val framesCk = frames.localCheckpoint(true)
    val nf = framesCk.count()
    val ranked = RangeSeries.withRunning(framesCk,
      key = struct((col("paa_u") +: keyCols :+ col("widx")): _*),
      runnings = Nil,
      rnCol = Some("__r"),
      bucketKey = Some(col("paa_u")))
    ranked
      .withColumn("sym", expr(s"(__r - 1) * $alphabet DIV ${nf}L"))
      .drop("__r")
  }

  /** LTTB — Largest-Triangle-Three-Buckets (Steinarsson, "Downsampling
    * Time Series for Visual Representation", 2013): keep the first and
    * last point, split the middle into `threshold − 2` buckets, and from
    * each bucket keep the point forming the largest triangle with the
    * PREVIOUSLY selected point and the NEXT bucket's centroid. Unlike
    * [[m4]] (per-bucket extremes, one groupBy, the 100 TB full-corpus
    * path), LTTB is a sequential decision per series — the classic
    * line-chart downsampler — so it targets visualization-sized series
    * AFTER per-series extraction, where n is pixels×orders-of-magnitude,
    * not corpus-sized.
    *
    * Exactness: with integral (x, y) the doubled-triangle-area comparison
    * runs on exact int64 — `2·cnt·area = |(Px·cnt − Σx)(Cy − Py) −
    * (Px − Cx)(Σy − cnt·Py)|` (the next-bucket centroid division never
    * happens; areas scale by the same `cnt` within a bucket). Ties take
    * the first candidate in (x, y) order. The whole selection therefore
    * replays exactly in SQL (recursive CTE). Headroom: |x|·cnt·|y| must
    * stay under 2^63 — rebase x (e.g. seconds from a corpus epoch).
    *
    * Scale shape: ONE groupBy collects each series (state = the series'
    * points — bounded by the post-extraction contract above); buckets,
    * centroids, and the selection fold are per-row array algebra with
    * zero further shuffles; output explodes back to points.
    *
    * Series with n ≤ threshold pass through unchanged. Output:
    * (seriesCol, x, y).
    */
  def lttb(
      df: DataFrame,
      seriesCol: String,
      xCol: String,
      yCol: String,
      threshold: Int
  ): DataFrame = {
    require(threshold >= 3, s"threshold must be >= 3, got $threshold")
    Seq(xCol, yCol).foreach { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType => ()
        case other => throw new IllegalArgumentException(
          s"lttb needs integral $c (exact areas); got $other")
      }
    }
    val t = threshold
    val pts = df
      .groupBy(col(seriesCol).as("series"))
      .agg(array_sort(collect_list(struct(
        col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y")))).as("pts"))
      .withColumn("n", size(col("pts")))
    val small = pts.filter(col("n") <= t)
      .select(col("series"), explode(col("pts")).as("p"))
      .select(col("series"), col("p.x").as("x"), col("p.y").as("y"))
    // bucket of middle point j (0-based over the n-2 middle points):
    // floor(j·(t-2)/(n-2)) — j·(t-2) ≤ ~1e8 so the double ratio is either
    // exact (divisible) or ≥ 1/(n-2) away from an integer: floor matches
    // integer division on any engine
    val big = pts.filter(col("n") > t)
      .withColumn("mids", slice(col("pts"), lit(2), col("n") - 2))
      .withColumn("bks", transform(sequence(lit(0), lit(t - 3)),
        b => filter(col("mids"), (_, j) =>
          floor(j.cast("double") * (t - 2) / (col("n") - 2)) === b)))
      .withColumn("cents", transform(col("bks"), l => struct(
        size(l).cast("long").as("cnt"),
        aggregate(l, lit(0L), (a, p) => a + p("x")).as("sx"),
        aggregate(l, lit(0L), (a, p) => a + p("y")).as("sy"))))
    val lastP = element_at(col("pts"), col("n"))
    val firstP = element_at(col("pts"), 1)
    val folded = big.withColumn("sel",
      aggregate(
        sequence(lit(0), lit(t - 3)),
        array(firstP),
        (sel, b) => {
          val prev = element_at(sel, size(sel))
          val nxt = when(b < t - 3, element_at(col("cents"), b + 2))
            .otherwise(struct(lit(1L).as("cnt"),
              lastP("x").as("sx"), lastP("y").as("sy")))
          val best = aggregate(
            element_at(col("bks"), b + 1),
            struct(lit(-1L).as("a"), lit(0L).as("x"), lit(0L).as("y")),
            (ba, c) => {
              val a2 = abs(
                (prev("x") * nxt("cnt") - nxt("sx")) * (c("y") - prev("y")) -
                  (prev("x") - c("x")) * (nxt("sy") - nxt("cnt") * prev("y")))
              when(a2 > ba("a"),
                struct(a2.as("a"), c("x").as("x"), c("y").as("y")))
                .otherwise(ba)
            })
          concat(sel,
            array(struct(best("x").as("x"), best("y").as("y"))))
        }))
      .select(col("series"),
        explode(concat(col("sel"), array(lastP))).as("p"))
      .select(col("series"), col("p.x").as("x"), col("p.y").as("y"))
    small.unionByName(folded)
  }
}
