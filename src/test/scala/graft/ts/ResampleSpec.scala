package graft.ts

import graft.SparkSpec
import graft.core.{ConfigValidationException, TimeSeriesGap}
import org.apache.spark.sql.functions._
import java.time.Duration

/** Pins the reference's resampling behavior (tests/test_load_file.py:1040-1147):
  * bucket aggregates mean/sum/last/first, skipna poisoning, right-closed
  * irregular bins with nearest non-numeric, exact grid spacing.
  */
class ResampleSpec extends SparkSpec {
  import spark.implicits._

  private def minuteData = Seq(
    (ts("2024-01-01 10:00:00"), 0.0),
    (ts("2024-01-01 10:01:00"), 1.0),
    (ts("2024-01-01 10:02:00"), 2.0),
    (ts("2024-01-01 10:03:00"), 3.0),
    (ts("2024-01-01 10:04:00"), 4.0)
  ).toDF("ts", "value")

  test("upsample mean/sum/last/first match the reference pins (0..4 -> 2.0/10/4/0)") {
    def one(m: Resample.Method): Double =
      Resample.upsample(minuteData, "ts", Duration.ofMinutes(5), m, Seq("value"))
        .head().getDouble(1)
    assert(one(Resample.Method.Mean) == 2.0)
    assert(one(Resample.Method.Sum) == 10.0)
    assert(one(Resample.Method.Last) == 4.0)
    assert(one(Resample.Method.First) == 0.0)
  }

  test("upsample buckets by window start across multiple buckets") {
    val out = Resample.upsample(minuteData, "ts", Duration.ofMinutes(2),
        Resample.Method.Sum, Seq("value"))
      .orderBy("ts").collect()
    // windows: [10:00,10:02)->0+1, [10:02,10:04)->2+3, [10:04,10:06)->4
    assert(out.map(_.getDouble(1)).toSeq == Seq(1.0, 5.0, 4.0))
    assert(out.head.getTimestamp(0) == ts("2024-01-01 10:00:00"))
  }

  test("last/first skip nulls inside the bucket (pandas resample().last() semantics)") {
    val df = Seq(
      (ts("2024-01-01 10:00:00"), Some(5.0)),
      (ts("2024-01-01 10:01:00"), None: Option[Double]),
      (ts("2024-01-01 10:02:00"), Some(7.0)),
      (ts("2024-01-01 10:03:00"), None: Option[Double]) // trailing null ignored
    ).toDF("ts", "value")
    def one(m: Resample.Method) =
      Resample.upsample(df, "ts", java.time.Duration.ofMinutes(5), m, Seq("value")).head()
    assert(one(Resample.Method.Last).getDouble(1) == 7.0)
    assert(one(Resample.Method.First).getDouble(1) == 5.0)
    // all-null bucket yields null, not an arbitrary timestamp's value
    val allNull = Seq((ts("2024-01-01 10:00:00"), None: Option[Double]))
      .toDF("ts", "value")
    assert(Resample.upsample(allNull, "ts", java.time.Duration.ofMinutes(5),
      Resample.Method.Last, Seq("value")).head().isNullAt(1))
  }

  test("invalid method string throws like the reference ValueError") {
    assertThrows[ConfigValidationException](Resample.Method.parse("median"))
  }

  test("skipna=false poisons a bucket containing any null; skipna=true ignores nulls") {
    val df = Seq(
      (ts("2024-01-01 10:00:00"), Some(1.0)),
      (ts("2024-01-01 10:01:00"), None: Option[Double]),
      (ts("2024-01-01 10:02:00"), Some(3.0))
    ).toDF("ts", "value")
    val skip = Resample.upsample(df, "ts", Duration.ofMinutes(5),
      Resample.Method.Mean, Seq("value"), skipna = true).head()
    val noskip = Resample.upsample(df, "ts", Duration.ofMinutes(5),
      Resample.Method.Mean, Seq("value"), skipna = false).head()
    assert(skip.getDouble(1) == 2.0)
    assert(noskip.isNullAt(1))
  }

  test("sumAllNullZero: pandas sum(skipna=True) of an all-null bucket is 0.0 " +
    "(reference load_file.py:2188-2194), Spark-native default stays null") {
    val df = Seq(
      (ts("2024-01-01 10:00:00"), Some(1.0)),
      (ts("2024-01-01 10:06:00"), None: Option[Double]), // bucket 2: all null
      (ts("2024-01-01 10:07:00"), None: Option[Double])
    ).toDF("ts", "value")
    def sums(zero: Boolean) =
      Resample.upsample(df, "ts", Duration.ofMinutes(5), Resample.Method.Sum,
        Seq("value"), skipna = true, sumAllNullZero = zero)
        .orderBy("ts").collect()
    val pandas = sums(zero = true)
    assert(pandas(0).getDouble(1) == 1.0)
    assert(pandas(1).getDouble(1) == 0.0, "all-null bucket must sum to 0.0")
    val sparkNative = sums(zero = false)
    assert(sparkNative(1).isNullAt(1), "default keeps SQL null semantics")
  }

  test("bucketExpr: right-closed bins, include_lowest, outside -> null (pd.cut)") {
    val edges = Seq(ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00"),
      ts("2024-01-03 00:00:00"))
    val df = Seq(
      ts("2023-12-31 23:59:59"), // below -> null
      ts("2024-01-01 00:00:00"), // == first edge -> first bucket (include_lowest)
      ts("2024-01-01 12:00:00"), // inside (e0,e1] -> e0
      ts("2024-01-02 00:00:00"), // == e1, right-closed -> e0
      ts("2024-01-02 00:00:01"), // inside (e1,e2] -> e1
      ts("2024-01-03 00:00:01")  // above -> null
    ).toDF("ts")
    val got = df.select(Resample.bucketExpr("ts", edges).as("b")).collect().map(r =>
      if (r.isNullAt(0)) null else r.getTimestamp(0))
    assert(got(0) == null)
    assert(got(1) == edges(0))
    assert(got(2) == edges(0))
    assert(got(3) == edges(0))
    assert(got(4) == edges(1))
    assert(got(5) == null)
  }

  test("resampleWithDates aggregates numerics and attaches nearest non-numeric (J1)") {
    val df = Seq(
      (ts("2024-01-01 10:00:00"), 0.0, "A"),
      (ts("2024-01-01 10:30:00"), 1.0, "B"),
      (ts("2024-01-01 11:30:00"), 4.0, "C")
    ).toDF("ts", "value", "cat")
    val edges = Seq(ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00"))
    val out = Resample.resampleWithDates(df, "ts", edges, Resample.Method.Mean)
    val row = out.head()
    assert(row.getTimestamp(0) == edges(0))
    assert(math.abs(row.getDouble(1) - 5.0 / 3.0) < 1e-12)
    assert(row.getString(2) == "A") // nearest to bucket label 10:00 is the 10:00 row
  }

  test("resampleTimeSeries buckets keep sub-second precision (regression: second-truncated " +
    "labels never equal-joined the microsecond grid)") {
    val df = Seq(
      (ts("2024-01-01 10:00:00.5"), 10.0),
      (ts("2024-01-01 10:30:00.5"), 20.0),
      (ts("2024-01-01 11:00:00.5"), 30.0)
    ).toDF("ts", "value")
    val out = Resample.resampleTimeSeries(df, "ts", "30min",
        methodResample = Some("mean"))
      .orderBy("ts").collect()
    assert(out.length == 3)
    // bucket (10:00.5-eps, 10:30.5] right-closed: label 10:00.5 holds rows 1+2
    assert(out(0).getDouble(1) == 15.0)
    assert(out(1).getDouble(1) == 30.0)
    assert(out(2).isNullAt(1)) // (11:00.5, 11:30.5] empty
  }

  test("resampleTimeSeries grid spacing is exact (30-min grid pin)") {
    val df = (0 to 10).map(h => (ts(f"2024-01-01 $h%02d:00:00"), h.toDouble))
      .toDF("ts", "value")
    val out = Resample.resampleTimeSeries(df, "ts", "30min")
    assert(out.count() == 21)
    val diffs = Continuity.withDiff(out, "ts")
      .filter(col("diff_us").isNotNull)
      .select("diff_us").distinct().collect().map(_.getLong(0)).toSeq
    assert(diffs == Seq(1800L * 1000000L))
  }

  test("resampleTimeSeries with no method reindexes: exact-match alignment only") {
    val df = Seq(
      (ts("2024-01-01 10:00:00"), 1.0),
      (ts("2024-01-01 10:20:00"), 2.0), // off-grid point -> not aligned
      (ts("2024-01-01 10:30:00"), 3.0)
    ).toDF("ts", "value")
    val out = Resample.resampleTimeSeries(df, "ts", "30min").orderBy("ts").collect()
    assert(out.length == 2)
    assert(out(0).getDouble(1) == 1.0)
    assert(out(1).getDouble(1) == 3.0)
  }

  test("resampleTimeSeries with seriesCols: per-key grids, buckets relative to each " +
    "series start, nearest non-numeric within its own series") {
    val df = Seq(
      ("a", ts("2024-01-01 10:00:00"), 10.0, "a00"),
      ("a", ts("2024-01-01 10:20:00"), 20.0, "a20"), // same bucket as 10:30 edge
      ("a", ts("2024-01-01 11:00:00"), 30.0, "a60"),
      ("b", ts("2024-01-05 00:15:00"), 1.0, "b15"), // entirely different range
      ("b", ts("2024-01-05 00:45:00"), 3.0, "b45"),
      ("c", ts("2024-01-01 10:30:00"), 5.0, "c30") // on a's 10:30 label, other series
    ).toDF("k", "ts", "v", "tag")
    val out = Resample.resampleTimeSeries(df, "ts", "30min",
        methodResample = Some("mean"), methodFill = Some("ffill"), seriesCols = Seq("k"))
      .orderBy("k", "ts").collect()
    // a grid: 10:00, 10:30, 11:00; b grid: 00:15, 00:45; c grid: 10:30
    assert(out.length == 6)
    assert(out(0).getString(0) == "a" && out(0).getTimestamp(1) == ts("2024-01-01 10:00:00"))
    assert(out(0).getDouble(2) == 15.0) // (10+20)/2 in (10:00-eps,10:30]... include start
    assert(out(1).getDouble(2) == 30.0) // (10:30,11:00] -> 30.0
    assert(out(2).getDouble(2) == 30.0) // empty bucket ffilled within series a
    assert(out(3).getString(0) == "b" && out(3).getTimestamp(1) == ts("2024-01-05 00:15:00"))
    // right-closed (00:15, 00:45] puts BOTH b rows in bucket 00:15 -> mean 2.0
    assert(out(3).getDouble(2) == 2.0)
    assert(out(4).getDouble(2) == 2.0) // empty 00:45 bucket ffilled
    assert(out(5).getString(0) == "c" && out(5).getDouble(2) == 5.0)
    // the a bucket at 10:30 takes a's 10:20 row, not c's row AT 10:30
    assert(out.map(_.getString(3)).toSeq == Seq("a00", "a20", "a20", "b15", "b15", "c30"))
    assertThrows[IllegalArgumentException](Resample.resampleTimeSeries(df, "ts", "30min",
      includeAllGaps = false, seriesCols = Seq("k")))
  }

  test("building a global or per-series resample (mean + ffill) starts no Spark job") {
    val df = Seq(
      ("a", ts("2024-01-01 10:00:00"), 1.0),
      ("a", ts("2024-01-01 11:10:00"), 2.0),
      ("b", ts("2024-01-01 10:05:00"), 3.0)
    ).toDF("k", "ts", "v")
    val sc = spark.sparkContext
    val tag = "graft.test.resampleBuild"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    try {
      Resample.resampleTimeSeries(df.drop("k"), "ts", "30min",
        methodResample = Some("mean"), methodFill = Some("ffill"))
      Resample.resampleTimeSeries(df, "ts", "30min",
        methodResample = Some("mean"), methodFill = Some("ffill"), seriesCols = Seq("k"))
    } finally {
      sc.setLocalProperty(tag, null)
      org.apache.spark.ListenerBusBridge.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 0)
  }

  test("interpolate fills numeric columns only; string and timestamp columns keep " +
    "their nearest values and types") {
    val df = Seq(
      (ts("2024-01-01 10:00:00"), 0.0, "p", ts("2024-01-01 00:00:00")),
      (ts("2024-01-01 11:30:00"), 30.0, "q", ts("2024-01-01 01:00:00"))
    ).toDF("ts", "value", "source_file", "file_start_time")
    val resampled = Resample.resampleTimeSeries(df, "ts", "30min",
      methodResample = Some("mean"), methodFill = Some("interpolate"))
    assert(resampled.schema.map(_.dataType.typeName) ==
      Seq("timestamp", "double", "string", "timestamp"))
    val out = resampled.orderBy("ts").collect()
    // buckets: 10:00 <- 10:00 row, (11:00, 11:30] -> 11:00 <- 11:30 row
    assert(out.map(_.getDouble(1)).toSeq == Seq(0.0, 15.0, 30.0, 30.0))
    assert(out.map(_.getString(2)).toSeq == Seq("p", null, "q", null))
    assert(out.map(_.getTimestamp(3)).toSeq ==
      Seq(ts("2024-01-01 00:00:00"), null, ts("2024-01-01 01:00:00"), null))
  }

  test("resampleTimeSeries with includeAllGaps=false skips big-gap interiors end-to-end") {
    // hourly 00..02, hole, 08..10 -> 5h gap (> 2h max) excluded from grid
    val df = (Seq(0, 1, 2) ++ Seq(8, 9, 10))
      .map(h => (ts(f"2024-01-01 $h%02d:00:00"), h.toDouble)).toDF("ts", "value")
    val out = Resample.resampleTimeSeries(df, "ts", "1h",
        includeAllGaps = false, maxGapSize = Some("2h"))
      .orderBy("ts").collect()
    val hours = out.map(_.getTimestamp(0).toLocalDateTime.getHour).toSeq
    // segments [00..02] and [08..10]: grid points 0,1,2,8,9,10 — nothing in the hole
    assert(hours == Seq(0, 1, 2, 8, 9, 10))
    // small gaps (none here besides the excluded one) don't fragment the grid
    val withSmall = Resample.resampleTimeSeries(df, "ts", "1h",
        includeAllGaps = false, maxGapSize = Some("12h"))
      .orderBy("ts").collect()
    assert(withSmall.length == 11) // 00..10 contiguous: 5h gap tolerated
    // two excluded gaps sharing the 05:00 endpoint: disjoint segments
    // [00..02], [08..10], so the grid needs no de-duplication
    val shared = Seq(0, 1, 2, 5, 8, 9, 10)
      .map(h => (ts(f"2024-01-01 $h%02d:00:00"), h.toDouble)).toDF("ts", "value")
    val grid = Resample.resampleTimeSeries(shared, "ts", "1h",
        includeAllGaps = false, maxGapSize = Some("2h"))
      .collect().map(_.getTimestamp(0)).toSeq
    assert(grid.distinct.size == grid.size)
    assert(grid.map(_.toLocalDateTime.getHour).sorted == Seq(0, 1, 2, 8, 9, 10))
  }

  test("segmentsExcludingGaps removes only gaps above maxGapSize (documented semantics)") {
    val g1 = TimeSeriesGap(ts("2024-01-01 02:00:00"), ts("2024-01-01 04:00:00"),
      Duration.ofHours(2), 1)
    val g2 = TimeSeriesGap(ts("2024-01-01 06:00:00"), ts("2024-01-01 06:10:00"),
      Duration.ofMinutes(10), 0)
    val segs = Resample.segmentsExcludingGaps(
      ts("2024-01-01 00:00:00"), ts("2024-01-01 08:00:00"),
      Seq(g1, g2), Some(Duration.ofMinutes(30)))
    // g1 (2h) excluded, g2 (10min) kept inside a segment
    assert(segs == Seq(
      (ts("2024-01-01 00:00:00"), ts("2024-01-01 02:00:00")),
      (ts("2024-01-01 04:00:00"), ts("2024-01-01 08:00:00"))))
  }
}
