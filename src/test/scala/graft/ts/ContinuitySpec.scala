package graft.ts

import graft.SparkSpec
import graft.core.Offsets
import java.time.Duration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuity analysis pins (A5/A6/W1/W2; reference
  * tests/test_load_file.py:954-976 pin inferred "3600s" on hourly data).
  */
class ContinuitySpec extends SparkSpec {
  import spark.implicits._

  // hourly series with a 3-hour hole: 00,01,02, [gap], 05,06
  private def gappy = Seq(0, 1, 2, 5, 6)
    .map(h => ts(f"2024-01-01 $h%02d:00:00")).toDF("ts")

  test("inferFrequency returns '3600s' for hourly data (reference pin)") {
    assert(Continuity.inferFrequency(gappy, "ts") == Some("3600s"))
  }

  test("gap scan finds the hole with expected_points = diff/expected - 1") {
    val gaps = Continuity.gaps(gappy, "ts",
      expected = Duration.ofHours(1), minGap = Duration.ofMinutes(1))
    assert(gaps.size == 1)
    val g = gaps.head
    assert(g.start == ts("2024-01-01 02:00:00"))
    assert(g.end == ts("2024-01-01 05:00:00"))
    assert(g.duration == Duration.ofHours(3))
    assert(g.expectedPoints == 2) // 03:00 and 04:00 missing
  }

  test("analyze: span, gap total, coverage percent") {
    val r = Continuity.analyze(gappy, "ts")
    assert(r.inferredFrequency == Some("3600s"))
    assert(r.totalSpan == Some(Duration.ofHours(6)))
    assert(r.totalGapDuration == Duration.ofHours(3))
    assert(math.abs(r.coveragePercent - 50.0) < 1e-9)
    assert(r.totalPoints == 5)
  }

  test("continuous series: no gaps, 100% coverage") {
    val cont = (0 to 5).map(h => ts(f"2024-01-01 $h%02d:00:00")).toDF("ts")
    val r = Continuity.analyze(cont, "ts")
    assert(r.gaps.isEmpty)
    assert(r.coveragePercent == 100.0)
  }

  test("per-series gap scan partitions by key") {
    val df = Seq(
      ("a", ts("2024-01-01 00:00:00")),
      ("a", ts("2024-01-01 05:00:00")), // 5h gap within a
      ("b", ts("2024-01-01 00:30:00")),
      ("b", ts("2024-01-01 01:30:00"))  // 1h, normal
    ).toDF("k", "ts")
    val gaps = Continuity.gapsDf(df, "ts",
        expected = Duration.ofHours(1), minGap = Duration.ofMinutes(1),
        seriesCols = Seq("k"))
      .collect()
    assert(gaps.length == 1)
    assert(gaps.head.getString(0) == "a")
  }

  test("gap list is in start order with exact expected points, from a diff " +
    "spread over several partitions (frequency inferred and given)") {
    // minute series over 4 hours with 4 holes: (first missing minute, points missing)
    val holes = Seq((20, 5), (70, 9), (130, 3), (200, 15))
    val missing = holes.flatMap { case (m, k) => m until m + k }.toSet
    val minute = (m: Int) => ts(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val df = (0 until 240).filterNot(missing).map(minute).toDF("ts").repartition(4)
    // the chunked spine: each range chunk lands in a hash partition, so
    // collect order is partition order, not time order
    spark.conf.set("graft.rangeSeries.fastPathRows", "0")
    spark.conf.set("graft.rangeSeries.fastPathBytes", "0")
    try {
      for (given <- Seq(None, Some(Duration.ofMinutes(1)))) {
        val r = Continuity.analyze(df, "ts", given)
        assert(r.inferredFrequency == Some("60s"))
        assert(r.gaps.map(g => (g.start, g.expectedPoints)) ==
          holes.map { case (m, k) => (minute(m - 1), k.toLong) }, s"expectedFrequency=$given")
        assert(r.totalPoints == 240 - missing.size)
      }
    } finally {
      spark.conf.unset("graft.rangeSeries.fastPathRows")
      spark.conf.unset("graft.rangeSeries.fastPathBytes")
    }
  }

  test("a 2 Hz series with a 2-minute hole: sub-second frequency inferred " +
    "and given, gap in microseconds; a zero frequency is rejected") {
    // 0.0 s .. 59.5 s, then 179.5 s .. 239.0 s
    val base = ts("2024-01-01 00:00:00").getTime
    val twoHz = ((0 until 120) ++ (359 until 479))
      .map(i => new java.sql.Timestamp(base + i * 500L)).toDF("ts")
    for (given <- Seq(None, Some(Duration.ofMillis(500)))) {
      val r = Continuity.analyze(twoHz, "ts", given)
      assert(r.inferredFrequency == Some("500ms"), s"expectedFrequency=$given")
      assert(r.gaps.size == 1)
      assert(r.gaps.head.start == new java.sql.Timestamp(base + 119 * 500L))
      assert(r.gaps.head.duration == Duration.ofMinutes(2))
      assert(r.gaps.head.expectedPoints == 239) // 120 s / 0.5 s - 1
      assert(r.totalPoints == 240)
      assert(math.abs(r.coveragePercent - 100.0 * (239 - 120) / 239) < 1e-9)
    }
    assert(Continuity.inferFrequency(twoHz, "ts") == Some("500ms"))
    assertThrows[graft.core.ConfigValidationException](
      Continuity.analyze(twoHz, "ts", Some(Duration.ZERO)))
  }

  /** `body` with the RangeSeries fast-path gates at 0 (the chunked spine). */
  private def gatesOff[T](body: => T): T = {
    spark.conf.set("graft.rangeSeries.fastPathRows", "0")
    spark.conf.set("graft.rangeSeries.fastPathBytes", "0")
    try body
    finally {
      spark.conf.unset("graft.rangeSeries.fastPathRows")
      spark.conf.unset("graft.rangeSeries.fastPathBytes")
    }
  }

  /** analyze's gap list against the one `gapsDf` collects at the same
    * frequency, expected points included, inferred and given.
    */
  private def assertGapsAgree(df: DataFrame, given: Duration): Unit =
    for (freq <- Seq(None, Some(given))) {
      val r = Continuity.analyze(df, "ts", freq)
      val expected = Offsets.parse(r.inferredFrequency.get)
      assert(expected == given, s"expectedFrequency=$freq")
      assert(r.gaps == Continuity.gaps(df, "ts", expected, Duration.ofMinutes(1)),
        s"expectedFrequency=$freq")
      assert(r.totalGapDuration == r.gaps.map(_.duration).foldLeft(Duration.ZERO)(_ plus _))
    }

  /** The minute series of the partition test: 240 minutes, 4 holes. */
  private def minuteHoles: DataFrame = {
    val missing = Seq((20, 5), (70, 9), (130, 3), (200, 15))
      .flatMap { case (m, k) => m until m + k }.toSet
    (0 until 240).filterNot(missing)
      .map(m => ts(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")).toDF("ts").repartition(4)
  }

  test("the one-action report equals the gapsDf gap list on every fixture, " +
    "inferred and given, fast path and gates at 0") {
    val base = ts("2024-01-01 00:00:00").getTime
    val twoHz = ((0 until 120) ++ (359 until 479))
      .map(i => new java.sql.Timestamp(base + i * 500L)).toDF("ts")
    val continuous = (0 to 5).map(h => ts(f"2024-01-01 $h%02d:00:00")).toDF("ts")
    val fixtures = Seq(gappy -> Duration.ofHours(1), continuous -> Duration.ofHours(1),
      minuteHoles -> Duration.ofMinutes(1), twoHz -> Duration.ofMillis(500))
    for ((df, freq) <- fixtures) {
      assertGapsAgree(df, freq)
      gatesOff(assertGapsAgree(df, freq))
    }
  }

  test("more gaps than one aggregate returns: the second action collects them, " +
    "and the report still equals the gapsDf gap list") {
    // diffs 60 s, 60 s, 300 s repeating: 11,999 gaps of 4 missing points
    // each, more than analyze's aggregate brings back
    val periods = 12000L
    val base = ts("2024-01-01 00:00:00").getTime / 1000
    val df = spark.range(3 * periods).select(timestamp_seconds(
      lit(base) + (col("id") / 3).cast("long") * 420 + (col("id") % 3) * 60).as("ts"))
    val (r, jobs) = withJobCount(Continuity.analyze(df, "ts"))
    assert(r.gaps.size == periods - 1)
    assert(r.gaps.forall(g => g.duration == Duration.ofMinutes(5) && g.expectedPoints == 4))
    assert(jobs == 4) // the aggregate's two jobs, then the gap collect's two
    assertGapsAgree(df, Duration.ofMinutes(1))
    gatesOff(assertGapsAgree(df, Duration.ofMinutes(1)))
  }

  test("analyze on a small series runs one action: 2 Spark jobs") {
    // gappy's hours from a range scan (local rows plan one more exchange)
    val tiny = spark.range(7).filter(!col("id").isin(3, 4))
      .select(timestamp_seconds(col("id") * 3600).as("ts"))
    val (r, jobs) = withJobCount(Continuity.analyze(tiny, "ts"))
    assert(r.gaps.map(_.expectedPoints) == Seq(2L))
    assert(jobs == 2) // the aggregate's exchange and its result; 4 with a second action
  }
}
