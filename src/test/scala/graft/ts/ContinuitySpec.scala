package graft.ts

import graft.SparkSpec
import java.time.Duration

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
}
