package graft.ts

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two-pass range-partitioned global-series path (RangeSeries) must be
  * value-equivalent to the single-global-window form it replaces, and its
  * plans must contain NO unpartitioned window (the single-task sort that
  * dies at scale).
  */
class RangeSeriesSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  // pin the chunked spine ON: these suites prove the scale path (carry
  // patching, one-exchange as-of) at fixture sizes the small-input fast
  // path would otherwise shortcut. FastPathParitySpec proves the shortcut
  // returns identical results.
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("graft.rangeSeries.fastPathRows", "0")
    spark.conf.set("graft.rangeSeries.fastPathBytes", "0")
  }
  override def afterAll(): Unit = {
    spark.conf.unset("graft.rangeSeries.fastPathRows")
    spark.conf.unset("graft.rangeSeries.fastPathBytes")
    super.afterAll()
  }

  // 100k irregular timestamps, ~30% nulls, deterministic
  private lazy val bigSeries: DataFrame = {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 100000).scanLeft((0L, Option(0.0))) { case ((t, _), i) =>
      val step = 1 + rnd.nextInt(120)
      val v = if (rnd.nextDouble() < 0.3) None else Some(rnd.nextDouble() * 100)
      (t + step * 1000000L, v)
    }.drop(1)
    rows.toDF("us", "v").withColumn("ts", timestamp_micros(col("us"))).drop("us")
  }

  private def assertNoGlobalWindow(df: DataFrame): Unit = {
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bad = root.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(bad.isEmpty, s"unpartitioned WindowExec found:\n${bad.mkString("\n")}")
  }

  private def values(df: DataFrame): Seq[(Long, Option[Double])] =
    df.select(unix_micros(col("ts")), col("v")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .sortBy(_._1).toSeq

  test("global ffill (no limit) matches the single-window form on 100k rows") {
    val w = Window.partitionBy().orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = bigSeries.withColumn("v", last(col("v"), ignoreNulls = true).over(w))
    val got = Fill.ffill(bigSeries, "ts", Seq("v"))
    assert(values(got) == values(expected))
    assertNoGlobalWindow(got)
  }

  test("global bfill with limit matches the single-window form on 100k rows") {
    val w = Window.partitionBy().orderBy(col("ts").desc)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = 3
    val expected = bigSeries
      .withColumn("__rn", row_number().over(w))
      .withColumn("v",
        when(col("v").isNotNull, col("v"))
          .when(max(when(col("v").isNotNull, col("__rn"))).over(running).isNotNull &&
            (col("__rn") - max(when(col("v").isNotNull, col("__rn"))).over(running)) <= n,
            last(col("v"), ignoreNulls = true).over(running))
          .otherwise(col("v")))
      .drop("__rn")
    val got = Fill.bfill(bigSeries, "ts", Seq("v"), limit = Some(n))
    assert(values(got) == values(expected))
    assertNoGlobalWindow(got)
  }

  private def assertClose(got: DataFrame, expected: DataFrame): Unit = {
    val e = values(expected)
    val g = values(got)
    assert(g.size == e.size)
    g.zip(e).foreach { case ((gt, gv), (et, ev)) =>
      assert(gt == et)
      (gv, ev) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"at $gt: $a vs $b")
        case (a, b) => assert(a == b, s"at $gt: $a vs $b")
      }
    }
  }

  // the first 20k rows split between two keys that interleave in time
  private lazy val twoKeys =
    bigSeries.limit(20000).withColumn("k", (unix_micros(col("ts")) / 1000000L) % 2)

  test("global time interpolation matches the keyed path, with one constant key " +
    "and with two interleaved keys under limit = 1") {
    val keyed = bigSeries.limit(20000).withColumn("k", lit(1))
    val got = Fill.interpolateTime(keyed.drop("k"), "ts", Seq("v"))
    assertClose(got, Fill.interpolateTime(keyed, "ts", Seq("v"), seriesCols = Seq("k")).drop("k"))
    assertNoGlobalWindow(got)
    val both = Fill.interpolateTime(twoKeys, "ts", Seq("v"), limit = Some(1), seriesCols = Seq("k"))
    Seq(0L, 1L).foreach { k =>
      assertClose(both.filter(col("k") === k).drop("k"),
        Fill.interpolateTime(twoKeys.filter(col("k") === k).drop("k"), "ts", Seq("v"),
          limit = Some(1)))
    }
    val unlimited = Fill.interpolateTime(twoKeys, "ts", Seq("v"), seriesCols = Seq("k"))
    assert(both.filter(col("v").isNull).count() > unlimited.filter(col("v").isNull).count(),
      "limit = 1 must leave runs of two or more nulls partly unfilled")
  }

  test("keyed ffill and interpolation with limit, as-of nearest and withDiff " +
    "start no Spark job to build, with both gates off") {
    val (_, jobs) = withJobCount {
      Fill.ffill(twoKeys, "ts", Seq("v"), limit = Some(2), seriesCols = Seq("k"))
      Fill.interpolateTime(twoKeys, "ts", Seq("v"), limit = Some(2), seriesCols = Seq("k"))
      AsOf.join(twoKeys.select(col("k"), col("ts").as("lt")),
        twoKeys.select(col("k"), col("ts").as("rt"), col("v")), "lt", "rt", Seq("v"),
        keys = Seq("k"), direction = AsOf.Direction.Nearest)
      Continuity.withDiff(twoKeys, "ts", Seq("k"))
    }
    assert(jobs == 0)
  }

  test("global withDiff (lag) matches the single-window form, including chunk-first rows") {
    val w = Window.partitionBy().orderBy(col("ts"))
    val expected = bigSeries
      .withColumn("d", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
    val got = Continuity.withDiff(bigSeries, "ts")
    def diffs(df: DataFrame) =
      df.select(unix_micros(col("ts")), col("diff_us")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sortBy(_._1).toSeq
    val exp = expected.select(unix_micros(col("ts")), col("d")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sortBy(_._1).toSeq
    assert(diffs(got) == exp)
    assertNoGlobalWindow(got)
  }

  test("global as-of nearest matches the keyed path run with a constant key") {
    val left = bigSeries.limit(5000).select(col("ts").as("lt"))
    val right = bigSeries.limit(20000)
      .filter(col("v").isNotNull).select(col("ts").as("rt"), col("v"))
    val expected = AsOf.join(
      left.withColumn("k", lit(1)), right.withColumn("k", lit(1)),
      "lt", "rt", Seq("v"), keys = Seq("k"), direction = AsOf.Direction.Nearest).drop("k")
    val got = AsOf.join(left, right, "lt", "rt", Seq("v"),
      direction = AsOf.Direction.Nearest)
    def rows(df: DataFrame) =
      df.select(unix_micros(col("lt")), col("asof_v"), unix_micros(col("asof_ts")))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) Double.NaN else r.getDouble(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1).toSeq
    assert(rows(got) == rows(expected))
    assertNoGlobalWindow(got)
  }

  test("global as-of forward (reverse carry) matches the keyed path, incl. tied instants") {
    // duplicate every 7th probe instant onto the right side so chunk-edge
    // ties exercise the bucket-on-t guarantee (tied rows never split)
    val left = bigSeries.limit(5000).select(col("ts").as("lt"))
    val right = bigSeries.limit(20000).filter(col("v").isNotNull)
      .select(col("ts").as("rt"), col("v"))
      .unionByName(left.filter(unix_micros(col("lt")) % 7 === 0)
        .select(col("lt").as("rt"), lit(-1.0).as("v")))
    val expected = AsOf.join(
      left.withColumn("k", lit(1)), right.withColumn("k", lit(1)),
      "lt", "rt", Seq("v"), keys = Seq("k"), direction = AsOf.Direction.Forward).drop("k")
    val got = AsOf.join(left, right, "lt", "rt", Seq("v"),
      direction = AsOf.Direction.Forward)
    def rows(df: DataFrame) =
      df.select(unix_micros(col("lt")), col("asof_v"), unix_micros(col("asof_ts")))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) Double.NaN else r.getDouble(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(_._1).toSeq
    assert(rows(got) == rows(expected))
    assertNoGlobalWindow(got)
  }

  test("global nearest as-of plans ONE data exchange (bidirectional single pass)") {
    val left = bigSeries.limit(2000).select(col("ts").as("lt"))
    val right = bigSeries.limit(5000).filter(col("v").isNotNull)
      .select(col("ts").as("rt"), col("v"))
    val out = AsOf.join(left, right, "lt", "rt", Seq("v"),
      direction = AsOf.Direction.Nearest)
    out.write.format("noop").mode("overwrite").save()
    val plan = out.queryExecution.executedPlan.toString
    val dataExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(dataExchanges <= 1, s"nearest must shuffle the timeline once:\n$plan")
  }

  test("empty input survives the two-pass path") {
    val empty = bigSeries.filter(lit(false))
    assert(Fill.ffill(empty, "ts", Seq("v")).count() == 0)
    assert(Continuity.withDiff(empty, "ts").count() == 0)
    assert(Fill.ffill(empty, "ts", Seq("v"), limit = Some(2)).count() == 0)
  }
}
