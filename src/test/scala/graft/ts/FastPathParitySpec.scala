package graft.ts

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The RangeSeries small-input fast path (skip quantile/stats/carry below
  * `graft.rangeSeries.fastPathRows`) must be RESULT-IDENTICAL to the
  * chunked spine on the same fixture — this suite runs both paths on the
  * same data and compares collected rows bit-for-bit. The fast path's
  * plan IS the one-task global window (one SinglePartition exchange, no
  * extra shuffles) — intentional below the measured threshold; PLANS.json
  * is fingerprinted with the fast path disabled so it keeps pinning the
  * 100 TB chunked shape, and this spec pins both the shortcut's values
  * and its minimal plan.
  */
class FastPathParitySpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  override def afterAll(): Unit = {
    spark.conf.unset("graft.rangeSeries.fastPathRows")
    spark.conf.unset("graft.rangeSeries.fastPathBytes")
    super.afterAll()
  }

  // rows == 0 means "force the spine": the byte gate is independent now
  // (round-12), so it must be pinned off too or it would shortcut these
  // small fixtures on its own
  private def withThreshold[A](rows: Long)(body: => A): A = {
    spark.conf.set("graft.rangeSeries.fastPathRows", rows.toString)
    if (rows == 0) spark.conf.set("graft.rangeSeries.fastPathBytes", "0")
    try body
    finally {
      spark.conf.unset("graft.rangeSeries.fastPathRows")
      spark.conf.unset("graft.rangeSeries.fastPathBytes")
    }
  }

  // irregular series with nulls and TIES in the key — ties are where
  // chunk-boundary patching and single-window forms could diverge
  private lazy val series: DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until 5000).map { i =>
      val pos = (i / 3).toLong * 5 // runs of 3 tied positions
      val v = if (rnd.nextDouble() < 0.25) None else Some(rnd.nextInt(1000).toLong)
      (pos * 1000 + i % 3, v) // tie-broken total key
    }.toDF("k", "v")
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("withRunning: fast path == chunked spine (running/lag/reverse/rn)") {
    def run(): Seq[String] = canon(
      RangeSeries.withRunning(
        series, col("k"),
        runnings = Seq(RangeSeries.Running("ff", col("v"))),
        lags = Seq(RangeSeries.Lagged("lg", col("v"))),
        reverses = Seq(RangeSeries.Running("bf", col("v"))),
        rnCol = Some("rn")))
    val spine = withThreshold(0)(run())
    val fast = withThreshold(1000000)(run())
    assert(spine.size == 5000 && fast == spine)
  }

  test("withGlobalBounded: fast path == ghost-overlap spine") {
    def run(): Seq[String] = canon(
      RangeSeries.withGlobalBounded(
        series, col("k"), window = 16,
        Seq(RangeSeries.Bounded("s", sum(col("v"))),
          RangeSeries.Bounded("mn", min(col("v"))),
          RangeSeries.Bounded("c", count(lit(1))))))
    val spine = withThreshold(0)(run())
    val fast = withThreshold(1000000)(run())
    assert(spine.size == 5000 && fast == spine)
  }

  test("withRunning fast path plans ONE SinglePartition exchange " +
    "and nothing else; the spine above the threshold stays partitioned") {
    def planOf(rows: Long) = withThreshold(rows) {
      RangeSeries.withRunning(series, col("k"),
        runnings = Seq(RangeSeries.Running("ff", col("v"))), rnCol = Some("rn"))
        .queryExecution.executedPlan.toString
    }
    // exactly ONE exchange: either SinglePartition (parquet-backed input,
    // the constant chunk id folds) or a constant-key hashpartitioning
    // (local-relation input embeds the literal) — both route every row to
    // one task, which IS the sub-threshold plan
    val fast = planOf(1000000)
    assert("Exchange ".r.findAllIn(fast).size == 1,
      s"fast path must be the minimal one-task window:\n$fast")
    val spine = planOf(0)
    assert(!spine.contains("Exchange SinglePartition"),
      s"spine must stay chunk-parallel:\n$spine")
  }

  test("empty input survives the fast path") {
    val empty = Seq.empty[(Long, Option[Long])].toDF("k", "v")
    val out = withThreshold(1000000)(
      RangeSeries.withRunning(empty, col("k"),
        runnings = Seq(RangeSeries.Running("ff", col("v"))), rnCol = Some("rn")))
    assert(out.columns.toSeq == Seq("k", "v", "ff", "rn") && out.count() == 0)
  }
}
