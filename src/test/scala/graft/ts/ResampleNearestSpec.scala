package graft.ts

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** The resample's nearest rule for non-numeric columns (J1) — bucket b's
  * first row or the previous non-empty bucket's last row, the earlier on a
  * tie — against `AsOf.join(direction = Nearest)` over every row, on
  * labels on a row, equidistant candidates, outages, null values, keyed
  * series and irregular edges with rows outside them. Each fixture runs as
  * is and with the RangeSeries fast paths off, so the bucket-table lag also
  * takes the two-pass spine.
  */
class ResampleNearestSpec extends SparkSpec {
  import spark.implicits._

  private def at(hhmm: String): Timestamp = ts(label(hhmm))
  /** A timestamp as `nearestOf` prints it. */
  private def label(hhmm: String): String = s"2024-01-01 $hhmm:00"

  /** 10-minute buckets from 10:00: a row ON label 10:20 (last row of bucket
    * 10:10), a tie at label 10:30 (10:25 and 10:35), an outage from 10:40
    * to 11:20, and null tags. `one` marks buckets that hold data; `opened`
    * is a second non-numeric column that must come from the same row.
    */
  private val rows = Seq(
    ("10:00", Some("a")), ("10:07", Some("b")), ("10:20", Some("c")), ("10:25", Some("d")),
    ("10:35", None), ("11:25", Some("e")), ("11:32", None), ("11:38", Some("f")))

  private def series(key: String, shiftMin: Int): DataFrame =
    rows.map { case (t, tag) =>
      val shifted = new Timestamp(at(t).getTime + shiftMin * 60000L)
      (key, shifted, 1.0, tag.map(key + _), new Timestamp(shifted.getTime - 3600000L))
    }.toDF("k", "ts", "one", "tag", "opened")

  /** The non-numeric values of every bucket that holds data, sorted. */
  private def nearestOf(out: DataFrame, keys: Seq[String]): Seq[String] =
    out.filter(col("one").isNotNull)
      .select((keys :+ "ts" :+ "tag" :+ "opened").map(c => col(c).cast("string")): _*)
      .collect().map(_.mkString("|")).sorted.toSeq

  /** `AsOf` nearest over every row of `data`, at the labels of `out`. */
  private def asOfNearest(out: DataFrame, data: DataFrame, keys: Seq[String]): Seq[String] =
    nearestOf(
      AsOf.join(out.filter(col("one").isNotNull).select((keys :+ "ts" :+ "one").map(col): _*),
          data.select((keys :+ "ts" :+ "tag" :+ "opened").map(col): _*),
          "ts", "ts", Seq("tag", "opened"), keys, AsOf.Direction.Nearest, prefix = "n_")
        .select((keys.map(col) :+ col("ts") :+ col("one")) ++
          Seq(col("n_tag").as("tag"), col("n_opened").as("opened")): _*),
      keys)

  private def bothPaths(body: => Unit): Unit = {
    body
    spark.conf.set("graft.rangeSeries.fastPathRows", "0")
    spark.conf.set("graft.rangeSeries.fastPathBytes", "0")
    try body
    finally {
      spark.conf.unset("graft.rangeSeries.fastPathRows")
      spark.conf.unset("graft.rangeSeries.fastPathBytes")
    }
  }

  test("global resample: bucket-edge nearest equals AsOf nearest on a row on a label, " +
    "a tie, an outage and null values, on both window paths") {
    val df = series("x", 0).drop("k")
    bothPaths {
      val out = Resample.resampleTimeSeries(df, "ts", "10min", methodResample = Some("mean"))
      val got = nearestOf(out, Nil)
      assert(got == asOfNearest(out, df, Nil))
      val tagAt = got.map(_.split('|')).map(a => a(0) -> a(1)).toMap
      assert(tagAt(label("10:00")) == "xa") // first bucket: its own first row
      assert(tagAt(label("10:20")) == "xc") // the row ON the label
      assert(tagAt(label("10:30")) == "xd") // 10:25 and 10:35 tie: earlier wins
      assert(tagAt(label("11:20")) == "xe") // after the outage: 11:25, not 10:35
      assert(tagAt(label("11:30")) == "null") // 11:32 is nearest and its tag is null
      assert(got.size == 6) // 10:00 10:10 10:20 10:30 11:20 11:30; 10:40-11:10 empty
    }
  }

  test("per-series resample: bucket-edge nearest equals AsOf nearest within each series, " +
    "on both window paths") {
    // y runs 3 minutes behind x, so x's rows sit between y's labels
    val df = series("x", 0).unionByName(series("y", 3))
    bothPaths {
      val out = Resample.resampleTimeSeries(df, "ts", "10min", methodResample = Some("mean"),
        seriesCols = Seq("k"))
      val got = nearestOf(out, Seq("k"))
      assert(got == asOfNearest(out, df, Seq("k")))
      assert(got.count(_.startsWith("x|")) == 6 && got.count(_.startsWith("y|")) == 6)
      assert(got.filter(_.startsWith("y|")).forall(r => !r.contains("|x")))
    }
  }

  test("irregular edges: rows before the first edge can be nearest to it, rows after the " +
    "last edge never are; equals AsOf nearest over every row, on both window paths") {
    val df = series("x", 0).drop("k")
    // unsorted on purpose; buckets (10:10,10:30], (10:30,11:00], (11:00,11:30]
    val edges = Seq(at("11:00"), at("10:10"), at("11:30"), at("10:30"))
    bothPaths {
      val out = Resample.resampleWithDates(df, "ts", edges, Resample.Method.Mean)
      val got = nearestOf(out, Nil)
      assert(got == asOfNearest(out, df, Nil))
      assert(got.map(_.split('|')).map(a => a(0) -> a(1)).toMap == Map(
        label("10:10") -> "xb", // 10:07, before the first edge, beats 10:20
        label("10:30") -> "xd", // 10:25 and 10:35 tie: the earlier, 10:25
        label("11:00") -> "null")) // 10:35 and 11:25 tie: the earlier, 10:35
      // the sentinel bucket below the first edge never reaches the output
      assert(out.count() == 3)
    }
  }
}
