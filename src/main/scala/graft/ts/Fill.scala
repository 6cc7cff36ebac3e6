package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import RangeSeries.Running

/** Null-fill operators over an ordered time axis (W4/W5 in the survey;
  * reference load_file.py:2341-2351).
  *
  * Pandas `fillna(method=..., limit=n)` fills at most n consecutive nulls
  * counted from the last valid value — implemented here with an anchor trick:
  * the running last row number at non-null rows marks the last valid row,
  * and distance from that anchor bounds the fill.
  *
  * Scale design: everything is RangeSeries window algebra, one body for
  * keyed and global series — with `seriesCols` one (partitionBy(keys)
  * orderBy ts) sort shared by all fill columns, without them the two-pass
  * range-partitioned form instead of a single-task global sort. No UDFs.
  * `limit` adds a row-number pass over the same materialized order key, so
  * keyed, it reuses the first pass's sort.
  */
object Fill {

  /** Forward-fill `valueCols` (reference fillna(method="ffill", limit=n)). */
  def ffill(
      df: DataFrame,
      tsCol: String,
      valueCols: Seq[String],
      limit: Option[Int] = None,
      seriesCols: Seq[String] = Nil
  ): DataFrame = fillDirectional(df, tsCol, valueCols, limit, seriesCols, desc = false)

  /** Backward-fill (reference fillna(method="bfill", limit=n)) — the same
    * algebra over the reversed ordering.
    */
  def bfill(
      df: DataFrame,
      tsCol: String,
      valueCols: Seq[String],
      limit: Option[Int] = None,
      seriesCols: Seq[String] = Nil
  ): DataFrame = fillDirectional(df, tsCol, valueCols, limit, seriesCols, desc = true)

  /** Orderable long key for a series ordering; negated for desc. */
  private[ts] def orderKey(df: DataFrame, tsCol: String, desc: Boolean): Column = {
    val base = df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(tsCol))
      case _ => col(tsCol).cast("long")
    }
    if (desc) -base else base
  }

  private val ok = "__ok"
  private val grn = "__grn"

  /** `df` with the order key materialized as `__ok` and, for `limit`, the
    * series row number `__grn` — both passes then order on one column.
    */
  private def numbered(df: DataFrame, tsCol: String, desc: Boolean, limit: Option[Int],
      seriesCols: Seq[String]): DataFrame = {
    val keyed = df.withColumn(ok, orderKey(df, tsCol, desc))
    if (limit.isEmpty) keyed
    else RangeSeries.withRunning(keyed, col(ok), Nil, rnCol = Some(grn), keys = seriesCols)
  }

  /** The running anchor request: last series row number where `c` is non-null. */
  private def anchor(c: String): Running = Running(s"__an_$c", when(col(c).isNotNull, col(grn)))

  /** `filled`; with `limit`, only on non-null rows and on nulls at most
    * `limit` rows past the anchor — null beyond, and before the first valid
    * value, where the anchor is null.
    */
  private def bounded(c: String, limit: Option[Int], filled: Column): Column =
    limit.fold(filled)(n => when(col(c).isNotNull || col(grn) - col(s"__an_$c") <= n, filled))

  private def fillDirectional(
      df: DataFrame,
      tsCol: String,
      valueCols: Seq[String],
      limit: Option[Int],
      seriesCols: Seq[String],
      desc: Boolean
  ): DataFrame = {
    val reqs = valueCols.flatMap(c =>
      Running(s"__fv_$c", col(c)) +: limit.map(_ => anchor(c)).toSeq)
    val filled = RangeSeries.withRunning(numbered(df, tsCol, desc, limit, seriesCols),
      col(ok), reqs, keys = seriesCols)
    valueCols.foldLeft(filled) { (acc, c) =>
      acc.withColumn(c, bounded(c, limit, col(s"__fv_$c")))
    }.drop(valueCols.flatMap(c => Seq(s"__fv_$c", s"__an_$c")) :+ grn :+ ok: _*)
  }

  /** Time-weighted linear interpolation (W5; reference
    * df.interpolate(method="time", limit=n), load_file.py:2346-2347).
    *
    * For a null at time t between valid neighbors (pv@pt, nv@nt):
    *   pv + (nv - pv) * (t - pt) / (nt - pt)
    * Pandas edges: leading nulls stay null; trailing nulls carry the last
    * valid value; `limit` bounds consecutive filled nulls forward. Both
    * neighbor directions ride one RangeSeries call: backward neighbors as
    * running requests, forward neighbors as reverse requests (a running
    * frame over the descending order — [currentRow, unboundedFollowing]
    * frames re-evaluate per row, O(n^2)).
    */
  def interpolateTime(
      df: DataFrame,
      tsCol: String,
      valueCols: Seq[String],
      limit: Option[Int] = None,
      seriesCols: Seq[String] = Nil
  ): DataFrame = {
    val t = unix_micros(col(tsCol)).cast("double") / 1e6
    def neighbors(side: String, c: String) =
      Seq(Running(s"__${side}v_$c", col(c).cast("double")),
        Running(s"__${side}t_$c", when(col(c).isNotNull, t)))
    val f = RangeSeries.withRunning(numbered(df, tsCol, desc = false, limit, seriesCols),
      col(ok),
      runnings = valueCols.flatMap(c => neighbors("p", c) ++ limit.map(_ => anchor(c))),
      reverses = valueCols.flatMap(neighbors("n", _)),
      keys = seriesCols)

    val out = valueCols.foldLeft(f) { (acc, c) =>
      val v = col(c).cast("double")
      val Seq(pv, pt, nv, nt) = Seq("pv", "pt", "nv", "nt").map(h => col(s"__${h}_$c"))
      val interp = when(col(c).isNotNull, v)
        .when(pv.isNull, lit(null).cast("double")) // leading nulls stay null
        .when(nv.isNull, pv) // trailing nulls: carry last valid
        .otherwise(pv + (nv - pv) * (t - pt) / (nt - pt))
      acc.withColumn(c, bounded(c, limit, interp))
    }
    out.drop(valueCols.flatMap(c =>
      Seq("pv", "pt", "nv", "nt", "an").map(h => s"__${h}_$c")) :+ grn :+ ok: _*)
  }
}
