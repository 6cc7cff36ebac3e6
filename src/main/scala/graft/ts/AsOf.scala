package graft.ts

import graft.core.Offsets
import java.time.Duration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** As-of / nearest time joins (J1 in the survey; reference
  * load_file.py:2207-2230 does an O(n*m) python scan per target timestamp —
  * here re-expressed as the classic union-of-timelines trick:
  *
  *   union(left-tagged, right-tagged) -> one sort by (key, t, tag) ->
  *   running last/first window -> filter back to left rows.
  *
  * Cost: ONE shuffle (the window sort), linear work, no cross join — this is
  * the shape that survives 100 TB, unlike a |t1-t2| range join which
  * explodes quadratically inside bucket pairs.
  *
  * Tie-breaking matches the reference (argmin picks the first minimal
  * distance, i.e. the EARLIER row wins ties) via backward-before-forward
  * preference on equal distance.
  */
object AsOf {

  sealed trait Direction
  object Direction {
    /** last right row with rt <= lt */
    case object Backward extends Direction
    /** first right row with rt >= lt */
    case object Forward extends Direction
    /** closer of the two; earlier wins ties */
    case object Nearest extends Direction
  }

  /** Attach `valueCols` from `right` to every row of `left`, matched as-of on
    * time. `keys` co-partitions both sides (series id); empty keys = one
    * global series.
    *
    * Output: all columns of `left` + each value column (named
    * `<prefix><valueCol>`) + `<prefix>ts` (the matched right timestamp).
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      keys: Seq[String] = Nil,
      direction: Direction = Direction.Backward,
      tolerance: Option[Duration] = None, // max |lt - rt|
      prefix: String = "asof_"
  ): DataFrame = {
    val t = "__t"
    val side = "__side" // 0 = right(data), 1 = left(probe)

    val leftCols = left.columns.toSeq
    // keep left payload; right contributes only key/ts/value columns
    val lTagged = left
      .withColumn(t, col(leftTs))
      .withColumn(side, lit(1))
      .select((Seq(col(t), col(side)) ++ keys.map(col) ++
        leftCols.map(c => col(c).as(s"__l_$c")) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"__r_$c")) :+
        lit(null).cast("timestamp").as("__r_ts")): _*)
    val rTagged = right
      .withColumn(t, col(rightTs))
      .withColumn(side, lit(0))
      .select((Seq(col(t), col(side)) ++ keys.map(col) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(s"__l_$c")) ++
        valueCols.map(c => col(c).as(s"__r_$c")) :+
        col(rightTs).as("__r_ts")): _*)

    val unioned = lTagged.unionByName(rTagged)

    // right rows sort BEFORE left rows at equal t => backward window ("<= t")
    // sees same-instant right rows. The FORWARD match ("first right at or
    // after t") is expressed as a backward-RUNNING window over DESCENDING
    // order: Spark evaluates [currentRow, unboundedFollowing] frames by
    // recomputing the aggregate per row — O(n^2), measured 515s on a 100k-row
    // timeline — while running frames are incremental O(n).
    //
    // Both matches are ONE RangeSeries call: the backward match is a running
    // last over (2*t_us + side) asc — side 0/1 keeps it order-preserving and
    // overflow-free until year ~148000 — and the forward match is a reverse
    // request over (2*t_us - side) asc, so a right row at the same instant
    // counts as "at or after" the probe for forward exactly as it counts as
    // "at or before" for backward. With keys the windows hash-partition on
    // them; with NO keys (one global timeline) RangeSeries runs its two-pass
    // range-partitioned form in ONE exchange, chunks bucketed on t alone
    // (tied instants never split).
    val kBase = unix_micros(col(t)) * 2
    val kBack = kBase + col(side)
    val kFwdAsc = kBase - col(side)

    // MATCHED-ROW semantics: the matched timestamp and every value column
    // must come from the SAME right row. Running last-non-null per value
    // column would skip a matched row whose value is null and inherit an
    // OLDER row's value — asof_ts and asof_<c> could then disagree, and the
    // inherited value could even sit outside the tolerance (caught by the
    // round-12 fixed fuzz subset; invisible to the 237 queries because
    // events.value is never null). Packing (ts, values) into one struct —
    // null exactly on probe rows — makes the carry atomic, and costs ONE
    // running aggregate per direction instead of 1 + |valueCols|.
    val pack = "__r_pack"
    val packed = unioned.withColumn(pack,
      when(col(side) === 0,
        struct((col("__r_ts").as("ts") +:
          valueCols.map(c => col(s"__r_$c").as(s"v_$c"))): _*)))
    def unpack(in: DataFrame): DataFrame =
      valueCols.foldLeft(in.withColumn("__m_ts", col("__m_pack.ts"))) { (acc, c) =>
        acc.withColumn(s"__m_$c", col(s"__m_pack.v_$c"))
      }.drop("__m_pack")

    def run(backPfx: Option[String], fwdPfx: Option[String]): DataFrame =
      RangeSeries.withRunning(packed, kBack,
        runnings = backPfx.toSeq.map(p => RangeSeries.Running(s"${p}pack", col(pack))),
        reverses = fwdPfx.toSeq.map(p => RangeSeries.Running(s"${p}pack", col(pack))),
        bucketKey = Some(kBase),
        revKey = Some(kFwdAsc),
        keys = keys)

    val withMatches = unpack(direction match {
      case Direction.Backward => run(Some("__m_"), None)
      case Direction.Forward => run(None, Some("__m_"))
      case Direction.Nearest =>
        val bDist = abs(unix_micros(col(t)) - unix_micros(col("__b_pack.ts")))
        val fDist = abs(unix_micros(col("__f_pack.ts")) - unix_micros(col(t)))
        // earlier (backward) wins ties, matching the reference argmin
        val useBack = col("__b_pack.ts").isNotNull &&
          (col("__f_pack.ts").isNull || bDist <= fDist)
        run(Some("__b_"), Some("__f_"))
          .withColumn("__m_pack", when(useBack, col("__b_pack")).otherwise(col("__f_pack")))
          .drop("__b_pack", "__f_pack")
    })

    val tolFiltered = tolerance match {
      case Some(tol) =>
        val ok = withMatches.withColumn(
          "__dist_ok",
          abs(unix_micros(col(t)) - unix_micros(col("__m_ts"))) <= Offsets.toMicros(tol)
        )
        valueCols
          .foldLeft(ok) { (acc, c) =>
            acc.withColumn(s"__m_$c", when(col("__dist_ok"), col(s"__m_$c")))
          }
          .withColumn("__m_ts", when(col("__dist_ok"), col("__m_ts")))
      case None => withMatches
    }

    tolFiltered
      .filter(col(side) === 1)
      .select((leftCols.map(c => col(s"__l_$c").as(c)) ++
        valueCols.map(c => col(s"__m_$c").as(s"$prefix$c")) :+
        col("__m_ts").as(s"${prefix}ts")): _*)
  }
}
