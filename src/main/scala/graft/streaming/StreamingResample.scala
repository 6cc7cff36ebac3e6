package graft.streaming

import graft.core.{LoadingConfig, Offsets}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import java.time.Duration

/** Structured Streaming extension of the batch pipeline (survey §2.10: the
  * reference is batch-only; this is the Spark-native generalization its
  * directory-scan model maps onto).
  *
  *   - source: file-stream discovery over the same CSV layout the batch
  *     loader reads (`readStream.schema(...).csv(dir)`) — Spark picks up new
  *     files per micro-batch, the streaming twin of S1 discovery;
  *   - resample: the A1 tumbling aggregate as a windowed streaming agg with a
  *     watermark bounding state (late rows beyond the watermark are dropped —
  *     the policy the reference lacks entirely, survey §2.10);
  *   - gap detection: per-series stateful processing via mapGroupsWithState
  *     (the streaming twin of W1/W2's lag-diff, which needs ordered history a
  *     stream cannot replay).
  *
  * Scale: state size = one (ts) per series key for gaps + open windows for
  * aggs; both bounded by watermark eviction, so executors hold O(keys), never
  * O(rows).
  */
object StreamingResample {

  /** Streaming CSV source over a directory (S1's streaming twin). Schema must
    * be known up front (streams cannot infer); reuse the batch loader's
    * first-file schema capture to obtain it.
    */
  def csvStream(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      loading: LoadingConfig = LoadingConfig(),
      maxFilesPerTrigger: Int = 100
  ): DataFrame =
    spark.readStream
      .schema(schema)
      .option("sep", loading.delimiter)
      .option("header", "true")
      .option("encoding", loading.encoding)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(dir)

  /** A1 as a streaming windowed aggregate: tumbling mean/sum/count per value
    * column, watermark-bounded state. Works identically on a batch frame
    * (window agg) — the same code path serves both, which is the idiomatic
    * Spark shape for "one engine, batch and streaming": on a batch plan the
    * optimizer drops the watermark node (`EliminateEventTimeWatermark`).
    */
  def upsampleStream(
      df: DataFrame,
      tsCol: String,
      freq: Duration,
      valueCols: Seq[String],
      watermark: Duration = Duration.ofMinutes(10)
  ): DataFrame = {
    val aggs = valueCols.flatMap(c => Seq(
      avg(col(c)).as(s"${c}_mean"),
      sum(col(c)).as(s"${c}_sum"),
      count(col(c)).as(s"${c}_count")))
    df.withWatermark(tsCol, Offsets.toSparkInterval(watermark))
      .groupBy(window(col(tsCol), Offsets.toSparkInterval(freq)))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as(tsCol) +: valueCols.flatMap(c =>
        Seq(col(s"${c}_mean"), col(s"${c}_sum"), col(s"${c}_count"))): _*)
  }

  /** Native session windows over a stream (or batch frame): one row per
    * (key, session), sessions close after `gap` of event-time inactivity;
    * watermark bounds open-session state. The streaming-capable twin of
    * graft.ts.Sessionize (whose lag-based form needs a replayable order).
    */
  def sessionizeStream(
      df: DataFrame,
      tsCol: String,
      gap: Duration,
      keyCols: Seq[String],
      watermark: Duration = Duration.ofMinutes(10)
  ): DataFrame =
    df.withWatermark(tsCol, Offsets.toSparkInterval(watermark))
      .groupBy((keyCols.map(col) :+
        session_window(col(tsCol), Offsets.toSparkInterval(gap))): _*)
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
      .select((keyCols.map(col) ++ Seq(col("session_start"),
        col("session_end"), col("n_events"))): _*)

  final case class SeriesPoint(series: String, ts: java.sql.Timestamp)
  final case class SeriesState(lastTs: Long)
  final case class GapEvent(
      series: String,
      gap_start: java.sql.Timestamp,
      gap_end: java.sql.Timestamp,
      duration_s: Long
  )

  /** W1/W2's streaming twin: per-series last-timestamp state; emit a GapEvent
    * whenever the next point arrives more than `threshold` after the last.
    * State is one long per series — but without eviction "bounded per
    * series" still means O(#series ever seen) across a 100 TB stream's
    * lifetime, so `idleTimeout` (when set) arms an EVENT-TIME timeout at
    * `lastTs + idleTimeout`: once the WATERMARK (driven by the data, so
    * deterministic — never the wall clock) passes it, the series' state is
    * dropped. A later point for that series starts fresh: a gap spanning
    * an evicted state is NOT reported (the horizon contract — exactly
    * [[dedupStream]]'s semantics for duplicate hashes). `wmDelay` is the
    * watermark lateness bound applied to `ts` when `idleTimeout` is set.
    */
  def detectGapsStream(
      points: org.apache.spark.sql.Dataset[SeriesPoint],
      threshold: Duration,
      idleTimeout: Option[Duration] = None,
      wmDelay: Duration = Duration.ofMinutes(10)
  ): org.apache.spark.sql.Dataset[GapEvent] = {
    import points.sparkSession.implicits._
    val thrMs = threshold.toMillis
    val idleMs = idleTimeout.map(_.toMillis)
    val src = idleTimeout match {
      case Some(_) =>
        points.withWatermark("ts", Offsets.toSparkInterval(wmDelay))
          .as[SeriesPoint]
      case None => points
    }
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    src
      .groupByKey(_.series)
      .flatMapGroupsWithState[SeriesState, GapEvent](
        OutputMode.Append(), timeoutConf) {
        case (series, it, state: GroupState[SeriesState]) =>
          if (state.hasTimedOut) {
            // idle past the event-time horizon: drop the state silently —
            // the next point for this series starts a fresh baseline
            state.remove()
            Iterator.empty
          } else {
            // within a micro-batch points arrive unordered: sort the batch
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            val start = state.getOption.map(_.lastTs)
            val (events, lastTs) =
              sorted.foldLeft((Vector.empty[GapEvent], start)) {
                case ((acc, prev), p) =>
                  val t = p.ts.getTime
                  val acc2 = prev match {
                    case Some(pt) if t - pt > thrMs =>
                      acc :+ GapEvent(series, new java.sql.Timestamp(pt),
                        new java.sql.Timestamp(t), (t - pt) / 1000L)
                    case _ => acc
                  }
                  (acc2, Some(prev.fold(t)(math.max(_, t))))
              }
            lastTs.foreach { t =>
              state.update(SeriesState(t))
              // clamp to the watermark: a BACKFILLED series (all events
              // behind the watermark — an old partition replayed, a late
              // band) would otherwise compute lastTs + idle < watermark
              // and Spark REJECTS that timeout, killing the whole query
              // (found by the round-13 sf1 eviction replay, where tied
              // file mtimes let a band arrive after the watermark passed
              // it). Such a series is already past its horizon — arm the
              // earliest legal timeout so it evicts at the next trigger
              // instead of crashing the stream.
              idleMs.foreach(d => state.setTimeoutTimestamp(
                math.max(t + d, state.getCurrentWatermarkMs() + 1)))
            }
            events.iterator
          }
      }
  }

  /** Streaming exact dedup — the streaming twin of `Dedup.exact`: drop
    * content-identical rows arriving within the watermark horizon. The
    * first occurrence is emitted immediately (append mode); dedup state is
    * ONE 256-bit hash per distinct payload, never the payload itself, and
    * the watermark evicts it — executors hold O(distinct-in-horizon), not
    * O(stream).
    */
  final case class ValuePoint(series: String, ts: java.sql.Timestamp, value: Double)
  final case class CusumState(hi: Double, lo: Double)
  final case class DriftAlarm(
      series: String,
      ts: java.sql.Timestamp,
      statistic: Double,
      direction: String)

  /** Streaming one-sided CUSUM change detection (Page's test): per series,
    *
    *   hi_i = max(0, hi_{i-1} + (x_i - target - slack))   // upward drift
    *   lo_i = max(0, lo_{i-1} - (x_i - target + slack))   // downward drift
    *
    * emit an alarm when either statistic crosses `threshold`, then reset
    * that side. Unlike the batch [[graft.ts.Smooth.cusum]] (which centers
    * on the observed series mean), the streaming form tests against a
    * KNOWN reference level — the standard formulation when the data is
    * unbounded.
    *
    * Scale shape: state is two doubles per series, independent of stream
    * length; batches fold in event order after an in-batch sort (the same
    * contract as [[detectGapsStream]]).
    */
  def cusumStream(
      points: org.apache.spark.sql.Dataset[ValuePoint],
      target: Double,
      slack: Double,
      threshold: Double
  ): org.apache.spark.sql.Dataset[DriftAlarm] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.series)
      .flatMapGroupsWithState[CusumState, DriftAlarm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (series, it, state: GroupState[CusumState]) =>
          val sorted = it.toSeq.sortBy(p => (p.ts.getTime, p.value))
          val init = state.getOption.getOrElse(CusumState(0.0, 0.0))
          val (alarms, end) =
            sorted.foldLeft((Vector.empty[DriftAlarm], init)) {
              case ((acc, s), p) =>
                val hi = math.max(0.0, s.hi + (p.value - target - slack))
                val lo = math.max(0.0, s.lo - (p.value - target + slack))
                val up = hi > threshold
                val down = lo > threshold
                val acc2 = acc ++
                  (if (up) Vector(DriftAlarm(series, p.ts, hi, "up")) else Vector.empty) ++
                  (if (down) Vector(DriftAlarm(series, p.ts, lo, "down")) else Vector.empty)
                (acc2, CusumState(if (up) 0.0 else hi, if (down) 0.0 else lo))
            }
          state.update(end)
          alarms.iterator
      }
  }

  final case class TouchEvent(
      series: String,
      ts: java.sql.Timestamp,
      eventType: String,
      cents: Long)
  final case class TouchState(channel: String)
  final case class CreditedConversion(
      series: String,
      ts: java.sql.Timestamp,
      channel: String,
      cents: Long)

  /** [[graft.ops.Behavior.lastTouchAttribution]]'s streaming twin — live
    * conversion crediting: per-series state holds the most recent channel
    * touch; each conversion emits immediately (append mode) credited to
    * it, `direct` when no touch preceded. Aggregate downstream (the
    * credited stream groupBy channel) for the running revenue readout.
    *
    * Scale shape: state is ONE string per series; batches fold in event
    * order after an in-batch sort (the [[detectGapsStream]] contract).
    * The strictly-prior rule matches the batch operator: a touch in the
    * same batch credits only conversions strictly after it.
    */
  def attributionStream(
      events: org.apache.spark.sql.Dataset[TouchEvent],
      conversionType: String,
      channelTypes: Set[String]
  ): org.apache.spark.sql.Dataset[CreditedConversion] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.series)
      .flatMapGroupsWithState[TouchState, CreditedConversion](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (series, it, state: GroupState[TouchState]) =>
          val sorted = it.toSeq.sortBy(_.ts.getTime)
          val out = Vector.newBuilder[CreditedConversion]
          var ch = state.getOption.map(_.channel)
          for (e <- sorted) {
            if (e.eventType == conversionType)
              out += CreditedConversion(series, e.ts,
                ch.getOrElse("direct"), e.cents)
            if (channelTypes.contains(e.eventType)) ch = Some(e.eventType)
          }
          ch.foreach(c => state.update(TouchState(c)))
          out.result().iterator
      }
  }

  final case class AttrPoint(series: String, ts: java.sql.Timestamp, attr: String)
  final case class Scd2State(attr: String, since: Long, n: Long, lastTs: Long)
  final case class IntervalClose(
      series: String,
      attr: String,
      valid_from: java.sql.Timestamp,
      valid_to: java.sql.Timestamp,
      n_events: Long)

  /** [[graft.ops.Incremental.scd2Intervals]]'s streaming twin — live
    * dimension-history maintenance: per-series state holds the OPEN
    * interval (current attribute, since-when, event count); when a point
    * carrying a different attribute arrives, the standing interval closes
    * and emits (append mode). Closed intervals match the batch operator's
    * non-current rows exactly; the current row lives in state instead of
    * the output, which is precisely the SCD2 "open row" semantics.
    *
    * Scale shape: state is (attr, long, long, long) per series,
    * independent of stream length; batches fold in event order after an
    * in-batch sort (the same in-order-across-batches contract as
    * [[detectGapsStream]]).
    *
    * LATE-UPDATE policy (deterministic, spec-pinned): a point whose event
    * time is STRICTLY BEFORE the open interval's last folded event is a
    * late cross-batch straggler — it is DROPPED, never folded. SCD2
    * history is append-only: folding a late fact would either close the
    * open interval with `valid_to < valid_from` (a corrupted row) or
    * silently re-order already-published history. Ties (equal timestamps)
    * still fold in arrival order, matching the batch operator's
    * arbitrary-tie treatment on in-order input.
    */
  def scd2Stream(
      points: org.apache.spark.sql.Dataset[AttrPoint]
  ): org.apache.spark.sql.Dataset[IntervalClose] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.series)
      .flatMapGroupsWithState[Scd2State, IntervalClose](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (series, it, state: GroupState[Scd2State]) =>
          val sorted = it.toSeq.sortBy(_.ts.getTime)
          val out = Vector.newBuilder[IntervalClose]
          var cur = state.getOption
          for (p <- sorted) {
            cur match {
              case None =>
                cur = Some(Scd2State(p.attr, p.ts.getTime, 1L, p.ts.getTime))
              case Some(st) if p.ts.getTime < st.lastTs =>
                // late straggler: older than folded history — drop (see
                // the late-update policy above)
                ()
              case Some(st) if st.attr == p.attr =>
                cur = Some(st.copy(n = st.n + 1, lastTs = p.ts.getTime))
              case Some(st) =>
                out += IntervalClose(series, st.attr,
                  new java.sql.Timestamp(st.since),
                  new java.sql.Timestamp(p.ts.getTime), st.n)
                cur = Some(Scd2State(p.attr, p.ts.getTime, 1L, p.ts.getTime))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  final case class TimedPoint(series: String, ts: java.sql.Timestamp, ord: Long)
  final case class HawkesState(aU: Long, maxU: Long, hot: Long, prevT: Long)
  final case class HotEvent(series: String, ts: java.sql.Timestamp, lambdaU: Long)

  /** Full-microsecond epoch value of a [[java.sql.Timestamp]] — `getTime`
    * alone truncates to milliseconds, silently diverging from the batch
    * kernels' `unix_micros` unit for sub-millisecond event times.
    * `getNanos` carries the complete fractional second, so the sub-ms
    * remainder is `(nanos / 1000) % 1000`.
    */
  private def tsMicros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** [[graft.ts.PointProcess.hawkesSummary]]'s streaming twin — live
    * burst detection: the self-excitation state (4 longs per series)
    * folds across micro-batches with EXACTLY the batch kernel's integer
    * arithmetic — each decay factor snaps to micro-units
    * (`round(exp(-Δt/τ)·1e6)`) before entering the recursion, so the
    * stream's emitted intensities and the batch summary agree to the bit
    * (spec-pinned). Emits an event whenever the PRE-bump intensity
    * exceeds `hotU` (append mode — a hot arrival is known immediately).
    *
    * Scale shape: state is 4 longs per series regardless of stream
    * length; batches fold in event order after an in-batch sort (the
    * [[detectGapsStream]] contract).
    */
  def hawkesStream(
      points: org.apache.spark.sql.Dataset[TimedPoint],
      muU: Long = 100000L,
      alphaU: Long = 500000L,
      tauSeconds: Long = 3600L,
      hotU: Long = 700000L
  ): org.apache.spark.sql.Dataset[HotEvent] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.series)
      .flatMapGroupsWithState[HawkesState, HotEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (series, it, state: GroupState[HawkesState]) =>
          val sorted = it.toSeq.sortBy(p => (tsMicros(p.ts), p.ord))
          val init = state.getOption.getOrElse(HawkesState(0L, 0L, 0L, -1L))
          val (hot, end) =
            sorted.foldLeft((Vector.empty[HotEvent], init)) {
              case ((acc, s), p) =>
                val t = tsMicros(p.ts) // µs, the batch kernel's unit
                val decayed =
                  if (s.prevT < 0L) 0L
                  else (s.aU * math.round(math.exp(
                    -((t - s.prevT) / 1000000.0) / tauSeconds.toDouble)
                    * 1000000.0)) / 1000000L
                val lambda = muU + decayed
                val acc2 =
                  if (lambda > hotU) acc :+ HotEvent(series, p.ts, lambda)
                  else acc
                (acc2, HawkesState(decayed + alphaU,
                  math.max(s.maxU, lambda),
                  s.hot + (if (lambda > hotU) 1L else 0L), t))
            }
          state.update(end)
          hot.iterator
      }
  }

  def dedupStream(
      df: DataFrame,
      tsCol: String,
      contentCol: String,
      watermark: Duration = Duration.ofMinutes(10)
  ): DataFrame =
    df.withColumn("__content_hash", sha2(col(contentCol).cast("string"), 256))
      .withWatermark(tsCol, Offsets.toSparkInterval(watermark))
      .dropDuplicatesWithinWatermark("__content_hash")
      .drop("__content_hash")

  /** Stream-stream interval join — the ad-tech canonical (every RIGHT
    * event joins the LEFT events of the same key whose timestamp lies in
    * `[rightTs - within, rightTs]`; e.g. clicks ⋈ their impression within
    * ten minutes). The batch twin [[graft.ts.IntervalJoin]] gets this from
    * a bucketized equi-join; streaming gets it from Spark's watermarked
    * stream-stream join, where the SAME range predicate is what lets the
    * engine evict buffered rows: each side keeps only `watermark + within`
    * of history, so state is bounded at any scale. Without the time-range
    * conjunct Spark would have to buffer both streams forever (and
    * rejects the plan in append mode).
    *
    * Also runs unchanged on two batch frames (the watermarks drop out of
    * the batch plan and the condition degrades to a plain range join) —
    * spec-pinned identical output, the "one engine, batch and streaming"
    * contract.
    */
  def intervalJoinStream(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTs: String,
      rightTs: String,
      within: Duration,
      watermark: Duration = Duration.ofMinutes(10)
  ): DataFrame = {
    require(leftTs != rightTs, "rename one side: ts columns must differ")
    val wm = Offsets.toSparkInterval(watermark)
    val r = right.withWatermark(rightTs, wm).withColumnRenamed(keyCol, "__rk")
    left.withWatermark(leftTs, wm).join(r,
      col(keyCol) === col("__rk") &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(Offsets.toSparkInterval(within)),
      "inner")
      .drop("__rk")
  }
}
