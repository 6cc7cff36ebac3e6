package graft.ts

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Scale-safe window algebra for ordered series: running last-non-null,
  * lag(1), "first non-null at or after" and row number, keyed or global.
  *
  * KEYED series (`keys` non-empty) are the easy case: the windows
  * hash-partition on the keys and parallelize naturally, so the requests
  * become one keyed window per ordering — no gate, no job at construction.
  *
  * A SINGLE global series (no keys) is the hard one: `Window.partitionBy()`
  * puts the whole series in ONE task ("WindowExec: No Partition Defined" —
  * the single-task sort that kills a 100 TB timeline).
  *
  * The classic two-pass fix implemented here for it:
  *   1. bucket rows into time-ordered chunks (quantile boundaries computed
  *      once, baked into the plan), `repartition` on the chunk id — each
  *      chunk its own task; per-chunk running aggregates via an ordinary
  *      partitioned window;
  *   2. per-chunk BOUNDARY stats (one row per chunk — driver-sized by
  *      construction) are collected, prefix/suffix-combined on the driver,
  *      and broadcast-joined back to patch chunk-edge rows.
  *
  * Both directions share ONE exchange: a forward (running last-non-null /
  * lag / row number) and a reverse ("first non-null at-or-after") request
  * sort within the same chunk partitioning — an extra in-partition sort,
  * not an extra shuffle. Everything stays declarative DataFrame algebra;
  * the only driver traffic is the O(#chunks) boundary table.
  */
object RangeSeries {

  /** A running last-non-null request: `out` column = last non-null value of
    * `in` at or before the current row in the series' `key` ordering.
    */
  final case class Running(out: String, in: Column)

  /** A lag(1) request: `out` = value of `in` on the immediately preceding row
    * in the series' `key` ordering (null for the series' first row).
    */
  final case class Lagged(out: String, in: Column)

  private def numParts(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** Small-input fast-path gate: at or below this many rows the spine
    * skips the quantile + boundary-stats machinery and runs the series as
    * ONE chunk (single task). The chunked spine exists for the 100 TB
    * regime; below ~1M rows the one-task window's sort is trivial while
    * the multi-job spine overhead (quantile job + stats collect + carry
    * join) owns the wall — SkewProbe measured the crossover near 1M
    * rows/series, and the sf0.1 bench put the spine's fixed overhead at
    * ~2.2 s on rel_zorder_layout alone. Results are IDENTICAL on both
    * paths (FastPathParitySpec pins parity on the same fixture); 0
    * disables the fast path (PlanSnapshot fingerprints with 0 so
    * PLANS.json pins the scale plan — the fast path's plan IS the
    * one-task window, by design, below the threshold).
    */
  private def fastPathRows(df: DataFrame): Long =
    df.sparkSession.conf.get("graft.rangeSeries.fastPathRows", "1000000").toLong

  /** Zero-job fast-path gate: when Catalyst's size estimate for the keyed
    * frame is at or under this many bytes, the spine skips EVERYTHING —
    * no localCheckpoint, no count, no quantiles — and plans the one-task
    * window directly over the input. The row gate above still needs one
    * checkpoint + count to decide; at bench scale those two jobs were
    * most of the surviving overhead (~26% of the spine regression
    * recovered vs the ~full recovery this gate buys). The estimate can be
    * wrong in either direction: an overestimate just falls through to the
    * checkpointed row gate (safe), an underestimate plans a one-task
    * window over more data than intended — slower, never incorrect, and
    * bounded in practice because estimates scale with source bytes (at
    * 100x the scan estimate blows the threshold and the spine engages).
    * 0 disables the byte gate (PlanSnapshot pins with both gates off).
    */
  private def fastPathBytes(df: DataFrame): Long =
    df.sparkSession.conf.get("graft.rangeSeries.fastPathBytes",
      (32L << 20).toString).toLong

  /** True when the byte gate says "plan the one-task window directly".
    * The two gates are independent: fastPathBytes > 0 alone enables the
    * byte gate (round-11 advisor — rowGate=0 used to be a hidden master
    * off-switch for both). PlanSnapshot still disables BOTH explicitly.
    */
  private def statsTiny(keyedBase: DataFrame): Boolean = {
    val fb = fastPathBytes(keyedBase)
    fb > 0 &&
      (try keyedBase.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(fb)
       catch { case _: Throwable => false })
  }

  /** True when every leaf of the plan is already materialized (checkpoint
    * RDD, cached relation) or driver-local — i.e. re-running the three
    * spine jobs over it re-reads blocks instead of re-executing arbitrary
    * (possibly nondeterministic) lineage. Guards the `knownRows`
    * checkpoint-skip: the caller-materialized contract used to live only
    * in a doc comment (round-11 advisor); now a knownRows hint over an
    * unmaterialized input falls back to the spine's own localCheckpoint —
    * costs one extra materialization, never correctness.
    */
  private def checkpointBacked(df: DataFrame): Boolean =
    try df.queryExecution.optimizedPlan.collectLeaves().forall {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _ => false
    } catch { case _: Throwable => false }

  /** Chunk id = how many quantile boundaries lie strictly below the key —
    * ONE flat expression (a literal array + filter/size), NOT a fold of
    * nested when()s: the fold builds an O(#boundaries)-deep expression
    * tree, and at 320 shuffle partitions (the sf10/100x probe, partitions
    * scaled to data) every Catalyst tree traversal recursed one level per
    * boundary and threw java.lang.StackOverflowError — scale bug #12,
    * invisible at <=96 partitions. The flat form is depth-O(1) at any
    * partition count; boundary semantics (strictly-greater) unchanged.
    */
  private def chunkBucket(bk: String, bounds: Array[Double]): Column = {
    val bs = bounds.distinct.toSeq
    if (bs.isEmpty) lit(0)
    else size(filter(typedLit(bs), b => col(bk) > b))
  }

  /** The window columns of one request set, in request order, as ONE map:
    * a single `withColumns` puts every window expression in one projection,
    * so the planner builds one window per ordering. A `withColumn` fold
    * over an ordering EXPRESSION interleaves its `_w` projections and
    * splits the windows one per column (a sort each).
    */
  private def windowColumns(
      runnings: Seq[Running],
      lags: Seq[Lagged],
      reverses: Seq[Running],
      rn: Option[String],
      w: WindowSpec,
      wRev: WindowSpec
  ): ListMap[String, Column] = {
    def upToCurrent(s: WindowSpec) =
      s.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ListMap(
      runnings.map(r => r.out -> last(r.in, ignoreNulls = true).over(upToCurrent(w))) ++
        lags.map(l => l.out -> lag(l.in, 1).over(w)) ++
        reverses.map(r => r.out -> last(r.in, ignoreNulls = true).over(upToCurrent(wRev))) ++
        rn.map(_ -> row_number().over(w)): _*)
  }

  /** Running/lag/reverse/row-number windows over keyed series or, two-pass,
    * over ONE global series.
    *
    * @param key      monotone sort key for the series ordering (ascending).
    *                 Encode compound orderings into one orderable expression
    *                 (e.g. `unix_micros(ts) * 2 + side`); descending orderings
    *                 negate the key.
    * @param runnings running last-non-null columns to add (ordered by `key`)
    * @param lags     lag(1) columns to add (ordered by `key`)
    * @param reverses "first non-null at or AFTER the current row" columns,
    *                 ordered ascending by `revKey` (default `key`). Runs as a
    *                 descending in-chunk window + suffix carry — same
    *                 exchange, no second shuffle.
    * @param rnCol    if set, adds the series' 1-based row number (by `key`)
    * @param bucketKey chunk-assignment key, default `key`. Pass a COARSER
    *                 expression (e.g. the timestamp without a tie-break term)
    *                 when `key` and `revKey` break ties differently: rows with
    *                 equal bucketKey never split across chunks, so both
    *                 orderings stay chunk-monotone. Must be non-decreasing in
    *                 both `key` and `revKey` order.
    * @param revKey   ascending sort key for `reverses`, default `key`.
    * @param knownRows exact row count if the CALLER already MATERIALIZED
    *                 and counted the input (e.g. ZOrder.layoutStats needs
    *                 N for its bucket arithmetic anyway). Two effects:
    *                 the fast-path gate decides with zero extra jobs
    *                 (localCheckpoint CAN carry origin stats forward, so
    *                 the byte gate sometimes still sees a usable estimate,
    *                 but the row hint is exact either way), and above the
    *                 gate the spine SKIPS its own localCheckpoint —
    *                 enforced by [[checkpointBacked]], a hint over live
    *                 lineage still checkpoints: re-projecting three
    *                 jobs off the caller's cached blocks is cheap, while
    *                 a second 100%-sized materialization alongside the
    *                 caller's is what tipped rel_zorder_layout from
    *                 linear (sf3) into storage-eviction spill at sf10.
    * @param fastRowsCap caller-side CAP on the fast-path row gate (round
    *                 13, guide §1.1): the session default (~1M rows) was
    *                 measured on primitive timestamp keys, but a one-task
    *                 sort over a WIDE key (e.g. layoutStats' 3-field
    *                 struct) pays a per-comparison cost that moves the
    *                 crossover well below it — the zorder A/B had the
    *                 chunked spine beating the one-task window at 600k
    *                 rows. The cap only TIGHTENS the gate (min with the
    *                 conf), and conf = 0 still disables the fast path
    *                 outright, so PlanSnapshot keeps pinning the scale
    *                 shape. Values identical on both paths, as always.
    * @param keys     series key columns. Non-empty: the windows partition by
    *                 them and order on `key` / `revKey` themselves — no
    *                 gate, no chunking, no job at construction;
    *                 `bucketKey`, `knownRows` and `fastRowsCap` are unused.
    */
  def withRunning(
      df: DataFrame,
      key: Column,
      runnings: Seq[Running],
      lags: Seq[Lagged] = Nil,
      reverses: Seq[Running] = Nil,
      rnCol: Option[String] = None,
      bucketKey: Option[Column] = None,
      revKey: Option[Column] = None,
      knownRows: Option[Long] = None,
      fastRowsCap: Option[Long] = None,
      keys: Seq[String] = Nil
  ): DataFrame = {
    if (keys.nonEmpty) {
      val part = Window.partitionBy(keys.map(col): _*)
      return df.withColumns(windowColumns(runnings, lags, reverses, rnCol,
        part.orderBy(key), part.orderBy(revKey.getOrElse(key).desc)))
    }
    val k = "__rs_k"
    val rk = "__rs_rk"
    val bk = "__rs_bk"
    val pid = "__rs_pid"
    val lrn = "__rs_lrn"
    val needFwdWindow = runnings.nonEmpty || lags.nonEmpty || rnCol.isDefined

    // DETERMINISTIC chunk ids, not spark_partition_id(): the boundary-stats
    // job and the final window job execute the exchange independently, and
    // repartitionByRange re-SAMPLES its boundaries per execution — physical
    // partition ids can disagree between the two jobs (observed: exactly the
    // chunk-boundary rows corrupted). Quantile boundaries are computed ONCE
    // here and baked into the plan as literals, so every job assigns every
    // row the same chunk. Keys fit a double exactly (< 2^53 until year
    // ~2255 in 2*micros), and even past that both jobs compare the same
    // doubles, so assignment stays consistent.
    // Three jobs read this frame (quantile sampling, boundary stats, the
    // window job itself). Without materialization each re-executes the whole
    // upstream subtree — at 100 TB that is three full passes over the
    // timeline. localCheckpoint(eager) runs the upstream ONCE, truncates
    // lineage, and keeps serving the returned frame; blocks are freed by the
    // ContextCleaner when the plan is GC'd. (persist alone would still need
    // an unpersist we can't schedule — the caller owns the result's lifetime.)
    val keyedBase = df
      .withColumn(k, key)
      .withColumn(rk, revKey.getOrElse(key))
      .withColumn(bk, bucketKey.getOrElse(key).cast("double"))
    val confFast = fastPathRows(df)
    // the cap only tightens an ENABLED gate: conf = 0 (PlanSnapshot's
    // scale-shape pin) still disables the fast path regardless of the cap
    val fast =
      if (confFast == 0L) 0L
      else fastRowsCap.fold(confFast)(math.min(_, confFast))
    // byte gate first (zero jobs), then the row gate (one checkpoint +
    // one cheap count over materialized blocks); below either threshold
    // the quantile job, the boundary-stats job, and the carry join are
    // pure overhead (a single chunk's prefix/suffix patches are identity)
    val tiny = (fast > 0 && knownRows.exists(_ <= fast)) ||
      statsTiny(keyedBase)
    // the knownRows checkpoint-skip only holds when the input is actually
    // materialized (checkpointBacked enforces the contract the scaladoc
    // states) — a hint over live lineage falls back to our own checkpoint
    val keyed =
      if (tiny || (knownRows.isDefined && checkpointBacked(keyedBase))) keyedBase
      else keyedBase.localCheckpoint(true)
    val n = numParts(df)
    // fast == 0 strictly disables the early-return shape: n <= 1 then
    // rides the full spine with one chunk and identity patches (same
    // values, the plan-fingerprint shape consumers pin — round-11 advisor)
    val singleChunk = tiny ||
      (fast > 0 && (n <= 1 || knownRows.getOrElse(keyed.count()) <= fast))
    val bounds: Array[Double] =
      if (singleChunk) Array.empty
      else keyed.stat.approxQuantile(bk, (1 until n).map(_.toDouble / n).toArray, 0.001)
    val bucket = chunkBucket(bk, bounds)
    // fast path: the constant bucket folds, the window's distribution
    // requirement inserts ONE SinglePartition exchange — repartitioning
    // first would just add a second (useless) exchange before it
    val ranged =
      if (singleChunk) keyed.withColumn(pid, bucket)
      else keyed
        .withColumn(pid, bucket)
        .repartition(math.max(n, 1), col(pid))
    // reverse = running over DESCENDING revKey: covers rows at or after the
    // current one in ascending revKey order; same pid partitioning => the
    // planner adds an in-partition sort, NOT another exchange
    val part = Window.partitionBy(col(pid))
    val local = ranged.withColumns(windowColumns(runnings, lags, reverses,
      Option.when(needFwdWindow)(lrn), part.orderBy(col(k)), part.orderBy(col(rk).desc)))

    // single-chunk fast path: every carry is null and the row offset is 0,
    // so patching is identity — return the local window result directly.
    // The constant chunk id folds, so this IS the one-task global window
    // (one SinglePartition exchange) — intentional below the threshold,
    // and PLANS.json pins plans with the fast path disabled so the scale
    // shape stays the watched one
    if (singleChunk) {
      val cleaned = local.drop(k, rk, bk, pid)
      return rnCol.fold(if (needFwdWindow) cleaned.drop(lrn) else cleaned)(rc =>
        cleaned.withColumnRenamed(lrn, rc))
    }

    // chunk boundary stats: one row per non-empty chunk. max_by with a
    // null-masked key = "value at the last position where in was non-null";
    // plain max_by(in, k) = value on the chunk's last ROW (for lag patching);
    // min_by with a null-masked revKey = "value at the chunk's FIRST non-null
    // position in reverse order" (for suffix carries).
    val aggs: Seq[Column] =
      runnings.map(r => max_by(r.in, when(r.in.isNotNull, col(k))).as(s"__last_${r.out}")) ++
        lags.map(l => max_by(l.in, col(k)).as(s"__tail_${l.out}")) ++
        reverses.map(r => min_by(r.in, when(r.in.isNotNull, col(rk))).as(s"__first_${r.out}")) :+
        count(lit(1)).as("__cnt")
    // stats run on `ranged` (pre-window) so Spark computes ONE extra shuffle
    // of chunk aggregates, not a second windowed pass
    val statsRows = ranged.groupBy(col(pid))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .sortBy(_.getInt(0))

    if (statsRows.isEmpty) {
      // empty input: emit the requested columns as nulls/zeros with the
      // schema the caller expects
      val cleaned = local.drop(k, rk, bk, pid)
      return rnCol.fold(if (needFwdWindow) cleaned.drop(lrn) else cleaned)(rc =>
        cleaned.withColumnRenamed(lrn, rc))
    }

    // driver prefix-combine (runnings/lags/row offsets) and suffix-combine
    // (reverses) over the tiny per-chunk table
    val spark = df.sparkSession
    val nStats = statsRows.length
    val revBase = 1 + runnings.size + lags.size
    val suffixCarry = Array.fill[Array[Any]](nStats)(null)
    val revCarry = Array.fill[Any](reverses.size)(null)
    (nStats - 1) to 0 by -1 foreach { i =>
      suffixCarry(i) = revCarry.clone()
      reverses.indices.foreach { j =>
        val v = statsRows(i).get(revBase + j)
        if (v != null) revCarry(j) = v
      }
    }
    val carryRows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val carryVals = Array.fill[Any](runnings.size)(null)
    val prevTail = Array.fill[Any](lags.size)(null)
    var offset = 0L
    statsRows.zipWithIndex.foreach { case (r, i) =>
      carryRows += Row.fromSeq(
        r.getInt(0).toLong +: (carryVals.toSeq ++ prevTail.toSeq ++
          suffixCarry(i).toSeq :+ offset))
      runnings.indices.foreach { j =>
        val v = r.get(1 + j)
        if (v != null) carryVals(j) = v
      }
      lags.indices.foreach { j => prevTail(j) = r.get(1 + runnings.size + j) }
      offset += r.getLong(revBase + reverses.size)
    }
    val carrySchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__c_pid", org.apache.spark.sql.types.LongType) +:
        ((runnings ++ lags.map(l => Running(l.out, l.in)) ++ reverses).map(r =>
          org.apache.spark.sql.types.StructField(
            s"__c_${r.out}", local.schema(r.out).dataType)) :+
          org.apache.spark.sql.types.StructField("__c_off", org.apache.spark.sql.types.LongType)))
    val carryDf = broadcast(
      spark.createDataFrame(spark.sparkContext.parallelize(carryRows.toSeq, 1), carrySchema))

    val joined = local.join(carryDf, col(pid).cast("long") === col("__c_pid"), "left")
    val patchedRunnings = (runnings ++ reverses).foldLeft(joined) { (acc, r) =>
      acc.withColumn(r.out, coalesce(col(r.out), col(s"__c_${r.out}")))
    }
    val patchedLags = lags.foldLeft(patchedRunnings) { (acc, l) =>
      // only the chunk's FIRST row lacks a local lag; a null local lag
      // elsewhere is a genuine null previous value and must stay null
      acc.withColumn(l.out,
        when(col(lrn) === 1, col(s"__c_${l.out}")).otherwise(col(l.out)))
    }
    val withRn = rnCol match {
      case Some(rc) => patchedLags.withColumn(rc, col(lrn) + col("__c_off"))
      case None => patchedLags
    }
    val helperLrn = if (needFwdWindow) Seq(lrn) else Nil
    withRn.drop((Seq(k, rk, bk, pid, "__c_pid", "__c_off") ++ helperLrn ++
      (runnings ++ lags.map(l => Running(l.out, l.in)) ++ reverses)
        .map(r => s"__c_${r.out}")): _*)
  }

  /** A bounded-frame aggregate request: `agg` is an un-applied aggregate
    * column (e.g. `sum(col("v"))`) evaluated over the trailing
    * `[-(window-1), 0]` ROWS frame in the global `key` ordering.
    */
  final case class Bounded(out: String, agg: Column)

  /** Bounded trailing ROWS frames over a SINGLE global series — the
    * companion to [[withRunning]] for `ROWS BETWEEN W-1 PRECEDING
    * AND CURRENT ROW` shapes (rolling means/sums/mins — the
    * [[Smooth]]-family frames, unkeyed).
    *
    * Ghost-overlap two-pass: rows chunk exactly as in
    * [[withRunning]] (deterministic quantile buckets); each chunk's
    * last `window−1` rows are REPLICATED into the next chunk as ghosts,
    * so every row's trailing frame is complete inside its own partition;
    * ghosts compute, then drop. Exact only when every chunk holds at
    * least `window−1` rows — with quantile-balanced chunks that is
    * chunkRows ≈ N/parts >> window, the 100 TB regime. When ANY chunk is
    * thinner (tiny inputs), falls back to the one-partition global window
    * — correct, and small enough that one task is fine.
    *
    * `key` must be a TOTAL order (include a tie-break term): ghosts from
    * the previous chunk must sort strictly before every native row.
    */
  def withGlobalBounded(
      df: DataFrame,
      key: Column,
      window: Int,
      aggs: Seq[Bounded],
      bucketKey: Option[Column] = None
  ): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(aggs.nonEmpty, "no bounded aggregates requested")
    val k = "__rb_k"
    val bk = "__rb_bk"
    val pid = "__rb_pid"
    val ghost = "__rb_ghost"
    // key may be any orderable column (e.g. a struct for compound
    // tie-broken orderings); bucketKey must then be a NUMERIC
    // non-decreasing function of it (ties in bucketKey never split chunks)
    val keyedBase = df
      .withColumn(k, key)
      .withColumn(bk, bucketKey.getOrElse(key).cast("double"))
    val fast = fastPathRows(df)
    // gates as in withRunning: byte gate (zero jobs) then row gate
    // (checkpoint + count); either skips the quantile AND chunk-count
    // jobs and goes straight to the single-task window — the same exact
    // path thin inputs already take
    val tiny = statsTiny(keyedBase)
    val keyed = if (tiny) keyedBase else keyedBase.localCheckpoint(true)
    val n = numParts(df)
    // as in withRunning: fast == 0 keeps n <= 1 on the spine route
    val singleChunk = tiny || (fast > 0 && (n <= 1 || keyed.count() <= fast))
    val bounds: Array[Double] =
      if (singleChunk) Array.empty
      else keyed.stat.approxQuantile(bk, (1 until n).map(_.toDouble / n).toArray, 0.001)
    val bucket = chunkBucket(bk, bounds)
    val ranged = keyed.withColumn(pid, bucket)
    val counts =
      if (singleChunk) Array.empty[Row]
      else ranged.groupBy(col(pid)).count().collect()
    // ghosts hand off exactly ONE chunk forward, so every chunk id must
    // exist (no empty middle bucket under key skew) and hold >= window-1
    // rows; anything else falls back to the exact single-task window
    val contiguous = counts.nonEmpty &&
      counts.map(_.getInt(0)).max == counts.length - 1
    val thin = !contiguous ||
      counts.exists(_.getLong(1) < (window - 1).toLong)

    val frame =
      if (singleChunk || thin || counts.length == 1) {
        // single-task global window: exact at any size, fine at THIS size
        val w = Window.partitionBy().orderBy(col(k))
          .rowsBetween(-(window - 1), 0)
        aggs.foldLeft(ranged.withColumn(ghost, lit(false))) { (acc, b) =>
          acc.withColumn(b.out, b.agg.over(w))
        }
      } else {
        val wDesc = Window.partitionBy(col(pid)).orderBy(col(k).desc)
        val tails = ranged
          .withColumn("__rb_rrn", row_number().over(wDesc))
          .filter(col("__rb_rrn") <= window - 1)
          .drop("__rb_rrn")
          .withColumn(pid, col(pid) + 1)
          .filter(col(pid) < counts.length) // last chunk's tail feeds nothing
          .withColumn(ghost, lit(true))
        val unioned = ranged
          .withColumn(ghost, lit(false))
          .unionByName(tails)
          .repartition(math.max(n, 1), col(pid))
        val w = Window.partitionBy(col(pid)).orderBy(col(k))
          .rowsBetween(-(window - 1), 0)
        aggs.foldLeft(unioned) { (acc, b) =>
          acc.withColumn(b.out, b.agg.over(w))
        }
      }
    frame.filter(!col(ghost)).drop(k, bk, pid, ghost)
  }
}
