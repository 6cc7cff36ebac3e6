package graft

import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Duration, Instant, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ts.{AsOf, Resample}

/** Differential parameter fuzzing against the DuckDB oracle.
  *
  * The 237 SparkEntry queries pin FIXED parameter points; every scale bug
  * class so far (fifteen and counting, SCALE.md) came from a SHAPE change
  * the fixed points didn't cover. This main generates seeded-random
  * parameter sets for the operator families whose semantics have sharp
  * boundaries — irregular resample bin edges (duplicate edges, edges
  * exactly ON event timestamps), as-of tolerances at exact tie boundaries
  * (grids built from event times shifted by exactly the tolerance ±1 µs),
  * skipna aggregation over arbitrary bucket widths (all-null groups), and
  * LSH band/row splits of the same signature — runs each case through the
  * Spark engine AND emits the equivalent DuckDB SQL, in the same
  * `outDir/<case>/` + `oracle_sql.json` layout graft.Verify uses, so
  * `SKIP_VERIFY=1 scripts/check.py <sf> <outDir>` adjudicates every case.
  *
  * Determinism: one Long seed drives every draw (`scala.util.Random`);
  * the same (seed, sfDir) always produces the same cases, so a red case
  * is replayable by name and minimizable into a permanent fixture.
  *
  * Usage: scripts/run.sh graft.Fuzz <sfDir> <outDir> [seed]
  *        SKIP_VERIFY=1 python3 scripts/check.py <sfDir> <outDir>
  */
object Fuzz {

  /** @param spine true when the case's plan rides the RangeSeries chunked
    *   spine (global as-of / unkeyed windows): those cases additionally run
    *   the DUAL-PATH diff — gates forced off (spine) vs forced on (one-task
    *   window) — and must agree bit-for-bit before the DuckDB gate even
    *   sees them (round-12: the two paths share no window code, so the
    *   diff is a free second oracle).
    */
  final case class FuzzCase(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      sql: String,
      spine: Boolean = false)

  private val UsFmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  /** UTC literal with full microseconds — both the Spark lit() and the
    * DuckDB literal must name the same instant at µs resolution. */
  private def tsLit(us: Long): String =
    UsFmt.format(Instant.ofEpochSecond(us / 1000000L,
      (us % 1000000L) * 1000L))

  private def tsOf(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  // ===== family I: one dual-path case per RangeSeries spine consumer =======

  /** Spine-consumer inventory (round 13). Every non-diagnostic source file
    * that calls a [[graft.ts.RangeSeries]] global entry point
    * (withRunning / withGlobalBounded) must register at least one
    * case here that drives its GLOBAL (unkeyed) path. FuzzSpec re-derives
    * the consumer file set from the source tree every test run and fails
    * when a new consumer ships without an entry — and runs every case
    * below through the gates-off vs gates-on dual-path diff, so each
    * consumer carries the free second oracle (the two paths share no
    * window code) in CI, not just in driver-side fuzz runs.
    *
    * Key format: `<path under src/main/scala>#<short label>`; multiple
    * entries per file cover distinct consumer functions (Fill has two
    * independent spine algebras: directional fill and interpolation).
    */
  val spineConsumerCases: Map[String, (SparkSession, String) => DataFrame] = {
    // one row per distinct ts (global timeline), 25%-null value channel —
    // engine-independent ordering, nulls exercise the anchor algebra
    def dedupTs(s: SparkSession, dir: String): DataFrame =
      Queries.table(s, dir, "events")
        .groupBy("ts")
        .agg(max(round(Queries.nulledValue * 100).cast("long")).as("v"))
    Map(
      "graft/ts/AsOf.scala#global-asof-backward-tol" -> ((s, dir) => {
        val ev = dedupTs(s, dir)
        val grid = ev.select(
          timestamp_micros(unix_micros(col("ts")) + 17000001L).as("grid_ts"))
        graft.ts.AsOf.join(grid, ev.select(col("ts"), col("v")), "grid_ts",
            "ts", Seq("v"), direction = graft.ts.AsOf.Direction.Backward,
            tolerance = Some(Duration.ofSeconds(60)))
          .select(col("grid_ts"), col("asof_v"), col("asof_ts"))
      }),
      "graft/ts/Fill.scala#global-ffill-limit" -> ((s, dir) =>
        graft.ts.Fill.ffill(dedupTs(s, dir), "ts", Seq("v"), Some(2), Nil)),
      "graft/ts/Fill.scala#global-interpolate-limit" -> ((s, dir) =>
        graft.ts.Fill.interpolateTime(
          dedupTs(s, dir), "ts", Seq("v"), Some(3), Nil)),
      "graft/ts/Resample.scala#global-resample-nearest" -> ((s, dir) =>
        graft.ts.Resample.resampleTimeSeries(
          dedupTs(s, dir).withColumn("tag", col("v").cast("string")), "ts", "1h",
          methodResample = Some("mean"))),
      "graft/ts/Continuity.scala#global-consecutive-diff" -> ((s, dir) =>
        graft.ts.Continuity.withDiff(dedupTs(s, dir), "ts", Nil)),
      "graft/ts/Downsample.scala#sax-global-rank" ->
        SparkEntry.queries("ts_sax_symbols"),
      "graft/sources/ZOrder.scala#zorder-global-rank" ->
        SparkEntry.queries("rel_zorder_layout"),
      "graft/Queries.scala#rrf-global-rank" ->
        SparkEntry.queries("doc_rrf_hybrid"),
      "graft/Queries.scala#global-rolling-bounded" ->
        SparkEntry.queries("ts_global_rolling"))
  }

  // ===== family A: irregular resample bin edges ============================

  /** Random edge vectors over the events table: mixes uniform-random
    * instants, exact EVENT timestamps (right-closed boundary hits), and
    * deliberate duplicate edges (degenerate empty bins — harmless to
    * [[Resample.bucketExpr]]'s strictly-below filter, and the oracle's
    * CASE chain over DISTINCT edges must agree). Value column is the
    * nulled cents channel, so skipna×method×all-null-bucket combinations
    * are all exercised.
    */
  private def resampleEdgeCases(
      rnd: scala.util.Random,
      eventUs: Array[Long],
      n: Int): Seq[FuzzCase] = {
    val lo = eventUs.min - 2L * 86400000000L
    val hi = eventUs.max + 2L * 86400000000L
    (0 until n).map { i =>
      val k = 2 + rnd.nextInt(5)
      var edges = Seq.fill(k) {
        if (rnd.nextDouble() < 0.4) eventUs(rnd.nextInt(eventUs.length))
        else lo + java.lang.Math.floorMod(rnd.nextLong(), hi - lo)
      }
      if (edges.distinct.size > 1 && rnd.nextDouble() < 0.3)
        edges = edges :+ edges(rnd.nextInt(edges.size)) // duplicate edge
      if (edges.distinct.size < 2)
        edges = edges :+ (edges.head + 3600000000L) // degenerate rescue
      val sortedDistinct = edges.distinct.sorted
      val (method, skipna, allNullZero) = (rnd.nextInt(5): @unchecked) match {
        case 0 => (Resample.Method.Mean, true, false)
        case 1 => (Resample.Method.Mean, false, false)
        case 2 => (Resample.Method.Sum, true, false)
        case 3 => (Resample.Method.Sum, false, false)
        case 4 => (Resample.Method.Sum, true, true)
      }
      val edgeSeq = edges.map(tsOf)
      val fn = (s: SparkSession, dir: String) => {
        val ev = Queries.table(s, dir, "events")
          .select(col("ts"),
            round(Queries.nulledValue * 100).cast("long").as("cents"))
        val out = Resample.resampleWithDates(ev, "ts", edgeSeq, method,
          skipna = skipna, sumAllNullZero = allNullZero)
        (if (method == Resample.Method.Sum && !allNullZero)
          out.select(col("ts").as("bucket"), col("cents").cast("long").as("v"))
        else
          out.select(col("ts").as("bucket"), col("cents").cast("double").as("v")))
          .orderBy("bucket")
      }
      val first = tsLit(sortedDistinct.head)
      val last = tsLit(sortedDistinct.last)
      val chain = sortedDistinct.sliding(2).collect { case Seq(a, b) =>
        s"WHEN ts <= TIMESTAMP '${tsLit(b)}' THEN TIMESTAMP '${tsLit(a)}'"
      }.mkString("\n    ")
      val aggSql = (method, skipna, allNullZero) match {
        case (Resample.Method.Mean, true, _) => "avg(x)"
        case (Resample.Method.Mean, false, _) =>
          "CASE WHEN count(CASE WHEN x IS NULL THEN 1 END) > 0 THEN NULL " +
            "ELSE avg(x) END"
        case (Resample.Method.Sum, true, false) => "CAST(sum(x) AS BIGINT)"
        case (Resample.Method.Sum, false, _) =>
          "CASE WHEN count(CASE WHEN x IS NULL THEN 1 END) > 0 THEN NULL " +
            "ELSE CAST(sum(x) AS BIGINT) END"
        case (Resample.Method.Sum, true, true) =>
          "CASE WHEN count(x) = 0 THEN 0.0 ELSE CAST(sum(x) AS DOUBLE) END"
        case other => sys.error(s"unreachable $other")
      }
      val sql =
        s"""WITH b AS (
           |  SELECT CASE
           |    WHEN ts < TIMESTAMP '$first' OR ts > TIMESTAMP '$last' THEN NULL
           |    $chain
           |    ELSE NULL END AS bucket,
           |    CAST(round(($$NULLED) * 100) AS BIGINT) AS x
           |  FROM events)
           |SELECT bucket, $aggSql AS v
           |FROM b WHERE bucket IS NOT NULL GROUP BY bucket ORDER BY bucket"""
          .stripMargin.replace("$NULLED", Queries.NulledSql)
      FuzzCase(f"fz_resample_$i%03d", fn, sql)
    }
  }

  // ===== family B: as-of tolerance at exact tie boundaries =================

  /** Probe grids built FROM event timestamps shifted by exactly the
    * tolerance (±1 µs): offset 0 lands the backward/forward gap exactly ON
    * the tolerance bound (the `<=` boundary both engines must share),
    * −1 µs sits just inside, +1 µs just outside. Nearest cases probe the
    * midpoint between consecutive events (the equidistant tie — the
    * earlier event must win in both engines).
    */
  private def asofToleranceCases(
      rnd: scala.util.Random,
      n: Int): Seq[FuzzCase] = {
    (0 until n).map { i =>
      val m = 7 + rnd.nextInt(13) // grid = ~1/m of events
      val r = rnd.nextInt(m)
      val kind = rnd.nextInt(3) // 0=backward 1=forward 2=nearest-midpoint
      if (kind < 2) {
        val tolSec = 1L + rnd.nextInt(7200)
        val off = rnd.nextInt(3) - 1 // -1, 0, +1 µs around the bound
        val sign = if (kind == 0) 1L else -1L // fwd: grid BEFORE the event
        val shift = sign * (tolSec * 1000000L + off)
        val dirName = if (kind == 0) "backward" else "forward"
        val fn = (s: SparkSession, dir: String) => {
          // the ATTACHED value rides the nulled channel (matched-row
          // semantics must return the matched row's null, not an older
          // row's value — scale finding #17); the grid filter stays on
          // the raw value so the probe set is unchanged
          val raw = Queries.table(s, dir, "events")
          val ev = raw.select(col("ts"), Queries.nulledValue.as("value"))
          val grid = raw
            .filter(pmod(floor(col("value")).cast("long"), lit(m)) === r)
            .select(timestamp_micros(unix_micros(col("ts")) + shift).as("grid_ts"))
            .distinct()
          AsOf.join(grid, ev, "grid_ts", "ts", Seq("value"),
              direction = if (kind == 0) AsOf.Direction.Backward
                          else AsOf.Direction.Forward,
              tolerance = Some(Duration.ofSeconds(tolSec)), prefix = "asof_")
            .select(col("grid_ts"), col("asof_value"),
              col("asof_ts").as("matched_ts"))
            .orderBy("grid_ts")
        }
        val cmp = if (kind == 0) "e.ts <= g.grid_ts" else "e.ts >= g.grid_ts"
        val dist = if (kind == 0) "epoch_us(g.grid_ts) - epoch_us(e.ts)"
                   else "epoch_us(e.ts) - epoch_us(g.grid_ts)"
        val ord = if (kind == 0) "e.ts DESC, e.value" else "e.ts ASC, e.value"
        val sql =
          s"""WITH g AS (
             |  SELECT DISTINCT make_timestamp(epoch_us(ts) + ($shift)) AS grid_ts
             |  FROM events
             |  WHERE ((CAST(floor(value) AS BIGINT) % $m) + $m) % $m = $r)
             |SELECT g.grid_ts,
             |  (SELECT ${Queries.NulledSql} FROM events e
             |   WHERE $cmp AND $dist <= ${tolSec * 1000000L}
             |   ORDER BY $ord LIMIT 1) AS asof_value,
             |  (SELECT e.ts FROM events e
             |   WHERE $cmp AND $dist <= ${tolSec * 1000000L}
             |   ORDER BY $ord LIMIT 1) AS matched_ts
             |FROM g ORDER BY grid_ts""".stripMargin
        FuzzCase(f"fz_asof_${dirName}_$i%03d", fn, sql, spine = true)
      } else {
        val off = rnd.nextInt(3) - 1 // probe ±1 µs around the midpoint
        val fn = (s: SparkSession, dir: String) => {
          // attached value on the nulled channel, grid filter on raw —
          // same rationale as the backward/forward cases (finding #17)
          val raw = Queries.table(s, dir, "events")
          val ev = raw.select(col("ts"), Queries.nulledValue.as("value"))
          val w = Window.orderBy(col("ts"))
          val grid = raw
            .withColumn("__nx", lead(col("ts"), 1).over(w))
            .filter(col("__nx").isNotNull &&
              pmod(floor(col("value")).cast("long"), lit(m)) === r)
            .select(timestamp_micros(
              expr("(unix_micros(ts) + unix_micros(__nx)) div 2") + off)
              .as("grid_ts"))
            .distinct()
          AsOf.join(grid, ev, "grid_ts", "ts", Seq("value"),
              direction = AsOf.Direction.Nearest, prefix = "asof_")
            .select(col("grid_ts"), col("asof_value"),
              col("asof_ts").as("matched_ts"))
            .orderBy("grid_ts")
        }
        val sql =
          s"""WITH ee AS (
             |  SELECT ts, value,
             |         lead(ts) OVER (ORDER BY ts) AS nx
             |  FROM events),
             |g AS (
             |  SELECT DISTINCT make_timestamp(
             |    (epoch_us(ts) + epoch_us(nx)) // 2 + ($off)) AS grid_ts
             |  FROM ee WHERE nx IS NOT NULL
             |    AND ((CAST(floor(value) AS BIGINT) % $m) + $m) % $m = $r),
             |b AS (
             |  SELECT g.grid_ts, e.ts AS bt, ${Queries.NulledSql} AS bv
             |  FROM g ASOF LEFT JOIN events e ON g.grid_ts >= e.ts),
             |f AS (
             |  SELECT g.grid_ts, e.ts AS ft, ${Queries.NulledSql} AS fv
             |  FROM g ASOF LEFT JOIN events e ON g.grid_ts <= e.ts)
             |SELECT b.grid_ts,
             |  CASE
             |    WHEN bt IS NULL THEN fv
             |    WHEN ft IS NULL THEN bv
             |    WHEN epoch_us(b.grid_ts) - epoch_us(bt)
             |         <= epoch_us(ft) - epoch_us(b.grid_ts) THEN bv
             |    ELSE fv END AS asof_value,
             |  CASE
             |    WHEN bt IS NULL THEN ft
             |    WHEN ft IS NULL THEN bt
             |    WHEN epoch_us(b.grid_ts) - epoch_us(bt)
             |         <= epoch_us(ft) - epoch_us(b.grid_ts) THEN bt
             |    ELSE ft END AS matched_ts
             |FROM b JOIN f ON b.grid_ts = f.grid_ts
             |ORDER BY b.grid_ts""".stripMargin
        FuzzCase(f"fz_asof_nearest_$i%03d", fn, sql, spine = true)
      }
    }
  }

  // ===== family C: skipna buckets at arbitrary widths ======================

  /** The skipna=False null-poisoning readout at a random bucket width —
    * the DuckDB twin pins the bucket origin to the epoch explicitly
    * (Spark's `window()` anchors at 1970-01-01; bare `time_bucket` only
    * agrees when the width divides the engines' origin gap). */
  private def skipnaWidthCases(
      rnd: scala.util.Random,
      n: Int): Seq[FuzzCase] = {
    (0 until n).map { i =>
      val w = 300L + rnd.nextInt(7 * 86400) // 5 min .. 7 days
      val fn = (s: SparkSession, dir: String) => {
        val ev = Queries.table(s, dir, "events").select(col("ts"),
          round(Queries.nulledValue * 100).cast("long").as("v"))
        ev.groupBy(window(col("ts"), s"$w seconds"))
          .agg(
            sum(col("v")).as("s"),
            count(col("v")).as("n"),
            count(when(col("v").isNull, lit(1))).as("n_nulls"))
          .select(col("window.start").as("bucket"),
            when(col("n_nulls") > 0, lit(null).cast("long"))
              .otherwise(col("s")).as("sum_noskip"),
            col("s").as("sum_skip"), col("n"), col("n_nulls"))
          .orderBy("bucket")
      }
      val sql =
        s"""WITH b AS (
           |  SELECT time_bucket(INTERVAL $w SECOND, ts,
           |           TIMESTAMP '1970-01-01 00:00:00') AS bucket,
           |         CAST(round(($$NULLED) * 100) AS BIGINT) AS x
           |  FROM events),
           |g AS (
           |  SELECT bucket, CAST(sum(x) AS BIGINT) AS s,
           |         CAST(count(x) AS BIGINT) AS n,
           |         CAST(count(CASE WHEN x IS NULL THEN 1 END) AS BIGINT)
           |           AS n_nulls
           |  FROM b GROUP BY 1)
           |SELECT bucket,
           |       CASE WHEN n_nulls > 0 THEN NULL ELSE s END AS sum_noskip,
           |       s AS sum_skip, n, n_nulls
           |FROM g ORDER BY bucket""".stripMargin
          .replace("$NULLED", Queries.NulledSql)
      FuzzCase(f"fz_skipna_$i%03d", fn, sql)
    }
  }

  // ===== family D: LSH band/row splits ======================================

  /** Every (bands, rowsPerBand) factorization of the 32-hash signature:
    * the banding recursion, the bucket cap, and the candidate join must
    * agree with the SQL replay at every split, not just the three the
    * fixed band-sweep query pins. */
  private def lshSplitCases(): Seq[FuzzCase] = {
    val splits = Seq((1, 32), (2, 16), (4, 8), (8, 4), (16, 2), (32, 1))
    splits.map { case (b, r) =>
      val fn = (s: SparkSession, dir: String) => {
        val docs = Queries.table(s, dir, "documents")
        graft.ops.Dedup.minhashCandidatePairs(docs, "doc_id", "text",
            bands = b, rowsPerBand = r,
            precomputedSigs = Some(Queries.docSignatures(s, dir)))
          .agg(count(lit(1)).as("n_candidates"))
          .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
            col("n_candidates"))
      }
      FuzzCase(s"fz_lsh_${b}x$r", fn,
        Queries.MinhashSql.bandSweepSql(Seq((b, r))))
    }
  }

  // ===== family E: spine gate boundaries ====================================

  /** The fast-path gates THEMSELVES, at their exact boundaries: a global
    * ffill/lag/bfill/row-number over the per-ts-deduplicated events table
    * (row count n known up front), run with `fastPathRows` at n−1 / n /
    * n+1 (the `<=` gate flips between the two middle cases) and with the
    * byte gate alone steering (rows gate off, bytes huge → one-task;
    * bytes=1 → spine). All share ONE oracle SQL — semantics must not
    * depend on which path planned the window — so the DuckDB gate pins
    * every setting to the same values.
    */
  private def spineBoundaryCases(nDistinctTs: Long): Seq[FuzzCase] = {
    import graft.ts.RangeSeries
    val settings: Seq[(String, Long, Long)] = Seq(
      ("rows_nm1", nDistinctTs - 1, 32L << 20), // count > gate → spine
      ("rows_n", nDistinctTs, 32L << 20),       // count <= gate → one-task
      ("rows_np1", nDistinctTs + 1, 32L << 20),
      ("rows_off_bytes_off", 0L, 0L),           // both gates off → spine
      ("rows_off_bytes_tiny", 0L, 1L),          // estimate > 1 → spine
      ("rows_off_bytes_huge", 0L, 1L << 40),    // byte gate fires → one-task
      ("rows_tiny_bytes_huge", 1L, 1L << 40),   // byte gate alone steers
      ("rows_huge_bytes_off", 1L << 40, 0L))    // row gate fires → one-task
    settings.map { case (tag, gr, gb) =>
      val fn = (s: SparkSession, dir: String) => {
        val ev = Queries.table(s, dir, "events")
          .select(col("ts"),
            round(Queries.nulledValue * 100).cast("long").as("c"))
          .groupBy("ts").agg(max(col("c")).as("v"))
        // RangeSeries reads the gate confs at CONSTRUCTION time, so setting
        // them around the builder (not the action) is sufficient
        s.conf.set("graft.rangeSeries.fastPathRows", gr.toString)
        s.conf.set("graft.rangeSeries.fastPathBytes", gb.toString)
        try RangeSeries.withRunning(ev, col("ts"),
            runnings = Seq(RangeSeries.Running("ff", col("v"))),
            lags = Seq(RangeSeries.Lagged("lg", col("v"))),
            reverses = Seq(RangeSeries.Running("bf", col("v"))),
            rnCol = Some("rn"))
          .withColumn("rn", col("rn").cast("long"))
          .orderBy("ts")
        finally {
          s.conf.unset("graft.rangeSeries.fastPathRows")
          s.conf.unset("graft.rangeSeries.fastPathBytes")
        }
      }
      val sql =
        s"""WITH b AS (
           |  SELECT ts, max(CAST(round(($$NULLED) * 100) AS BIGINT)) AS v
           |  FROM events GROUP BY ts)
           |SELECT ts, v,
           |  last_value(v IGNORE NULLS) OVER (ORDER BY ts
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff,
           |  lag(v) OVER (ORDER BY ts) AS lg,
           |  first_value(v IGNORE NULLS) OVER (ORDER BY ts
           |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bf,
           |  CAST(row_number() OVER (ORDER BY ts) AS BIGINT) AS rn
           |FROM b ORDER BY ts""".stripMargin
          .replace("$NULLED", Queries.NulledSql)
      FuzzCase(s"fz_gate_$tag", fn, sql)
    }
  }

  // ===== family F: fill consecutive-limit boundaries =======================

  /** ffill/bfill with a small `limit` over the nulled channel: the limit
    * cut lands exactly at real null-run lengths in the data (runs of 1-4
    * occur naturally in the 25%-null channel), so `rn - anchor <= n` is
    * exercised ON its boundary, in both directions, keyed and global.
    * Global cases ride [[graft.ts.Fill]]'s RangeSeries path (TWO spine
    * passes when limited) → spine dual-path diffed. Input is deduped to
    * one row per (key, ts) so row_number ordering is engine-independent.
    */
  private def fillLimitCases(
      rnd: scala.util.Random,
      n: Int): Seq[FuzzCase] = {
    (0 until n).map { i =>
      val forward = rnd.nextBoolean()
      val lim = 1 + rnd.nextInt(4)
      val global = i % 2 == 1
      val dirName = if (forward) "ffill" else "bfill"
      val fn = (s: SparkSession, dir: String) => {
        val keys = if (global) Nil else Seq("user_id")
        val ev = Queries.table(s, dir, "events")
          .select((keys.map(col) :+ col("ts") :+
            round(Queries.nulledValue * 100).cast("long").as("c")): _*)
          .groupBy((keys :+ "ts").map(col): _*).agg(max(col("c")).as("v"))
        val filled =
          if (forward) graft.ts.Fill.ffill(ev, "ts", Seq("v"), Some(lim), keys)
          else graft.ts.Fill.bfill(ev, "ts", Seq("v"), Some(lim), keys)
        filled.select((keys.map(col) :+ col("ts") :+ col("v").as("filled")): _*)
          .orderBy((keys :+ "ts").map(col): _*)
      }
      val part = if (global) "" else "PARTITION BY user_id "
      val keySel = if (global) "" else "user_id, "
      val keyGrp = if (global) "GROUP BY 1" else "GROUP BY 1, 2"
      val ord = if (forward) "ASC" else "DESC"
      val outOrd = if (global) "ts" else "user_id, ts"
      val sql =
        s"""WITH base AS (
           |  SELECT ${keySel}ts,
           |         max(CAST(round(($$NULLED) * 100) AS BIGINT)) AS v
           |  FROM events $keyGrp),
           |w1 AS (
           |  SELECT ${keySel}ts, v,
           |         row_number() OVER (${part}ORDER BY ts $ord) AS rn
           |  FROM base),
           |w2 AS (
           |  SELECT ${keySel}ts, v, rn,
           |         max(CASE WHEN v IS NOT NULL THEN rn END) OVER (
           |           ${part}ORDER BY rn
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS anchor,
           |         last_value(v IGNORE NULLS) OVER (
           |           ${part}ORDER BY rn
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fillv
           |  FROM w1)
           |SELECT ${keySel}ts,
           |       CASE WHEN v IS NOT NULL THEN v
           |            WHEN anchor IS NOT NULL AND rn - anchor <= $lim THEN fillv
           |            ELSE v END AS filled
           |FROM w2 ORDER BY $outOrd""".stripMargin
          .replace("$NULLED", Queries.NulledSql)
      FuzzCase(f"fz_fill_${dirName}_l${lim}_$i%03d", fn, sql, spine = global)
    }
  }

  // ===== family G: gap thresholds at observed-diff boundaries ==============

  /** [[graft.ts.Continuity.gapsDf]] with (expected, minGap) drawn so the
    * strict `diff_us > thresholdUs` cut lands AT real consecutive diffs
    * (threshold = floor/ceil of an observed global diff — when the diff is
    * a whole-second multiple the floor case is an exact tie the `>` must
    * exclude), plus random keyed draws for the expected_points flooring.
    * Global cases ride the RangeSeries lag spine → dual-path diffed.
    */
  private def gapThresholdCases(
      rnd: scala.util.Random,
      eventUs: Array[Long],
      n: Int): Seq[FuzzCase] = {
    val diffs = eventUs.sorted.sliding(2)
      .collect { case Array(a, b) if b > a => b - a }.toArray
    (0 until n).map { i =>
      val global = i % 2 == 0
      val totalSec =
        if (global && diffs.nonEmpty) {
          val d = diffs(rnd.nextInt(diffs.length))
          math.max(1L, if (rnd.nextBoolean()) d / 1000000L
                       else (d + 999999L) / 1000000L)
        } else 1L + rnd.nextInt(7200)
      val expSec = 1L + (if (totalSec > 1) java.lang.Math.floorMod(
        rnd.nextLong(), totalSec) else 0L)
      val minSec = totalSec - expSec
      val fn = (s: SparkSession, dir: String) => {
        val keys = if (global) Nil else Seq("user_id")
        val ev = Queries.table(s, dir, "events")
          .select((keys.map(col) :+ col("ts")): _*)
        graft.ts.Continuity.gapsDf(ev, "ts",
            expected = java.time.Duration.ofSeconds(expSec),
            minGap = java.time.Duration.ofSeconds(minSec),
            seriesCols = keys)
          .orderBy((keys :+ "gap_start").map(col): _*)
      }
      val part = if (global) "" else "PARTITION BY user_id "
      val keySel = if (global) "" else "user_id, "
      val outOrd = if (global) "gap_start" else "user_id, gap_start"
      val expUs = expSec * 1000000L
      val thrUs = totalSec * 1000000L
      val sql =
        s"""WITH d AS (
           |  SELECT ${keySel}ts,
           |         lag(ts) OVER (${part}ORDER BY ts) AS prev_ts
           |  FROM events)
           |SELECT ${keySel}prev_ts AS gap_start, ts AS gap_end,
           |       epoch_us(ts) - epoch_us(prev_ts) AS duration_us,
           |       CAST(floor((epoch_us(ts) - epoch_us(prev_ts)) / $expUs.0) - 1
           |         AS BIGINT) AS expected_points
           |FROM d
           |WHERE epoch_us(ts) - epoch_us(prev_ts) > $thrUs
           |ORDER BY $outOrd""".stripMargin
      FuzzCase(f"fz_gap_e${expSec}_m${minSec}_$i%03d", fn, sql,
        spine = global)
    }
  }

  // ===== family H: interpolation consecutive-limit =========================

  /** Time-weighted interpolation with `limit` — the fixed query pins only
    * limit=None. The limit branch shares the anchor algebra with family F
    * but gates an INTERPOLATED value (and the trailing-null carry), so the
    * leading/interior/trailing × within/beyond-limit matrix is its own
    * boundary set. Global cases ride THREE spine passes (rn, back, fwd).
    */
  private def interpolateLimitCases(
      rnd: scala.util.Random,
      n: Int): Seq[FuzzCase] = {
    (0 until n).map { i =>
      val lim = 1 + rnd.nextInt(3)
      val global = i % 2 == 1
      val fn = (s: SparkSession, dir: String) => {
        val keys = if (global) Nil else Seq("user_id")
        val ev = Queries.table(s, dir, "events")
          .select((keys.map(col) :+ col("ts") :+
            round(Queries.nulledValue * 100).cast("long").as("c")): _*)
          .groupBy((keys :+ "ts").map(col): _*).agg(max(col("c")).as("v"))
        graft.ts.Fill.interpolateTime(ev, "ts", Seq("v"), Some(lim), keys)
          .select((keys.map(col) :+ col("ts") :+
            round(col("v"), 4).as("interp")): _*)
          .orderBy((keys :+ "ts").map(col): _*)
      }
      val part = if (global) "" else "PARTITION BY user_id "
      val keySel = if (global) "" else "user_id, "
      val keyGrp = if (global) "GROUP BY 1" else "GROUP BY 1, 2"
      val outOrd = if (global) "ts" else "user_id, ts"
      val sql =
        s"""WITH base AS (
           |  SELECT ${keySel}ts, epoch_us(ts) / 1e6 AS tt,
           |         max(CAST(round(($$NULLED) * 100) AS BIGINT)) AS v
           |  FROM events $keyGrp),
           |w1 AS (
           |  SELECT ${keySel}ts, tt, v,
           |         row_number() OVER (${part}ORDER BY ts) AS rn
           |  FROM base),
           |w AS (
           |  SELECT ${keySel}ts, v, tt, rn,
           |         last_value(v IGNORE NULLS) OVER wb AS pv,
           |         last_value(CASE WHEN v IS NOT NULL THEN tt END IGNORE NULLS)
           |           OVER wb AS pt,
           |         first_value(v IGNORE NULLS) OVER wf AS nv,
           |         first_value(CASE WHEN v IS NOT NULL THEN tt END IGNORE NULLS)
           |           OVER wf AS nt,
           |         max(CASE WHEN v IS NOT NULL THEN rn END) OVER wb AS anchor
           |  FROM w1
           |  WINDOW wb AS (${part}ORDER BY ts
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           |         wf AS (${part}ORDER BY ts
           |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
           |SELECT ${keySel}ts,
           |       round(CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
           |                  WHEN anchor IS NOT NULL AND rn - anchor <= $lim THEN
           |                    CASE WHEN pv IS NULL THEN NULL
           |                         WHEN nv IS NULL THEN pv
           |                         ELSE pv + (nv - pv) * (tt - pt) / (nt - pt) END
           |                  ELSE NULL END, 4) + 0 AS interp
           |FROM w ORDER BY $outOrd""".stripMargin
          .replace("$NULLED", Queries.NulledSql)
      FuzzCase(f"fz_interp_l${lim}_$i%03d", fn, sql, spine = global)
    }
  }

  def cases(spark: SparkSession, sfDir: String, seed: Long): Seq[FuzzCase] = {
    val rnd = new scala.util.Random(seed)
    val eventUs = Queries.table(spark, sfDir, "events")
      .select(unix_micros(col("ts"))).orderBy(col("ts"))
      .collect().map(_.getLong(0))
    resampleEdgeCases(rnd, eventUs, 56) ++
      asofToleranceCases(rnd, 50) ++
      skipnaWidthCases(rnd, 32) ++
      lshSplitCases() ++
      spineBoundaryCases(eventUs.distinct.length.toLong) ++
      fillLimitCases(rnd, 14) ++
      gapThresholdCases(rnd, eventUs, 12) ++
      interpolateLimitCases(rnd, 8)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val seed = if (args.length > 2) args(2).toLong else 20260816L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.unionOutputPartitioning", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val cs = cases(spark, sfDir, seed)
    System.err.println(s"[fuzz] seed=$seed cases=${cs.size}")
    var failed = 0
    // spine dual-path: build the case's plan under gates-off (chunked
    // spine) and gates-on (one-task window) and require bit-identical
    // rows BEFORE the DuckDB gate — the two paths share no window code,
    // so this is an independent engine-vs-engine oracle on every draw
    def dualPathDiff(c: FuzzCase): Unit = {
      def runWith(rows: String, bytes: String): Seq[String] = {
        spark.conf.set("graft.rangeSeries.fastPathRows", rows)
        spark.conf.set("graft.rangeSeries.fastPathBytes", bytes)
        try c.fn(spark, sfDir).collect().map(_.toString).sorted.toSeq
        finally {
          spark.conf.unset("graft.rangeSeries.fastPathRows")
          spark.conf.unset("graft.rangeSeries.fastPathBytes")
        }
      }
      val spinePath = runWith("0", "0")
      val fastPath = runWith((1L << 40).toString, (1L << 40).toString)
      if (spinePath != fastPath) {
        val d = spinePath.zip(fastPath).find { case (a, b) => a != b }
        sys.error(s"spine/fast dual-path mismatch " +
          s"(${spinePath.size} vs ${fastPath.size} rows; first diff: $d)")
      }
    }
    cs.foreach { c =>
      val t0 = System.nanoTime()
      try {
        if (c.spine) dualPathDiff(c)
        c.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${c.name}")
        System.err.println(
          f"[fuzz] ${c.name} ok in ${(System.nanoTime() - t0) / 1e9}%.1fs" +
            (if (c.spine) " (dual-path green)" else ""))
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[fuzz] ${c.name} FAILED: ${e.getMessage}")
      }
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = cs.map(c => s"${q(c.name)}: ${q(Queries.duckRound(c.sql))}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
