package graft.ops

import java.time.Duration

import graft.core.Offsets
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral analytics over event streams: funnel conversion and cohort
  * retention — the two queries a product-analytics consumer of the
  * reference loader's event frames runs first (ClickHouse `windowFunnel` /
  * Amplitude-style cohorts).
  */
object Behavior {

  /** Earliest-chain funnel: per series, walk `steps` in order taking the
    * EARLIEST event of step i that is strictly later than the chosen
    * event of step i−1; the funnel level is the deepest step whose chain
    * event falls within `window` of the step-1 event.
    *
    * Semantics note: this is the deterministic earliest-chain variant (the
    * chain is unique given the data). ClickHouse's `windowFunnel` searches
    * ALL chains; the earliest chain is the common analytics default and
    * makes every timestamp in the output an exact, oracle-checkable value.
    *
    * Scale shape: `steps.size` window passes over ONE
    * partitionBy(series) exchange (each pass references the previous
    * column, same partitioning), then a per-series dedup that rides the
    * same hash partitioning. State per series is `steps.size` timestamps.
    *
    * Output: (seriesCol, t_1..t_k, level) — one row per series present.
    */
  def windowFunnel(
      df: DataFrame,
      seriesCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String],
      window: Duration
  ): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    val w = Window.partitionBy(col(seriesCol))
    val withTs = steps.zipWithIndex.foldLeft(df) { case (d, (step, i)) =>
      val cond =
        if (i == 0) col(typeCol) === step
        else col(typeCol) === step && col(tsCol) > col(s"t_$i")
      d.withColumn(s"t_${i + 1}", min(when(cond, col(tsCol))).over(w))
    }
    val wMicros = Offsets.toMicros(window)
    // forward fold so the DEEPEST satisfied step ends outermost in the
    // CASE chain (level = max qualifying step, not min)
    val level = steps.indices.foldLeft(lit(0)) { (acc, i) =>
      when(col(s"t_${i + 1}").isNotNull &&
        unix_micros(col(s"t_${i + 1}")) - unix_micros(col("t_1")) <= wMicros,
        lit(i + 1)).otherwise(acc)
    }
    withTs
      .select((col(seriesCol) +: steps.indices.map(i => col(s"t_${i + 1}")) :+
        level.as("level")): _*)
      .dropDuplicates(seriesCol)
  }

  /** Funnel drop-off readout over a [[windowFunnel]] result: one row per
    * level 0..nSteps with the user count AT that level, the survivor count
    * (users who reached at least it — the funnel bar chart), and the
    * step conversion `survivors(L)·10⁶ div survivors(L−1)` in exact
    * integer ppm. Absent levels surface as explicit zero rows.
    *
    * Scale shape: one count-by-level aggregate (map-side combined), then
    * window algebra over the (nSteps+1)-row level table — the global
    * windows run over the bounded level axis, never the users.
    */
  def funnelDropoff(funnel: DataFrame, nSteps: Int): DataFrame = {
    require(nSteps >= 1, s"nSteps must be >= 1, got $nSteps")
    val byLevel = funnel.groupBy(col("level").cast("long").as("level"))
      .agg(count(lit(1)).as("n_users"))
    val levels = funnel.sparkSession.range(0, nSteps + 1).toDF("level")
    val full = levels.join(byLevel, Seq("level"), "left")
      .withColumn("n_users", coalesce(col("n_users"), lit(0L)))
    val wDesc = Window.orderBy(col("level").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    full
      .withColumn("survivors", sum(col("n_users")).over(wDesc))
      .withColumn("conv_ppm", expr(
        """CASE WHEN level >= 1 AND lag(survivors) OVER (ORDER BY level) > 0
          |THEN survivors * 1000000 DIV lag(survivors) OVER (ORDER BY level)
          |END""".stripMargin))
      .orderBy("level")
  }

  /** Cohort retention: bucket time with `bucketOf` (an integral bucket
    * index — month number, week number…), cohort each series by its FIRST
    * active bucket, and report how many series from each cohort are active
    * `k` buckets later, plus retention in ppm of the cohort's size.
    *
    * Scale shape: activity dedups to (series, bucket) with map-side
    * combine; the cohort (one row per series) joins back on the series
    * hash; the final frame is #cohorts × #offsets rows, and the cohort-
    * size window runs over that aggregate, not the data. Retention ppm is
    * exact integer arithmetic.
    *
    * Output: (cohort, k, n_active, retention_ppm).
    */
  def cohortRetention(
      df: DataFrame,
      seriesCol: String,
      bucketOf: org.apache.spark.sql.Column
  ): DataFrame = {
    val active = df
      .select(col(seriesCol).as("__s"), bucketOf.cast("long").as("__b"))
      .distinct()
    val cohort = active.groupBy(col("__s")).agg(min(col("__b")).as("cohort"))
    val byOffset = active
      .join(cohort, Seq("__s"))
      .groupBy(col("cohort"), (col("__b") - col("cohort")).as("k"))
      .agg(count(lit(1)).as("n_active"))
    val wc = Window.partitionBy(col("cohort"))
    byOffset
      .withColumn("__size", max(when(col("k") === 0, col("n_active"))).over(wc))
      .withColumn("retention_ppm",
        expr("n_active * 1000000 div __size"))
      .drop("__size")
  }

  /** Last-touch attribution: each conversion event is credited to the most
    * recent STRICTLY-PRIOR event of a channel type on the same series
    * (`rowsBetween(unboundedPreceding, -1)` + `last(..., ignoreNulls)`);
    * conversions with no prior channel touch fall to `direct`. Returns
    * (channel, conversions, revenue) aggregated over credited conversions.
    *
    * `orderCols` must totally order each series (include a unique
    * tiebreaker) or credit assignment is nondeterministic. Exactness: pass
    * an integral `valueCol` (e.g. cents) — counts and integer sums only.
    *
    * Scale shape: one keyed exchange for the window, then a channel-
    * cardinality groupBy with map-side combine — the same single-shuffle
    * spine as every smoother; nothing row-scaled crosses the driver.
    */
  def lastTouchAttribution(
      df: DataFrame,
      seriesCol: String,
      orderCols: Seq[String],
      typeCol: String,
      valueCol: org.apache.spark.sql.Column,
      conversionType: String,
      channelTypes: Seq[String]
  ): DataFrame = {
    require(channelTypes.nonEmpty, "channelTypes must be non-empty")
    val w = Window.partitionBy(col(seriesCol)).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__v", valueCol)
      .withColumn("__ch",
        last(when(col(typeCol).isin(channelTypes: _*), col(typeCol)),
          ignoreNulls = true).over(w))
      .filter(col(typeCol) === conversionType)
      .groupBy(coalesce(col("__ch"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("conversions"), sum(col("__v")).as("revenue"))
  }

  /** Windowed funnel (the ClickHouse `windowFunnel` semantics): the
    * deepest step k such that SOME ordered chain step1 < … < stepk of the
    * given event types completes within `windowMicros` of its own step-1
    * event — the time-bounded funnel (the plain level funnel counts a
    * signup a month after the click; this one doesn't).
    *
    * Greedy fold, exact: per series carry `chain(i)` = the LATEST step-1
    * timestamp that has reached level i+1 (latest maximizes remaining
    * window slack, so greedy is optimal); an event of step i+1 extends
    * level i's chain when `t − chain(i) ≤ window`. All comparisons are
    * int64 epoch micros; every transition replays as a left fold.
    *
    * Output: one row per level `(level, n_reached)` — users whose deepest
    * completed-in-window chain is ≥ level.
    *
    * Scale shape: ONE keyed exchange (groupBy collect_list) + an O(n)
    * in-row fold with |steps| longs of state; the level rollup aggregates
    * a |steps|-sized frame.
    */
  def windowFunnel(
      df: DataFrame,
      seriesCol: String,
      orderCols: Seq[String],
      typeCol: String,
      steps: Seq[String],
      windowMicros: Long,
      tsCol: String
  ): DataFrame = {
    require(steps.size >= 2 && steps.size <= 8, "2..8 funnel steps")
    require(windowMicros > 0)
    val k = steps.size
    val packed = struct(orderCols.map(col) :+
      unix_micros(col(tsCol)).as("__t") :+ col(typeCol).as("__ty"): _*)
    def st(i: Int) = s"element_at(st, ${i + 1})"
    val newVals = (0 until k).map { i =>
      if (i == 0)
        s"CASE WHEN e.__ty = '${steps(0)}' THEN greatest(${st(0)}, e.__t) " +
          s"ELSE ${st(0)} END"
      else
        s"""CASE WHEN e.__ty = '${steps(i)}' AND ${st(i - 1)} >= 0L
           |  AND e.__t - ${st(i - 1)} <= ${windowMicros}L
           |THEN greatest(${st(i)}, ${st(i - 1)}) ELSE ${st(i)} END"""
          .stripMargin.replace("\n", " ")
    }
    val fold =
      s"""aggregate(__s,
         |  array(${Seq.fill(k)("-1L").mkString(", ")}),
         |  (st, e) -> array(${newVals.mkString(",\n    ")}))""".stripMargin
    val perSeries = df.groupBy(col(seriesCol))
      .agg(array_sort(collect_list(packed)).as("__s"))
      .withColumn("__st", expr(fold))
      .withColumn("max_level", expr(
        (1 to k).map(i => s"CASE WHEN element_at(__st, $i) >= 0L " +
          s"THEN $i ELSE 0 END").mkString("greatest(", ", ", ")")))
    val levels = (1 to k).map(l =>
      perSeries.select(lit(l).as("level"),
        when(col("max_level") >= l, 1L).otherwise(0L).as("__r")))
      .reduce(_ unionAll _)
    levels.groupBy("level").agg(sum(col("__r")).as("n_reached"))
  }

  /** Linear (equal-credit) multi-touch attribution — [[lastTouchAttribution]]'s
    * fair-split sibling: a conversion's integer value divides evenly over
    * ALL strictly-prior channel touches (`base = v div n` each), with the
    * division remainder going to the FIRST touch (a deterministic home for
    * the leftover cents — credits per conversion always sum exactly to v).
    * Conversions with no prior touch credit `direct` in full.
    *
    * Exactness: per-channel running counts and the first-touch pick ride
    * the same strictly-prior frame; every credit is pure int64.
    *
    * Scale shape: one keyed window exchange (running counts for each of
    * the |channels| types + first_value share the frame), then a
    * channel-cardinality aggregate — the lastTouch spine with a bounded
    * per-channel fan-out in the projection, not in the data.
    */
  def linearAttribution(
      df: DataFrame,
      seriesCol: String,
      orderCols: Seq[String],
      typeCol: String,
      valueCol: org.apache.spark.sql.Column,
      conversionType: String,
      channelTypes: Seq[String]
  ): DataFrame = {
    require(channelTypes.nonEmpty, "channelTypes must be non-empty")
    val w = Window.partitionBy(col(seriesCol)).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val withCounts = channelTypes.foldLeft(df.withColumn("__v", valueCol)) {
      (acc, ch) =>
        // coalesce: a sum over an EMPTY strictly-prior frame is null, and
        // the first conversion of every series has exactly that frame
        acc.withColumn(s"__c_$ch",
          coalesce(sum(when(col(typeCol) === ch, 1L).otherwise(0L)).over(w),
            lit(0L)))
    }
    val conv = withCounts
      .withColumn("__first",
        first(when(col(typeCol).isin(channelTypes: _*), col(typeCol)),
          ignoreNulls = true).over(w))
      .filter(col(typeCol) === conversionType)
      .withColumn("__n",
        channelTypes.map(ch => col(s"__c_$ch")).reduce(_ + _))
      .withColumn("__base", expr("CASE WHEN __n > 0 THEN __v div __n ELSE 0 END"))
      .withColumn("__rem",
        when(col("__n") > 0, col("__v") - col("__n") * col("__base"))
          .otherwise(lit(0L)))
    val perChannel = channelTypes.map { ch =>
      conv.select(lit(ch).as("channel"),
        (col("__base") * col(s"__c_$ch") +
          when(col("__first") === ch, col("__rem")).otherwise(lit(0L)))
          .as("__credit"),
        when(col(s"__c_$ch") > 0, 1L).otherwise(0L).as("__touched"))
    }.reduce(_ unionAll _)
    val direct = conv.filter(col("__n") === 0)
      .select(lit("direct").as("channel"), col("__v").as("__credit"),
        lit(1L).as("__touched"))
    perChannel.unionAll(direct)
      .groupBy("channel")
      .agg(sum(col("__touched")).as("conversions_touched"),
        sum(col("__credit")).as("revenue_cents"))
  }

  /** Welch's unequal-variance t-test between two groups of an integral
    * measure: one map-side-combined pass accumulates exact int64
    * (n, Σx, Σx²) per group, then mean / sample variance / t / the
    * Welch–Satterthwaite df are a fixed IEEE op sequence over those six
    * integers — reproducible to the bit on any engine (the
    * `rollingAutocorrExact` convention, two-sample edition). Returns one
    * row: (n_a, n_b, mean_a, mean_b, t_stat, df_welch), t/df null when
    * either group is degenerate (n < 2 or zero variance in both).
    *
    * Headroom: the exact int64 accumulators need Σx² < 2^63 (ANSI throws
    * loudly past it — ~9e10 cents-scaled rows per arm); past the
    * accumulators the variance numerator is exact DECIMAL(38,0) with no
    * overflow or cancellation cliff at any int64-expressible size (see
    * [[WelchVarA]] for the two earlier cliffs this form retires).
    */
  def welchTTest(
      df: DataFrame,
      groupCol: String,
      groupA: String,
      groupB: String,
      valueCol: org.apache.spark.sql.Column
  ): DataFrame = {
    val x = valueCol.cast("long")
    def side(g: String, sfx: String) = {
      val m = col(groupCol) === g
      Seq(
        sum(when(m, 1L).otherwise(0L)).as(s"n_$sfx"),
        sum(when(m, x).otherwise(0L)).as(s"s_$sfx"),
        sum(when(m, x * x).otherwise(0L)).as(s"ss_$sfx"))
    }
    val aggs = side(groupA, "a") ++ side(groupB, "b")
    df.filter(col(groupCol).isin(groupA, groupB))
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        "n_a", "n_b",
        // CASE-guarded so an empty group yields null instead of an ANSI
        // divide-by-zero (live streaming readouts see one-sided prefixes)
        "CASE WHEN n_a > 0 THEN CAST(s_a AS DOUBLE) / n_a END AS mean_a",
        "CASE WHEN n_b > 0 THEN CAST(s_b AS DOUBLE) / n_b END AS mean_b",
        // sample variances as named intermediates would re-order ops across
        // engines; inline the SAME text the oracle uses instead
        WelchT, WelchDf)
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between two groups of an integral
    * measure — the rank-based A/B readout that ignores the outliers
    * [[welchTTest]] is sensitive to. Returns one row:
    * (n_a, n_b, u2_a, tie_term, u_a, z) where u2_a = 2·U_A.
    *
    * Exactness: ranks never materialize per row. Grouping by DISTINCT
    * value gives per-value counts (ca, cb); with P = items before value v
    * and t = ca + cb tied at v, every element of the block has average
    * rank P + (t+1)/2, so 2·rank is the integer 2P + t + 1 and
    * 2·R_A = Σ ca·(2P + t + 1) is an exact DECIMAL(38,0) — as are the tie
    * correction Σ(t³ − t) and 2·U_A = 2·R_A − n_a(n_a+1). u2_a/tie_term
    * surface as DOUBLE (bit-exact below 2^53, identically rounded both
    * engines below 2^117); z is one fixed IEEE op sequence shared verbatim
    * with the oracle. Headroom: no 2^63 cliff anywhere (the round-9 int64
    * form overflowed at ~3e9 rows, or ~2.1e6 rows TIED ON ONE VALUE via
    * the t³ term); the only loud bounds left are ≥1e12 rows tied on one
    * value (DECIMAL(12,0) cast) and Σ ranks past 10^38 (~10^18 rows).
    *
    * Scale shape: one map-side-combined groupBy(value); the running-count
    * window runs over the DISTINCT-VALUE table (the repo's vocab-bounded
    * global-window exception — cardinality is the measure's resolution,
    * not the row count), then a scalar aggregate.
    */
  def mannWhitneyU(
      df: DataFrame,
      groupCol: String,
      groupA: String,
      groupB: String,
      valueCol: org.apache.spark.sql.Column
  ): DataFrame = {
    val x = valueCol.cast("long")
    val byVal = df.filter(col(groupCol).isin(groupA, groupB))
      .groupBy(x.as("__v"))
      .agg(
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("__cb"))
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byVal
      .withColumn("__p", coalesce(sum(col("__ca") + col("__cb")).over(w), lit(0L)))
      .agg(
        sum(col("__ca")).as("n_a"),
        sum(col("__cb")).as("n_b"),
        // 2·R_A terms as DECIMAL(19,0)×DECIMAL(19,0) → exact DECIMAL(38,0)
        // (the int64 form hit 2^63 at ~3e9 total rows); 2·p+t+1 itself is
        // int64-safe to 4.6e18 rows
        sum(expr("CAST(__ca AS DECIMAL(19,0)) " +
          "* CAST(2 * __p + __ca + __cb + 1 AS DECIMAL(19,0))")).as("__r2a"),
        // tie term Σ(t³−t): t³ as three DECIMAL(12,0) factors (DuckDB
        // binds decimal multiply only at width₁+width₂ ≤ 38, so 12·3=36);
        // the int64 form overflowed at just ~2.1e6 rows tied on ONE value
        // — a degenerate mostly-constant metric hits that long before the
        // count-only cliffs. Loud bound: any tie block ≥ 1e12 rows throws
        // on the DECIMAL(12,0) cast in both engines.
        sum(expr("CAST(__ca + __cb AS DECIMAL(12,0)) " +
          "* CAST(__ca + __cb AS DECIMAL(12,0)) " +
          "* CAST(__ca + __cb AS DECIMAL(12,0)) - (__ca + __cb)"))
          .as("__tie"))
      .withColumn("__u2",
        expr("__r2a - CAST(n_a AS DECIMAL(19,0)) * CAST(n_a + 1 AS DECIMAL(19,0))"))
      // outputs as DOUBLE from the exact NON-NEGATIVE decimals (2·R_A ≥
      // n_a(n_a+1) and t³ ≥ t, so both are ≥ 0 — DuckDB's decimal→double
      // cast is only correctly-rounded for non-negative values < 2^117;
      // negative decimals double-round even below 2^63): bit-exact below
      // 2^53, identically rounded in both engines to 2^117
      .withColumn("u2_a", expr("CAST(__u2 AS DOUBLE)"))
      .withColumn("tie_term", expr("CAST(__tie AS DOUBLE)"))
      .withColumn("u_a", col("u2_a") / 2)
      .selectExpr("n_a", "n_b", "u2_a", "tie_term", "u_a", MannWhitneyZ)
  }

  /** z expression for [[mannWhitneyU]], shared verbatim with the oracle
    * (normal approximation with tie correction; null when a group is empty
    * or every value ties). Expects `u2_a`/`tie_term` already DOUBLE; every
    * count product happens in doubles (the earlier int64 `(n_a+n_b)·
    * (n_a+n_b−1)` and `n_a·n_b` crossed 2^63 at ~3e9 rows) — correctly
    * rounded identically on both engines at any count.
    */
  val MannWhitneyZ: String =
    """CASE WHEN n_a > 0 AND n_b > 0
      |      AND (n_a + n_b + 1) - tie_term
      |          / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)) > 0
      |THEN ((u2_a - CAST(n_a AS DOUBLE) * n_b) / 2)
      |     / sqrt(CAST(n_a AS DOUBLE) * n_b / 12 *
      |            ((n_a + n_b + 1) - tie_term
      |             / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1))))
      |END AS z""".stripMargin

  /** The t / df expressions, shared verbatim with the SQL oracle so both
    * engines execute the identical IEEE op sequence.
    *
    * The variance numerator n·Σx² − (Σx)² is computed EXACTLY in
    * DECIMAL(38,0): each int64 accumulator fits DECIMAL(19,0) by
    * construction (|v| < 2^63 < 10^19), each product of two such fits
    * DECIMAL(38,0) ((2^63)² ≈ 8.5e37 < 10^38), and the difference is
    * ≥ 0 (Cauchy–Schwarz) and ≤ n·Σx², so nothing
    * overflows at ANY corpus size expressible in int64 accumulators.
    * Spark backs DECIMAL(38,0) with Int128 and DuckDB with HUGEINT, so
    * the integer difference is exact in both; the single CAST to DOUBLE
    * is correctly rounded in both → bit-identical. This replaces the
    * round-9 all-double form, whose `ss − s·(s/n)` cancellation could
    * exceed the true variance once Σx² passed 2^53 with a small
    * coefficient of variation (round-9 advisor finding: the statistic
    * degraded silently because both engines shared the degraded text).
    * The earlier int64 form before THAT overflowed at n·Σx² > 2^63
    * (30× sweep, bug #10). The decimal form has neither cliff.
    */
  val WelchNumA =
    "CAST(CAST(n_a AS DECIMAL(19,0)) * CAST(ss_a AS DECIMAL(19,0)) - CAST(s_a AS DECIMAL(19,0)) * CAST(s_a AS DECIMAL(19,0)) AS DOUBLE)"
  val WelchNumB =
    "CAST(CAST(n_b AS DECIMAL(19,0)) * CAST(ss_b AS DECIMAL(19,0)) - CAST(s_b AS DECIMAL(19,0)) * CAST(s_b AS DECIMAL(19,0)) AS DOUBLE)"
  val WelchVarA = s"($WelchNumA / n_a / (n_a - 1))"
  val WelchVarB = s"($WelchNumB / n_b / (n_b - 1))"
  val WelchSe2 = s"($WelchVarA / n_a + $WelchVarB / n_b)"
  val WelchT: String =
    s"""CASE WHEN n_a >= 2 AND n_b >= 2 AND $WelchSe2 > 0
       |THEN (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
       |     / sqrt($WelchSe2) END AS t_stat""".stripMargin
  val WelchDf: String =
    s"""CASE WHEN n_a >= 2 AND n_b >= 2 AND $WelchSe2 > 0
       |THEN $WelchSe2 * $WelchSe2 /
       |     (($WelchVarA / n_a) * ($WelchVarA / n_a) / (n_a - 1)
       |    + ($WelchVarB / n_b) * ($WelchVarB / n_b) / (n_b - 1))
       |END AS df_welch""".stripMargin

  /** Chi-squared independence table over two categorical columns: the
    * contingency-cell readout behind "is event mix independent of
    * weekday?". One row per observed (row, col) cell:
    * (rowCol, colCol, o, r_total, c_total, n_total, exp_ppm, chi2_u) where
    * `o` is the cell count, `exp_ppm = r·c·1e6 div N` the expected count in
    * ppm of one event, and `chi2_u = floor(1e6 · (o − rc/N)² / (rc/N))` the
    * cell's Pearson contribution in exact micro-units. The per-cell term
    * runs a fixed IEEE sequence over an exact DECIMAL(38,0) numerator
    * (see [[ChiSqNumAbs]]; headroom bounds on [[ChiSqCellU]]) and `floor`
    * of a double is engine-exact — so Σ chi2_u is an exact integer
    * statistic to N ≲ 9.2e12 events, throwing loudly past it.
    * floor (not round) keeps the terminal step away from the
    * BigDecimal-vs-binary rounding divergence on .5 ties.
    *
    * Scale shape: one map-side-combined groupBy(cells); marginals ride
    * window sums over the CELL table (cardinality = |rows|·|cols|, the
    * vocab-bounded global-window exception), never the event table.
    */
  def chiSquared(
      df: DataFrame,
      rowCol: org.apache.spark.sql.Column,
      colCol: org.apache.spark.sql.Column,
      rowName: String = "row_key",
      colName: String = "col_key"
  ): DataFrame = {
    val cells = df.groupBy(rowCol.as(rowName), colCol.as(colName))
      .agg(count(lit(1)).as("o"))
    cells
      .withColumn("r_total", sum(col("o")).over(Window.partitionBy(rowName)))
      .withColumn("c_total", sum(col("o")).over(Window.partitionBy(colName)))
      .withColumn("n_total",
        sum(col("o")).over(Window.partitionBy(lit(1))))
      // exp_ppm = floor(r·c·1e6 / N) via the exact div/mod split (below):
      // the int64 form `r·c·1e6` crossed 2^63 at N ≈ 3e6 events — the sf3
      // sweep sat RIGHT at it (r·c ≈ 9.2e12 with ~18M rows over a 5×7
      // table). Spark's DIV on a decimal dividend returns BIGINT directly.
      .withColumn("__rc",
        expr("CAST(r_total AS DECIMAL(19,0)) * CAST(c_total AS DECIMAL(19,0))"))
      .withColumn("exp_ppm",
        expr("(__rc DIV n_total) * 1000000 " +
          "+ (CAST(__rc % n_total AS DECIMAL(19,0)) * 1000000) DIV n_total"))
      .withColumn("chi2_u", expr(ChiSqCellU))
      .drop("__rc")
  }

  /** |o·N − r·c| exactly, in DECIMAL(38,0): each factor fits DECIMAL(19,0)
    * (counts < 2^63), each product fits DECIMAL(38,0), and ABS is taken in
    * decimal BEFORE any double cast (DuckDB's decimal→double is correctly
    * rounded only for non-negative values; negatives double-round even
    * below 2^63).
    */
  val ChiSqNumAbs: String =
    "ABS(CAST(o AS DECIMAL(19,0)) * CAST(n_total AS DECIMAL(19,0))" +
      " - CAST(r_total AS DECIMAL(19,0)) * CAST(c_total AS DECIMAL(19,0)))"

  /** Per-cell chi-squared micro-unit term, shared verbatim with the oracle:
    * (o − e)²/e with e = r·c/N, algebraically lifted to
    * (o·N − r·c)² / (r·c·N) with an exact decimal numerator (the int64
    * form needed N·max(o) < 2^63, ~3e9 events) and one fixed IEEE double
    * sequence. Remaining loud bounds: the final micro-unit value needs
    * 1e6·χ²cell < 2^63 and exp_ppm needs floor(r·c/N)·1e6 < 2^63 — both
    * ⇔ N ≲ 9.2e12 events; decimal→double parity needs |o·N − r·c| < 2^117
    * (N < 4e17).
    */
  val ChiSqCellU: String =
    (s"""CAST(floor(1e6 * CAST($ChiSqNumAbs AS DOUBLE)
      |                * CAST($ChiSqNumAbs AS DOUBLE)
      |                / (CAST(r_total AS DOUBLE) * c_total * n_total))
      | AS BIGINT)""").stripMargin.replace("\n", "")

  /** Two-sample Kolmogorov–Smirnov statistic between two groups of an
    * integral measure, exactly: group by DISTINCT value (the
    * [[mannWhitneyU]] shape), cumulative per-group counts over the
    * value-ordered cell table, and
    *
    *   D = max |F_a(v) − F_b(v)| = max |ca_cum·n_b − cb_cum·n_a| / (n_a·n_b)
    *
    * whose numerator `d_num` is exact DECIMAL(38,0) (ties handled exactly:
    * the ECDF is evaluated after absorbing ALL rows of each distinct
    * value), surfaced as DOUBLE — the max is taken on the exact decimal,
    * ABS happens in decimal BEFORE the one double cast (non-negative, so
    * both engines round it identically below 2^117). Returns one row
    * (n_a, n_b, d_num, d) — `d` is the single terminal division,
    * engine-identical. Headroom: no 2^63 cliff (the int64 form crossed it
    * at n_a·n_b > 2^63, ~3e9 rows per arm); products stay exact to
    * n_a·n_b < 10^38.
    *
    * Scale shape: map-side-combined groupBy(value); the running-count
    * window covers only the distinct-value table (vocab-bounded
    * global-window exception), then one scalar max.
    */
  def ksTest(
      df: DataFrame,
      groupCol: String,
      groupA: String,
      groupB: String,
      valueCol: org.apache.spark.sql.Column
  ): DataFrame = {
    val x = valueCol.cast("long")
    val byVal = df.filter(col(groupCol).isin(groupA, groupB))
      .groupBy(x.as("__v"))
      .agg(
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("__cb"))
    val run = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(1))
    byVal
      .withColumn("__fa", sum(col("__ca")).over(run))
      .withColumn("__fb", sum(col("__cb")).over(run))
      .withColumn("__na", sum(col("__ca")).over(all))
      .withColumn("__nb", sum(col("__cb")).over(all))
      .agg(
        max(col("__na")).as("n_a"),
        max(col("__nb")).as("n_b"),
        // exact decimal cross-products; ABS in DECIMAL (a negative decimal
        // →double cast double-rounds in DuckDB even below 2^63), max on
        // the exact value
        max(expr("ABS(CAST(__fa AS DECIMAL(19,0)) * CAST(__nb AS DECIMAL(19,0))" +
          " - CAST(__fb AS DECIMAL(19,0)) * CAST(__na AS DECIMAL(19,0)))"))
          .as("__dnum"))
      .withColumn("d_num", expr("CAST(__dnum AS DOUBLE)"))
      .withColumn("d",
        col("d_num") / col("n_a") / col("n_b"))
      .select(col("n_a"), col("n_b"), col("d_num"), col("d"))
  }

  /** Market-basket association rules (A-priori's readout layer without the
    * candidate generation — pair statistics come straight from a capped
    * self-join): for every directed item pair a→b co-occurring in at least
    * `minPairCount` baskets,
    *
    *   support_ppm = c_ab·1e6 div N
    *   conf_ppm    = c_ab·1e6 div c_a
    *   lift_ppm    = c_ab·N·1e6 div (c_a·c_b)
    *
    * all exact integers. The lift numerator/denominator are DECIMAL(38,0)
    * products with an exact div/mod split (`q·1e6 + (rem·1e6) div den`) —
    * the int64 form `c_ab·N·1e6` crossed 2^63 once a pair co-occurred in
    * ≥2000 baskets of an N≈4.5e6 corpus (the sf3 scale). Remaining loud
    * bounds: N < 9.2e12 baskets (q·1e6 and support_ppm int64) and
    * c_a·c_b < 10^32 (rem·1e6 in DECIMAL(38,0)). Top-`topK` by
    * (lift desc, antecedent, consequent) via TakeOrderedAndProject — no
    * global sort materializes.
    *
    * Scale shape: the basket→item table dedups map-side, the pair fan-out
    * is quadratic in BASKET SIZE (bounded per order), the three count
    * joins are item- and pair-cardinality, never row-cardinality.
    */
  def associationRules(
      baskets: DataFrame,
      basketCol: String,
      itemCol: String,
      minPairCount: Long,
      topK: Int
  ): DataFrame = {
    // repartition on basket BEFORE the dedup (round 13, guide §2.4): the
    // basket key clusters equal (basket, item) pairs, so dropDuplicates
    // rides the layout exchange — and the per-basket groupBy below then
    // needs no exchange of its own (the checkpoint preserves the hash
    // partitioning). The previous distinct-then-self-join shape paid one
    // extra full shuffle here plus a bi⋈bi same-key join for the pairs.
    val bi = baskets
      .select(col(basketCol).cast("long").as("__bk"),
        col(itemCol).cast("long").as("__it"))
      .repartition(col("__bk"))
      .dropDuplicates("__bk", "__it")
      .localCheckpoint(true)
    val nRow = broadcast(bi.agg(countDistinct(col("__bk")).as("__n")))
    val cItem = bi.groupBy(col("__it")).agg(count(lit(1)).as("__ci"))
    // pair formation is a same-key quadratic: ONE groupBy(basket) +
    // in-row sorted suffix explode (the triangle-counter / theilSen
    // shape) instead of the bi⋈bi self-join — baskets are small (~4
    // items), so the fan-out is tiny, nothing but item ids shuffles, and
    // the sorted set gives each unordered pair once with __a < __b
    // (identical to the x.__it < y.__it join condition).
    val pairs = bi.groupBy(col("__bk"))
      .agg(array_sort(collect_set(col("__it"))).as("__ps"))
      .select(posexplode(col("__ps")).as(Seq("__i", "__a")), col("__ps"))
      .select(col("__a"),
        explode(slice(col("__ps"), col("__i") + lit(2), size(col("__ps"))))
          .as("__b"))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__cab"))
      .filter(col("__cab") >= minPairCount)
    // each undirected pair yields both rule directions
    val directed = pairs.select(
        explode(array(
          struct(col("__a").as("ant"), col("__b").as("cons"), col("__cab")),
          struct(col("__b").as("ant"), col("__a").as("cons"), col("__cab"))))
          .as("__r"))
      .select(col("__r.ant"), col("__r.cons"), col("__r.__cab").as("__cab"))
    directed
      .join(cItem.select(col("__it").as("ant"), col("__ci").as("__ca")), Seq("ant"))
      .join(cItem.select(col("__it").as("cons"), col("__ci").as("__cb")), Seq("cons"))
      .crossJoin(nRow)
      .withColumn("__lnum",
        expr("CAST(__cab AS DECIMAL(19,0)) * CAST(__n AS DECIMAL(19,0))"))
      .withColumn("__lden",
        expr("CAST(__ca AS DECIMAL(19,0)) * CAST(__cb AS DECIMAL(19,0))"))
      .select(col("ant"), col("cons"),
        col("__cab").as("pair_count"),
        expr("__cab * 1000000 div __n").as("support_ppm"),
        expr("__cab * 1000000 div __ca").as("conf_ppm"),
        expr(LiftPpm).as("lift_ppm"))
      .orderBy(desc("lift_ppm"), col("ant"), col("cons"))
      .limit(topK)
  }

  /** floor(__lnum·1e6 / __lden) exactly over DECIMAL(38,0) operands via
    * the div/mod split (multiplying first would need 45 decimal digits).
    * Spark's DIV on a decimal dividend floors into BIGINT directly; loud
    * bounds: quotient < 9.2e12 (q·1e6 int64) and __lden < 10^32
    * (rem·1e6 in DECIMAL(38,0)).
    */
  val LiftPpm: String =
    "(__lnum DIV __lden) * 1000000 " +
      "+ (CAST(__lnum % __lden AS DECIMAL(32,0)) * 1000000) DIV __lden"
}
