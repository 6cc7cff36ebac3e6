package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, ExpandExec,
  GenerateExec, LocalTableScanExec, UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
  ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import java.nio.file.{Files, Paths}

/** Physical-plan fingerprints for the whole query surface (PLANS.json).
  *
  * Motivation: silent plan drift — a new exchange, a lost broadcast, a lost
  * pushdown, a join strategy flip — passes every VALUE check; the Spark 4.1
  * `unionOutputPartitioning` partition mis-claim was only caught because the
  * sf1 sweep happened to crash on it. This module reduces each query's
  * executedPlan to the load-bearing features (exchange/scan/join/agg/window/
  * codegen-stage counts plus read-schema width and pushdown presence per
  * scan) and snapshots them to `PLANS.json`; `PlanSnapshotSpec` recomputes
  * the fingerprints every test run and fails on ANY unexplained diff.
  *
  * Intentional plan changes are re-baselined with:
  * {{{ scripts/run.sh graft.PlanSnapshot   # rewrites PLANS.json, prints diff }}}
  *
  * Determinism notes: fingerprints are taken with AQE disabled (the
  * AdaptiveSparkPlanExec wrapper hides the static plan and its runtime
  * re-plan depends on measured sizes), at a FIXED scale factor (sf0.001 —
  * broadcast-vs-SMJ choices are stats-driven, so the snapshot is only
  * comparable at the SF it was taken at), under the same session pins the
  * test session uses (ANSI on, unionOutputPartitioning off).
  */
object PlanSnapshot {

  val DefaultSf = "/root/testdata/sf0.001"
  val DefaultOut = "PLANS.json"

  /** Every query allowed to carry an UNPARTITIONED window ("No Partition
    * Defined" — all rows through one task), with the reason its frame is
    * bounded-cardinality (post-aggregation, NOT row-scale). A new query
    * whose plan gains a `window_unpartitioned` without an entry here fails
    * PlanSnapshotSpec — corpus-sized global windows must ride the
    * [[graft.ts.RangeSeries]] chunked spine instead (the ts_global_rolling
    * / sax / z-order / RRF treatment).
    */
  val BoundedGlobalWindows: Map[String, String] = Map(
    // Measured ceilings (round 13, graft.WindowCardinality at
    // sf0.1/sf1/sf10 — exact window-input row counts, SCALE.md table):
    // every entry is FLAT or saturated across three decades except
    // doc_vocab_coverage, which is linear-in-SF only because ScaleUp
    // decorrelates replica tokens by suffixing (worst-case synthetic
    // vocab; real corpora follow Heaps' law) and is 3,100 rows at 100×.
    "doc_mixture_sample" -> "per-SOURCE weight table (#sources; 20 flat to sf10)",
    "doc_vocab_coverage" ->
      ("distinct-token table (vocab exception; 31/310/3,100 at sf0.1/1/10 — " +
        "linear by ScaleUp token-suffix construction, trivial absolute size)"),
    "doc_zipf_slope" ->
      "distinct-token table (vocab exception; 31→200, saturated by sf1)",
    "rel_ab_ks" ->
      "distinct-VALUE cell table (measure-resolution; 13,241 SATURATED at sf0.1)",
    "rel_ab_mannwhitney" ->
      "distinct-VALUE cell table (measure-resolution; 13,362 SATURATED at sf0.1)",
    "rel_benford_digits" -> "9 first-digit rows (9 flat to sf10)",
    "rel_chisq_independence" -> "contingency cells (35 flat to sf10)",
    "rel_markov_stationary" -> "state-pair table (5 flat to sf10)",
    "rel_skyline" -> "per-date maxima table (calendar; 2,405 flat to sf10)",
    "ts_backtest_seasonal" -> "hourly eval grid (720 flat to sf10)",
    "ts_funnel_dropoff" -> "funnel level table (4 flat to sf10)",
    "ts_kaplan_meier" ->
      "distinct day-resolution lifetimes (26 flat to sf10)",
    "ts_sliding_distinct" ->
      "bucket-delta table (timeline buckets; 744 flat to sf10)")

  /** Reduce one physical plan to its load-bearing feature counts.
    * Traverses subquery plans too (scalar subqueries hide scans+aggs). */
  def fingerprint(df: DataFrame): Map[String, Int] = {
    val plan = df.queryExecution.executedPlan
    val feats: Seq[String] = plan.collectWithSubqueries {
      case _: ShuffleExchangeExec => Seq("exchange_shuffle")
      case _: BroadcastExchangeExec => Seq("exchange_broadcast")
      case _: ReusedExchangeExec => Seq("exchange_reused")
      case f: FileSourceScanExec =>
        Seq("scan_file", s"scan_cols_${f.requiredSchema.length}") ++
          (if (f.dataFilters.nonEmpty) Seq("scan_with_pushed_filters") else Nil)
      case _: LocalTableScanExec => Seq("scan_local")
      // a localCheckpoint boundary scans back as an RDD: without this row
      // a heavily-checkpointed plan (emb_dbscan, the stream memory-sink
      // frames) fingerprints as near-empty and real drift hides behind it
      case _: org.apache.spark.sql.execution.RDDScanExec => Seq("scan_rdd")
      case _: BroadcastHashJoinExec => Seq("join_broadcast_hash")
      case _: SortMergeJoinExec => Seq("join_sort_merge")
      case _: ShuffledHashJoinExec => Seq("join_shuffled_hash")
      case _: BroadcastNestedLoopJoinExec => Seq("join_broadcast_loop")
      case _: CartesianProductExec => Seq("join_cartesian")
      case _: HashAggregateExec => Seq("agg_hash")
      case _: ObjectHashAggregateExec => Seq("agg_object_hash")
      case _: SortAggregateExec => Seq("agg_sort")
      case _: SortExec => Seq("sort")
      // an UNPARTITIONED window is the one-task-for-100TB shape ("No
      // Partition Defined" → all rows to a single partition): counted
      // separately so PlanSnapshotSpec can hold every occurrence to the
      // documented bounded-cardinality allowlist below
      case w: WindowExec =>
        Seq("window") ++
          (if (w.partitionSpec.isEmpty) Seq("window_unpartitioned") else Nil)
      case _: ExpandExec => Seq("expand")
      case _: GenerateExec => Seq("generate")
      case _: UnionExec => Seq("union")
      // a CodegenFallback expression (any HOF) splits a codegen stage, so
      // swapping one for a generated kernel moves `wscg` alone
      case _: WholeStageCodegenExec => Seq("wscg")
    }.flatten
    feats.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** Fingerprint every SparkEntry query with AQE off on a cloned session
    * (same SparkContext, isolated conf — concurrent suites keep AQE). */
  def all(spark: SparkSession, sfDir: String): Map[String, Map[String, Int]] = {
    val snap = session(spark)
    SparkEntry.queries.map { case (name, fn) =>
      name -> fingerprint(fn(snap, sfDir))
    }
  }

  /** The cloned session fingerprints are taken in: AQE and the small-input
    * gates off. */
  def session(spark: SparkSession): SparkSession = {
    val snap = spark.newSession()
    snap.conf.set("spark.sql.adaptive.enabled", "false")
    // pin the SCALE plan: the RangeSeries small-input fast path would
    // otherwise hide the chunked spine's shape at the snapshot SF (every
    // input is tiny at sf0.001) — the fingerprint exists to watch the
    // 100 TB plan, and the fast path has its own parity spec + bench
    snap.conf.set("graft.rangeSeries.fastPathRows", "0")
    snap.conf.set("graft.rangeSeries.fastPathBytes", "0")
    // same treatment for the round-14 small-input gates: the Spread
    // scan-parallelism repair and the HDR corpus-window exact path would
    // both fire at the snapshot SF and hide the scale shapes
    // (DispatchParitySpec pins small-vs-scale value parity)
    snap.conf.set(graft.ops.Spread.MaxBytesConf, "0")
    snap.conf.set("spark.graft.hdr.windowExactMaxBytes", "0")
    snap
  }

  /** Canonical rendering: one line per query, sorted names, sorted feature
    * keys — so PLANS.json diffs line-per-query in review. */
  def render(fps: Map[String, Map[String, Int]]): String =
    fps.toSeq.sortBy(_._1).map { case (name, fp) =>
      val body = fp.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      s"""  "$name": {$body}"""
    }.mkString("{\n", ",\n", "\n}\n")

  /** Per-query line diff of two rendered snapshots (for messages). */
  def diff(committed: String, recomputed: String): Seq[String] = {
    def lines(s: String): Map[String, String] =
      s.linesIterator.filter(_.contains(":")).map { l =>
        val name = l.trim.stripPrefix("\"").takeWhile(_ != '"')
        name -> l.trim.stripSuffix(",")
      }.toMap
    val a = lines(committed)
    val b = lines(recomputed)
    val names = (a.keySet ++ b.keySet).toSeq.sorted
    names.flatMap { n =>
      (a.get(n), b.get(n)) match {
        case (Some(x), Some(y)) if x == y => None
        case (Some(x), Some(y)) => Some(s"$n:\n  committed:  $x\n  recomputed: $y")
        case (Some(x), None) => Some(s"$n: REMOVED (was: $x)")
        case (None, Some(y)) => Some(s"$n: NEW ($y)")
        case (None, None) => None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(DefaultSf)
    val out = args.drop(1).headOption.getOrElse(DefaultOut)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.unionOutputPartitioning", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rendered = render(all(spark, sfDir))
    val path = Paths.get(out)
    if (Files.exists(path)) {
      val d = diff(Files.readString(path), rendered)
      if (d.isEmpty) println(s"[plans] no drift (${SparkEntry.queries.size} queries)")
      else { println(s"[plans] ${d.size} queries drifted:"); d.foreach(println) }
    } else println(s"[plans] new snapshot (${SparkEntry.queries.size} queries)")
    Files.writeString(path, rendered)
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
