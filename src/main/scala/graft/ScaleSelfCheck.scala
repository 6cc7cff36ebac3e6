package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Engine-side invariant verification for the four queries whose DuckDB
  * oracles are brute-force baselines and therefore infeasible past sf0.1
  * (`ts_asof_nearest_grid`, `rel_skyline`, `rel_assoc_rules`,
  * `emb_dbscan` — see scripts/sweep_compare.py and SCALE.md).
  *
  * The value parity of these queries is hash-gated at sf0.01/sf0.1 where
  * the quadratic oracle IS feasible; this tool closes the sf1+ gap by
  * checking the DEFINING invariants of each result against the raw data
  * with linear-cost Spark jobs — no replay oracle needed, so it runs at
  * any scale the engine itself runs at:
  *
  *   - as-of nearest: no event is strictly closer to a grid point than
  *     its matched event (nor equally close with an earlier timestamp),
  *     and the matched (ts, value) really exists in the input.
  *   - skyline: no returned point is dominated by another returned point,
  *     and every non-returned point is strictly dominated by a returned
  *     one (soundness + completeness of the Pareto front).
  *   - association rules: every emitted (ant, cons) support/conf/lift ppm
  *     is re-derived from independent recounts of the raw baskets,
  *     integer-exactly.
  *   - dbscan: role/label consistency against recounted eps-neighborhoods
  *     (core ⇔ ≥ minPts neighbors; border/noise ⇔ has/has-no core
  *     neighbor; eps-adjacent cores share a label; border label = min
  *     core-neighbor label).
  *
  * Each check prints `SELFCHECK <name> PASS|FAIL ...`; exit 1 on any FAIL.
  * Usage: scripts/run.sh graft.ScaleSelfCheck <sfDir>
  */
object ScaleSelfCheck {

  /** No event strictly closer than the matched one (ties break to the
    * earlier event timestamp, the documented Nearest rule), and the
    * matched pair exists. Cost: one hour-bucketed equi-join — each event
    * meets only the grid points within the worst matched radius.
    */
  def checkAsofNearest(spark: SparkSession, dir: String): (Long, String) = {
    val ev = Queries.table(spark, dir, "events")
      .select(unix_micros(col("ts")).as("eu"), col("value"))
    val out = SparkEntry.queries("ts_asof_nearest_grid")(spark, dir)
      .select(unix_micros(col("grid_ts")).as("gu"),
        unix_micros(col("matched_ts")).as("mu"), col("nearest_value"))
      .withColumn("r", abs(col("mu") - col("gu")))
    val hourUs = 3600L * 1000000L
    // null max = empty as-of output (empty events/grid): vacuous PASS, and
    // .getLong on the null would NPE (round-7 advisor)
    val rmaxRow = out.agg(max(col("r"))).head()
    if (rmaxRow.isNullAt(0)) return (0L, "empty as-of output: vacuous PASS")
    val rmax = rmaxRow.getLong(0)
    // every event with |eu - gu| <= r lies in [gu-r, gu+r]: explode each
    // grid row over ITS OWN radius's bucket range (sum of per-row radii),
    // not the global worst case × every row — one sparse hours-wide match
    // no longer multiplies the whole probe join (round-7 advisor)
    val probes = out
      .withColumn("b", explode(sequence(
        expr(s"(gu - r) div $hourUs"), expr(s"(gu + r) div $hourUs"))))
    val evb = ev.withColumn("b", expr(s"eu div $hourUs"))
    val closer = probes.join(evb, Seq("b"))
      .filter(abs(col("eu") - col("gu")) < col("r") ||
        (abs(col("eu") - col("gu")) === col("r") && col("eu") < col("mu")))
      .count()
    // the matched (ts, value) must exist in the input (value matched on
    // the query's own 4-decimal rounding; same engine, same rounding)
    val phantom = out.join(
        ev.select(col("eu").as("mu"), round(col("value"), 4).as("nearest_value"))
          .distinct(),
        Seq("mu", "nearest_value"), "left_anti")
      .count()
    (closer + phantom,
      s"closer_events=$closer phantom_matches=$phantom " +
        s"rmax_hours=${rmax / hourUs}")
  }

  /** Skyline soundness (no returned point dominated by a returned point)
    * and completeness (every non-returned point strictly dominated by a
    * returned one). The front is tiny -> broadcast; one corpus pass.
    */
  def checkSkyline(spark: SparkSession, dir: String): (Long, String) = {
    val o = Queries.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val sky = SparkEntry.queries("rel_skyline")(spark, dir)
    val s = broadcast(sky.select(col("o_orderkey").as("sk"),
      col("o_orderdate").as("sd"), col("cents").as("sc")))
    def dominates = col("sd") <= col("o_orderdate") &&
      col("sc") >= col("cents") &&
      (col("sd") < col("o_orderdate") || col("sc") > col("cents"))
    val inFront = sky.select(col("o_orderkey"), col("o_orderdate"), col("cents"))
    val internal = inFront.crossJoin(s).filter(dominates).count()
    val dominated = o.crossJoin(s).filter(dominates)
      .select(col("o_orderkey")).distinct()
    val uncovered = o
      .join(sky.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
      .join(dominated, Seq("o_orderkey"), "left_anti")
      .count()
    (internal + uncovered,
      s"front=${sky.count()} dominated_in_front=$internal uncovered=$uncovered")
  }

  /** Recount every emitted rule's pair/item/basket statistics from the raw
    * baskets (filtered to the <=2*topK rule items, so the recount joins
    * stay broadcast-bounded) and require integer-exact ppm equality.
    */
  def checkAssocRules(spark: SparkSession, dir: String): (Long, String) = {
    val rules = SparkEntry.queries("rel_assoc_rules")(spark, dir)
      .localCheckpoint(true)
    val bi = Queries.table(spark, dir, "lineitem")
      .select(col("l_orderkey").cast("long").as("bk"),
        col("l_partkey").cast("long").as("it"))
      .distinct()
      .localCheckpoint(true)
    val n = bi.agg(countDistinct(col("bk"))).head().getLong(0)
    val items = broadcast(rules
      .select(explode(array(col("ant"), col("cons"))).as("it")).distinct())
    val biF = bi.join(items, Seq("it")).localCheckpoint(true)
    val ci = biF.groupBy(col("it")).agg(count(lit(1)).as("c"))
    val keys = broadcast(rules.select(col("ant"), col("cons")))
    val pc = biF.select(col("bk"), col("it").as("ant"))
      .join(biF.select(col("bk"), col("it").as("cons")), Seq("bk"))
      .join(keys, Seq("ant", "cons"))
      .groupBy(col("ant"), col("cons")).agg(count(lit(1)).as("cab"))
    val recomputed = pc
      .join(ci.select(col("it").as("ant"), col("c").as("ca")), Seq("ant"))
      .join(ci.select(col("it").as("cons"), col("c").as("cb")), Seq("cons"))
      .select(col("ant"), col("cons"), col("cab").as("pair_count"),
        expr(s"cab * 1000000 div $n").as("support_ppm"),
        expr("cab * 1000000 div ca").as("conf_ppm"),
        expr(s"cab * $n * 1000000 div (ca * cb)").as("lift_ppm"))
    val mismatches = rules.exceptAll(recomputed
      .select(rules.columns.map(col): _*)).count()
    (mismatches, s"rules=${rules.count()} value_mismatches=$mismatches")
  }

  /** Recount eps-neighborhoods on the query's own 2-D projection and check
    * every label/role rule of DBSCAN. Candidate generation reuses the
    * eps-cell geometry (|dx|,|dy| <= eps puts every true neighbor in an
    * adjacent cell — a geometric fact, not a code path under test); the
    * INVARIANTS are recounted from those pairs independently of the
    * engine's core/label propagation.
    */
  def checkDbscan(spark: SparkSession, dir: String): (Long, String) = {
    val eps = 20000L
    val minPts = 8
    val emb = Queries.table(spark, dir, "embeddings")
    val v = ops.Similarity.powerIterationTopPc(emb, "embedding", iters = 4)
    val vs = v.map(_ / 1000L)
    val vv = vs.map(x => x * x).sum
    val pts0 = emb
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
          "* 1e6 + 0.5) AS BIGINT) div 1000)").as("qs"))
      .withColumn("proj",
        aggregate(zip_with(col("qs"), typedLit(vs.toSeq), (a, b) => a * b),
          lit(0L), (a, x) => a + x))
      .withColumn("qq",
        aggregate(col("qs"), lit(0L), (a, x) => a + x * x))
      .select(col("id"), col("proj").as("x"),
        floor(sqrt((col("qq") * lit(vv) - col("proj") * col("proj"))
          .cast("double"))).cast("long").as("y"))
    val b = broadcast(pts0.agg(min(col("x")).as("mx"), min(col("y")).as("my")))
    val pts = pts0.crossJoin(b)
      .select(col("id"), (col("x") - col("mx")).as("x"),
        (col("y") - col("my")).as("y"))
      .localCheckpoint(true)
    val home = pts.select(col("id"), col("x"), col("y"),
      expr(s"x div $eps").as("cx"), expr(s"y div $eps").as("cy"))
    val offs = Seq(-1L, 0L, 1L)
    val probe = home.select(col("id").as("pid"), col("x").as("px"),
        col("y").as("py"),
        explode(array(offs.flatMap(dx => offs.map(dy =>
          struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy")))): _*))
          .as("c"))
      .select(col("pid"), col("px"), col("py"),
        col("c.cx").as("cx"), col("c.cy").as("cy"))
    val nbr = probe.join(home, Seq("cx", "cy"))
      .filter((col("px") - col("x")) * (col("px") - col("x")) +
        (col("py") - col("y")) * (col("py") - col("y")) <= lit(eps * eps))
      .select(col("pid"), col("id"))
      .localCheckpoint(true)

    val out = SparkEntry.queries("emb_dbscan")(spark, dir)
      .select(col("id"), col("role"), col("cluster"))
      .localCheckpoint(true)
    val deg = nbr.groupBy(col("pid").as("id")).agg(count(lit(1)).as("deg"))
    val labeled = out.join(deg, Seq("id"), "left")
      .na.fill(0L, Seq("deg"))

    // (a) role says core  <=>  recounted degree >= minPts
    val roleWrong = labeled.filter(
      (col("role") === "core") =!= (col("deg") >= minPts)).count()
    // core-neighbor counts per point, and min/distinct core-neighbor labels
    val coreLab = out.filter(col("role") === "core")
      .select(col("id"), col("cluster").as("ncl"))
    val coreNbr = nbr.join(coreLab, Seq("id"))
      .groupBy(col("pid").as("id"))
      .agg(count(lit(1)).as("ncore"), min(col("ncl")).as("minNcl"))
    val j = labeled.join(coreNbr, Seq("id"), "left")
      .na.fill(0L, Seq("ncore"))
    // (b) border: has a core neighbor AND label = min core-neighbor label
    val borderWrong = j.filter(col("role") === "border" &&
      (col("ncore") === 0 || col("cluster") =!= col("minNcl"))).count()
    // (c) noise: no core neighbor, null label
    val noiseWrong = j.filter(col("role") === "noise" &&
      (col("ncore") > 0 || col("cluster").isNotNull)).count()
    // (d) eps-adjacent cores agree on the label (connectivity not split)
    val splitEdges = nbr
      .join(coreLab.select(col("id").as("pid"), col("ncl").as("la")), Seq("pid"))
      .join(coreLab.select(col("id"), col("ncl").as("lb")), Seq("id"))
      .filter(col("la") =!= col("lb")).count()
    // (e) coverage: exactly one output row per input point
    val missing = pts.join(out, Seq("id"), "left_anti").count()
    val dupes = out.groupBy(col("id")).count().filter(col("count") > 1).count()
    val total = roleWrong + borderWrong + noiseWrong + splitEdges + missing + dupes
    (total, s"role=$roleWrong border=$borderWrong noise=$noiseWrong " +
      s"split_core_edges=$splitEdges missing=$missing dupes=$dupes")
  }

  val checks: Seq[(String, (SparkSession, String) => (Long, String))] = Seq(
    "asof_nearest" -> checkAsofNearest _,
    "skyline" -> checkSkyline _,
    "assoc_rules" -> checkAssocRules _,
    "dbscan" -> checkDbscan _
  )

  def main(args: Array[String]): Unit = {
    val dir = args(0)
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
    var failed = false
    checks.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val (violations, detail) = fn(spark, dir)
      val sec = (System.nanoTime() - t0) / 1e9
      val verdict = if (violations == 0) "PASS" else "FAIL"
      if (violations != 0) failed = true
      println(f"SELFCHECK $name $verdict violations=$violations [$detail] in $sec%.1fs")
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
