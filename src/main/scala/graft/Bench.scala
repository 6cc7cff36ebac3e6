package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // The generated-class cache is a STATIC conf defaulting to 100
      // entries; this bench compiles 229 distinct plans twice in one JVM,
      // so at the default every plan is evicted before its second run and
      // pass 2 re-Janino-compiles the whole surface (measured: the
      // uniform ~+20% drift on r4-common queries once the surface passed
      // ~100 plans — see SCALE.md "Session-level drift"). Sized to hold
      // every generated class of the full query surface with headroom.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "8192"))
      // Spark 4.1's default (true) lets a multi-child UnionExec claim a
      // child's hash partitioning while the concatenated RDD has the SUM
      // of the children's partitions; a downstream sort-merge join that
      // trusts the claim zips unequal partition lists and the job dies
      // ("Can't zip RDDs with unequal numbers of partitions" — first hit
      // by emb_dbscan at the sf1 scale probe, SCALE.md "Round 7"). Off
      // until upstream fixes the claim: the cost is one honest exchange
      // above union-into-join shapes.
      .config("spark.sql.unionOutputPartitioning", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // session warm-up: JVM/codegen/parquet-footer init out of query timings.
    // events.ts is TIMESTAMP(NANOS) — same legacy conf the query path sets.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.range(1000).selectExpr("sum(id)").collect()
    Seq("lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
      catch { case _: Throwable => () }
    }
    // best-of-2 per query: single-run timings at local[32] swing up to 8x
    // on identical code (scheduler/GC jitter), which swamps any real
    // regression signal. The min is the stable estimator of a query's cost;
    // both per-run sums are reported so the total stays honest.
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      // noop sink: materializes EVERY output column (a count() would let
      // Catalyst prune the projections/windows being benchmarked)
      val err =
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); None }
        catch { case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    // optional args: query names to bench (dev iteration; driver passes none)
    val only = args.toSet
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    val pass1 = ordered.map { case (name, fn) => (name, runOnce(fn)) }
    val pass2 = ordered.map { case (name, fn) => (name, runOnce(fn)) }
    val runs = pass1.zip(pass2).map { case ((name, (t1, e1)), (_, (t2, e2))) =>
      (name, math.min(t1, t2), e1.orElse(e2))
    }
    val qs = runs.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = runs.collect { case (k, _, Some(e)) => (k, e) }
    val errJson = failed
      .map { case (k, e) => "\"" + k + "\":\"" + e.replaceAll("[\"\\\\\n\r]", " ") + "\"" }
      .mkString("{", ",", "}")
    val total = runs.map(_._2).sum
    val sum1 = pass1.map(_._2._1).sum
    val sum2 = pass2.map(_._2._1).sum
    // session-health diagnostics: Janino compile count (cache-thrash
    // detector: pass 2 should add ~0 compiles when the class cache holds
    // the full surface) and cumulative GC seconds (heap-pressure detector)
    val nCompiles =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
    val gcSec = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
    }
    // per-query ceilings (BUDGETS.json): violations surface in the bench
    // line so a single-query 2x regression can't hide inside the 229-query
    // total. Only meaningful at the budgets' own scale factor and core
    // count; otherwise the line says why they were skipped.
    val budgetPath = java.nio.file.Paths.get("BUDGETS.json")
    val budgetFile =
      if (java.nio.file.Files.isReadable(budgetPath)) java.nio.file.Files.readString(budgetPath) else ""
    val budgetSkip = BudgetCheck.skipReason(sfDir, cpus.toInt, BudgetCheck.mintedCpus(budgetFile))
    val budgetViolations =
      if (budgetSkip.isEmpty) BudgetCheck.violations(
        runs.map { case (k, v, _) => k -> v }.toMap, BudgetCheck.parse(budgetFile))
      else Map.empty[String, (Double, Double)]
    val budgetJson = BudgetCheck.toJson(budgetViolations) +
      s""","budget_check":"${budgetSkip.fold("checked")("skipped: " + _)}""""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"runs":2,"run_sums":[$sum1,$sum2],"codegen_compiles":$nCompiles,"gc_sec":$gcSec,"budget_violations":$budgetJson,"sf":"$sfDir"}"""
    // The driver snapshots only a ~2000-char TAIL of stdout and JSON-parses
    // what it finds there. The full 235-query line is ~8 KB, so printing it
    // last leaves the tail holding a truncated, unparseable fragment
    // (BENCH_r07/r08: parsed=null). Persist the COMPLETE line to
    // BENCH_FULL.json for cross-round per-query diffs, and end stdout with
    // a COMPACT line — headline slowest queries only, values at 3 dp —
    // that fits the tail window whole even with sbt's trailing [success]
    // line after it. Filtered dev runs (explicit query args) print the
    // full line instead and must not clobber the full-surface snapshot.
    if (only.isEmpty) {
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_FULL.json"),
        (line + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] BENCH_FULL.json write failed: ${e.getMessage}") }
      def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      val slowest = runs.sortBy(-_._2).take(15)
        .map { case (k, v, _) => "\"" + k + "\":" + f3(v) }
        .mkString("{", ",", "}")
      println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$slowest,"queries_measured":${runs.size},"queries_shown":"15 slowest; all ${runs.size} in BENCH_FULL.json","errors":$errJson,"runs":2,"run_sums":[${f3(sum1)},${f3(sum2)}],"codegen_compiles":$nCompiles,"gc_sec":$gcSec,"budget_violations":$budgetJson,"sf":"$sfDir"}""")
    } else println(line)
    spark.stop()
    // a dead query must NOT masquerade as a fast success
    if (failed.nonEmpty) sys.exit(1)
  }
}
