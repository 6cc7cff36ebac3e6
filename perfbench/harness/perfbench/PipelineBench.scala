package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.core.{FileDiscoveryConfig, LoadingConfig}
import graft.load.{LoadedSeries, TimeSeriesLoader}
import graft.meta.{Discovery, MetadataFileFilter, TimeMetadataExtractor}
import graft.validate.TimeSeriesValidator
import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs the CSV -> continuity -> resample pipeline through the engine's
  * public API, times each call from outside, checks every output against
  * the fixture's truth, and prints one `PERFBENCH {json}` line of raw
  * samples. `run.py` turns the samples into the benchmark's metrics.
  *
  * Arguments (all `--key value`): workload, fixture (dir with csv/ and
  * truth.json), seconds, cores, trace (0|1), trace-out (file the traced
  * run writes its spans to), local-dir (Spark scratch).
  *
  * `seconds` fixes the number of timed iterations (seconds / NominalIterS),
  * not a deadline. Per-iteration time keeps falling as the JIT warms, so
  * under a deadline a faster program would get more, later and faster
  * samples, and its median would move by more than the change itself.
  */
object PipelineBench {
  val LayerKey = "perfbench.layer"
  val IterKey = "perfbench.iter"

  /** `TimeSeriesLoader.load(dir)` split into its public parts, then the
    * continuity report and a 1-minute mean resample.
    */
  val Steps: Seq[String] = Seq(
    "meta.discover", "meta.extract", "validate.sequence", "load.build",
    "load.run", "ts.continuity", "ts.resample_build", "ts.resample_run")

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Nominal wall time of one warm iteration plus its check, in seconds. */
  private val NominalIterS = 4.0
  /** Minimum timed iterations: a traced run needs four for its
    * on-off-off-on pattern.
    */
  private def minTimed(trace: Boolean): Int = if (trace) 4 else 2
  /** Iterations of steps 1-5 alone, after the full ones; `loaded_s_p50`
    * is their median. Steps 1-5 take well under a second on some inputs,
    * and the few full iterations a run can afford left it too noisy.
    */
  private val LoadOnlyIters = 5

  final case class IterResult(
      steps: Map[String, Double],
      wallS: Double,
      ok: Boolean,
      error: Option[String],
      rowsOut: Long,
      issues: Int,
      files: Int,
      traced: Boolean,
      loadOnly: Boolean = false
  )

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val fixture = opts("fixture")
    val seconds = opts("seconds").toDouble
    val cores = opts("cores").toInt
    val trace = opts.getOrElse("trace", "0") == "1"

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val spark = session(cores, opts("local-dir"))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val truth = mapper.readTree(new File(fixture, "truth.json"))
    val loading = workload match {
      // the reference default format, stated explicitly
      case "ingest_many_small" => LoadingConfig(timeFormat = "dd/MM/yyyy HH:mm")
      // ISO timestamps miss the default format and hit the second fallback
      case "ingest_few_large" => LoadingConfig()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val pipeline = new Pipeline(spark, new File(fixture, "csv").getPath, loading, truth)
    val tracer = new Tracer
    val layers = new LayerListener
    val catalyst = new CatalystListener

    // cold iteration: session start + first run, untimed beyond setup_s
    val checkCold = pipeline.run(0, tracer)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val coldCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val coldCompileS = (CodeGenerator.compileTime - compileNs0) / 1e9
    val cold = checkCold()

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores, "setup_s" -> setupS, "session_s" -> sessionS,
      "input_rows" -> truth.get("rows").asLong, "csv_bytes" -> truth.get("csv_bytes").asLong,
      "codegen_compiles" -> coldCompiles, "codegen_compile_s" -> coldCompileS)

    val results = mutable.ArrayBuffer(cold)
    val perIter = mutable.ArrayBuffer.empty[Map[String, Double]]
    val gc0 = gcMs()
    val timedIters = math.max(minTimed(trace), math.round(seconds / NominalIterS).toInt)
    for (i <- 1 to timedIters) {
      // traced runs attach the listeners in an on-off-off-on pattern, so
      // the tracing overhead is measured inside one run and a linear
      // warm-up drift falls evenly on both sides
      val traced = trace && Set(1, 0)(i % 4)
      if (traced) {
        spark.sparkContext.addSparkListener(layers)
        spark.listenerManager.register(catalyst)
        PerfbenchBridge.drain(spark.sparkContext)
        catalyst.take()
      }
      val check = pipeline.run(i, tracer)
      if (traced) {
        PerfbenchBridge.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(layers)
        spark.listenerManager.unregister(catalyst)
      }
      // the check's own jobs and queries run after the listeners are gone
      val r = check().copy(traced = traced)
      results += r
      if (traced) {
        val (counts, phases) = (layers.take(i), catalyst.take())
        if (r.ok) perIter += layerSample(r, counts, phases, tracer, i, cores, truth)
      }
    }
    out("gc_s_per_iter") = (gcMs() - gc0) / 1000.0 / timedIters
    (1 to LoadOnlyIters).foreach { k =>
      results += pipeline.run(timedIters + k, tracer, loadOnly = true)().copy(loadOnly = true)
    }
    out("heap_after_gc_mb") = heapAfterGcMb()
    spark.stop()

    out("iterations") = results.toSeq.map { r =>
      Map("steps" -> r.steps, "wall_s" -> r.wallS, "ok" -> r.ok, "traced" -> r.traced, "load_only" -> r.loadOnly,
        "error" -> r.error.orNull, "rows_out" -> r.rowsOut, "issues" -> r.issues, "files" -> r.files)
    }
    out("layer_samples") = perIter.toSeq
    if (trace) opts.get("trace-out").foreach(f => writeTrace(f, workload, cores, tracer, perIter.toSeq, results.toSeq))
    println("PERFBENCH " + mapper.writeValueAsString(out))
  }

  private def session(cores: Int, localDir: String): SparkSession = {
    // graft.Bench's session settings: codegen cache sized for many plans,
    // no union output partitioning claim, nanos-as-long parquet, and one
    // shuffle partition per core
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", new File(localDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Heap the live session retains: used heap right after a full GC. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Per-layer numbers of one traced iteration. */
  private def layerSample(
      r: IterResult,
      counts: Map[String, LayerCounts],
      phases: Map[String, Double],
      tracer: Tracer,
      iter: Int,
      cores: Int,
      truth: JsonNode
  ): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val empty = new LayerCounts
    Steps.foreach(s => m(s + "_s") = r.steps(s))
    m("meta.files") = r.files
    m("validate.issues") = r.issues
    val build = counts.getOrElse("load.build", empty)
    val buildJobS = unionLength(build.jobIntervals.map(j => (j._2, j._3)).toSeq) / 1000.0
    m("load.build_jobs") = build.jobs
    m("load.build_job_s") = buildJobS
    m("load.build_driver_s") = r.steps("load.build") - buildJobS
    m("load.rows_out") = r.rowsOut
    Seq("load.run", "ts.continuity", "ts.resample_build", "ts.resample_run").foreach { s =>
      m(s + "_jobs") = counts.getOrElse(s, empty).jobs
    }
    val ours = Steps.flatMap(counts.get)
    val bytesRead = ours.map(_.bytesRead).sum.toDouble
    m("pipeline.jobs") = ours.map(_.jobs).sum
    m("pipeline.stages") = ours.map(_.stages).sum
    m("pipeline.tasks") = ours.map(_.tasks).sum
    m("pipeline.csv_bytes_read") = bytesRead
    m("pipeline.scan_amplification") = bytesRead / truth.get("csv_bytes").asDouble
    m("pipeline.task_busy_ratio") = ours.map(_.taskMs).sum / 1000.0 / (r.wallS * cores)
    m("pipeline.shuffle_write_bytes") = ours.map(_.shuffleWriteBytes).sum
    m("pipeline.spill_bytes") = ours.map(_.spillBytes).sum
    m("pipeline.untagged_jobs") = counts.getOrElse("untagged", empty).jobs
    m("catalyst.analysis_s") = phases.getOrElse("analysis", 0.0)
    m("catalyst.optimization_s") = phases.getOrElse("optimization", 0.0)
    m("catalyst.planning_s") = phases.getOrElse("planning", 0.0)

    // job spans become children of the step span that caused them
    val stepSpans = tracer.spans.filter(s => s.iter == iter && s.parent >= 0).map(s => s.name -> s).toMap
    counts.foreach { case (layer, c) =>
      stepSpans.get(layer).foreach { parent =>
        c.jobIntervals.foreach { case (jobId, s, e) =>
          tracer.add(parent.id, iter, s"job $jobId", tracer.epochToNs(s), tracer.epochToNs(e))
        }
      }
    }
    m.toMap
  }

  /** Length of the union of [start, end] intervals, in the intervals' unit. */
  private def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  private def writeTrace(
      path: String,
      workload: String,
      cores: Int,
      tracer: Tracer,
      samples: Seq[Map[String, Double]],
      results: Seq[IterResult]
  ): Unit = {
    val spans = tracer.spans.toSeq
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    def selfNs(s: Span): Long =
      s.durNs - unionLength(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).filter(c => c._2 > c._1))
    val tracedIters = results.zipWithIndex.collect { case (r, i) if r.traced && r.ok => i }.toSet
    val stepSpans = spans.filter(s => s.parent >= 0 && tracedIters(s.iter) && Steps.contains(s.name))
    val selfByLayer = ListMap(Steps.map { st =>
      val own = stepSpans.filter(_.name == st)
      st -> Map(
        "total_s_p50" -> Stats.median(own.map(_.durNs / 1e9)),
        "self_s_p50" -> Stats.median(own.map(selfNs(_) / 1e9)))
    }: _*)
    val roots = spans.filter(_.parent < 0)
    val coverage = roots.filter(r => tracedIters(r.iter)).map { root =>
      children.getOrElse(root.id, Nil).map(_.durNs).sum.toDouble / root.durNs
    }
    val timed = results.drop(1).filterNot(_.loadOnly)
    val tracedP50 = Stats.median(timed.filter(_.traced).map(_.wallS))
    val untracedP50 = Stats.median(timed.filterNot(_.traced).map(_.wallS))
    val doc = Map(
      "workload" -> workload,
      "cores" -> cores,
      "tracing_overhead_s" -> (tracedP50 - untracedP50),
      "traced_pipeline_s_p50" -> tracedP50,
      "untraced_pipeline_s_p50" -> untracedP50,
      "min_span_coverage" -> (if (coverage.isEmpty) 0.0 else coverage.min),
      "layers" -> selfByLayer,
      "layer_samples" -> samples,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "iter" -> s.iter,
        "name" -> s.name, "start_us" -> tracer.relUs(s.startNs), "end_us" -> tracer.relUs(s.endNs))))
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), doc)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** One iteration of the pipeline, and its output check. */
final class Pipeline(spark: SparkSession, csvDir: String, loading: LoadingConfig, truth: JsonNode) {
  import PipelineBench.{IterResult, IterKey, LayerKey, Steps}

  private val valueCols = truth.get("value_columns").elements().asScala.map(_.asText).toSeq
  private val sc = spark.sparkContext

  /** Runs steps 1-8, or 1-5 with `loadOnly`, and returns their output
    * check, which the caller runs after it has taken the iteration's time
    * and trace counts.
    */
  def run(iter: Int, tracer: Tracer, loadOnly: Boolean = false): () => IterResult = {
    sc.setLocalProperty(IterKey, iter.toString)
    val times = mutable.LinkedHashMap.empty[String, Double]
    val t0 = System.nanoTime()
    val root = tracer.add(-1, iter, if (loadOnly) "loaded" else "pipeline", t0, t0) // end patched below
    def step[T](name: String)(f: => T): T = {
      sc.setLocalProperty(LayerKey, name)
      val s = System.nanoTime()
      val v = f
      val e = System.nanoTime()
      times(name) = (e - s) / 1e9
      tracer.add(root, iter, name, s, e)
      v
    }
    try {
      val ex = new TimeMetadataExtractor()
      val found = step("meta.discover") {
        Discovery.discover(csvDir, FileDiscoveryConfig(), new MetadataFileFilter(ex))
      }
      val metas = step("meta.extract")(Discovery.extractAll(found.files, ex))
      val verdict = step("validate.sequence")(new TimeSeriesValidator().isValidSequence(metas))
      val loaded = step("load.build") {
        new TimeSeriesLoader(spark, loading = loading).loadFiles(metas, Some(found.stats))
      }
      step("load.run")(noop(loaded.df))
      val outputs =
        if (loadOnly) None
        else {
          val report = step("ts.continuity")(loaded.analyzeContinuity())
          val resampled = step("ts.resample_build")(loaded.resample("1min", Some("mean")))
          step("ts.resample_run")(noop(resampled))
          Some((report, resampled))
        }
      val t1 = System.nanoTime()
      tracer.spans(root) = tracer.spans(root).copy(endNs = t1)
      val stepTimes = times.toMap
      val wallS = (t1 - t0) / 1e9

      () => {
        sc.setLocalProperty(LayerKey, "check")
        try {
          val issues = new TimeSeriesValidator().validateFiles(metas).size
          val (rows, problems) = check(loaded, outputs)
          val all = problems ++
            (if (!verdict.isValid) Seq(s"sequence rejected: ${verdict.errorMessage}") else Nil) ++
            (if (metas.size != truth.get("files").asInt) Seq(s"files ${metas.size}") else Nil) ++
            (if (issues != truth.get("validation_issues").asInt) Seq(s"validation issues $issues") else Nil)
          IterResult(stepTimes, wallS, all.isEmpty, if (all.isEmpty) None else Some(all.mkString("; ")),
            rows, issues, metas.size, traced = false)
        } catch {
          case e: Exception => failed(stepTimes, wallS, e)
        } finally sc.setLocalProperty(LayerKey, null)
      }
    } catch {
      case e: Exception =>
        val r = failed(times.toMap, (System.nanoTime() - t0) / 1e9, e)
        () => r
    } finally sc.setLocalProperty(LayerKey, null)
  }

  private def failed(steps: Map[String, Double], wallS: Double, e: Exception): IterResult = {
    val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
    IterResult(steps, wallS, ok = false, Some(msg), 0L, 0, 0, traced = false)
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Loaded rows and per-column sums, continuity points and gaps, resample
    * grid, buckets and per-column mean checksums, all against truth.
    */
  private def check(
      loaded: LoadedSeries,
      outputs: Option[(graft.ts.Continuity.ContinuityReport, DataFrame)]
  ): (Long, Seq[String]) = {
    val bad = mutable.ArrayBuffer.empty[String]
    val aggs = count(lit(1)) +: valueCols.flatMap(c => Seq(count(col(c)), sum(col(c))))
    val l = loaded.df.agg(aggs.head, aggs.tail: _*).head()
    val rows = l.getLong(0)
    if (rows != truth.get("rows").asLong) bad += s"loaded rows $rows"
    valueCols.zipWithIndex.foreach { case (c, i) =>
      val t = truth.get("columns").get(c)
      if (l.getLong(1 + 2 * i) != t.get("count").asLong) bad += s"loaded $c count ${l.getLong(1 + 2 * i)}"
      if (!close(l.getDouble(2 + 2 * i), t.get("sum").asDouble)) bad += s"loaded $c sum ${l.getDouble(2 + 2 * i)}"
    }

    outputs.foreach { case (report, resampled) =>
      bad ++= checkTs(report, resampled)
    }
    (rows, bad.toSeq)
  }

  private def checkTs(report: graft.ts.Continuity.ContinuityReport, resampled: DataFrame): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    if (report.totalPoints != truth.get("rows").asLong) bad += s"continuity points ${report.totalPoints}"
    val gaps = report.gaps.map(g => Seq(g.start.getTime / 1000, g.end.getTime / 1000))
    val want = truth.get("gaps").elements().asScala.map(g => Seq(g.get(0).asLong, g.get(1).asLong)).toSeq
    if (gaps != want) bad += s"continuity gaps ${gaps.size} vs ${want.size}"

    val rt = truth.get("resample")
    val raggs = count(lit(1)) +: count(col("source_file")) +:
      valueCols.flatMap(c => Seq(count(col(c)), sum(col(c))))
    val r = resampled.agg(raggs.head, raggs.tail: _*).head()
    if (r.getLong(0) != rt.get("grid").asLong) bad += s"resample grid ${r.getLong(0)}"
    if (r.getLong(1) != rt.get("data_buckets").asLong) bad += s"resample data buckets ${r.getLong(1)}"
    valueCols.zipWithIndex.foreach { case (c, i) =>
      val t = rt.get("columns").get(c)
      if (r.getLong(2 + 2 * i) != t.get("buckets").asLong) bad += s"resample $c buckets ${r.getLong(2 + 2 * i)}"
      if (!close(r.getDouble(3 + 2 * i), t.get("mean_sum").asDouble)) bad += s"resample $c checksum ${r.getDouble(3 + 2 * i)}"
    }
    bad.toSeq
  }
}
