package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dev utility: write `explain("formatted")` of named queries to
  * `<outDir>/<query>_<tag>.txt` — the before/after plan evidence the
  * optimization rounds commit under `plans/rNN/`. Uses the same session
  * shape as [[Bench]] (local[$SPARK_GRAFT_CPUS], shuffle.partitions =
  * cpus) so the static plans match what the bench executes; AQE's
  * runtime re-plan is not visible here, matching `.explain()` semantics.
  * With AQE on that plan holds no `WholeStageCodegen` node, so each query
  * is also written to `<outDir>/<query>_<tag>_noaqe.txt` from
  * [[PlanSnapshot.session]]: AQE and the small-input gates off, the plan
  * whose codegen stages `PLANS.json` counts as `wscg`.
  *
  * Usage: scripts/run.sh graft.DumpPlans <outDir> <tag> <query...>
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.unionOutputPartitioning", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Files.createDirectories(Paths.get(outDir))
    val noAqe = PlanSnapshot.session(spark)
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          for ((session, suffix) <- Seq(spark -> "", noAqe -> "_noaqe")) {
            val plan =
              try fn(session, sfDir).queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
              catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
            val file = s"$outDir/${name}_$tag$suffix.txt"
            Files.writeString(Paths.get(file), plan)
            println(s"[plans] wrote $file")
          }
        case None => System.err.println(s"[plans] unknown query: $name")
      }
    }
    spark.stop()
  }
}
