package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (sbt test forks a single JVM).
  *
  * The session PINS `spark.sql.ansi.enabled=true` (Spark 4's default,
  * made explicit so a config drift can't silently weaken it): every suite
  * is therefore an ANSI sweep — an int64 overflow beyond a kernel's
  * documented headroom would THROW here, not wrap, so green tests prove
  * the documented bounds are the real boundary at test magnitudes
  * (AnsiHeadroomSpec pins the mode itself plus the boundary behavior).
  * `GRAFT_ANSI=false sbt test` runs the same suites in legacy wrapping
  * mode for comparison.
  */
object TestSpark {
  val ansiEnabled: Boolean =
    !sys.env.get("GRAFT_ANSI").exists(_.equalsIgnoreCase("false"))
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", ansiEnabled.toString)
      // 468 tests compile thousands of generated classes in one JVM —
      // same static-cache sizing rationale as Bench/Verify (SCALE.md)
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // union partitioning mis-claim workaround — same rationale as Bench
      // (Spark 4.1 zips unequal partition lists under union-into-join)
      .config("spark.sql.unionOutputPartitioning", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** `body`'s result and the number of Spark jobs it started, counted by a
    * listener on jobs tagged with a local property once the listener bus has
    * delivered every event.
    */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = "graft.test.jobCount"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    val result =
      try body
      finally {
        sc.setLocalProperty(tag, null)
        org.apache.spark.ListenerBusBridge.drain(sc)
        sc.removeSparkListener(listener)
      }
    (result, jobs.get)
  }
}
