package graft

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ts.{AsOf, Resample}

/** A fixed 20-case subset of the differential fuzz corpus, runnable inside
  * `sbt test` with NO external oracle: each case pairs an engine operator
  * with an independent brute-force Scala implementation evaluated on the
  * collected in-memory fixture. The full seeded corpus (152 cases,
  * `graft.Fuzz`) still runs through the DuckDB gate via scripts/fuzz.sh;
  * this spec pins the historically nastiest classes — ±1 µs as-of tie
  * boundaries, duplicate/on-timestamp resample edges, all-null skipna
  * buckets, MinHash band factorizations — so a regression in any of them
  * goes red in CI instead of waiting for a driver-side fuzz run.
  *
  * Case census (20):
  *   6 resample edge vectors × method/skipna combos
  *   6 as-of backward/forward tolerance at −1/0/+1 µs around the bound
  *   3 as-of nearest at equidistant midpoints −1/0/+1 µs
  *   3 arbitrary-width skipna buckets with all-null groups
  *   2 MinHash (bands × rowsPerBand) factorizations vs driver banding
  */
class FuzzSpec extends SparkSpec {
  import spark.implicits._

  private val DayUs = 86400000000L
  private val Base = 1600000000000000L // 2020-09-13 12:26:40 UTC, µs

  /** ~500 irregular events, unique strictly-increasing µs timestamps,
    * ~25% null values; deterministic (seed 12).
    */
  private lazy val fixture: Seq[(Long, Option[Long])] = {
    val rnd = new scala.util.Random(12)
    (0 until 500).scanLeft((Base, Option(7L))) { case ((t, _), _) =>
      val step = 1L + rnd.nextInt(7200) * 1000000L / 1000L // 1µs .. ~7.2s
      val v = if (rnd.nextDouble() < 0.25) None else Some(rnd.nextInt(1000).toLong - 500L)
      (t + step, v)
    }.tail
  }

  private def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  private lazy val eventsDf: DataFrame =
    fixture.map { case (us, v) =>
      (tsOf(us), v.map(java.lang.Long.valueOf).orNull)
    }.toDF("ts", "v")

  // ===== A. resample: duplicate edges, edges ON event timestamps ===========

  /** Mirrors the oracle CASE chain over DISTINCT sorted edges: NULL outside
    * [first, last]; else the left edge of the first pair (a, b] with
    * ts <= b (the first bin is closed on both sides).
    */
  private def bucketOf(us: Long, sorted: Seq[Long]): Option[Long] =
    if (us < sorted.head || us > sorted.last) None
    else sorted.sliding(2).collectFirst { case Seq(a, b) if us <= b => a }

  private def expectResample(
      edges: Seq[Long],
      method: Resample.Method,
      skipna: Boolean,
      allNullZero: Boolean): Seq[(Long, Option[Any])] = {
    val sorted = edges.distinct.sorted
    fixture
      .flatMap { case (us, v) => bucketOf(us, sorted).map(b => (b, v)) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, rows) =>
        val vs = rows.map(_._2)
        val nn = vs.flatten
        val out: Option[Any] = (method, skipna, allNullZero) match {
          case (Resample.Method.Mean, true, _) =>
            if (nn.isEmpty) None else Some(nn.sum.toDouble / nn.size)
          case (Resample.Method.Mean, false, _) =>
            if (vs.exists(_.isEmpty) || nn.isEmpty) None
            else Some(nn.sum.toDouble / nn.size)
          case (Resample.Method.Sum, true, false) =>
            if (nn.isEmpty) None else Some(nn.sum)
          case (Resample.Method.Sum, false, _) =>
            if (vs.exists(_.isEmpty) || nn.isEmpty) None else Some(nn.sum)
          case (Resample.Method.Sum, true, true) =>
            Some(if (nn.isEmpty) 0.0 else nn.sum.toDouble)
          case other => sys.error(s"unreachable $other")
        }
        (b, out)
      }
  }

  private def runResample(
      edges: Seq[Long],
      method: Resample.Method,
      skipna: Boolean,
      allNullZero: Boolean): Seq[(Long, Option[Any])] = {
    val out = Resample.resampleWithDates(
      eventsDf, "ts", edges.map(tsOf), method,
      skipna = skipna, sumAllNullZero = allNullZero)
    val asDouble = method == Resample.Method.Mean ||
      (method == Resample.Method.Sum && allNullZero)
    out
      .select(unix_micros(col("ts")).as("b"),
        (if (asDouble) col("v").cast("double") else col("v").cast("long")).as("x"))
      .orderBy("b")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None
        else Some(if (asDouble) r.getDouble(1) else r.getLong(1))))
      .toSeq
  }

  private val ev = fixture.map(_._1)
  private val edgeVectors: Seq[(String, Seq[Long], Resample.Method, Boolean, Boolean)] = Seq(
    // duplicate edge + edge exactly ON an event timestamp
    ("dup_on_event_mean", Seq(ev(10), ev(10), ev(200), ev(450)),
      Resample.Method.Mean, true, false),
    // edges straddling the range (empty leading/trailing bins)
    ("straddle_mean_noskip", Seq(ev.head - DayUs, ev(100), ev(300), ev.last + DayUs),
      Resample.Method.Mean, false, false),
    // all edges ON event timestamps (right-closed boundary hits)
    ("on_events_sum", Seq(ev(0), ev(50), ev(51), ev(499)),
      Resample.Method.Sum, true, false),
    // duplicated middle edge (degenerate empty bin)
    ("dup_middle_sum_noskip", Seq(ev(5), ev(250), ev(250), ev(495)),
      Resample.Method.Sum, false, false),
    // tight bins around a single event (1-row and 0-row buckets)
    ("tight_sum_zero", Seq(ev(42) - 1, ev(42), ev(42) + 1, ev(43)),
      Resample.Method.Sum, true, true),
    // two-edge minimal vector covering everything
    ("minimal_mean", Seq(ev.head, ev.last), Resample.Method.Mean, true, false))

  edgeVectors.foreach { case (tag, edges, m, skipna, z) =>
    test(s"fuzz-fixed resample/$tag matches the brute-force oracle") {
      val got = runResample(edges, m, skipna, z)
      val want = expectResample(edges, m, skipna, z)
      assert(got.size == want.size, s"bucket count: got $got want $want")
      got.zip(want).foreach { case ((gb, gv), (wb, wv)) =>
        assert(gb == wb, s"bucket label: got $gb want $wb")
        (gv, wv) match {
          case (Some(a: Double), Some(b: Double)) =>
            assert(math.abs(a - b) <= math.abs(b) * 1e-12 + 1e-12, s"bucket $gb: $a vs $b")
          case (a, b) => assert(a == b, s"bucket $gb: $a vs $b")
        }
      }
    }
  }

  // ===== B. as-of tolerance at −1/0/+1 µs around the bound =================

  private def asofGrid(shift: Long): Seq[Long] =
    fixture.zipWithIndex.collect { case ((us, _), i) if i % 7 == 3 => us + shift }

  private def bruteBackward(g: Long, tolUs: Long): Option[(Long, Option[Long])] =
    fixture.filter { case (us, _) => us <= g && g - us <= tolUs }
      .sortBy(_._1).lastOption
  private def bruteForward(g: Long, tolUs: Long): Option[(Long, Option[Long])] =
    fixture.filter { case (us, _) => us >= g && us - g <= tolUs }
      .sortBy(_._1).headOption

  private def runAsof(
      grid: Seq[Long],
      dir: AsOf.Direction,
      tolerance: Option[Duration]): Map[Long, (Option[Long], Option[Long])] = {
    val gdf = grid.map(tsOf).toDF("g")
    AsOf.join(gdf, eventsDf, "g", "ts", Seq("v"),
        direction = dir, tolerance = tolerance, prefix = "asof_")
      .select(unix_micros(col("g")), col("asof_v").cast("long"),
        unix_micros(col("asof_ts")))
      .collect()
      .map(r => r.getLong(0) -> (
        (if (r.isNullAt(1)) None else Some(r.getLong(1))),
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap
  }

  private val TolSec = 60L
  Seq(-1L, 0L, 1L).foreach { off =>
    test(s"fuzz-fixed asof backward tolerance boundary ${off}us") {
      // grid points exactly tol(+off) AFTER events: off<=0 in-tolerance
      val grid = asofGrid(TolSec * 1000000L + off)
      val got = runAsof(grid, AsOf.Direction.Backward, Some(Duration.ofSeconds(TolSec)))
      grid.foreach { g =>
        val want = bruteBackward(g, TolSec * 1000000L)
        assert(got(g) == ((want.flatMap(_._2), want.map(_._1))),
          s"grid $g off $off: got ${got(g)} want $want")
      }
    }
    test(s"fuzz-fixed asof forward tolerance boundary ${off}us") {
      val grid = asofGrid(-(TolSec * 1000000L + off))
      val got = runAsof(grid, AsOf.Direction.Forward, Some(Duration.ofSeconds(TolSec)))
      grid.foreach { g =>
        val want = bruteForward(g, TolSec * 1000000L)
        assert(got(g) == ((want.flatMap(_._2), want.map(_._1))),
          s"grid $g off $off: got ${got(g)} want $want")
      }
    }
  }

  // ===== C. as-of nearest at equidistant midpoints ==========================

  Seq(-1L, 0L, 1L).foreach { off =>
    test(s"fuzz-fixed asof nearest midpoint tie ${off}us (earlier wins)") {
      val grid = fixture.map(_._1).sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) if i % 5 == 2 => (a + b) / 2 + off
      }.toSeq
      val got = runAsof(grid, AsOf.Direction.Nearest, None)
      grid.foreach { g =>
        val back = bruteBackward(g, Long.MaxValue)
        val fwd = bruteForward(g, Long.MaxValue)
        val want = (back, fwd) match {
          case (None, f) => f
          case (b, None) => b
          case (Some(b), Some(f)) =>
            if (g - b._1 <= f._1 - g) Some(b) else Some(f)
        }
        assert(got(g) == ((want.flatMap(_._2), want.map(_._1))),
          s"grid $g off $off: got ${got(g)} want $want")
      }
    }
  }

  // ===== D. arbitrary-width skipna buckets with all-null groups =============

  /** Fixture with a contiguous ALL-NULL span (rows 150..249) so wide
    * buckets can be entirely null — the skipna=false poisoning and the
    * sum-over-empty conventions both bite.
    */
  private lazy val nullSpanFixture: Seq[(Long, Option[Long])] =
    fixture.zipWithIndex.map { case ((us, v), i) =>
      (us, if (i >= 150 && i < 250) None else v)
    }

  Seq(307L, 3601L, 86399L).foreach { w =>
    test(s"fuzz-fixed skipna buckets width ${w}s with all-null groups") {
      val df = nullSpanFixture.map { case (us, v) =>
        (tsOf(us), v.map(java.lang.Long.valueOf).orNull)
      }.toDF("ts", "v")
      val got = df.groupBy(window(col("ts"), s"$w seconds"))
        .agg(sum(col("v")).as("s"), count(col("v")).as("n"),
          count(when(col("v").isNull, lit(1))).as("nn"))
        .select(unix_micros(col("window.start")).as("b"),
          when(col("nn") > 0, lit(null).cast("long")).otherwise(col("s")).as("noskip"),
          col("s"), col("n"), col("nn"))
        .orderBy("b")
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getLong(3), r.getLong(4)))
        .toSeq
      val wUs = w * 1000000L
      val want = nullSpanFixture.groupBy { case (us, _) => Math.floorDiv(us, wUs) * wUs }
        .toSeq.sortBy(_._1)
        .map { case (b, rows) =>
          val vs = rows.map(_._2)
          val nn = vs.flatten
          (b,
            if (vs.exists(_.isEmpty) || nn.isEmpty) None else Some(nn.sum),
            if (nn.isEmpty) None else Some(nn.sum),
            nn.size.toLong, vs.count(_.isEmpty).toLong)
        }
      assert(got == want, s"width $w: got ${got.take(5)}... want ${want.take(5)}...")
    }
  }

  // ===== E. MinHash band factorizations vs driver-side banding ==============

  private lazy val docsDf: DataFrame = {
    val rnd = new scala.util.Random(99)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    (0 until 24).map { i =>
      val base = Vector.fill(30)(vocab(rnd.nextInt(vocab.size)))
      // docs 3k+1 are near-dups of 3k (one token changed)
      val toks = if (i % 3 == 1) {
        val prev = new scala.util.Random(99 + (i - 1)) // not used; keep simple
        base.updated(7, "zulu")
      } else base
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
  }

  Seq((4, 8), (8, 4)).foreach { case (bands, rows) =>
    test(s"fuzz-fixed minhash ${bands}x$rows candidate pairs == driver banding of the signatures") {
      val sigs = graft.ops.Dedup.signatures(docsDf, "doc_id", "text", 3, bands * rows)
      val collected = sigs.collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toSeq
      // driver-side banding: docs sharing any band SLICE are candidates
      // (the engine buckets on a Horner hash of the slice — equal slices
      // always collide; spurious hash collisions are ~2^-36 per bucket)
      val want = (0 until bands).flatMap { b =>
        collected.groupBy(_._2.slice(b * rows, (b + 1) * rows))
          .valuesIterator.flatMap { ds =>
            val ids = ds.map(_._1).sorted
            for (i <- ids.indices; j <- (i + 1) until ids.size)
              yield (ids(i), ids(j))
          }
      }.toSet
      val got = graft.ops.Dedup.minhashCandidatePairs(
          docsDf, "doc_id", "text", shingleSize = 3,
          bands = bands, rowsPerBand = rows,
          precomputedSigs = Some(sigs))
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"pairs: engine ${got.size} vs oracle ${want.size}; " +
          s"only-engine=${(got -- want).take(3)} only-oracle=${(want -- got).take(3)}")
    }
  }

  // ===== F. fill/interpolate consecutive-limit boundaries ===================

  /** Brute-force pandas-limit semantics on the fixture: fill a null only if
    * its distance from the last valid row (in fill direction) is <= limit.
    */
  private def expectFill(forward: Boolean, limit: Int): Seq[Option[Long]] = {
    val vs = if (forward) fixture.map(_._2) else fixture.map(_._2).reverse
    val out = vs.zipWithIndex.map { case (v, i) =>
      if (v.isDefined) v
      else {
        val j = (i - 1 to 0 by -1).find(k => vs(k).isDefined)
        j.filter(i - _ <= limit).map(k => vs(k).get)
      }
    }
    if (forward) out else out.reverse
  }

  private def expectInterp(limit: Int): Seq[Option[Double]] = {
    val n = fixture.size
    (0 until n).map { i =>
      fixture(i)._2 match {
        case Some(v) => Some(v.toDouble)
        case None =>
          val j = (i - 1 to 0 by -1).find(k => fixture(k)._2.isDefined)
          val k = (i + 1 until n).find(m => fixture(m)._2.isDefined)
          j.filter(i - _ <= limit).map { jj =>
            val (tj, vj) = (fixture(jj)._1.toDouble / 1e6, fixture(jj)._2.get.toDouble)
            k match {
              case None => vj // trailing nulls carry the last valid value
              case Some(kk) =>
                val (tk, vk) = (fixture(kk)._1.toDouble / 1e6, fixture(kk)._2.get.toDouble)
                val t = fixture(i)._1.toDouble / 1e6
                vj + (vk - vj) * (t - tj) / (tk - tj)
            }
          }
      }
    }
  }

  Seq((true, 1), (true, 2), (false, 1), (false, 3)).foreach { case (fwd, lim) =>
    val dir = if (fwd) "ffill" else "bfill"
    test(s"fuzz-fixed global $dir limit=$lim matches the brute-force oracle") {
      val filled =
        if (fwd) graft.ts.Fill.ffill(eventsDf, "ts", Seq("v"), Some(lim))
        else graft.ts.Fill.bfill(eventsDf, "ts", Seq("v"), Some(lim))
      val got = filled.orderBy("ts").select("v").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
      assert(got == expectFill(fwd, lim))
    }
  }

  Seq(1, 2).foreach { lim =>
    test(s"fuzz-fixed global time interpolation limit=$lim matches the brute-force oracle") {
      val got = graft.ts.Fill.interpolateTime(eventsDf, "ts", Seq("v"), Some(lim))
        .orderBy("ts").select("v").collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
      val want = expectInterp(lim)
      assert(got.size == want.size)
      got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
        (g, w) match {
          case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"row $i: $a vs $b")
          case (a, b) => assert(a == b, s"row $i: $a vs $b")
        }
      }
    }
  }

  // ===== E. spine-consumer inventory + per-consumer dual-path diff =========
  // (round 13) The RangeSeries chunked spine has TWO independent plans for
  // every global operator: gates-off (range-partitioned spine) and gates-on
  // (one-task window fast path). A consumer that only ever ran one path has
  // no second oracle; these tests make that impossible to ship:
  //   1. the inventory test re-greps the source tree for RangeSeries global
  //      call sites and fails when a file appears that has no registered
  //      case in Fuzz.spineConsumerCases (or a registered file vanished),
  //   2. each registered case runs BOTH paths at sf0.001 and requires
  //      bit-identical sorted rows.

  /** Source files allowed to call RangeSeries global entry points without
    * a dual-path case: the spine itself and the diagnostic harnesses
    * (Fuzz drives consumers, SkewProbe measures the spine's own skew).
    */
  private val spineDiagnostics = Set(
    "graft/ts/RangeSeries.scala", "graft/Fuzz.scala", "graft/SkewProbe.scala")

  test("every RangeSeries global consumer has a registered dual-path case") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"test must run from the repo root (cwd=${System.getProperty("user.dir")})")
    val pat = java.util.regex.Pattern.compile(
      "RangeSeries\\.with(Running|GlobalBounded)")
    val walk = java.nio.file.Files.walk(root)
    val consumers =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.toString.endsWith(".scala"))
          .filter(p => pat.matcher(java.nio.file.Files.readString(p)).find())
          .map(p => root.relativize(p).toString)
          .toSet -- spineDiagnostics
      } finally walk.close()
    val registered = Fuzz.spineConsumerCases.keySet.map(_.takeWhile(_ != '#'))
    assert(consumers.nonEmpty, "grep found no consumers — pattern rot?")
    assert((consumers -- registered).isEmpty,
      s"spine consumers without a dual-path case: ${consumers -- registered}")
    assert((registered -- consumers).isEmpty,
      s"stale spineConsumerCases entries (file no longer a consumer): " +
        s"${registered -- consumers}")
  }

  Fuzz.spineConsumerCases.toSeq.sortBy(_._1).foreach { case (key, fn) =>
    test(s"spine dual-path: $key agrees gates-off vs gates-on") {
      def runWith(gate: String): Seq[String] = {
        spark.conf.set("graft.rangeSeries.fastPathRows", gate)
        spark.conf.set("graft.rangeSeries.fastPathBytes", gate)
        try fn(spark, "/root/testdata/sf0.001").collect()
          .map(_.toString).sorted.toSeq
        finally {
          spark.conf.unset("graft.rangeSeries.fastPathRows")
          spark.conf.unset("graft.rangeSeries.fastPathBytes")
        }
      }
      val spinePath = runWith("0")
      val fastPath = runWith((1L << 40).toString)
      assert(spinePath.size == fastPath.size,
        s"row count: spine=${spinePath.size} fast=${fastPath.size}")
      val diff = spinePath.zip(fastPath).find { case (a, b) => a != b }
      assert(diff.isEmpty, s"first differing row: $diff")
    }
  }
}
