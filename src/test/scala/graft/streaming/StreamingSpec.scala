package graft.streaming

import graft.SparkSpec
import graft.core.LoadingConfig
import java.nio.file.Files
import java.time.Duration
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("csvStream + upsampleStream: file-source micro-batches feed a windowed agg") {
    val dir = Files.createTempDirectory("graft-stream")
    Files.writeString(dir.resolve("part1.csv"),
      "ts;v\n2024-01-01 00:05:00;1.0\n2024-01-01 00:10:00;3.0\n2024-01-01 01:05:00;5.0\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))

    val stream = StreamingResample.csvStream(spark, dir.toString, schema,
      LoadingConfig(delimiter = ";"))
    assert(stream.isStreaming)
    val agg = StreamingResample.upsampleStream(stream, "ts",
      Duration.ofHours(1), Seq("v"))
    val q = agg.writeStream
      .format("memory").queryName("graft_stream_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("graft_stream_test").orderBy("ts").collect()
      assert(rows.length == 2)
      assert(rows(0).getDouble(1) == 2.0) // mean(1,3) in hour 0
      assert(rows(0).getLong(3) == 2L)    // count
      assert(rows(1).getDouble(1) == 5.0)
    } finally q.stop()
  }

  test("upsampleStream on a batch frame produces the same windowed aggregate") {
    val df = Seq(
      (ts("2024-01-01 00:05:00"), 1.0),
      (ts("2024-01-01 00:10:00"), 3.0)
    ).toDF("ts", "v")
    val out = StreamingResample.upsampleStream(df, "ts", Duration.ofHours(1), Seq("v"))
    assert(out.head().getDouble(1) == 2.0)
  }

  test("upsampleStream at 500ms and sessionizeStream with a 1500ms gap keep " +
    "sub-second widths on a batch frame") {
    val base = ts("2024-01-01 00:00:00").getTime
    val fourHz = (0 until 8).map(i => (new java.sql.Timestamp(base + i * 250L), i.toDouble))
      .toDF("ts", "v")
    val up = StreamingResample.upsampleStream(fourHz, "ts", Duration.ofMillis(500), Seq("v"))
      .orderBy("ts").collect()
    assert(up.map(r => (r.getTimestamp(0).getTime - base, r.getDouble(1), r.getLong(3))).toSeq ==
      Seq((0L, 0.5, 2L), (500L, 2.5, 2L), (1000L, 4.5, 2L), (1500L, 6.5, 2L)))
    val events = Seq(0L, 1200L, 2400L, 4000L)
      .map(ms => ("u1", new java.sql.Timestamp(base + ms))).toDF("user_id", "ts")
    val sessions = StreamingResample.sessionizeStream(events, "ts",
        Duration.ofMillis(1500), Seq("user_id"))
      .orderBy("session_start").collect()
    assert(sessions.map(_.getLong(3)).toSeq == Seq(3L, 1L))
  }

  test("sessionizeStream: native session windows across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingResample.SeriesPoint]
    val sessions = StreamingResample.sessionizeStream(
      input.toDS().toDF("series", "ts"), "ts",
      java.time.Duration.ofMinutes(30), Seq("series"))
    val q = sessions.writeStream
      .format("memory").queryName("graft_session_test")
      .outputMode("complete").start()
    try {
      input.addData(
        StreamingResample.SeriesPoint("a", ts("2024-01-01 10:00:00")),
        StreamingResample.SeriesPoint("a", ts("2024-01-01 10:10:00")),
        StreamingResample.SeriesPoint("a", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val rows = spark.table("graft_session_test").orderBy("session_start").collect()
      assert(rows.length == 2) // 10:00-10:10 merged; 12:00 separate
      assert(rows(0).getLong(3) == 2L)
      assert(rows(1).getLong(3) == 1L)
      // late event within the first session window merges into it
      input.addData(StreamingResample.SeriesPoint("a", ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      val merged = spark.table("graft_session_test").orderBy("session_start").collect()
      assert(merged(0).getLong(3) == 3L)
    } finally q.stop()
  }

  test("watermark finalizes windows in append mode (the late-data policy)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingResample.SeriesPoint]
    val agg = StreamingResample.upsampleStream(
      input.toDS().toDF("series", "ts").select(col("ts"),
        lit(1.0).as("v")),
      "ts", Duration.ofHours(1), Seq("v"),
      watermark = Duration.ofMinutes(10))
    val q = agg.writeStream
      .format("memory").queryName("graft_wm_test")
      .outputMode("append").start()
    try {
      // events in hour 10; nothing emits (window not finalized)
      input.addData(
        StreamingResample.SeriesPoint("a", ts("2024-01-01 10:05:00")),
        StreamingResample.SeriesPoint("a", ts("2024-01-01 10:50:00")))
      q.processAllAvailable()
      assert(spark.table("graft_wm_test").count() == 0)
      // event at 12:00 advances the watermark to 11:50 -> hour-10 window
      // (ends 11:00) is final and emits with both rows counted
      input.addData(StreamingResample.SeriesPoint("a", ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val finalized = spark.table("graft_wm_test").collect()
      assert(finalized.length == 1)
      assert(finalized.head.getLong(3) == 2L) // v_count
      // a LATE row for hour 10 (behind the watermark) is dropped: no
      // duplicate/updated emission for that window
      input.addData(StreamingResample.SeriesPoint("a", ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      assert(spark.table("graft_wm_test").count() == 1)
    } finally q.stop()
  }

  test("detectGapsStream: stateful per-series gap detection across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingResample.SeriesPoint]
    val gaps = StreamingResample.detectGapsStream(
      input.toDS(), threshold = Duration.ofMinutes(90))
    val q = gaps.writeStream
      .format("memory").queryName("graft_gap_test")
      .outputMode("append").start()
    try {
      // batch 1: hourly points, no gap
      input.addData(
        StreamingResample.SeriesPoint("a", ts("2024-01-01 00:00:00")),
        StreamingResample.SeriesPoint("a", ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      assert(spark.table("graft_gap_test").count() == 0)
      // batch 2: next point 4h later -> gap event spanning micro-batches
      input.addData(StreamingResample.SeriesPoint("a", ts("2024-01-01 05:00:00")))
      q.processAllAvailable()
      val out = spark.table("graft_gap_test").as[StreamingResample.GapEvent].collect()
      assert(out.length == 1)
      assert(out.head.gap_start == ts("2024-01-01 01:00:00"))
      assert(out.head.gap_end == ts("2024-01-01 05:00:00"))
      assert(out.head.duration_s == 4 * 3600L)
      // series isolation: b starting fresh emits nothing
      input.addData(StreamingResample.SeriesPoint("b", ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      assert(spark.table("graft_gap_test").count() == 1)
    } finally q.stop()
  }

  test("detectGapsStream event-time timeout: idle series state is evicted " +
    "when the WATERMARK (not the wall clock) passes lastTs+idleTimeout — " +
    "deterministic across 10 repeats") {
    implicit val sqlCtx = spark.sqlContext
    // threshold 90m, idle timeout 2h, watermark delay 10m. Everything is
    // event-time-driven: the same batch sequence must produce the same
    // output every run (no processing-time timeout, no rate source).
    (1 to 10).foreach { rep =>
      val input = MemoryStream[StreamingResample.SeriesPoint]
      val gaps = StreamingResample.detectGapsStream(
        input.toDS(), threshold = Duration.ofMinutes(90),
        idleTimeout = Some(Duration.ofHours(2)),
        wmDelay = Duration.ofMinutes(10))
      val qn = s"graft_gap_evict_$rep"
      val q = gaps.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try {
        // b1: a's last point 01:00 arms a's timeout at 03:00; x at 00:00
        // arms x's at 02:00. Watermark after b1 = 00:50.
        input.addData(
          StreamingResample.SeriesPoint("a", ts("2024-01-01 00:00:00")),
          StreamingResample.SeriesPoint("a", ts("2024-01-01 01:00:00")),
          StreamingResample.SeriesPoint("x", ts("2024-01-01 00:00:00")))
        q.processAllAvailable()
        // b2 (positive control): x's next point BEFORE any eviction — its
        // state is live, so the 2h45m gap (> 90m) emits. WM -> 02:35.
        input.addData(
          StreamingResample.SeriesPoint("x", ts("2024-01-01 02:45:00")))
        q.processAllAvailable()
        assert(spark.table(qn).count() == 1, s"rep $rep: control gap")
        // b3: advance the watermark past both timeouts (b at 10:00 ->
        // WM 09:50 > 03:00); the evictions FIRE on the next batch.
        input.addData(
          StreamingResample.SeriesPoint("b", ts("2024-01-01 10:00:00")))
        q.processAllAvailable()
        // b4: any batch runs the timeout pass -> a and x are dropped
        input.addData(
          StreamingResample.SeriesPoint("c", ts("2024-01-01 10:30:00")))
        q.processAllAvailable()
        // b5: a returns after 10h of silence — with live state this would
        // be a 01:00->11:00 gap event (see the NoTimeout test above);
        // with the state evicted it starts FRESH and emits nothing
        input.addData(
          StreamingResample.SeriesPoint("a", ts("2024-01-01 11:00:00")))
        q.processAllAvailable()
        val out = spark.table(qn)
          .as[StreamingResample.GapEvent].collect()
        assert(out.length == 1, s"rep $rep: got ${out.toSeq}")
        assert(out.head.series == "x", s"rep $rep")
      } finally {
        q.stop()
        spark.catalog.dropTempView(qn)
      }
    }
  }

  test("detectGapsStream backfill robustness: a series arriving entirely " +
    "BEHIND the watermark folds without crashing and evicts at the next " +
    "trigger (round-13 sf1 replay finding: the unclamped timeout " +
    "lastTs+idle < watermark killed the whole query)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingResample.SeriesPoint]
    val gaps = StreamingResample.detectGapsStream(
      input.toDS(), threshold = Duration.ofMinutes(90),
      idleTimeout = Some(Duration.ofHours(2)),
      wmDelay = Duration.ofMinutes(10))
    val qn = "graft_gap_backfill"
    val q = gaps.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      // b1: low watermark (00:20)
      input.addData(
        StreamingResample.SeriesPoint("live", ts("2024-01-01 00:30:00")))
      q.processAllAvailable()
      // b2: far-future traffic — watermark jumps to June
      input.addData(
        StreamingResample.SeriesPoint("live", ts("2024-06-01 00:00:00")))
      q.processAllAvailable()
      // b3: the backfilled partition (January). The engine's late filter
      // drops it silently here (MemoryStream commits the June watermark
      // before this batch) — the query must stay alive either way; the
      // crash shape itself needs file-source batch sequencing and is
      // pinned by the file-source test below
      input.addData(
        StreamingResample.SeriesPoint("old", ts("2024-01-01 00:21:00")),
        StreamingResample.SeriesPoint("old", ts("2024-01-01 03:21:00")))
      q.processAllAvailable()
      // b4: the query is alive
      input.addData(
        StreamingResample.SeriesPoint("live", ts("2024-06-01 01:00:00")))
      q.processAllAvailable()
      val out = spark.table(qn).as[StreamingResample.GapEvent].collect()
      // live's own Jan->June silence; the backfilled rows were dropped by
      // the engine's late filter before the kernel saw them
      assert(out.length == 1 && out.head.series == "live", s"got ${out.toSeq}")
    } finally {
      q.stop()
      spark.catalog.dropTempView(qn)
    }
  }

  test("detectGapsStream backfill via FILE source: an out-of-order file " +
    "behind the watermark must not kill the query (the unclamped timeout " +
    "threw `Timeout timestamp cannot be earlier than the current " +
    "watermark` — round-13 sf1 replay)") {
    // Miniature of the StreamState replay: three parquet slices whose
    // MTIME order (= arrival order under maxFilesPerTrigger=1) is
    // low -> high -> OLD, so the old slice arrives after the watermark
    // passed it. The file-source's batch pipelining leaves the late-input
    // filter one watermark behind the timeout validator, so the old rows
    // REACH the kernel; unclamped, arming lastTs+idle there is rejected
    // by the state store and the whole query dies.
    val dir = Files.createTempDirectory("graft-backfill")
    def slice(name: String, rows: Seq[(String, java.sql.Timestamp)], mtime: Long): Unit = {
      import spark.implicits._
      val f = dir.resolve(name)
      rows.toDF("series", "ts").coalesce(1).write.mode("overwrite")
        .parquet(f.toString)
      f.toFile.listFiles().foreach(_.setLastModified(mtime))
      f.toFile.setLastModified(mtime)
    }
    slice("s0", Seq(("live", ts("2024-01-01 00:30:00"))), 1000000L)
    slice("s1", Seq(("live", ts("2024-06-01 00:00:00"))), 2000000L)
    slice("s2", Seq(
      ("old", ts("2024-01-01 00:21:00")),
      ("old", ts("2024-01-01 03:21:00"))), 3000000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("series",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    import spark.implicits._
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
      .as[StreamingResample.SeriesPoint]
    val gaps = StreamingResample.detectGapsStream(stream,
      threshold = Duration.ofMinutes(90),
      idleTimeout = Some(Duration.ofHours(2)),
      wmDelay = Duration.ofMinutes(10))
    val q = gaps.writeStream.format("memory").queryName("graft_gap_backfile")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // unclamped kernel: this THROWS
      val out = spark.table("graft_gap_backfile")
        .as[StreamingResample.GapEvent].collect()
      // live's Jan->June gap is guaranteed; whether the old slice's own
      // 3h gap surfaces depends on whether its rows beat the late filter
      // (arrival pipelining) — the invariant is survival, not the count
      assert(out.nonEmpty && out.exists(_.series == "live"), s"got ${out.toSeq}")
    } finally {
      q.stop()
      spark.catalog.dropTempView("graft_gap_backfile")
    }
  }

  test("dedupStream horizon eviction: a duplicate arriving after the " +
    "watermark evicted its hash emits AGAIN (the horizon contract) — " +
    "deterministic across 10 repeats") {
    implicit val sqlCtx = spark.sqlContext
    (1 to 10).foreach { rep =>
      val input = MemoryStream[StreamingResample.SeriesPoint]
      val dedup = StreamingResample.dedupStream(
        input.toDS().toDF("text", "ts"), "ts", "text",
        watermark = Duration.ofHours(1))
      val qn = s"graft_dedup_evict_$rep"
      val q = dedup.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try {
        input.addData(
          StreamingResample.SeriesPoint("dup", ts("2024-01-01 10:00:00")))
        q.processAllAvailable()
        // inside the horizon: suppressed
        input.addData(
          StreamingResample.SeriesPoint("dup", ts("2024-01-01 10:30:00")))
        q.processAllAvailable()
        assert(spark.table(qn).count() == 1, s"rep $rep: in-horizon dedup")
        // advance the watermark 10h -> the dup hash's state is evicted
        input.addData(
          StreamingResample.SeriesPoint("other", ts("2024-01-01 20:00:00")))
        q.processAllAvailable()
        // beyond the horizon: the SAME content emits a second time
        input.addData(
          StreamingResample.SeriesPoint("dup", ts("2024-01-01 20:30:00")))
        q.processAllAvailable()
        val texts = spark.table(qn).select("text").as[String].collect()
        assert(texts.count(_ == "dup") == 2,
          s"rep $rep: expected re-emission after eviction, got ${texts.toSeq}")
        assert(texts.count(_ == "other") == 1, s"rep $rep")
      } finally {
        q.stop()
        spark.catalog.dropTempView(qn)
      }
    }
  }

  test("state-store provider swap: gap-eviction and dedup kernels emit " +
    "IDENTICAL results under RocksDBStateStoreProvider — the backend a " +
    "100 TB deployment runs — and the checkpoint proves which provider ran") {
    // The four-decade state tables (SCALE.md) ran on the default in-memory
    // HDFS-backed provider, which caps total state at executor heap. At the
    // extrapolated 100M-series ≈ 27 GB state, production uses RocksDB
    // (state on local disk). The kernels must not care: state access goes
    // through the same GroupState / dropDuplicatesWithinWatermark surface.
    // This pins value parity AND verifies the provider actually engaged
    // (RocksDB checkpoints version.zip snapshots; HDFS writes version.delta).
    implicit val sqlCtx = spark.sqlContext
    val rocksCls =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val confKey = "spark.sql.streaming.stateStore.providerClass"

    def scenario(provider: Option[String]): (Seq[String], Seq[String], Boolean) = {
      val prev = spark.conf.getOption(confKey)
      provider.foreach(spark.conf.set(confKey, _))
      try {
        val ckpt = Files.createTempDirectory("graft-provider-ab").toString
        // gap kernel with idle-timeout eviction: exercises state get/put/
        // remove + event-time timeout through flatMapGroupsWithState
        val gapsIn = MemoryStream[StreamingResample.SeriesPoint]
        val gaps = StreamingResample.detectGapsStream(
          gapsIn.toDS(), threshold = Duration.ofMinutes(30),
          idleTimeout = Some(Duration.ofHours(1)))
        val gq = gaps.writeStream.format("memory").queryName("graft_prov_gap")
          .option("checkpointLocation", s"$ckpt/gap")
          .outputMode("append").start()
        val gapRows = try {
          gapsIn.addData(
            StreamingResample.SeriesPoint("a", ts("2024-01-01 00:00:00")),
            StreamingResample.SeriesPoint("a", ts("2024-01-01 02:00:00")),
            StreamingResample.SeriesPoint("b", ts("2024-01-01 00:00:00")))
          gq.processAllAvailable()
          // advance watermark far past b's lastTs+idle -> b's state evicts
          gapsIn.addData(
            StreamingResample.SeriesPoint("a", ts("2024-01-01 12:00:00")))
          gq.processAllAvailable()
          // b restarts AFTER eviction: no gap vs its pre-eviction point
          gapsIn.addData(
            StreamingResample.SeriesPoint("b", ts("2024-01-01 13:00:00")))
          gq.processAllAvailable()
          spark.table("graft_prov_gap")
            .selectExpr("concat(series,'|',gap_start,'|',gap_end,'|',duration_s)")
            .as[String].collect().toSeq.sorted
        } finally {
          gq.stop(); spark.catalog.dropTempView("graft_prov_gap")
        }
        // dedup kernel: dropDuplicatesWithinWatermark's built-in state op
        val dupIn = MemoryStream[StreamingResample.SeriesPoint]
        val dedup = StreamingResample.dedupStream(
          dupIn.toDS().toDF("text", "ts"), "ts", "text",
          watermark = Duration.ofHours(1))
        val dq = dedup.writeStream.format("memory").queryName("graft_prov_dup")
          .option("checkpointLocation", s"$ckpt/dup")
          .outputMode("append").start()
        val dupRows = try {
          dupIn.addData(
            StreamingResample.SeriesPoint("x", ts("2024-01-01 10:00:00")),
            StreamingResample.SeriesPoint("x", ts("2024-01-01 10:20:00")))
          dq.processAllAvailable()
          // watermark-advancing batch: x's hash state (expires 11:00)
          // evicts once the watermark reaches 19:00
          dupIn.addData(
            StreamingResample.SeriesPoint("y", ts("2024-01-01 20:00:00")))
          dq.processAllAvailable()
          // post-eviction: the SAME content emits a second time
          dupIn.addData(
            StreamingResample.SeriesPoint("x", ts("2024-01-01 20:30:00")))
          dq.processAllAvailable()
          spark.table("graft_prov_dup")
            .selectExpr("concat(text,'|',ts)").as[String].collect().toSeq.sorted
        } finally {
          dq.stop(); spark.catalog.dropTempView("graft_prov_dup")
        }
        // provider fingerprint in the checkpoint: RocksDB snapshots land as
        // <version>.zip (plus SST payloads); the HDFS provider as <version>.delta
        import scala.jdk.CollectionConverters._
        val stateFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
          .iterator().asScala.map(_.getFileName.toString).toSeq
        val sawZip = stateFiles.exists(_.endsWith(".zip"))
        val sawDelta = stateFiles.exists(_.endsWith(".delta"))
        (gapRows, dupRows, if (provider.isDefined) sawZip else sawDelta && !sawZip)
      } finally {
        provider match {
          case Some(_) => prev match {
            case Some(p) => spark.conf.set(confKey, p)
            case None => spark.conf.unset(confKey)
          }
          case None => ()
        }
      }
    }

    val (gapDefault, dupDefault, defaultFp) = scenario(None)
    val (gapRocks, dupRocks, rocksFp) = scenario(Some(rocksCls))
    assert(defaultFp, "default-provider checkpoint should contain .delta state files")
    assert(rocksFp, "RocksDB checkpoint should contain .zip state snapshots — " +
      "provider did not engage")
    // the scenario is non-trivial on both state ops: one real gap event
    // (a 2h jump over a 30m threshold) and one post-eviction re-emission
    assert(gapDefault.nonEmpty && dupDefault.size == 3)
    assert(gapRocks == gapDefault, "gap kernel results differ across providers")
    assert(dupRocks == dupDefault, "dedup results differ across providers")
  }

  test("scd2Stream late-update policy: an out-of-order cross-batch " +
    "straggler is DROPPED — it neither closes the open interval nor " +
    "corrupts history — deterministic across 10 repeats") {
    import StreamingResample.{AttrPoint, IntervalClose}
    implicit val sqlCtx = spark.sqlContext
    (1 to 10).foreach { rep =>
      val input = MemoryStream[AttrPoint]
      val qn = s"graft_scd2_late_$rep"
      val q = StreamingResample.scd2Stream(input.toDS())
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try {
        // b1: bronze opens at 00:00; gold at 02:00 closes it
        input.addData(
          AttrPoint("u1", ts("2024-01-01 00:00:00"), "bronze"),
          AttrPoint("u1", ts("2024-01-01 02:00:00"), "gold"))
        q.processAllAvailable()
        // b2: LATE update — silver@01:00 arrives AFTER gold@02:00 folded.
        // Without the policy this would close gold with valid_to 01:00 <
        // valid_from 02:00 (a corrupted negative interval). It must drop.
        input.addData(AttrPoint("u1", ts("2024-01-01 01:00:00"), "silver"))
        q.processAllAvailable()
        assert(spark.table(qn).count() == 1, s"rep $rep: late point must not close")
        // b3: in-order bronze@03:00 closes gold — the open interval was
        // untouched by the straggler (since 02:00, n_events 1)
        input.addData(AttrPoint("u1", ts("2024-01-01 03:00:00"), "bronze"))
        q.processAllAvailable()
        val closed = spark.table(qn).as[IntervalClose].collect()
          .map(c => (c.attr, c.valid_from, c.valid_to, c.n_events))
          .sortBy(_._2.getTime)
        assert(closed.toSeq == Seq(
          ("bronze", ts("2024-01-01 00:00:00"), ts("2024-01-01 02:00:00"), 1L),
          ("gold", ts("2024-01-01 02:00:00"), ts("2024-01-01 03:00:00"), 1L)),
          s"rep $rep: got ${closed.toSeq}")
        // no interval may ever run backwards, late input or not
        assert(closed.forall(c => !c._3.before(c._2)), s"rep $rep")
      } finally {
        q.stop()
        spark.catalog.dropTempView(qn)
      }
    }
  }

  test("ivfIngestStream horizon eviction: a re-delivered vector inside " +
    "the horizon is indexed once; after the WATERMARK evicts its id it " +
    "indexes again — deterministic across 10 repeats") {
    import graft.ops.Similarity
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    def vec(seed: Int) =
      Array.tabulate(dim)(d => math.sin((seed + 1.0) * (d + 1)).toFloat)
    val corpus = (0L until 16L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding")
    val packed = Similarity.packCentroids(
      Similarity.kmeansCentroids(corpus, "vec_id", "embedding", nlist = 4, iters = 1))
    // the frozen-centroid cell v100 must land in, computed ONCE in batch —
    // the stream must agree on every (re-)admission
    val expectCell = Similarity.assignCellsPacked(
      Seq((100L, vec(100))).toDF("vec_id", "embedding"), packed, "embedding")
      .select("cell").collect().head.getInt(0)
    (1 to 10).foreach { rep =>
      val input = MemoryStream[(Long, Array[Float], java.sql.Timestamp)]
      val qn = s"graft_ivf_evict_$rep"
      val q = StreamingIndex.ivfIngestStream(
          input.toDS().toDF("vec_id", "embedding", "ts"), packed,
          "vec_id", "embedding", "ts", horizon = Duration.ofHours(1))
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try {
        input.addData((100L, vec(100), ts("2024-01-01 10:00:00")))
        q.processAllAvailable()
        // at-least-once re-delivery inside the horizon: suppressed
        input.addData((100L, vec(100), ts("2024-01-01 10:30:00")))
        q.processAllAvailable()
        assert(spark.table(qn).count() == 1, s"rep $rep: in-horizon dup indexed twice")
        // another vector far ahead advances the watermark -> id 100 evicts
        input.addData((7L, vec(7), ts("2024-01-01 20:00:00")))
        q.processAllAvailable()
        // beyond the horizon: the SAME id is admitted (and re-assigned) again
        input.addData((100L, vec(100), ts("2024-01-01 20:30:00")))
        q.processAllAvailable()
        val out = spark.table(qn)
          .select("vec_id", "cell").collect()
          .map(r => r.getLong(0) -> r.getInt(1))
        assert(out.count(_._1 == 100L) == 2,
          s"rep $rep: expected re-admission after eviction, got ${out.toSeq}")
        assert(out.filter(_._1 == 100L).forall(_._2 == expectCell),
          s"rep $rep: every admission must use the frozen centroids")
        assert(out.count(_._1 == 7L) == 1, s"rep $rep")
      } finally {
        q.stop()
        spark.catalog.dropTempView(qn)
      }
    }
  }

  test("cusumStream: drift alarm fires once the statistic crosses, state spans batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingResample.ValuePoint]
    val alarms = StreamingResample.cusumStream(
      input.toDS(), target = 10.0, slack = 0.5, threshold = 5.0)
    val q = alarms.writeStream
      .format("memory").queryName("graft_cusum_test")
      .outputMode("append").start()
    try {
      // batch 1: on-target values accumulate nothing
      input.addData(
        StreamingResample.ValuePoint("a", ts("2024-01-01 00:00:00"), 10.0),
        StreamingResample.ValuePoint("a", ts("2024-01-01 00:01:00"), 10.2))
      q.processAllAvailable()
      assert(spark.table("graft_cusum_test").count() == 0)
      // batch 2: sustained +3 shift; hi accumulates 2.5 per point, crosses 5
      // at the third shifted point (2.5 -> 5.0 -> 7.5) — ACROSS batches
      input.addData(
        StreamingResample.ValuePoint("a", ts("2024-01-01 00:02:00"), 13.0),
        StreamingResample.ValuePoint("a", ts("2024-01-01 00:03:00"), 13.0))
      q.processAllAvailable()
      assert(spark.table("graft_cusum_test").count() == 0) // hi = 5.0, not yet > 5
      input.addData(
        StreamingResample.ValuePoint("a", ts("2024-01-01 00:04:00"), 13.0))
      q.processAllAvailable()
      val out = spark.table("graft_cusum_test")
        .as[StreamingResample.DriftAlarm].collect()
      assert(out.length == 1)
      assert(out.head.direction == "up" && math.abs(out.head.statistic - 7.5) < 1e-9)
      assert(out.head.ts == ts("2024-01-01 00:04:00"))
      // after the alarm the hi side reset: another single +3 point stays quiet
      input.addData(
        StreamingResample.ValuePoint("a", ts("2024-01-01 00:05:00"), 13.0))
      q.processAllAvailable()
      assert(spark.table("graft_cusum_test").count() == 1)
      // downward drift on an independent series
      for (i <- 0 until 4)
        input.addData(StreamingResample.ValuePoint(
          "b", ts(f"2024-01-01 01:0$i%d:00"), 7.0))
      q.processAllAvailable()
      val b = spark.table("graft_cusum_test")
        .as[StreamingResample.DriftAlarm].collect().filter(_.series == "b")
      assert(b.length == 1 && b.head.direction == "down")
    } finally q.stop()
  }

  test("corpus per-row ops (quality, PII, split, quantize) run unchanged on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    // stateless column algebra needs no watermark, no state store, and
    // works in append mode — the batch operators ARE the streaming ones
    val enriched = input.toDS().toDF("text").select(
      col("text"),
      graft.ops.TextStats.qualityScore(col("text")).as("quality"),
      graft.ops.Corpus.emailCount(col("text")).as("emails"),
      graft.ops.Corpus.splitAssign(col("text")).as("split"))
    assert(enriched.isStreaming)
    val q = enriched.writeStream
      .format("memory").queryName("graft_corpus_stream_test")
      .outputMode("append").start()
    try {
      input.addData("a fine sentence with the usual words in it",
        "contact me at someone@example.org today")
      q.processAllAvailable()
      val rows = spark.table("graft_corpus_stream_test").orderBy("text").collect()
      assert(rows.length == 2)
      assert(rows.forall(r => r.getDouble(1) > 0.0))
      assert(rows.map(_.getLong(2)).sorted.toSeq == Seq(0L, 1L))
      assert(rows.forall(r => Seq("train", "val", "test").contains(r.getString(3))))
    } finally q.stop()
  }

  test("contamination runs stream-static: streaming corpus vs static benchmark grams") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    // the SAME batch operator: benchmark side is static (broadcast), the
    // train side streams; the per-doc count aggregates in complete mode
    val flagged = graft.ops.Corpus.contamination(
      input.toDS().toDF("doc_id", "text"), bench, "doc_id", "text", n = 4)
    assert(flagged.isStreaming)
    val q = flagged.writeStream
      .format("memory").queryName("graft_contam_stream_test")
      .outputMode("complete").start()
    try {
      input.addData((1L, "prefix alpha beta gamma delta suffix"),
        (2L, "totally unrelated content right here"))
      q.processAllAvailable()
      val rows = spark.table("graft_contam_stream_test").collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 1L)))
    } finally q.stop()
  }

  test("chunkTokens runs unchanged on a stream (stateless explode)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val chunked = graft.ops.Corpus.chunkTokens(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text",
      chunkSize = 4, stride = 3)
    assert(chunked.isStreaming)
    val q = chunked.writeStream
      .format("memory").queryName("graft_chunk_stream_test")
      .outputMode("append").start()
    try {
      input.addData((1L, (1 to 10).map("w" + _).mkString(" ")))
      q.processAllAvailable()
      val rows = spark.table("graft_chunk_stream_test")
        .orderBy("chunk_idx").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      // starts 1, 4, 7, 10 -> sizes 4, 4, 4, 1
      assert(rows.toSeq == Seq((0L, 1L, 4L), (1L, 4L, 4L), (2L, 7L, 4L), (3L, 10L, 1L)))
    } finally q.stop()
  }

  test("lmScoreAgainst runs stream-static: new docs score against a frozen model") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val corpus = (1 to 20).map(i => (i.toLong, "the cat sat on the mat")).toDF("doc_id", "text")
    val model = graft.ops.TextStats.lmModel(corpus, "text")
    val vocab = graft.ops.TextStats.lmVocabSize(corpus, "text")
    val scored = graft.ops.TextStats.lmScoreAgainst(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", model, vocab)
    assert(scored.isStreaming)
    val q = scored.writeStream
      .format("memory").queryName("graft_lm_stream_test")
      .outputMode("complete").start()
    try {
      input.addData((100L, "the cat sat on the mat"), // model-typical
        (101L, "zq xv qqk wmt zzj plf"))              // all-unseen bigrams
      q.processAllAvailable()
      val rows = spark.table("graft_lm_stream_test").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(3)))
      assert(rows.map(_._1).toSeq == Seq(100L, 101L))
      // the unseen-bigram doc must score strictly worse (higher avg NLL)
      assert(rows(1)._2 > rows(0)._2)
    } finally q.stop()
  }

  test("attributionStream: live credited conversions aggregate to the " +
    "batch lastTouchAttribution result") {
    import StreamingResample.{TouchEvent, CreditedConversion}
    val evs = Seq(
      ("u1", 1L, "click", 0L), ("u1", 2L, "view", 0L),
      ("u1", 3L, "purchase", 100L),                     // view credited
      ("u1", 4L, "purchase", 50L),                      // still view
      ("u2", 1L, "purchase", 70L),                      // direct
      ("u2", 2L, "signup", 0L), ("u2", 3L, "purchase", 30L) // signup (2nd batch)
    )
    def te(t: (String, Long, String, Long)) = TouchEvent(t._1,
      new java.sql.Timestamp(t._2 * 1000L), t._3, t._4)
    val mem = MemoryStream[TouchEvent](spark)
    val q = StreamingResample.attributionStream(mem.toDS, "purchase",
        Set("click", "view", "signup"))
      .writeStream.format("memory").queryName("graft_attr_stream")
      .outputMode("append").start()
    try {
      mem.addData(evs.take(5).map(te)); q.processAllAvailable()
      mem.addData(evs.drop(5).map(te)); q.processAllAvailable()
      val live = spark.table("graft_attr_stream").as[CreditedConversion]
        .collect().groupBy(_.channel)
        .view.mapValues(cs => (cs.length.toLong, cs.map(_.cents).sum)).toMap
      val batch = graft.ops.Behavior.lastTouchAttribution(
          evs.map(t => (t._1, t._2, t._3, t._4)).toDF("u", "pos", "ev", "cents"),
          "u", Seq("pos"), "ev", col("cents"), "purchase",
          Seq("click", "view", "signup"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(live == batch, s"live=$live batch=$batch")
      assert(live("view") == ((2L, 150L)) && live("direct") == ((1L, 70L)) &&
        live("signup") == ((1L, 30L)))
    } finally q.stop()
  }

  test("scd2Stream: closed intervals across micro-batches equal the batch " +
    "operator's non-current rows; the open interval stays in state") {
    import StreamingResample.{AttrPoint, IntervalClose}
    val pts = Seq(
      ("u1", "2024-01-01 00:00:00", "bronze"),
      ("u1", "2024-01-01 01:00:00", "bronze"),
      ("u1", "2024-01-01 02:00:00", "gold"),   // closes bronze
      ("u1", "2024-01-01 03:00:00", "bronze"), // closes gold (2nd batch)
      ("u2", "2024-01-01 00:30:00", "silver")
    )
    def ap(t: (String, String, String)) = AttrPoint(t._1, ts(t._2), t._3)
    val mem = MemoryStream[AttrPoint](spark)
    val q = StreamingResample.scd2Stream(mem.toDS)
      .writeStream.format("memory").queryName("graft_scd2_stream")
      .outputMode("append").start()
    try {
      mem.addData(pts.take(3).map(ap)); q.processAllAvailable()
      mem.addData(pts.drop(3).map(ap)); q.processAllAvailable()
      val closed = spark.table("graft_scd2_stream")
        .as[IntervalClose].collect()
        .map(c => (c.series, c.attr, c.valid_from, c.valid_to, c.n_events))
        .sortBy(c => (c._1, c._3.getTime))
      // batch twin on the same rows: non-current rows must match exactly
      val batch = graft.ops.Incremental.scd2Intervals(
          pts.map(t => (t._1, ts(t._2), t._3)).toDF("series", "ts", "attr"),
          "series", Seq("ts"), "attr")
        .filter(!col("is_current"))
        .select("series", "attr", "n_events", "valid_from", "valid_to")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getTimestamp(3),
          r.getTimestamp(4), r.getLong(2)))
        .sortBy(c => (c._1, c._3.getTime))
      assert(closed.toSeq == batch.toSeq,
        s"stream=${closed.toSeq} batch=${batch.toSeq}")
      assert(closed.length == 2, "u1's open bronze and u2's silver stay in state")
    } finally q.stop()
  }

  test("welchTTest runs as a streaming aggregation: the live A/B readout " +
    "converges to the batch statistic once all data has arrived") {
    val rows = (1 to 40).map(i => ("click", (i * 7 % 23 + 1).toLong)) ++
      (1 to 40).map(i => ("view", (i * 11 % 19 + 3).toLong))
    val mem = MemoryStream[(String, Long)](spark)
    val live = graft.ops.Behavior.welchTTest(
      mem.toDF.toDF("g", "v"), "g", "click", "view", col("v"))
    assert(live.isStreaming, "the six-accumulator agg must be stream-legal")
    val q = live.writeStream.format("memory").queryName("graft_welch_stream")
      .outputMode("complete").start()
    try {
      val (h1, h2) = rows.splitAt(25)
      mem.addData(h1); q.processAllAvailable()
      mem.addData(h2); q.processAllAvailable()
      val got = spark.table("graft_welch_stream").head()
      val exp = graft.ops.Behavior.welchTTest(
        rows.toDF("g", "v"), "g", "click", "view", col("v")).head()
      assert(got.getLong(0) == exp.getLong(0) && got.getLong(1) == exp.getLong(1))
      assert(got.getDouble(got.fieldIndex("t_stat")) ==
        exp.getDouble(exp.fieldIndex("t_stat")),
        "streaming t must equal the batch t bit-for-bit")
    } finally q.stop()
  }

  test("dedupStream: content-identical rows within the watermark emit once") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingResample.SeriesPoint]
    // (series, ts) doubles as (text, ts) for the content column
    val dedup = StreamingResample.dedupStream(
      input.toDS().toDF("text", "ts"), "ts", "text",
      watermark = Duration.ofHours(1))
    val q = dedup.writeStream
      .format("memory").queryName("graft_dedup_stream_test")
      .outputMode("append").start()
    try {
      input.addData(
        StreamingResample.SeriesPoint("dup text", ts("2024-01-01 10:00:00")),
        StreamingResample.SeriesPoint("dup text", ts("2024-01-01 10:01:00")),
        StreamingResample.SeriesPoint("unique text", ts("2024-01-01 10:02:00")))
      q.processAllAvailable()
      // duplicate arriving in a LATER micro-batch, still inside the horizon
      input.addData(StreamingResample.SeriesPoint("dup text", ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      val texts = spark.table("graft_dedup_stream_test")
        .select("text").as[String].collect().sorted
      assert(texts.toSeq == Seq("dup text", "unique text"))
    } finally q.stop()
  }

  test("end-to-end streaming curation: file source -> quality filter -> " +
    "watermark dedup -> shard-partitioned sink") {
    val in = Files.createTempDirectory("graft-curate-in")
    val out = Files.createTempDirectory("graft-curate-out")
    val ckpt = Files.createTempDirectory("graft-curate-ckpt")
    val good = "the cat sat on the mat and the dog sat by the door while " +
      "it was raining outside in the quiet town for most of that day"
    val junk = "!!! ??? *** !!! ??? *** !!! ??? *** !!! ??? ***"
    // batch 1: a good doc, its exact duplicate, and a junk doc
    Files.writeString(in.resolve("b1.csv"),
      s"""ts;doc_id;text
         |2024-01-01 10:00:00;1;$good
         |2024-01-01 10:01:00;2;$good
         |2024-01-01 10:02:00;3;$junk
         |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = StreamingResample.csvStream(spark, in.toString, schema,
      LoadingConfig(delimiter = ";"), maxFilesPerTrigger = 1)
    val curated = StreamingCuration.curate(stream, "ts", "text",
      minQuality = 0.5, nShards = 4, watermark = Duration.ofHours(1))
    assert(curated.isStreaming)
    val q = StreamingCuration.shardSink(curated, out.toString, ckpt.toString)
    try {
      q.processAllAvailable()
      // batch 2 (new file): another copy of the good doc inside the
      // horizon, plus a fresh good doc
      Files.writeString(in.resolve("b2.csv"),
        s"""ts;doc_id;text
           |2024-01-01 10:30:00;4;$good
           |2024-01-01 10:31:00;5;a different but equally wordy sentence that the reader will find to be of the same natural quality as the first one was
           |""".stripMargin)
      q.processAllAvailable()
    } finally q.stop()
    val result = spark.read.parquet(out.toString)
    // junk filtered, duplicates (in-batch AND cross-batch) collapsed
    assert(result.count() == 2)
    assert(result.select("doc_id").as[Long].collect().toSet == Set(1L, 5L))
    // the sink laid files out one directory per shard (hive partitioning)
    val shardDirs = new java.io.File(out.toString).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).map(_.getName)
    assert(shardDirs.nonEmpty)
    // the shard label is the deterministic content-key hash — recompute on
    // the batch side and compare
    val expected = spark.read.parquet(out.toString)
      .withColumn("expected_shard", StreamingCuration.shardOf(
        StreamingCuration.contentKey(col("text")), 4))
      .filter(col("shard") =!= col("expected_shard")).count()
    assert(expected == 0)
  }

  test("dsirScoreAgainst runs stream-static: new docs score against frozen " +
    "DSIR ratios with no state") {
    implicit val sqlCtx = spark.sqlContext
    val styleA = "recipe flour sugar butter oven bake whisk dough cream vanilla"
    val styleB = "engine torque piston camshaft exhaust manifold gasket valve"
    val raw = Seq((1L, styleA), (2L, styleB)).toDF("doc_id", "text")
    // TWO target copies: with one, a gram seen once in target and once in
    // raw has ratio ln(2/(nt+B)) − ln(2/(nr+B)) — identical to the
    // unseen-bucket constant (the +1s cancel), and the ordering test
    // degenerates to a tie
    val target = Seq((100L, styleA), (101L, styleA)).toDF("doc_id", "text")
    val ratios = graft.ops.Corpus.dsirLogRatios(raw, target, "text", "doc_id",
      nBuckets = 256, n = 2, complete = true).localCheckpoint(true)
    val input = MemoryStream[(Long, String)]
    val scored = graft.ops.Corpus.dsirScoreAgainst(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", ratios,
      nBuckets = 256, n = 2)
    assert(scored.isStreaming)
    val q = scored.writeStream
      .format("memory").queryName("graft_dsir_stream_test")
      .outputMode("append").start()
    try {
      input.addData((10L, styleA + " again"), (11L, styleB + " again"),
        (12L, "never seen vocabulary entirely"))
      q.processAllAvailable()
      val rows = spark.table("graft_dsir_stream_test")
        .select("doc_id", "n_grams", "weight_u").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows.keySet == Set(10L, 11L, 12L))
      def perGram(id: Long) = rows(id)._2.toDouble / rows(id)._1
      // target-style streams strictly above off-domain; fully-unseen text
      // lands at the smoothing constant between... or below — pin ordering
      assert(perGram(10L) > perGram(11L),
        s"target-style must outrank off-domain: $rows")
      assert(perGram(10L) > perGram(12L),
        s"target-style must outrank unseen text: $rows")
    } finally q.stop()
  }

  test("shardOf matches shardAssign's shard label for the same key (the " +
    "streaming and batch halves of the shard address must not drift)") {
    val docs = (1L to 50L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val batch = graft.ops.Corpus.shardAssign(docs, "doc_id", nShards = 8)
      .select(col("doc_id"), col("shard"))
    val streaming = docs.select(col("doc_id"),
      StreamingCuration.shardOf(col("doc_id"), 8).as("shard2"))
    val joined = batch.join(streaming, "doc_id")
      .filter(col("shard") =!= col("shard2"))
    assert(joined.count() == 0)
  }
  test("intervalJoinStream: watermarked stream-stream join equals the same " +
    "operator on batch frames; out-of-window clicks never join") {
    val imps = Seq(
      ("u1", ts("2024-01-01 10:00:00"), "adA"),
      ("u1", ts("2024-01-01 10:20:00"), "adB"),
      ("u2", ts("2024-01-01 10:00:00"), "adC"))
    val clks = Seq(
      ("u1", ts("2024-01-01 10:04:00"), 1L),  // adA (within 10 min)
      ("u1", ts("2024-01-01 10:25:00"), 2L),  // adB only
      ("u2", ts("2024-01-01 10:30:00"), 3L),  // 30 min after adC: no join
      ("u1", ts("2024-01-01 09:59:00"), 4L))  // BEFORE any imp: no join
    val mi = MemoryStream[(String, java.sql.Timestamp, String)](spark)
    val mc = MemoryStream[(String, java.sql.Timestamp, Long)](spark)
    val joined = StreamingResample.intervalJoinStream(
      mi.toDS.toDF("u", "imp_ts", "ad"),
      mc.toDS.toDF("u", "clk_ts", "click_id"), "u", "imp_ts", "clk_ts",
      Duration.ofMinutes(10), Duration.ofMinutes(30))
    val q = joined.writeStream.format("memory").queryName("graft_ssjoin")
      .outputMode("append").start()
    try {
      mi.addData(imps.take(2)); mc.addData(clks.take(2)); q.processAllAvailable()
      mi.addData(imps.drop(2)); mc.addData(clks.drop(2)); q.processAllAvailable()
      val live = spark.table("graft_ssjoin")
        .select("u", "ad", "click_id").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
      val batch = StreamingResample.intervalJoinStream(
          imps.toDF("u", "imp_ts", "ad"), clks.toDF("u", "clk_ts", "click_id"),
          "u", "imp_ts", "clk_ts",
          Duration.ofMinutes(10), Duration.ofMinutes(30))
        .select("u", "ad", "click_id").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
      assert(live == batch, s"live=$live batch=$batch")
      assert(live == Seq(("u1", "adA", 1L), ("u1", "adB", 2L)))
    } finally q.stop()
  }
  test("incremental agg maintenance runs as a foreachBatch stream: the " +
    "standing state after micro-batches equals from-scratch aggState") {
    val all = Seq(("x", 10L), ("x", 20L), ("y", 5L), ("y", 7L),
      ("x", 30L), ("z", 1L))
    val mem = MemoryStream[(String, Long)](spark)
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = mem.toDS.toDF("k", "v").writeStream
      .outputMode("append")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          val bs = graft.ops.Incremental.aggState(batch, Seq("k"), "v")
            .localCheckpoint()
          state = Some(state.fold(bs)(st =>
            graft.ops.Incremental.mergeState(st, bs, Seq("k"))
              .localCheckpoint()))
          ()
      }
      .start()
    try {
      mem.addData(all.take(3)); q.processAllAvailable()
      mem.addData(all.drop(3)); q.processAllAvailable()
      val got = state.get.orderBy("k").collect().map(_.toSeq).toSeq
      val exp = graft.ops.Incremental.aggState(all.toDF("k", "v"), Seq("k"), "v")
        .orderBy("k").collect().map(_.toSeq).toSeq
      assert(got == exp, s"got=$got exp=$exp")
    } finally q.stop()
  }

  test("hawkesStream: burst goes hot across a batch boundary and the live " +
    "hot count/intensities equal the batch kernel to the bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 6-event burst, 10 s apart, split 2 + 4 across micro-batches
    val pts = (0 to 5).map(i => graft.streaming.StreamingResample.TimedPoint(
      "b", ts(f"2024-01-01 00:00:${i * 10}%02d"), i.toLong))
    val input = MemoryStream[graft.streaming.StreamingResample.TimedPoint]
    val hot = graft.streaming.StreamingResample.hawkesStream(input.toDS())
    val q = hot.writeStream.format("memory").queryName("graft_hawkes_test")
      .outputMode("append").start()
    try {
      input.addData(pts.take(2): _*); q.processAllAvailable()
      input.addData(pts.drop(2): _*); q.processAllAvailable()
      val live = spark.table("graft_hawkes_test")
        .as[graft.streaming.StreamingResample.HotEvent].collect()
        .sortBy(_.ts.getTime)
      // batch twin on the same points
      val batch = graft.ts.PointProcess.hawkesSummary(
        pts.map(p => (p.series, p.ord, p.ts)).toDF("uid", "ord", "t"),
        "t", Seq("t", "ord"), Seq("uid")).collect().head
      assert(live.length == batch.getAs[Long]("n_hot"),
        s"live hot count must equal batch n_hot: ${live.length} vs $batch")
      assert(live.nonEmpty, "a 10s-spaced burst must go hot")
      assert(live.map(_.lambdaU).max == batch.getAs[Long]("max_lambda_u"),
        "bit-exact max intensity across the batch boundary")
    } finally q.stop()
  }

  test("hawkesStream: sub-millisecond timestamps keep bit-exact parity " +
    "with the batch kernel (µs, not ms, drives decay and ordering)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Burst with µs-level fractional seconds: two events land in the SAME
    // millisecond (250 µs and 750 µs) — a ms-truncating stream would both
    // mis-order them (ord breaks the tie differently) and compute a zero
    // decay interval where the batch kernel sees 500 µs.
    val stamps = Seq(
      "2024-01-01 00:00:00.00025", "2024-01-01 00:00:00.00075",
      "2024-01-01 00:00:10.000125", "2024-01-01 00:00:20.000999",
      "2024-01-01 00:00:30.0005", "2024-01-01 00:00:40.000001")
    val pts = stamps.zipWithIndex.map { case (s, i) =>
      graft.streaming.StreamingResample.TimedPoint(
        "b", java.sql.Timestamp.valueOf(s), i.toLong)
    }
    val input = MemoryStream[graft.streaming.StreamingResample.TimedPoint]
    val hot = graft.streaming.StreamingResample.hawkesStream(input.toDS())
    val q = hot.writeStream.format("memory").queryName("graft_hawkes_us_test")
      .outputMode("append").start()
    try {
      input.addData(pts.take(3): _*); q.processAllAvailable()
      input.addData(pts.drop(3): _*); q.processAllAvailable()
      val live = spark.table("graft_hawkes_us_test")
        .as[graft.streaming.StreamingResample.HotEvent].collect()
      val batch = graft.ts.PointProcess.hawkesSummary(
        pts.map(p => (p.series, p.ord, p.ts)).toDF("uid", "ord", "t"),
        "t", Seq("t", "ord"), Seq("uid")).collect().head
      assert(live.length == batch.getAs[Long]("n_hot"),
        s"live hot count must equal batch n_hot: ${live.length} vs $batch")
      assert(live.nonEmpty, "the 10s-spaced burst must go hot")
      assert(live.map(_.lambdaU).max == batch.getAs[Long]("max_lambda_u"),
        "bit-exact max intensity with sub-ms timestamp components")
    } finally q.stop()
  }

  test("streaming IVF ingest: micro-batch cell assignment equals the " +
    "batch kernel bit-for-bit, and the incrementally-built index " +
    "preserves the batch index's recall exactly") {
    import graft.ops.Similarity
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    val all = (0L until 64L).map(i =>
      (i, Array.tabulate(dim)(d => math.sin((i + 1.0) * (d + 1)).toFloat)))
    val (init, arriving) = all.splitAt(32)
    val initDf = init.toDF("vec_id", "embedding")
    // centroids FROZEN on the initial corpus — the IVF maintenance
    // contract: ingest never moves centroids, only appends to cells
    val cents = Similarity.kmeansCentroids(initDf, "vec_id", "embedding",
      nlist = 4, iters = 1)
    val packed = Similarity.packCentroids(cents)
    val input = MemoryStream[(Long, Array[Float])]
    val assignedStream = Similarity.assignCellsPacked(
      input.toDS().toDF("vec_id", "embedding"), packed, "embedding")
      .select(col("vec_id"), col("cell"))
    val q = assignedStream.writeStream.format("memory")
      .queryName("graft_ivf_ingest").outputMode("append").start()
    try {
      input.addData(arriving.take(12): _*); q.processAllAvailable()
      input.addData(arriving.drop(12): _*); q.processAllAvailable()
      val live = spark.table("graft_ivf_ingest")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // 1) bit-exact parity: the same vectors through the same packed
      // kernel as ONE batch
      val batchAssign = Similarity.assignCellsPacked(
        arriving.toDF("vec_id", "embedding"), packed, "embedding")
        .select(col("vec_id"), col("cell"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(live == batchAssign,
        s"stream vs batch assignment diverged: $live vs $batchAssign")
      assert(live.values.toSet.size > 1, "ingest should spread across cells")
      // 2) the incremental index (initial cells + streamed appends) IS the
      // batch index: same-cell candidate recall@3 matches exactly
      val allDf = all.toDF("vec_id", "embedding")
      val incrementalCells = Similarity.assignCellsPacked(
          initDf, packed, "embedding")
        .select(col("vec_id"), col("cell"))
        .unionByName(spark.table("graft_ivf_ingest"))
      val batchCells = Similarity.assignCellsPacked(allDf, packed, "embedding")
        .select(col("vec_id"), col("cell"))
      val queries = allDf.filter(col("vec_id") < 5)
      val truth = Similarity.bruteForceTopK(allDf, queries,
        "vec_id", "embedding", "vec_id", 3)
        .select(col("query_id"), col("corpus_id"))
      def recallOf(cells: org.apache.spark.sql.DataFrame): Long = {
        val qCells = cells.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("cell"))
        val cand = qCells.join(
          cells.select(col("vec_id").as("corpus_id"), col("cell")), Seq("cell"))
          .filter(col("corpus_id") =!= col("query_id"))
          .select(col("query_id"), col("corpus_id"))
        truth.join(cand, Seq("query_id", "corpus_id")).count()
      }
      assert(recallOf(incrementalCells) == recallOf(batchCells),
        "incremental index must preserve the batch index's recall")
    } finally q.stop()
  }
}
