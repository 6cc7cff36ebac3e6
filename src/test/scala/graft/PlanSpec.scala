package graft

import graft.ts.{AsOf, Fill}
import org.apache.spark.sql.functions._

/** Plan-quality regression guards: these assert the SHAPE of the physical
  * plan, not results — the properties that silently rot (pushdown lost, an
  * O(n^2) window frame reintroduced) while outputs stay correct.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def series = Seq(
    ("a", ts("2024-01-01 00:00:00"), Some(1.0)),
    ("a", ts("2024-01-01 01:00:00"), None: Option[Double]),
    ("a", ts("2024-01-01 02:00:00"), Some(3.0))
  ).toDF("k", "ts", "v")

  test("no [current, unboundedFollowing] frames anywhere in fill/as-of plans " +
    "(Spark re-evaluates such frames per row: O(n^2), measured 515s at 100k rows)") {
    val plans = Seq(
      Fill.interpolateTime(series, "ts", Seq("v"), seriesCols = Seq("k")),
      Fill.bfill(series, "ts", Seq("v"), limit = Some(1), seriesCols = Seq("k")),
      AsOf.join(
        series.select(col("ts").as("lt")),
        series.select(col("ts").as("rt"), col("v")),
        "lt", "rt", Seq("v"), direction = AsOf.Direction.Nearest)
    ).map(_.queryExecution.executedPlan.toString.toLowerCase)
    plans.foreach { p =>
      assert(!p.contains("unboundedfollowing"),
        "forward-unbounded window frame found — use the reversed running-frame form")
    }
  }

  test("keyed bfill(limit) plans one shuffle and one window sort; keyed " +
    "interpolateTime(limit) one shuffle and a sort per direction") {
    def shufflesAndSorts(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val root = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      (root.collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }.size,
        root.collect { case s: org.apache.spark.sql.execution.SortExec => s }.size)
    }
    // the row-number pass and the fill pass order on one materialized key,
    // so the second keyed window reuses the first one's sort
    assert(shufflesAndSorts(
      Fill.bfill(series, "ts", Seq("v"), limit = Some(1), seriesCols = Seq("k"))) == ((1, 1)))
    assert(shufflesAndSorts(
      Fill.interpolateTime(series, "ts", Seq("v"), limit = Some(1), seriesCols = Seq("k"))) ==
      ((1, 2)))
  }

  test("parquet filter pushdown and column pruning reach the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan").toString
    Seq((1L, "x", 10.0), (2L, "y", 20.0)).toDF("id", "s", "v")
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("id") > 1L).select("id", "v")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,1)"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("s:string"),
      s"unused column not pruned:\n$plan")
  }

  test("rel_events_json plans as ONE pruned scan + partial agg: no JSON " +
    "schema inference, no extra exchange (its bench cost is codegen warm-up, " +
    "not plan shape — pinned so an inference-based rewrite can't sneak in)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-json").toString
    Seq((1L, """{"k": 3}"""), (2L, """{"k": 7}"""))
      .toDF("other", "props").write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(pmod(col("k"), lit(10)).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy("k_mod")
    val plan = q.queryExecution.executedPlan.toString
    // column pruning reaches the scan: only props read, `other` pruned
    assert(plan.contains("ReadSchema") && !plan.contains("other:bigint"),
      s"props-only pruning lost:\n$plan")
    // per-row extraction, not a schema-inferring from_json/JsonToStructs
    assert(plan.contains("get_json_object") && !plan.contains("from_json"),
      s"JSON extraction shape changed:\n$plan")
    // exactly two exchanges: one for the agg, one for the final sort
    val exchanges = "(?i)exchange".r.findAllIn(
      q.queryExecution.executedPlan.toString).size
    assert(exchanges <= 2, s"unexpected extra shuffle:\n$plan")
    // map-side combine present
    assert(plan.toLowerCase.contains("partial_count"), s"no partial agg:\n$plan")
  }

  test("metadata attach in the loader plans as a projection in the scan stage " +
    "(no join, no shuffle beyond the time sort)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-load")
    java.nio.file.Files.writeString(
      dir.resolve("01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"),
      "timestamp;v\n01/01/2024 00:00;1.0\n")
    val loaded = new graft.load.TimeSeriesLoader(spark,
      tsConfig = graft.core.TimeSeriesConfig(
        strategy = graft.core.ValidationStrategy.None_))
      .load(dir.toString)
    val plan = loaded.df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"metadata attach must not join:\n$plan")
    assert("Exchange (?!rangepartitioning)".r.findFirstIn(plan).isEmpty,
      s"only the time sort may shuffle:\n$plan")
    assert(plan.contains("_metadata"), s"metadata attach must read the scan's _metadata:\n$plan")
  }

  test("co-bucketed tables join WITHOUT a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
    spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    // a crashed prior run can leave an orphan location the catalog rejects
    Seq("graft_bkt_a", "graft_bkt_b").foreach { t =>
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete()); dir.delete()
      }
    }
    val a = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, s"s$i")).toDF("k", "vb")
    graft.sources.Bucketing.writeBucketed(a, "graft_bkt_a", Seq("k"), 4, Seq("k"))
    graft.sources.Bucketing.writeBucketed(b, "graft_bkt_b", Seq("k"), 4, Seq("k"))
    // force SMJ path (broadcast would hide the bucketing benefit at this
    // size); the hint must attach to a join INPUT, not the joined result
    val smj = spark.table("graft_bkt_a").hint("merge")
      .join(spark.table("graft_bkt_b"), Seq("k"))
    val plan = smj.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"co-bucketed join must not shuffle:\n$plan")
    assert(smj.count() == 1000)
  }

  test("loader plan is O(1) in file count: one scan node for 40 files, no unions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-many")
    (0 until 40).foreach { i =>
      val h = i % 24
      val d = 10 + i / 24
      java.nio.file.Files.writeString(
        dir.resolve(f"01-$d%02d-2024 $h%02d_00_00 - 01-$d%02d-2024 $h%02d_59_59.csv"),
        f"timestamp;v\n$d%02d/01/2024 $h%02d:00;$i.0\n$d%02d/01/2024 $h%02d:30;$i.5\n")
    }
    val loaded = new graft.load.TimeSeriesLoader(spark,
      tsConfig = graft.core.TimeSeriesConfig(
        strategy = graft.core.ValidationStrategy.None_))
      .load(dir.toString)
    val plan = loaded.df.queryExecution.executedPlan.toString
    assert("FileScan csv".r.findAllIn(plan).size == 1,
      s"expected ONE csv scan node for 40 files:\n$plan")
    assert(!plan.contains("Union"), "per-file union lineage must not exist")
    assert(loaded.df.count() == 80)
    assert(loaded.files.size == 40)
  }

  test("tumbling resample aggregates map-side (partial aggregation present)") {
    val ev = series.select(col("ts"), col("v"))
    val plan = graft.ts.Resample.upsample(ev, "ts", java.time.Duration.ofHours(1),
        graft.ts.Resample.Method.Mean, Seq("v"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_avg") || plan.contains("HashAggregate"),
      s"no partial aggregation:\n$plan")
  }

  test("languageId accuracy aggregate consumes a materialized pred attribute " +
    "(expression collapsed into the hash-aggregate was measured 10x slower)") {
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    val docs = Seq(("the cat sat on the mat", "en"), ("der hund und die katze", "de"))
      .toDF("text", "lang")
    val q = docs
      .select(col("lang"), graft.ops.TextStats.languageId(col("text")).as("pred"))
      .repartition(col("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("pred") === col("lang"), lit(1))).as("n_correct"))
    // unwrap AQE: collect() does not descend into AdaptiveSparkPlanExec
    val root = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val aggNodes = root.collect {
      case a: HashAggregateExec => a.expressions
      case a: ObjectHashAggregateExec => a.expressions
      case a: SortAggregateExec => a.expressions
    }
    assert(aggNodes.nonEmpty, "expected an aggregate node")
    aggNodes.flatten.foreach { e =>
      val s = e.toString.toLowerCase
      assert(!s.contains("regexp") && !s.contains("lambdafunction"),
        s"languageId expression leaked into the aggregate node: $e")
    }
  }

  test("contamination joins the benchmark n-gram set by BROADCAST (train side never shuffles for the join)") {
    val docs = (1L to 50L).map(i => (i, s"some text body number $i with words")).toDF("doc_id", "text")
    val plan = graft.ops.Corpus.contamination(
        docs.filter(col("doc_id") > 5), docs.filter(col("doc_id") <= 5), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "contamination must not sort-merge join")
  }

  test("line dedup removes frequent lines via BROADCAST anti join") {
    val docs = (1L to 30L).map(i => (i, s"boiler\nunique $i")).toDF("doc_id", "text")
    val plan = graft.ops.Corpus.dedupLines(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"frequent-line removal is not a broadcast anti join:\n$plan")
  }

  test("stratified sampling is a pure per-row filter: no exchange, no aggregate") {
    val docs = (1L to 30L).map(i => (i, "en", s"text $i")).toDF("id", "lang", "text")
    val plan = graft.ops.Corpus.stratifiedSample(docs, "lang", "text", Map("en" -> 0.5))
      .queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("exchange") && !plan.contains("aggregate"),
      s"stratified sample should be shuffle-free:\n$plan")
  }

  test("pqCodes joins the codebook by BROADCAST: the corpus never shuffles for assignment") {
    val vecs = (0L until 40L).map(i => (i, Array.fill(8)(i.toFloat))).toDF("vec_id", "embedding")
    val plan = graft.ops.Similarity.pqCodes(vecs, "vec_id", "embedding", dim = 8, m = 2, k = 4)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("broadcast"), s"codebook join must broadcast:\n$plan")
    // exactly one data shuffle: the (id, sub) argmin aggregation
    val dataExchanges = "exchange hashpartitioning".r.findAllIn(plan).length
    assert(dataExchanges <= 1, s"pq assignment should shuffle once, got $dataExchanges:\n$plan")
  }

  test("mixtureSample's corpus pass is a broadcast-joined per-row filter (no corpus shuffle)") {
    val docs = (0L until 50L).map(i => (i, s"s${i % 3}", s"text $i")).toDF("doc_id", "source", "text")
    val plan = graft.ops.Corpus.mixtureSample(docs, "source", "text", 0.5, 0.5)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("broadcast"), s"rates must broadcast back:\n$plan")
    // exactly one data-side shuffle: the map-side-combined source counts.
    // (The global rate window runs on a single partition of the tiny
    // #sources-row frame — bounded by source cardinality, never by rows.)
    val hashExchanges = "exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"mixtureSample must shuffle only the source counts, got $hashExchanges:\n$plan")
    val singles = "exchange singlepartition".r.findAllIn(plan).length
    assert(singles <= 1, s"only the rates window may single-partition:\n$plan")
  }

  test("sharedSpanPairs: cap agg computed once (checkpointed), island groupBy " +
    "rides the diagonal window's exchange — two hash exchanges total") {
    val docs = (1L to 40L).map(i =>
      (i, s"alpha beta gamma delta epsilon zeta eta theta iota kappa doc $i tail ${i % 4}"))
      .toDF("doc_id", "text")
    val out = graft.ops.Dedup.sharedSpanPairs(docs, "doc_id", "text",
      k = 4, minSpan = 4, maxBucketSize = 50)
    val plan = out.queryExecution.executedPlan.toString.toLowerCase
    // at broadcast scale the two live exchanges are the diagonal window
    // ((id_a,id_b,__diag)) and the final per-pair agg; the island groupBy
    // must NOT add a third (it groups by the window's own partition
    // attributes plus __grp, a superset, so the exchange is shared) and the
    // cap agg must not appear at all (it is checkpointed, not replayed
    // per self-join side)
    val hashExchanges = "exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 2,
      s"expected window + final agg exchanges only, got $hashExchanges:\n$plan")
    assert(!plan.contains("text"),
      s"document text must never reach the span-pair plan (slim checkpoint):\n$plan")
  }

  test("m4 joins per-series bounds by BROADCAST and aggregates map-side") {
    val df = (0 until 100).map { i =>
      ("k" + (i % 3), i.toLong,
        new java.sql.Timestamp(ts("2024-01-01 00:00:00").getTime + i * 1000L), i * 1.0)
    }.toDF("k", "id", "ts", "v")
    val plan = graft.ts.Downsample.m4(df, "ts", "v", buckets = 4,
        seriesCols = Seq("k"), tieCol = Some("id"))
      .queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("broadcast"), s"bounds join must broadcast:\n$plan")
    assert(plan.contains("partial_merge") || plan.contains("partial"),
      s"m4 aggregation must combine map-side:\n$plan")
  }

  test("ewma/cusum/autocorr share ONE exchange across their window passes") {
    val df = (0 until 100).map { i =>
      ("k" + (i % 3), i.toLong,
        new java.sql.Timestamp(ts("2024-01-01 00:00:00").getTime + i * 1000L), i.toLong)
    }.toDF("k", "id", "ts", "v")
    for (out <- Seq(
        graft.ts.Smooth.ewma(df, Seq("ts", "id"), "v", 0.1, 16, Seq("k")),
        graft.ts.Smooth.cusum(df, Seq("ts", "id"), "v", Seq("k")),
        graft.ts.Smooth.rollingAutocorr(df, Seq("ts", "id"), "v", 16, Seq("k")),
        // the exact variant builds 12 window columns (6 running sums +
        // 6 lags) — all must ride the same partitioning
        graft.ts.Smooth.rollingAutocorrExact(df, Seq("ts", "id"), "v", 16, Seq("k")))) {
      val plan = out.queryExecution.executedPlan.toString.toLowerCase
      val exchanges = "exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"keyed smoothing must shuffle exactly once, got $exchanges:\n$plan")
    }
  }

  test("chunkTokens is shuffle-free: one explode inside the scan stage") {
    val docs = (1L to 30L).map(i => (i, s"some text body $i with tokens")).toDF("doc_id", "text")
    val plan = graft.ops.Corpus.chunkTokens(docs, "doc_id", "text", 8, 4)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("exchange"), s"chunking must not shuffle:\n$plan")
    assert(!plan.contains("window"), s"chunk_idx must derive from start, not a window fn:\n$plan")
  }

  test("shardAssign shuffles exactly once, on the shard key") {
    val docs = (1L to 30L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val plan = graft.ops.Corpus.shardAssign(docs, "doc_id", nShards = 4)
      .queryExecution.executedPlan.toString.toLowerCase
    val exchanges = "exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"one shard shuffle expected, got $exchanges:\n$plan")
    assert(plan.contains("hashpartitioning(shard"),
      s"the one shuffle must key on shard (reused by a partitioned write):\n$plan")
  }

  test("lmScore broadcasts the vocab scalar; model aggregates combine map-side") {
    val docs = (1L to 30L).map(i => (i, s"w${i % 5} w${i % 3} w${i % 7} end")).toDF("doc_id", "text")
    val plan = graft.ops.TextStats.lmScore(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("broadcast"), s"vocab must ride along broadcast:\n$plan")
    assert(plan.contains("partial"), s"count aggregates must combine map-side:\n$plan")
  }

  test("recallAtK never rebuilds indexes: the probe joins only id pairs") {
    // feed pre-computed rankings; the recall plan must contain joins and
    // aggregates over ids alone — no vector column anywhere downstream
    val truth = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "corpus_id", "rank")
    val approx = Seq((1L, 10L, 1), (1L, 12L, 2)).toDF("query_id", "corpus_id", "rank")
    val plan = graft.ops.Similarity.recallAtK(truth, approx, k = 2)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("embedding"), s"recall must not touch vectors:\n$plan")
    assert(plan.contains("partial"), s"hit counting must combine map-side:\n$plan")
  }

  test("set-overlap ground truth plans as an equi-join, never a cartesian") {
    // the inverted-index shape: explode token hashes, join on hash, count
    // per pair — a crossJoin + per-pair array_intersect was 15x slower and
    // is the shape this test forbids creeping back
    val docs = (0L until 30L).map(i => (i, s"w${i % 5} w${i % 7} w${i % 3} w$i shared tokens here")).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      transform(graft.functions.minhash.token_ngrams(col("text"), 3),
        g => graft.ops.Dedup.portableHash64(g)).as("sh"))
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("h"))
    val inter = ex.filter(col("doc_id") < 10).select(col("doc_id").as("id_a"), col("h"))
      .join(ex.select(col("doc_id").as("id_b"), col("h")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
    val plan = inter.queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("cartesian") && !plan.contains("nestedloop"),
      s"pair intersection must equi-join on the hash:\n$plan")
    assert(plan.contains("partial"), s"pair counts must combine map-side:\n$plan")
  }

  test("quantization stays one projection: scale is not re-evaluated per element") {
    val df = (1L to 10L).map(i => (i, Array.fill(8)(i.toFloat))).toDF("id", "vec")
    val q = df
      .withColumn("__scale", graft.ops.Similarity.quantScale(col("vec")))
      .withColumn("codes", graft.ops.Similarity.quantizeInt8(col("vec"), col("__scale")))
      .select(col("id"),
        aggregate(col("codes"), lit(0L), (a, x) => a + x).as("s"),
        size(filter(col("codes"), c => abs(c) === 127)).as("n"))
    val projects = q.queryExecution.executedPlan.collect {
      case p: org.apache.spark.sql.execution.ProjectExec => p
    }
    // array_max(transform(...)) appearing more than once in one Project
    // means projection collapse inlined the scale into each consumer
    projects.foreach { p =>
      val occurrences = "array_max".r.findAllIn(p.projectList.mkString(";")).length
      assert(occurrences <= 1,
        s"scale expression duplicated $occurrences times — materialize it:\n$p")
    }
  }

  private def hashExchanges(df: org.apache.spark.sql.DataFrame): Int =
    "exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString.toLowerCase).length

  test("changepoint and backtest: both windows + the final agg share ONE exchange") {
    val ser = (1 to 200).map(i => ("u" + i % 5, i.toLong, (i * 7 % 100).toLong))
      .toDF("k", "pos", "x")
    assert(hashExchanges(
      graft.ts.Changepoint.cusumArgmax(ser, Seq("pos"), "x", Seq("k"))) == 1,
      "cusumArgmax must ride a single series-key exchange")
    // both binseg levels share that one exchange: hash(series) already
    // clusters (series, segment), so level 2 adds sorts, never a shuffle
    assert(hashExchanges(
      graft.ts.Changepoint.binseg2(ser, Seq("pos"), "x", Seq("k"))) == 1,
      "binseg2 must ride ONE exchange across both levels")
    // theilSen: prefix collect_list groups on the window's own key and the
    // pair median runs in the compiled kernel — one exchange, no join
    val tsn = graft.ts.Smooth.theilSen(ser, Seq("pos"), "x", Seq("k"))
    assert(hashExchanges(tsn) == 1,
      "theilSen must ride a single series-key exchange")
    assert(!tsn.queryExecution.executedPlan.toString.toLowerCase
      .contains("join"), "theilSen must not self-join")
    assert(hashExchanges(
      graft.ts.Backtest.oneStepAhead(ser, Seq("pos"), "x", lit(true), 4, Seq("k"))) == 1,
      "backtest must ride a single series-key exchange")
  }

  test("HDR histogram builds in one exchange; quantiles add at most one more") {
    val ser = (1 to 200).map(i => ("u" + i % 5, (i * 7 % 100).toLong)).toDF("k", "x")
    val hist = graft.ops.HdrHist.histogram(ser, "x", Seq("k"))
    assert(hashExchanges(hist) == 1, "histogram is one map-side-combined groupBy")
    val q = graft.ops.HdrHist.quantiles(hist, Seq("k"), Seq(50, 99))
    assert(hashExchanges(q) <= 2,
      "cum-window and (group,q) agg must share the group partitioning")
    assert(q.queryExecution.executedPlan.toString.toLowerCase.contains("broadcast"),
      "the q-list must broadcast")
  }

  test("winsorize: rank window, cut agg, and final agg in <= 2 exchanges, cuts broadcast") {
    val ser = (1 to 200).map(i => ("u" + i % 5, (i * 7 % 100).toLong)).toDF("k", "x")
    val w = graft.ts.Winsorize.stats(ser, "x", Seq("k"))
    assert(hashExchanges(w) <= 2, "cut computation must reuse the rank exchange")
    assert(w.queryExecution.executedPlan.toString.toLowerCase.contains("broadcast"),
      "per-series cuts must broadcast back")
  }

  test("z-order: layoutStats rides the chunked rank spine (NO single-" +
    "partition exchange anywhere); the WRITE path range-partitions") {
    // pin the spine ON: this test watches the SCALE shape; at 256 fixture
    // rows the cardinality-gated fast path would (correctly) plan the
    // one-task window instead (FastPathParitySpec owns that shape)
    // gates are independent (round-12): disable BOTH, as PlanSnapshot does —
    // a checkpointed input can carry origin stats, so the byte gate alone
    // would (correctly) take the one-task shape on this 256-row fixture
    spark.conf.set("graft.rangeSeries.fastPathRows", "0")
    spark.conf.set("graft.rangeSeries.fastPathBytes", "0")
    try zorderSpineBody()
    finally {
      spark.conf.unset("graft.rangeSeries.fastPathRows")
      spark.conf.unset("graft.rangeSeries.fastPathBytes")
    }
  }

  private def zorderSpineBody(): Unit = {
    val grid = (for { a <- 0 to 15; b <- 0 to 15 } yield (a.toLong, b.toLong))
      .toDF("a", "b")
    val stats = graft.sources.ZOrder.layoutStats(grid, "a", "b", 4, 16, Seq("a", "b"))
    val p = stats.queryExecution.executedPlan.toString.toLowerCase
    // the old shape was "exactly one global ntile sort" — one task owning
    // the whole corpus; the spine replaces it with per-chunk row_numbers
    // and a broadcast offset patch, so NO singlepartition exchange and no
    // unpartitioned window may appear
    assert(!p.contains("exchange singlepartition"),
      s"eval path must not global-sort:\n$p")
    assert(!p.contains("windowspecdefinition()"), s"no unpartitioned window:\n$p")
    val writeShape = grid
      .withColumn("__z", graft.sources.ZOrder.interleave2(col("a"), col("b"), 4))
      .repartitionByRange(4, col("__z"))
      .sortWithinPartitions("__z")
    val wp = writeShape.queryExecution.executedPlan.toString.toLowerCase
    assert(wp.contains("exchange rangepartitioning") && !wp.contains("singlepartition"),
      s"write path must range-partition, never globally sort:\n$wp")
  }

  test("dbscan2d neighbor search is an EQUI-join on grid cells, never a " +
    "distance cross join") {
    val pts = (1L to 60L).map(i => (i, i % 10 * 30L, i / 10 * 30L)).toDF("id", "x", "y")
    val plan = graft.ops.Density.dbscan2d(pts, "id", "x", "y", eps = 25L, minPts = 3)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("cartesianproduct"),
      s"neighbor search must join on cell keys:\n$plan")
    // the only nested-loop joins allowed are the one-row broadcast of the
    // global min (coordinate shift), never a point-vs-point loop
    assert(!plan.contains("broadcastnestedloopjoin inner") ||
      plan.split("broadcastnestedloopjoin").drop(1).forall(_.take(400).contains("min")),
      s"no point-vs-point nested loop:\n$plan")
  }

  test("skyline2d's global window runs over the per-x aggregate, and the " +
    "front joins back by BROADCAST") {
    val rows = (1L to 300L).map(i => (i, i % 40, i * 7 % 500)).toDF("id", "x", "y")
    val sky = graft.ops.Skyline.skyline2d(rows, "x", "y")
    val plan = sky.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("broadcast"), s"front must broadcast back:\n$plan")
    // exactly one data shuffle (the per-x max agg); the single-partition
    // exchange feeds only the |distinct x|-sized window
    val hashExchanges = "exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"skyline must shuffle the data once (per-x agg), got $hashExchanges:\n$plan")
    val singles = "exchange singlepartition".r.findAllIn(plan).length
    assert(singles <= 1, s"only the per-x window may single-partition:\n$plan")
  }

  test("associationRules' top-k is TakeOrderedAndProject, not a global sort") {
    val rows = (1L to 120L).map(i => (i % 30, i % 7)).toDF("bk", "it")
    val plan = graft.ops.Behavior.associationRules(rows, "bk", "it", 1L, 10)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("takeorderedandproject"),
      s"top-k by lift must not materialize a global sort:\n$plan")
  }

  test("bollinger/rsi/pageCusum/ar2: every new series diagnostic rides " +
    "ONE series-key exchange (the smoother spine)") {
    val ser = (1 to 200).map(i => ("u" + i % 5, i.toLong, (i * 7 % 100).toLong))
      .toDF("k", "pos", "x")
    assert(hashExchanges(graft.ts.Smooth.bollingerBreaches(
      ser, Seq("pos"), "x", 8, 2, Seq("k"))) == 1)
    assert(hashExchanges(graft.ts.Smooth.rsiCutler(
      ser, Seq("pos"), "x", 6, Seq("k"))) == 1)
    assert(hashExchanges(graft.ts.Smooth.pageCusum(
      ser, Seq("pos"), "x", 10L, 25L, Seq("k"))) == 1)
    assert(hashExchanges(graft.ts.Backtest.ar2Fit(
      ser, Seq("pos"), "x", Seq("k"))) == 1)
  }

  test("collocationsG2 and rake: top-k is TakeOrderedAndProject; M/margins " +
    "never shuffle corpus text") {
    val docs = (1L to 50L).map(i =>
      (i, s"alpha beta the gamma w$i alpha beta")).toDF("doc_id", "text")
    val g2 = graft.ops.TextStats.collocationsG2(docs, "text", 2L, 10)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(g2.contains("takeorderedandproject"), s"g2 top-k:\n$g2")
    val rake = graft.ops.TextStats.rakeKeywords(docs, "doc_id", "text", topK = 10)
      .queryExecution.executedPlan.toString.toLowerCase
    assert(rake.contains("takeorderedandproject"), s"rake top-k:\n$rake")
  }

  test("lshMultiprobeStats: neither the candidate join nor the truth join " +
    "carries an embedding column") {
    val rng = new scala.util.Random(3)
    val df = (0L until 40L).map(i =>
      (i, Array.fill(64)(rng.nextGaussian().toFloat))).toDF("id", "vec")
    val plan = graft.ops.Similarity.lshMultiprobeStats(
        df, df.filter(col("id") < 3L), "id", "vec", "id", 5)
      .queryExecution.executedPlan.toString
    // the probe/candidate side projects (query_id, corpus_id, bucket…)
    // only; vectors appear solely under the brute-force truth subtree's
    // scan, never in a join key or shuffle output schema
    val joins = plan.split('\n').filter(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin"))
    assert(joins.nonEmpty)
    joins.foreach(j => assert(!j.toLowerCase.contains("vec"),
      s"join carries vectors: $j"))
  }
}
