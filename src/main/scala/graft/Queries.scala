package graft

import graft.ops.{Behavior, Bpe, BpeSql, Corpus, Dedup, Density, Graph, GraphSql, Multimodal, Similarity, Sketch, Skew, Skyline, TextStats}
import graft.ts.{AsOf, Continuity, Downsample, Dtw, Fill, Resample, Sessionize, Smooth}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's query surface: one entry per operator family from
  * SURVEY.md §2 plus the large-corpus (dedup / similarity / multimodal /
  * text) operators. Each query has a DuckDB oracle where ANSI SQL can
  * express the semantics; hash-parity rules:
  *   - every float output is rounded identically on both sides;
  *   - both sides use identical arithmetic ORDER (so doubles match bit-for-
  *     bit where possible) and microsecond integer time arithmetic;
  *   - every aggregate/computed column is aliased to the same name.
  */
object Queries {

  final case class Q(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      doc: String
  )

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Queries.table(s, dir, name)

  /** Testdata reader. `events.ts` has shipped in two physical forms across
    * driver testdata generations: parquet TIMESTAMP(NANOS) (which Spark 4
    * refuses unless read as long) and plain TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (which Spark 4 infers as TIMESTAMP_NTZ).
    * Dispatch on the ACTUAL file schema so either generation loads to the
    * same session-TZ TIMESTAMP (µs) column the queries expect.
    */
  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // nanos-as-long: integer division — `/` on longs is double
          // division and loses int64 precision on epoch-nano magnitudes
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          // session TZ is pinned UTC, so NTZ -> TZ keeps the wall clock
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    } else s.read.parquet(s"$dir/$name.parquet")
  }

  /** Runs a Structured Streaming query over a freshly-written parquet
    * replay directory, lands it in a memory sink, and — unlike a naive
    * inline version — tears BOTH down before returning: repeated
    * driver/bench invocations must not accumulate temp-dir disk or
    * session-catalog memory-sink tables. The sink rows are materialized
    * off the sink (eager localCheckpoint) first, so the returned frame
    * stays valid after the temp view is dropped and the files deleted.
    *
    * @param writeInput  writes the batch replay input under the given path
    * @param buildStream builds the streaming result from that input path
    */
  private def streamToDf(s: SparkSession, prefix: String)(
      writeInput: String => Unit)(
      buildStream: String => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-$prefix")
    try {
      writeInput(s"$tmp/in")
      // Scale-adaptive STATE partitioning (round 13, guide §2.2/§2.5):
      // a stateful streaming operator plans one state-store instance per
      // shuffle partition, and every micro-batch — including the no-data
      // watermark-advance batch, which is pure state maintenance — pays a
      // task + store load/commit per instance. Deriving the count from the
      // replay input's size (one partition per advisory chunk, overridable
      // via spark.graft.stream.bytesPerStatePartition) instead of
      // inheriting the session's scan/shuffle width keeps state
      // maintenance proportional to the data, while a 100 TB deployment
      // (or a larger SF) grows the count linearly up to the session's
      // shuffle-partition ceiling. The advisory is 256 KB of replay input
      // per store: a stateful task's per-batch work is sort + per-group
      // fold over its slice, and the partition sweep (1/2/4/8/16/32 over
      // the sf0.1 events replay, SCALE.md round 13) put the knee at 4-8
      // stores for a 2 MB batch — 16 MB/store re-serialized the DATA
      // batch into one task (1.36 s vs 0.99 s) to save store commits that
      // cost far less than the lost parallelism. Values are
      // partition-count independent (oracle-checked).
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val advisory = s.conf.getOption(
        "spark.graft.stream.bytesPerStatePartition").map(_.toLong)
        .getOrElse(256L * 1024)
      val inBytes = {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/in"))
        try walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
        finally walk.close()
      }
      val stateParts = math.max(1L,
        math.min(prevParts.toLong, (inBytes + advisory - 1) / advisory))
      // the prefix doubles as a temp-DIR name (hyphens fine) and a temp-VIEW
      // name (hyphens are invalid identifier chars and make the memory sink's
      // registration throw AFTER its stream thread is already polling —
      // an orphan that then spins on the deleted input dir): sanitize
      val qn = s"graft_${prefix.replaceAll("[^A-Za-z0-9_]", "_")}_${System.nanoTime()}"
      // the conf must stay set until the stream STOPS: the partition count
      // is pinned into the query's offset metadata when the stream thread
      // plans its first batch, which races a restore placed right after
      // start()
      s.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
      try {
        val q = buildStream(s"$tmp/in").writeStream.format("memory")
          .queryName(qn).outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val out = s.table(qn).localCheckpoint(true)
      s.catalog.dropTempView(qn)
      out
    } finally {
      import scala.jdk.CollectionConverters._
      // Files.walk holds a directory fd until the stream is CLOSED —
      // .iterator() alone leaks one fd per streaming-query invocation
      val walk = java.nio.file.Files.walk(tmp)
      try walk.iterator().asScala.toSeq
        .sortBy(p => -p.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** events.value with deterministic injected nulls (fill/skipna subjects):
    * 'error' rows lose their value.
    */
  private[graft] def nulledValue: Column =
    when(col("event_type") === "error", lit(null).cast("double"))
      .otherwise(col("value"))

  private[graft] val NulledSql =
    "CASE WHEN event_type = 'error' THEN NULL ELSE value END"

  /** Benford expected first-digit frequency in ppm — round(log10(1+1/d)·1e6)
    * as shared literal constants (computing the log at query time would pit
    * two engines' libm against each other; a constant table can't drift).
    */
  private val BenfordExpPpm =
    """CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
      | WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
      | WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
      | WHEN 9 THEN 45757 END AS BIGINT)""".stripMargin.replace("\n", "")

  /** Shared DuckDB replay of the PQ codebook + code assignment
    * ([[ops.Similarity.pqCodebook]] / [[ops.Similarity.pqCodes]] at
    * dim=64, m=4, k=16): ends with `codes` = (vec_id, sub, code). The
    * common prefix of every PQ oracle (`emb_pq_codes`, `emb_pq_ann_top5`,
    * `emb_pq_recall`).
    */
  private val PqCodesCtes =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |s AS (
      |  SELECT vec_id, g.sub,
      |         e[g.sub * 16 + 1 : g.sub * 16 + 16] AS sv
      |  FROM v, (SELECT unnest(range(0, 4)) AS sub) g),
      |c AS (
      |  SELECT sub, CAST(vec_id AS INT) AS cid, sv AS cv
      |  FROM s WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)),
      |d AS (
      |  SELECT s.vec_id, s.sub, c.cid,
      |         list_reduce(list_prepend(0.0, list_transform(range(1, 17),
      |           i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))),
      |           (a, b) -> a + b) AS dist
      |  FROM s JOIN c USING (sub)),
      |r AS (
      |  SELECT vec_id, sub, cid, dist,
      |         row_number() OVER (PARTITION BY vec_id, sub
      |           ORDER BY dist, cid) AS rn
      |  FROM d),
      |codes AS (SELECT vec_id, sub, cid AS code FROM r WHERE rn = 1)""".stripMargin

  /** MinHash signatures over `documents`, computed ONCE per (session, dir)
    * and persisted: `doc_minhash_signatures` and `doc_dedup_groups` both
    * consume the identical (shingle=3, 32-hash) signature frame, and its
    * hash-aggregate codegen + shingle explode dominates both queries. A
    * production pipeline materializes signatures once and fans out; this
    * memo is that pattern in-session.
    */
  // lifecycle: at most one (appId, dir) entry is live — switching dirs in a
  // long-lived session unpersists the previous signature frame, so the
  // executor storage pool can't accumulate stale cached blocks across dirs
  private val sigCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private[graft] def docSignatures(s: SparkSession, dir: String): DataFrame =
    sigCache.synchronized {
      val key = s.sparkContext.applicationId + "|" + dir
      val it = sigCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey != key) {
          // a stale entry can belong to an already-stopped session (key
          // includes appId) — eviction must never fail the live query
          try e.getValue.unpersist(blocking = false)
          catch { case _: Exception => () }
          it.remove()
        }
      }
      sigCache.computeIfAbsent(
        key,
        _ => Dedup.signatures(t(s, dir, "documents"), "doc_id", "text", 3, 32).persist())
    }

  /** DSIR weights over `documents` vs the German slice, computed ONCE per
    * (session, dir) — `doc_dsir_weights`, `doc_dsir_sample` and
    * `doc_dsir_precision` all consume the identical frame (the signature
    * memo pattern: materialize the expensive sketch, fan out). Same
    * lifecycle discipline as [[sigCache]].
    */
  private val dsirCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def dsirDocWeights(s: SparkSession, dir: String): DataFrame =
    dsirCache.synchronized {
      val key = s.sparkContext.applicationId + "|" + dir
      val it = dsirCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey != key) {
          try e.getValue.unpersist(blocking = false)
          catch { case _: Exception => () }
          it.remove()
        }
      }
      dsirCache.computeIfAbsent(
        key,
        _ => {
          val docs = t(s, dir, "documents")
          Corpus.dsirWeights(
            docs.select("doc_id", "text"),
            docs.filter(col("lang") === "de").select("doc_id", "text"),
            "doc_id", "text", nBuckets = 4096, n = 2).persist()
        })
    }

  /** DuckDB twins of the MinHash-LSH pipeline, assembled from the SAME
    * constants the Scala side uses ([[Dedup.minhashCoeffs]] / MinhashP):
    * every signature value, band bucket, and candidate pair is
    * cross-engine checkable because the family is md5 + affine-mod-P, not
    * an engine-private hash.
    */
  /** Shared SQL for distributed connected components: `levels` k
    * Shiloach-Vishkin hook+jump rounds (per level: hook onto the min
    * neighbor label AND pointer-jump lab <- lab[lab]) over a doubled edge
    * CTE `edges`(s, d), starting from `l0`(id, lab). The levels are only
    * a BULK SHRINK — exactness at any scale comes from the quotient-graph
    * recursive-CTE closure the callers append (round-10 oracle bug #15).
    * Level count is a COST knob, not a correctness one: round 11 measured
    * 32 levels owning 415 of 444 s on the 47M-edge sf3 DBSCAN core graph,
    * while TWO levels already shrink its 60k labels to 131 (364 quotient
    * edges) — so callers use 4, and a pathological graph degrades the
    * closure in cost, never in truth.
    */
  private[graft] object SvSql {
    def levels(edges: String, k: Int): String =
      (0 until k).map { i =>
        s"""l${i + 1} AS MATERIALIZED (
  SELECT l.id, least(l.lab, coalesce(nb2.m, l.lab),
                     coalesce(pj.lab, l.lab)) AS lab
  FROM l$i l
  LEFT JOIN (SELECT $edges.s AS id, min(lp.lab) AS m
             FROM $edges JOIN l$i lp ON lp.id = $edges.d
             GROUP BY $edges.s) nb2 USING (id)
  LEFT JOIN l$i pj ON pj.id = l.lab)"""
      }.mkString(",\n")
  }

  private[graft] object MinhashSql {
    private val P = Dedup.MinhashP
    private val coeffs = Dedup.minhashCoeffs(32)
    val minExprs: String = coeffs.zipWithIndex
      .map { case ((a, b), i) => s"min((hm * $a + $b) % $P) AS h$i" }
      .mkString(",\n       ")
    private def bandExpr(k: Int): String =
      (0 until 4).foldLeft(s"CAST($k AS BIGINT)") { (acc, r) =>
        s"(($acc) * 31 + h${k * 4 + r}) % $P"
      }
    private val bandedSelects = (0 until 8)
      .map(k => s"SELECT doc_id, $k AS band_id, ${bandExpr(k)} AS band_hash FROM sig")
      .mkString("\n  UNION ALL ")
    val matchSum: String = (0 until 32)
      .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")

    /** Band-tuning sweep: replay the banding + cap + candidate join for
      * several (bands, rowsPerBand) splits of the SAME 32-hash signature
      * and count candidates per config — one SQL statement, one `sig`.
      */
    def bandSweepSql(configs: Seq[(Int, Int)]): String = {
      val parts = configs.map { case (b, r) =>
        def bandExprBR(k: Int): String =
          (0 until r).foldLeft(s"CAST($k AS BIGINT)") { (acc, j) =>
            s"(($acc) * 31 + h${k * r + j}) % $P"
          }
        val sel = (0 until b)
          .map(k => s"SELECT doc_id, $k AS band_id, ${bandExprBR(k)} AS band_hash FROM sig")
          .mkString("\n  UNION ALL ")
        s"""bs$b AS (
           |  $sel),
           |ok$b AS (SELECT band_id, band_hash FROM bs$b
           |         GROUP BY 1, 2 HAVING count(*) <= 1000),
           |cand$b AS (
           |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |  FROM bs$b x JOIN ok$b USING (band_id, band_hash)
           |       JOIN bs$b y USING (band_id, band_hash)
           |  WHERE x.doc_id < y.doc_id)""".stripMargin
      }
      val tails = configs.map { case (b, r) =>
        s"SELECT $b AS bands, $r AS rows_per_band, " +
          s"CAST(count(*) AS BIGINT) AS n_candidates FROM cand$b"
      }
      s"WITH $sigCtes,\n${parts.mkString(",\n")}\n" +
        tails.mkString("\nUNION ALL\n") + "\nORDER BY bands"
    }

    /** CTE prefix: source -> tokens -> shingles -> base hash -> sig. */
    val sigCtes: String = sigCtesFrom("documents")

    /** Same prefix over an arbitrary source relation (e.g. a filtered
      * subset for train-side-only clustering).
      */
    def sigCtesFrom(src: String): String =
      s"""toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |                             x -> len(x) > 0) AS t
         |  FROM $src),
         |sh AS (
         |  SELECT doc_id, unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
         |    ELSE list_distinct(list_transform(range(1, len(t) - 1),
         |           i -> array_to_string(t[i:i+2], ' '))) END) AS s
         |  FROM toks),
         |h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % $P AS hm FROM sh),
         |sig AS (SELECT doc_id,
         |       $minExprs
         |FROM h GROUP BY doc_id)""".stripMargin

    /** Banded-signature CTE (every doc x band with its bucket hash). */
    val bandedCte: String =
      s"""banded AS (
         |  $bandedSelects)""".stripMargin

    /** CTEs from sig to deduplicated candidate pairs with match counts. */
    val pairCtes: String =
      s"""$bandedCte,
         |ok AS (SELECT band_id, band_hash FROM banded
         |       GROUP BY 1, 2 HAVING count(*) <= 1000),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM banded x JOIN ok USING (band_id, band_hash)
         |       JOIN banded y USING (band_id, band_hash)
         |  WHERE x.doc_id < y.doc_id),
         |est AS (
         |  SELECT id_a, id_b, ($matchSum) / 32.0 AS ej
         |  FROM cand JOIN sig a ON a.doc_id = cand.id_a
         |            JOIN sig b ON b.doc_id = cand.id_b)""".stripMargin
  }

  /** DuckDB twin of [[Similarity.ivfTopK]]'s seeded (refineIters=0) cell
    * assignment: centroids are the first-`nlist` corpus vectors by id, each
    * vector's cells are ranked by cosine desc / cell asc — the exact
    * semantics of `assignCells`'s window and `bestCellOf`'s
    * strictly-greater fold (both tie-break to the LOWER cell). Cosines are
    * bit-identical across engines: the same sequential element order feeds
    * the dot and norm sums, and both sides divide by the product of the
    * two sqrt'd norms.
    */
  private object IvfSql {
    def cellCtes(nlist: Int): String =
      s"""v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |      FROM embeddings),
         |n AS (SELECT vec_id, e,
         |             sqrt(list_reduce(list_prepend(0.0,
         |               list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
         |      FROM v),
         |cents AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell,
         |         e AS cent,
         |         sqrt(list_reduce(list_prepend(0.0,
         |           list_transform(e, x -> x * x)), (a, b) -> a + b)) AS cnrm
         |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT $nlist)),
         |scored AS (
         |  SELECT n.vec_id, c.cell,
         |         list_reduce(list_prepend(0.0,
         |           list_transform(range(1, 65), i -> n.e[i] * c.cent[i])),
         |           (a, b) -> a + b) / (n.nrm * c.cnrm) AS cs
         |  FROM n, cents c),
         |ranked AS (
         |  SELECT vec_id, cell,
         |         row_number() OVER (PARTITION BY vec_id
         |           ORDER BY cs DESC, cell) AS r
         |  FROM scored)""".stripMargin

    /** Full Lloyd replay: seed centroids, then `rounds` iterations of
      * assign (argmax cosine, ties to lower cell) + recompute (Σ exact
      * integer micro-units / (n·1e6), empty cells keep their centroid) —
      * the same arithmetic [[Similarity.kmeansCentroids]] runs, so the
      * doubles are engine-identical. Ends in the standard `ranked` CTE
      * (vec_id, cell, r) against the FINAL centroids, so the seeded
      * queries' tails drop in unchanged.
      */
    def lloydCtes(nlist: Int, rounds: Int): String = {
      val sb = new StringBuilder
      sb.append(
        s"""v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           |      FROM embeddings),
           |n AS (SELECT vec_id, e,
           |             sqrt(list_reduce(list_prepend(0.0,
           |               list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
           |      FROM v),
           |cents0 AS (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell,
           |         e AS cent
           |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT $nlist))""".stripMargin)
      for (r <- 0 until rounds) {
        sb.append(
          s""",
             |cn$r AS (SELECT cell, cent,
             |            sqrt(list_reduce(list_prepend(0.0,
             |              list_transform(cent, x -> x * x)), (a, b) -> a + b)) AS cnrm
             |         FROM cents$r),
             |sc$r AS (
             |  SELECT n.vec_id, c.cell,
             |         list_reduce(list_prepend(0.0,
             |           list_transform(range(1, 65), i -> n.e[i] * c.cent[i])),
             |           (a, b) -> a + b) / (n.nrm * c.cnrm) AS cs
             |  FROM n, cn$r c),
             |asg$r AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT vec_id, cell,
             |           row_number() OVER (PARTITION BY vec_id
             |             ORDER BY cs DESC, cell) AS rr
             |    FROM sc$r) WHERE rr = 1),
             |ux$r AS (
             |  SELECT a.cell, generate_subscripts(v.e, 1) AS idx, unnest(v.e) AS x
             |  FROM asg$r a JOIN v ON v.vec_id = a.vec_id),
             |sm$r AS (
             |  SELECT cell, idx,
             |         sum(CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS s,
             |         count(*) AS cnt
             |  FROM ux$r GROUP BY cell, idx),
             |nc$r AS (
             |  SELECT cell,
             |         list(s::DOUBLE / (cnt * 1000000)::DOUBLE ORDER BY idx) AS cent
             |  FROM sm$r GROUP BY cell),
             |cents${r + 1} AS (
             |  SELECT p.cell, coalesce(nc.cent, p.cent) AS cent
             |  FROM cents$r p LEFT JOIN nc$r nc ON nc.cell = p.cell)""".stripMargin)
      }
      sb.append(
        s""",
           |cnF AS (SELECT cell, cent,
           |            sqrt(list_reduce(list_prepend(0.0,
           |              list_transform(cent, x -> x * x)), (a, b) -> a + b)) AS cnrm
           |        FROM cents$rounds),
           |scF AS (
           |  SELECT n.vec_id, c.cell,
           |         list_reduce(list_prepend(0.0,
           |           list_transform(range(1, 65), i -> n.e[i] * c.cent[i])),
           |           (a, b) -> a + b) / (n.nrm * c.cnrm) AS cs
           |  FROM n, cnF c),
           |ranked AS (
           |  SELECT vec_id, cell,
           |         row_number() OVER (PARTITION BY vec_id
           |           ORDER BY cs DESC, cell) AS r
           |  FROM scF)""".stripMargin)
      sb.toString
    }
  }

  /** DuckDB replay of [[ops.Similarity.powerIterationTopPc]]: exact-integer
    * Gram accumulation, one fixed float op-pair per normalize, `rounds`
    * unrolled integer mat-vec iterations (the `IvfSql.lloydCtes`
    * convention). Ends with CTEs `e` (vec_id, a, qa) and `v$rounds`
    * (idx, v) so both the vector and the projection-score oracles share
    * one prefix.
    */
  private object PcaSql {
    def iterCtes(rounds: Int): String = {
      val sb = new StringBuilder
      // g/gn MUST be MATERIALIZED: DuckDB inlines a CTE per reference, and
      // gn feeds every power-iteration round (plus g feeds gm/gn/v0) — at
      // sf3 the un-hinted form re-ran the 245M-row gram join ~6 times,
      // 223 s for a head whose materialized result is 4096 rows (the
      // rel_assoc_rules CTE-inlining cliff, measured again here)
      sb.append(
        """q AS (
          |  SELECT vec_id, list_transform(embedding,
          |    x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS q
          |  FROM embeddings),
          |e AS (
          |  SELECT vec_id, generate_subscripts(q, 1) - 1 AS a, unnest(q) AS qa
          |  FROM q),
          |g AS MATERIALIZED (
          |  SELECT e1.a AS a, e2.a AS b, CAST(sum(e1.qa * e2.qa) AS BIGINT) AS g
          |  FROM e e1 JOIN e e2 ON e1.vec_id = e2.vec_id GROUP BY e1.a, e2.a),
          |gm AS (SELECT max(abs(g)) AS m FROM g),
          |gn AS MATERIALIZED (
          |  SELECT a, b,
          |         CAST(floor(CAST(g AS DOUBLE) * 1e6 / m + 0.5) AS BIGINT) AS g
          |  FROM g, gm),
          |v0 AS (SELECT DISTINCT a AS idx, CAST(1000000 AS BIGINT) AS v FROM g)""".stripMargin)
      for (r <- 0 until rounds) {
        sb.append(
          s""",
             |w$r AS (
             |  SELECT gn.a AS idx, CAST(sum(gn.g * v$r.v) AS BIGINT) AS w
             |  FROM gn JOIN v$r ON v$r.idx = gn.b GROUP BY gn.a),
             |m$r AS (SELECT max(abs(w)) AS m FROM w$r),
             |v${r + 1} AS (
             |  SELECT idx,
             |         CAST(floor(CAST(w AS DOUBLE) * 1e6 / m + 0.5) AS BIGINT) AS v
             |  FROM w$r, m$r)""".stripMargin)
      }
      sb.toString
    }
  }

  val all: Map[String, Q] = Map(

    // ================= time-series core (reference parity) =================

    "ts_upsample_1h_mean" -> Q(
      (s, dir) => {
        // int64 cents in: exact mean = long sum + count on the codegen fast
        // path, ONE half-up divide after — a double avg's accumulation noise
        // parks the value a hair off the exact half-points that cent ratios
        // inevitably hit, making round(_,4) a per-row coin flip (the
        // ts_resample_pipeline class, caught at sf0.01 once the oracle
        // rounded exactly). DECIMAL avg was exact too but leaves whole-stage
        // codegen (SCALE.md sum benchmarks); (200*s + n) div (2*n) is the
        // same half-up result in pure int64 (ts_backtest_naive form).
        val ev = t(s, dir, "events").select(col("ts"),
          round(col("value") * 100).cast("long").as("cents"),
          lit(1L).as("n"))
        Resample.upsample(ev, "ts", java.time.Duration.ofHours(1),
            Resample.Method.Sum, Seq("cents", "n"))
          .select(col("ts").as("bucket"),
            (when(col("cents") >= 0,
                expr("(20000 * cents + n) div (2 * n)"))
              .otherwise(-expr("(20000 * -cents + n) div (2 * n)"))
              .cast("double") / 10000 / 100).as("avg_value"))
          .orderBy("bucket")
      },
      Some("""WITH b AS (
             |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             |         CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events)
             |SELECT bucket,
             |       CAST(CASE WHEN sum(x) >= 0
             |            THEN (20000 * sum(x) + count(*)) // (2 * count(*))
             |            ELSE -((20000 * -sum(x) + count(*)) // (2 * count(*)))
             |            END AS DOUBLE) / 10000 / 100 AS avg_value
             |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin),
      "A1 tumbling resample, mean (exact int64 half-up cents)"
    ),

    "ts_upsample_15m_sum" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("ts"), col("value"))
        Resample.upsample(ev, "ts", java.time.Duration.ofMinutes(15),
            Resample.Method.Sum, Seq("value"))
          .select(col("ts").as("bucket"), round(col("value"), 4).as("sum_value"))
          .orderBy("bucket")
      },
      Some("""SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS bucket,
             |       round(sum(value), 4) + 0 AS sum_value
             |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin),
      "A1 tumbling resample, sum"
    ),

    "ts_upsample_1h_last_first" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("ts"), col("value"))
        ev.groupBy(window(col("ts"), "3600 seconds"))
          .agg(
            max_by(col("value"), col("ts")).as("last_value"),
            min_by(col("value"), col("ts")).as("first_value"))
          .select(col("window.start").as("bucket"),
            round(col("last_value"), 4).as("last_value"),
            round(col("first_value"), 4).as("first_value"))
          .orderBy("bucket")
      },
      Some("""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
             |       round(arg_max(value, ts), 4) + 0 AS last_value,
             |       round(arg_min(value, ts), 4) + 0 AS first_value
             |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin),
      "A1 resample, last/first by time"
    ),

    "ts_gaps_per_user" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("ts"))
        Continuity.gapsDf(ev, "ts",
            expected = java.time.Duration.ofHours(1),
            minGap = java.time.Duration.ofHours(1),
            seriesCols = Seq("user_id"))
          .orderBy("user_id", "gap_start")
      },
      Some("""WITH d AS (
             |  SELECT user_id, ts,
             |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
             |  FROM events)
             |SELECT user_id, prev_ts AS gap_start, ts AS gap_end,
             |       epoch_us(ts) - epoch_us(prev_ts) AS duration_us,
             |       CAST(floor((epoch_us(ts) - epoch_us(prev_ts)) / 3600000000.0) - 1 AS BIGINT)
             |         AS expected_points
             |FROM d
             |WHERE epoch_us(ts) - epoch_us(prev_ts) > 7200000000
             |ORDER BY user_id, gap_start""".stripMargin),
      "W1/W2 gap detection per series key"
    ),

    "ts_freq_infer" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("ts"))
        Continuity.withDiff(ev, "ts")
          .filter(col("diff_us").isNotNull)
          .agg(median(col("diff_us")).as("m"))
          .select(
            round(col("m") / 1e6).cast("long").as("freq_seconds"),
            concat(round(col("m") / 1e6).cast("long"), lit("s")).as("freq_str"))
      },
      Some("""WITH d AS (
             |  SELECT epoch_us(ts) - epoch_us(lag(ts) OVER (ORDER BY ts)) AS du
             |  FROM events)
             |SELECT CAST(round(median(du) / 1e6) AS BIGINT) AS freq_seconds,
             |       CAST(round(median(du) / 1e6) AS BIGINT) || 's' AS freq_str
             |FROM d WHERE du IS NOT NULL""".stripMargin),
      "A6 frequency inference (median diff fallback)"
    ),

    "ts_continuity_stats" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("ts"))
        val thrUs = 2L * 3600L * 1000000L
        Continuity.withDiff(ev, "ts", Seq("user_id"))
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_points"),
            min(col("ts")).as("first_ts"),
            max(col("ts")).as("last_ts"),
            (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("span_us"),
            sum(when(col("diff_us") > thrUs, col("diff_us")).otherwise(0L)).as("gap_us"),
            count(when(col("diff_us") > thrUs, lit(1))).as("n_gaps"))
          .withColumn("coverage_pct",
            round(lit(100.0) * (col("span_us") - col("gap_us")) / col("span_us"), 4))
          .orderBy("user_id")
      },
      Some("""WITH d AS (
             |  SELECT user_id, ts,
             |         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS du
             |  FROM events)
             |SELECT user_id,
             |       count(*) AS n_points,
             |       min(ts) AS first_ts,
             |       max(ts) AS last_ts,
             |       epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us,
             |       CAST(sum(CASE WHEN du > 7200000000 THEN du ELSE 0 END) AS BIGINT) AS gap_us,
             |       count(CASE WHEN du > 7200000000 THEN 1 END) AS n_gaps,
             |       round(100.0 * ((epoch_us(max(ts)) - epoch_us(min(ts))) -
             |         sum(CASE WHEN du > 7200000000 THEN du ELSE 0 END)) /
             |         (epoch_us(max(ts)) - epoch_us(min(ts))), 4) + 0 AS coverage_pct
             |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin),
      "A5 span/coverage statistics per series"
    ),

    "ts_ffill" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"), nulledValue.as("v"))
        Fill.ffill(ev, "ts", Seq("v"), limit = None, seriesCols = Seq("user_id"))
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("v"), 4).as("filled_value"))
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, user_id, ts,
              |       round(last_value($NulledSql IGNORE NULLS) OVER (
              |         PARTITION BY user_id ORDER BY ts
              |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) + 0 AS filled_value
              |FROM events ORDER BY event_id""".stripMargin),
      "W4 forward fill over series windows"
    ),

    "ts_bfill_limit" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"), nulledValue.as("v"))
        Fill.bfill(ev, "ts", Seq("v"), limit = Some(1), seriesCols = Seq("user_id"))
          .select(col("event_id"), round(col("v"), 4).as("filled_value"))
          .orderBy("event_id")
      },
      Some(s"""WITH base AS (
              |  SELECT event_id, user_id, ts, $NulledSql AS v FROM events),
              |w1 AS (
              |  SELECT event_id, user_id, v,
              |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
              |  FROM base),
              |w2 AS (
              |  SELECT event_id, v, rn,
              |         max(CASE WHEN v IS NOT NULL THEN rn END) OVER (
              |           PARTITION BY user_id ORDER BY rn
              |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS anchor,
              |         last_value(v IGNORE NULLS) OVER (
              |           PARTITION BY user_id ORDER BY rn
              |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fillv
              |  FROM w1)
              |SELECT event_id,
              |       round(CASE WHEN v IS NOT NULL THEN v
              |                  WHEN anchor IS NOT NULL AND rn - anchor <= 1 THEN fillv
              |                  ELSE v END, 4) + 0 AS filled_value
              |FROM w2 ORDER BY event_id""".stripMargin),
      "W4 backward fill with consecutive-null limit"
    ),

    "ts_interpolate" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"), nulledValue.as("v"))
        Fill.interpolateTime(ev, "ts", Seq("v"), limit = None, seriesCols = Seq("user_id"))
          .select(col("event_id"), round(col("v"), 4).as("interp_value"))
          .orderBy("event_id")
      },
      Some(s"""WITH base AS (
              |  SELECT event_id, user_id, ts, epoch_us(ts) / 1e6 AS tt,
              |         $NulledSql AS v
              |  FROM events),
              |w AS (
              |  SELECT event_id, v, tt,
              |         last_value(v IGNORE NULLS) OVER wb AS pv,
              |         last_value(CASE WHEN v IS NOT NULL THEN tt END IGNORE NULLS) OVER wb AS pt,
              |         first_value(v IGNORE NULLS) OVER wf AS nv,
              |         first_value(CASE WHEN v IS NOT NULL THEN tt END IGNORE NULLS) OVER wf AS nt
              |  FROM base
              |  WINDOW wb AS (PARTITION BY user_id ORDER BY ts
              |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              |         wf AS (PARTITION BY user_id ORDER BY ts
              |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
              |SELECT event_id,
              |       round(CASE WHEN v IS NOT NULL THEN v
              |                  WHEN pv IS NULL THEN NULL
              |                  WHEN nv IS NULL THEN pv
              |                  ELSE pv + (nv - pv) * (tt - pt) / (nt - pt) END, 4) + 0
              |         AS interp_value
              |FROM w ORDER BY event_id""".stripMargin),
      "W5 time-weighted linear interpolation"
    ),

    "ts_asof_nearest_grid" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("ts"), col("value"))
        val bounds = ev.agg(
          date_trunc("hour", min(col("ts"))).as("s"), max(col("ts")).as("e"))
        val grid = bounds.select(
          explode(sequence(col("s"), col("e"), expr("interval 1 hour"))).as("grid_ts"))
        AsOf.join(grid, ev, "grid_ts", "ts", Seq("value"),
            direction = AsOf.Direction.Nearest, prefix = "asof_")
          .select(col("grid_ts"),
            round(col("asof_value"), 4).as("nearest_value"),
            col("asof_ts").as("matched_ts"))
          .orderBy("grid_ts")
      },
      // Nearest = the closer of one backward and one forward ASOF match,
      // tie to the EARLIER event (the backward side) — LINEAR, replacing
      // the correlated order-by-distance subquery that was quadratic in
      // |grid|x|events| and oracle-infeasible past sf0.1 (round-7 sweep)
      Some("""WITH g AS (
             |  SELECT unnest(generate_series(
             |    date_trunc('hour', (SELECT min(ts) FROM events)),
             |    (SELECT max(ts) FROM events), INTERVAL 1 HOUR)) AS grid_ts),
             |b AS (
             |  SELECT g.grid_ts, e.ts AS bt, e.value AS bv
             |  FROM g ASOF LEFT JOIN events e ON g.grid_ts >= e.ts),
             |f AS (
             |  SELECT g.grid_ts, e.ts AS ft, e.value AS fv
             |  FROM g ASOF LEFT JOIN events e ON g.grid_ts <= e.ts)
             |SELECT b.grid_ts,
             |  round(CASE
             |    WHEN bt IS NULL THEN fv
             |    WHEN ft IS NULL THEN bv
             |    WHEN epoch_us(b.grid_ts) - epoch_us(bt)
             |         <= epoch_us(ft) - epoch_us(b.grid_ts) THEN bv
             |    ELSE fv END, 4) + 0 AS nearest_value,
             |  CASE
             |    WHEN bt IS NULL THEN ft
             |    WHEN ft IS NULL THEN bt
             |    WHEN epoch_us(b.grid_ts) - epoch_us(bt)
             |         <= epoch_us(ft) - epoch_us(b.grid_ts) THEN bt
             |    ELSE ft END AS matched_ts
             |FROM b JOIN f ON b.grid_ts = f.grid_ts
             |ORDER BY b.grid_ts""".stripMargin),
      "J1 nearest as-of join onto a generated grid"
    ),

    "ts_skipna_false_mean_4h" -> Q(
      (s, dir) => {
        // int64 cents: exact mean via long sum+count on the codegen fast
        // path (see ts_upsample_1h_mean) with the null-poisoning layered on
        // top — null cents stay null, sum/count skip them, n_nulls gates
        val ev = t(s, dir, "events").select(col("ts"),
          round(nulledValue * 100).cast("long").as("v"))
        val meanSkip =
          when(col("n") === 0, lit(null).cast("double"))
            .otherwise(
              (when(col("s") >= 0, expr("(20000 * s + n) div (2 * n)"))
                .otherwise(-expr("(20000 * -s + n) div (2 * n)"))
                .cast("double") / 10000 / 100))
        ev.groupBy(window(col("ts"), "14400 seconds"))
          .agg(
            sum(col("v")).as("s"),
            count(col("v")).as("n"),
            count(when(col("v").isNull, lit(1))).as("n_nulls"))
          .select(col("window.start").as("bucket"),
            when(col("n_nulls") > 0, lit(null).cast("double"))
              .otherwise(meanSkip).as("mean_noskip"),
            meanSkip.as("mean_skip"),
            col("n_nulls"))
          .orderBy("bucket")
      },
      Some(s"""WITH b AS (
              |  SELECT time_bucket(INTERVAL 4 HOUR, ts) AS bucket,
              |         CAST(round(($NulledSql) * 100) AS BIGINT) AS x
              |  FROM events),
              |g AS (
              |  SELECT bucket, sum(x) AS s, count(x) AS n,
              |         count(CASE WHEN x IS NULL THEN 1 END) AS n_nulls
              |  FROM b GROUP BY 1),
              |m AS (
              |  SELECT bucket, n_nulls,
              |         CASE WHEN n = 0 THEN NULL
              |              ELSE CAST(CASE WHEN s >= 0
              |                   THEN (20000 * s + n) // (2 * n)
              |                   ELSE -((20000 * -s + n) // (2 * n))
              |                   END AS DOUBLE) / 10000 / 100 END AS mean_skip
              |  FROM g)
              |SELECT bucket,
              |       CASE WHEN n_nulls > 0 THEN NULL ELSE mean_skip END AS mean_noskip,
              |       mean_skip, n_nulls
              |FROM m ORDER BY bucket""".stripMargin),
      "A2 skipna=False semantics (null poisons bucket)"
    ),

    "ts_resample_with_dates" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("ts"), col("value"))
        val edges = Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22", "2024-02-01")
          .map(d => java.sql.Timestamp.valueOf(s"$d 00:00:00"))
        Resample.resampleWithDates(ev, "ts", edges, Resample.Method.Mean)
          .select(col("ts").as("bucket"), round(col("value"), 4).as("mean_value"))
          .orderBy("bucket")
      },
      Some("""WITH b AS (
             |  SELECT CASE
             |    WHEN ts < TIMESTAMP '2024-01-01' OR ts > TIMESTAMP '2024-02-01' THEN NULL
             |    WHEN ts <= TIMESTAMP '2024-01-08' THEN TIMESTAMP '2024-01-01'
             |    WHEN ts <= TIMESTAMP '2024-01-15' THEN TIMESTAMP '2024-01-08'
             |    WHEN ts <= TIMESTAMP '2024-01-22' THEN TIMESTAMP '2024-01-15'
             |    ELSE TIMESTAMP '2024-01-22' END AS bucket, value
             |  FROM events)
             |SELECT bucket, round(avg(value), 4) + 0 AS mean_value
             |FROM b WHERE bucket IS NOT NULL GROUP BY bucket ORDER BY bucket""".stripMargin),
      "A2 irregular right-closed bins (pd.cut semantics)"
    ),

    "ts_resample_pipeline" -> Q(
      (s, dir) => {
        // the flagship path end-to-end: min->max 1h grid, right-closed bucket
        // means, forward-fill of empty buckets (reference resample_time_series).
        // Values enter as int64 cents with a constant-1 count column; the
        // pipeline resamples BOTH with sum (long sums stay on the codegen
        // fast path where decimal avg left it — SCALE.md), ffills the
        // (sum, count) pair (null together, so fill-then-divide ==
        // divide-then-fill), and the final projection is the exact int64
        // half-up division — a double avg over ~8k-row buckets drifts with
        // summation order and crossed the old 4-decimal rounding at the sf1
        // sweep (Spark partial aggs vs DuckDB's accumulator order). The
        // oracle replays the same half-up division in exact int64.
        val ev = t(s, dir, "events").select(col("ts"),
          round(col("value") * 100).cast("long").as("cents"),
          lit(1L).as("n"))
        ts.Resample.resampleTimeSeries(ev, "ts", "1h",
            methodResample = Some("sum"), methodFill = Some("ffill"))
          .select(col("ts"),
            (when(col("cents") >= 0,
                expr("(20000 * cents + n) div (2 * n)"))
              .otherwise(-expr("(20000 * -cents + n) div (2 * n)"))
              .cast("double") / 10000 / 100).as("filled_value"))
          .orderBy("ts")
      },
      Some("""WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
             |ev AS (SELECT epoch_us(ts) AS tu,
             |              CAST(round(value * 100) AS BIGINT) AS x FROM events),
             |agg AS (
             |  SELECT CASE WHEN tu = (SELECT t0 FROM b) THEN (SELECT t0 FROM b)
             |              ELSE (SELECT t0 FROM b) +
             |                   (CAST(ceil((tu - (SELECT t0 FROM b)) / 3600000000.0) AS BIGINT) - 1) * 3600000000
             |         END AS bu, x
             |  FROM ev),
             |a2 AS (
             |  SELECT bu,
             |         CAST(CASE WHEN sum(x) >= 0
             |              THEN (20000 * sum(x) + count(*)) // (2 * count(*))
             |              ELSE -((20000 * -sum(x) + count(*)) // (2 * count(*)))
             |              END AS DOUBLE) / 10000 / 100 AS mv
             |  FROM agg GROUP BY bu),
             |g AS (SELECT unnest(range((SELECT t0 FROM b), (SELECT t1 FROM b) + 1, 3600000000)) AS bu),
             |j AS (SELECT g.bu, a2.mv FROM g LEFT JOIN a2 ON g.bu = a2.bu)
             |SELECT make_timestamp(bu) AS ts,
             |       last_value(mv IGNORE NULLS) OVER (
             |         ORDER BY bu ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
             |FROM j ORDER BY ts""".stripMargin),
      "full resample_time_series pipeline: grid + right-closed mean + ffill"
    ),

    "ts_outlier_zscore" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"), col("value"))
        val st = ev.agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
        ev.crossJoin(broadcast(st))
          .filter(abs((col("value") - col("mu")) / col("sd")) <= 2.5)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_kept"), round(avg(col("value")), 4).as("avg_value"))
          .orderBy("event_type")
      },
      Some("""WITH st AS (SELECT avg(value) mu, stddev_samp(value) sd FROM events)
             |SELECT event_type, count(*) AS n_kept, round(avg(value), 4) + 0 AS avg_value
             |FROM events, st
             |WHERE abs((value - mu) / sd) <= 2.5
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
      "P6/A7 z-score outlier filter (two-pass)"
    ),

    "ts_rolling_stats" -> Q(
      (s, dir) => {
        // per-series rolling mean/min/max over the trailing 5 rows — ONE
        // window sort per series serves all three aggregates; integer
        // cents make the running mean exact at any partition order
        val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
        val w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(-4, 0)
        ev.filter(col("user_id") < 20)
          .select(col("user_id"), col("ts"),
            round(avg(col("cents")).over(w) / 100, 4).as("roll_mean"),
            (min(col("cents")).over(w).cast("double") / 100).as("roll_min"),
            (max(col("cents")).over(w).cast("double") / 100).as("roll_max"),
            count(lit(1)).over(w).as("n_window"))
          .orderBy("user_id", "ts")
      },
      Some("""SELECT user_id, ts,
             |       round(avg(CAST(round(value * 100) AS BIGINT))
             |         OVER w / 100, 4) + 0 AS roll_mean,
             |       CAST(min(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE) / 100
             |         AS roll_min,
             |       CAST(max(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE) / 100
             |         AS roll_max,
             |       count(*) OVER w AS n_window
             |FROM events WHERE user_id < 20
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts
             |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, ts""".stripMargin),
      "rolling mean/min/max per series (pandas .rolling(5) twin, one window sort)"
    ),

    // range join via bucketized equi-join (a raw inequality join would
    // plan as a nested loop): error events open 30-minute incident
    // windows; count the same user's events inside each window
    "ts_interval_join" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val inc = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("incident_id"), col("user_id"),
            col("ts").as("t0"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).as("t1"))
        ts.IntervalJoin.intervalJoin(
            ev.select(col("user_id"), col("ts")), inc,
            "ts", "t0", "t1", java.time.Duration.ofMinutes(30),
            equalKeys = Seq("user_id"))
          .groupBy("incident_id", "user_id")
          .agg(count(lit(1)).as("n_events"))
          .orderBy("incident_id")
      },
      Some("""WITH inc AS (
             |  SELECT event_id AS incident_id, user_id, ts AS t0,
             |         ts + INTERVAL 30 MINUTE AS t1
             |  FROM events WHERE event_type = 'error')
             |SELECT i.incident_id, i.user_id, count(*) AS n_events
             |FROM inc i
             |JOIN events e ON e.user_id = i.user_id
             |             AND e.ts >= i.t0 AND e.ts < i.t1
             |GROUP BY 1, 2
             |ORDER BY incident_id""".stripMargin),
      "interval/range join: incident windows x contained events, bucketized equi-join"
    ),

    // earliest-chain funnel: every chain timestamp is an exact value, so
    // the conversion level per user is fully oracle-checked
    "ts_funnel" -> Q(
      (s, dir) =>
        Behavior.windowFunnel(t(s, dir, "events"), "user_id", "ts",
            "event_type", Seq("view", "click", "purchase"),
            java.time.Duration.ofDays(3))
          .orderBy("user_id"),
      Some("""WITH f1 AS (
             |  SELECT user_id, ts, event_type,
             |         min(CASE WHEN event_type = 'view' THEN ts END) OVER w AS t_1
             |  FROM events WINDOW w AS (PARTITION BY user_id)),
             |f2 AS (
             |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_1
             |                THEN ts END) OVER w AS t_2
             |  FROM f1 WINDOW w AS (PARTITION BY user_id)),
             |f3 AS (
             |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_2
             |                THEN ts END) OVER w AS t_3
             |  FROM f2 WINDOW w AS (PARTITION BY user_id))
             |SELECT DISTINCT user_id, t_1, t_2, t_3,
             |       CASE WHEN t_3 IS NOT NULL
             |              AND epoch_us(t_3) - epoch_us(t_1) <= 259200000000 THEN 3
             |            WHEN t_2 IS NOT NULL
             |              AND epoch_us(t_2) - epoch_us(t_1) <= 259200000000 THEN 2
             |            WHEN t_1 IS NOT NULL THEN 1
             |            ELSE 0 END AS level
             |FROM f3 ORDER BY user_id""".stripMargin),
      "conversion funnel (view -> click -> purchase, 3-day window): earliest-chain timestamps + level"
    ),

    // the funnel bar chart: users at each level, survivors who reached at
    // least it, and per-step conversion in exact integer ppm; the global
    // windows run over the 4-row level axis only
    "ts_funnel_dropoff" -> Q(
      (s, dir) =>
        Behavior.funnelDropoff(
          Behavior.windowFunnel(t(s, dir, "events"), "user_id", "ts",
            "event_type", Seq("view", "click", "purchase"),
            java.time.Duration.ofDays(3)),
          nSteps = 3),
      Some("""WITH f1 AS (
             |  SELECT user_id, ts, event_type,
             |         min(CASE WHEN event_type = 'view' THEN ts END) OVER w AS t_1
             |  FROM events WINDOW w AS (PARTITION BY user_id)),
             |f2 AS (
             |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_1
             |                THEN ts END) OVER w AS t_2
             |  FROM f1 WINDOW w AS (PARTITION BY user_id)),
             |f3 AS (
             |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_2
             |                THEN ts END) OVER w AS t_3
             |  FROM f2 WINDOW w AS (PARTITION BY user_id)),
             |fu AS (
             |  SELECT DISTINCT user_id,
             |       CASE WHEN t_3 IS NOT NULL
             |              AND epoch_us(t_3) - epoch_us(t_1) <= 259200000000 THEN 3
             |            WHEN t_2 IS NOT NULL
             |              AND epoch_us(t_2) - epoch_us(t_1) <= 259200000000 THEN 2
             |            WHEN t_1 IS NOT NULL THEN 1
             |            ELSE 0 END AS level
             |  FROM f3),
             |agg AS (
             |  SELECT level, CAST(count(*) AS BIGINT) AS n_users
             |  FROM fu GROUP BY level),
             |lv AS (SELECT unnest(range(0, 4)) AS level),
             |fl AS (
             |  SELECT lv.level, coalesce(agg.n_users, 0) AS n_users
             |  FROM lv LEFT JOIN agg USING (level)),
             |sv AS (
             |  SELECT level, n_users,
             |         CAST(sum(n_users) OVER (ORDER BY level DESC
             |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS survivors
             |  FROM fl)
             |SELECT level, n_users, survivors,
             |       CASE WHEN level >= 1
             |              AND lag(survivors) OVER (ORDER BY level) > 0
             |            THEN survivors * 1000000
             |                 // lag(survivors) OVER (ORDER BY level)
             |       END AS conv_ppm
             |FROM sv ORDER BY level""".stripMargin),
      "funnel drop-off: survivors per level + step conversion in exact ppm"
    ),

    // cohort retention over the orders history: month-bucketed first-order
    // cohorts, integer-exact retention ppm
    "rel_cohort_retention" -> Q(
      (s, dir) =>
        Behavior.cohortRetention(t(s, dir, "orders"), "o_custkey",
            year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .orderBy("cohort", "k"),
      Some("""WITH active AS (
             |  SELECT DISTINCT o_custkey AS s,
             |         year(o_orderdate) * 12 + month(o_orderdate) AS b
             |  FROM orders),
             |cohort AS (SELECT s, min(b) AS cohort FROM active GROUP BY 1),
             |o AS (
             |  SELECT c.cohort, a.b - c.cohort AS k, count(*) AS n_active
             |  FROM active a JOIN cohort c USING (s) GROUP BY 1, 2)
             |SELECT cohort, k, n_active,
             |       n_active * 1000000 //
             |         max(CASE WHEN k = 0 THEN n_active END)
             |           OVER (PARTITION BY cohort) AS retention_ppm
             |FROM o ORDER BY cohort, k""".stripMargin),
      "cohort retention: first-order-month cohorts, active-share ppm per offset"
    ),

    // Dataset-versioning diff: v1 drops %7 keys, v2 drops %11 keys and
    // bumps %5 cents — the Spark side classifies via slim md5-hash
    // projections (payload never shuffles); the oracle compares the VALUES
    // directly, independently proving the hash-compare classification.
    "rel_snapshot_diff" -> Q(
      (s, dir) => {
        val base = t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        val v1 = base.filter(col("o_orderkey") % 7 =!= 0)
        val v2 = base
          .withColumn("cents",
            when(col("o_orderkey") % 5 === 0, col("cents") + 500L)
              .otherwise(col("cents")))
          .filter(col("o_orderkey") % 11 =!= 0)
        graft.ops.Incremental
          .snapshotDiff(v1, v2, Seq("o_orderkey"), Seq("o_custkey", "cents"))
          .filter(col("change") =!= "unchanged")
          .orderBy("o_orderkey")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_custkey,
             |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |v1 AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
             |v2 AS (SELECT o_orderkey, o_custkey,
             |              CASE WHEN o_orderkey % 5 = 0 THEN cents + 500
             |                   ELSE cents END AS cents
             |       FROM base WHERE o_orderkey % 11 <> 0),
             |d AS (
             |  SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
             |         CASE WHEN v1.o_orderkey IS NULL THEN 'added'
             |              WHEN v2.o_orderkey IS NULL THEN 'removed'
             |              WHEN v1.o_custkey <> v2.o_custkey
             |                   OR v1.cents <> v2.cents THEN 'changed'
             |              ELSE 'unchanged' END AS change
             |  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
             |SELECT o_orderkey, change FROM d
             |WHERE change <> 'unchanged' ORDER BY o_orderkey""".stripMargin),
      "keyed snapshot diff via slim hash projections, oracle compares values"
    ),

    // MERGE INTO semantics: fold a change batch into a keyed snapshot —
    // last change per key wins, final deletes drop the key, untouched
    // keys pass through; integer cents only
    "rel_cdc_apply" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        val cutoff = "2024-01-15"
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        val snapshot = ev.filter(col("ts") < lit(cutoff).cast("timestamp"))
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select(col("user_id"), col("cents"))
        val changes = ev.filter(col("ts") >= lit(cutoff).cast("timestamp"))
          .withColumn("op",
            when(col("event_type") === "error", "delete").otherwise("upsert"))
          .select(col("user_id"), col("cents"), col("op"),
            col("ts"), col("event_id"))
        graft.ops.Incremental.applyChanges(snapshot, changes,
            keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
            opCol = "op")
          .orderBy("user_id")
      },
      Some("""WITH snap AS (
             |  SELECT user_id, cents FROM (
             |    SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
             |           row_number() OVER (PARTITION BY user_id
             |             ORDER BY ts DESC, event_id DESC) AS rn
             |    FROM events WHERE ts < TIMESTAMP '2024-01-15')
             |  WHERE rn = 1),
             |chg AS (
             |  SELECT user_id, cents, op FROM (
             |    SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
             |           CASE WHEN event_type = 'error' THEN 'delete'
             |                ELSE 'upsert' END AS op,
             |           row_number() OVER (PARTITION BY user_id
             |             ORDER BY ts DESC, event_id DESC) AS rn
             |    FROM events WHERE ts >= TIMESTAMP '2024-01-15')
             |  WHERE rn = 1)
             |SELECT user_id, cents FROM snap
             |WHERE user_id NOT IN (SELECT user_id FROM chg)
             |UNION ALL
             |SELECT user_id, cents FROM chg WHERE op <> 'delete'
             |ORDER BY user_id""".stripMargin),
      "CDC merge-apply: last change per key wins, deletes drop, others upsert"
    ),

    // warehouse dimension history from the raw stream: consecutive
    // same-attribute runs become validity intervals with open current rows
    "rel_scd2_intervals" -> Q(
      (s, dir) =>
        graft.ops.Incremental.scd2Intervals(
            t(s, dir, "events").filter(col("user_id") < 30),
            "user_id", Seq("ts", "event_id"), "event_type")
          .select(col("user_id"), col("event_type"), col("n_events"),
            col("valid_from"), col("valid_to"), col("is_current"))
          .orderBy("user_id", "valid_from"),
      Some("""WITH b AS (
             |  SELECT user_id, ts, event_id, event_type,
             |         CASE WHEN lag(event_type) OVER w IS NULL
             |                OR lag(event_type) OVER w <> event_type
             |              THEN 1 ELSE 0 END AS chg
             |  FROM events WHERE user_id < 30
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |r AS (
             |  SELECT user_id, ts, event_type,
             |         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                        ROWS UNBOUNDED PRECEDING) AS run
             |  FROM b),
             |g AS (
             |  SELECT user_id, run, max(event_type) AS event_type,
             |         CAST(count(*) AS BIGINT) AS n_events,
             |         min(ts) AS valid_from
             |  FROM r GROUP BY user_id, run)
             |SELECT user_id, event_type, n_events, valid_from,
             |       lead(valid_from) OVER wr AS valid_to,
             |       lead(valid_from) OVER wr IS NULL AS is_current
             |FROM g
             |WINDOW wr AS (PARTITION BY user_id ORDER BY run)
             |ORDER BY user_id, valid_from""".stripMargin),
      "SCD2 history: same-value runs to validity intervals, open current rows"
    ),

    // the point-in-time correctness workload: each error event looks up
    // the dimension state (the user's non-error event_type run) VALID AT
    // its timestamp — half-open [valid_from, valid_to) intervals partition
    // the timeline, so every probe matches at most once; errors before a
    // user's first state row fall back to 'none'
    "rel_pit_join" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("user_id") < 30)
        val dim = graft.ops.Incremental.scd2Intervals(
            ev.filter(col("event_type") =!= "error"),
            "user_id", Seq("ts", "event_id"), "event_type")
          .select(col("user_id"), col("event_type").as("state"),
            col("valid_from"), col("valid_to"))
        val probes = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts"), col("event_id"))
        probes.join(dim,
            probes("user_id") === dim("user_id") &&
              col("valid_from") <= col("ts") &&
              (col("valid_to").isNull || col("ts") < col("valid_to")),
            "left")
          .select(coalesce(col("state"), lit("none")).as("state_at_error"))
          .groupBy("state_at_error")
          .agg(count(lit(1)).as("n_errors"))
          .orderBy("state_at_error")
      },
      Some("""WITH ne AS (
             |  SELECT user_id, ts, event_id, event_type,
             |         CASE WHEN lag(event_type) OVER w IS NULL
             |                OR lag(event_type) OVER w <> event_type
             |              THEN 1 ELSE 0 END AS chg
             |  FROM events WHERE user_id < 30 AND event_type <> 'error'
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |r AS (
             |  SELECT user_id, ts, event_type,
             |         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                        ROWS UNBOUNDED PRECEDING) AS run
             |  FROM ne),
             |g AS (
             |  SELECT user_id, run, max(event_type) AS state,
             |         min(ts) AS valid_from
             |  FROM r GROUP BY user_id, run),
             |dim AS (
             |  SELECT user_id, state, valid_from,
             |         lead(valid_from) OVER (PARTITION BY user_id
             |           ORDER BY run) AS valid_to
             |  FROM g),
             |pr AS (
             |  SELECT user_id, ts FROM events
             |  WHERE user_id < 30 AND event_type = 'error'),
             |m AS (
             |  SELECT coalesce(d.state, 'none') AS state_at_error
             |  FROM pr LEFT JOIN dim d
             |    ON d.user_id = pr.user_id
             |   AND d.valid_from <= pr.ts
             |   AND (d.valid_to IS NULL OR pr.ts < d.valid_to))
             |SELECT state_at_error, CAST(count(*) AS BIGINT) AS n_errors
             |FROM m GROUP BY state_at_error
             |ORDER BY state_at_error""".stripMargin),
      "point-in-time join: probes look up the SCD2 state valid at their timestamp"
    ),

    // the time-bounded funnel: click -> signup -> purchase with the whole
    // chain inside 48 h of its click (plain funnels count a signup a
    // month later; this one doesn't) — greedy latest-chain fold, exact
    "rel_window_funnel" -> Q(
      (s, dir) =>
        Behavior.windowFunnel(t(s, dir, "events"), "user_id",
            Seq("ts", "event_id"), "event_type",
            Seq("click", "signup", "purchase"),
            windowMicros = 48L * 3600L * 1000000L, tsCol = "ts")
          .orderBy("level"),
      Some("""WITH b AS (
             |  SELECT user_id,
             |         list([epoch_us(ts), CAST(CASE event_type
             |             WHEN 'click' THEN 1 WHEN 'signup' THEN 2
             |             WHEN 'purchase' THEN 3 ELSE 0 END AS BIGINT)]
             |           ORDER BY ts, event_id) AS xs
             |  FROM events GROUP BY user_id),
             |f AS (
             |  SELECT user_id,
             |         list_reduce(
             |           list_prepend([-1::BIGINT, -1::BIGINT, -1::BIGINT],
             |             xs),
             |           (st, e) -> CASE WHEN len(st) != 3 THEN st ELSE [
             |             CASE WHEN e[2] = 1 THEN greatest(st[1], e[1])
             |                  ELSE st[1] END,
             |             CASE WHEN e[2] = 2 AND st[1] >= 0
             |                    AND e[1] - st[1] <= 172800000000
             |                  THEN greatest(st[2], st[1]) ELSE st[2] END,
             |             CASE WHEN e[2] = 3 AND st[2] >= 0
             |                    AND e[1] - st[2] <= 172800000000
             |                  THEN greatest(st[3], st[2]) ELSE st[3] END]
             |           END) AS st
             |  FROM b),
             |lv AS (
             |  SELECT user_id,
             |         greatest(CASE WHEN st[1] >= 0 THEN 1 ELSE 0 END,
             |                  CASE WHEN st[2] >= 0 THEN 2 ELSE 0 END,
             |                  CASE WHEN st[3] >= 0 THEN 3 ELSE 0 END)
             |           AS max_level
             |  FROM f)
             |SELECT l.level,
             |       CAST(sum(CASE WHEN max_level >= l.level THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_reached
             |FROM lv CROSS JOIN (SELECT unnest([1, 2, 3]) AS level) l
             |GROUP BY l.level ORDER BY l.level""".stripMargin),
      "windowed funnel: deepest in-window chain per user, greedy exact fold"
    ),

    // fair-split attribution: each conversion's cents divide evenly over
    // all strictly-prior touches, remainder to the first touch — credits
    // per conversion sum exactly to the conversion value, all int64
    "rel_attribution_linear" -> Q(
      (s, dir) =>
        Behavior.linearAttribution(t(s, dir, "events"), "user_id",
            Seq("ts", "event_id"), "event_type",
            round(col("value") * 100).cast("long"),
            conversionType = "purchase",
            channelTypes = Seq("click", "view", "signup"))
          .orderBy("channel"),
      Some("""WITH b AS (
             |  SELECT user_id, ts, event_id, event_type,
             |         CAST(round(value * 100) AS BIGINT) AS v,
             |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |           OVER w AS c_click,
             |         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |           OVER w AS c_view,
             |         sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
             |           OVER w AS c_signup,
             |         first_value(CASE WHEN event_type IN
             |             ('click', 'view', 'signup') THEN event_type END
             |           IGNORE NULLS) OVER w AS ft
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING
             |               AND 1 PRECEDING)),
             |cv AS (
             |  SELECT *,
             |         coalesce(c_click, 0) + coalesce(c_view, 0)
             |           + coalesce(c_signup, 0) AS n,
             |         CASE WHEN coalesce(c_click, 0) + coalesce(c_view, 0)
             |                + coalesce(c_signup, 0) > 0
             |              THEN v // (c_click + c_view + c_signup)
             |              ELSE 0 END AS base
             |  FROM b WHERE event_type = 'purchase'),
             |cr AS (
             |  SELECT ch.channel,
             |         CASE ch.channel
             |           WHEN 'click' THEN base * c_click
             |           WHEN 'view' THEN base * c_view
             |           WHEN 'signup' THEN base * c_signup END
             |         + CASE WHEN ft = ch.channel
             |                THEN v - n * base ELSE 0 END AS credit,
             |         CASE ch.channel
             |           WHEN 'click' THEN CASE WHEN c_click > 0 THEN 1 ELSE 0 END
             |           WHEN 'view' THEN CASE WHEN c_view > 0 THEN 1 ELSE 0 END
             |           WHEN 'signup' THEN CASE WHEN c_signup > 0 THEN 1 ELSE 0 END
             |         END AS touched
             |  FROM cv CROSS JOIN (SELECT unnest(
             |    ['click', 'view', 'signup']) AS channel) ch
             |  UNION ALL
             |  SELECT 'direct', v, 1 FROM cv WHERE n = 0)
             |SELECT channel,
             |       CAST(sum(touched) AS BIGINT) AS conversions_touched,
             |       CAST(sum(credit) AS BIGINT) AS revenue_cents
             |FROM cr GROUP BY channel ORDER BY channel""".stripMargin),
      "linear multi-touch attribution: exact integer credit split + remainder"
    ),

    // marketing attribution: strictly-prior last-touch via a
    // (unboundedPreceding, -1) frame + last(ignoreNulls); counts and
    // integer cents only — nothing float crosses the compare
    "rel_attribution" -> Q(
      (s, dir) =>
        Behavior.lastTouchAttribution(t(s, dir, "events"), "user_id",
            Seq("ts", "event_id"), "event_type",
            round(col("value") * 100).cast("long"),
            conversionType = "purchase",
            channelTypes = Seq("click", "view", "signup"))
          .withColumnRenamed("revenue", "revenue_cents")
          .orderBy("channel"),
      Some("""SELECT channel, count(*) AS conversions,
             |       CAST(sum(cents) AS BIGINT) AS revenue_cents FROM (
             |  SELECT coalesce(last_value(
             |           CASE WHEN event_type IN ('click', 'view', 'signup')
             |                THEN event_type END IGNORE NULLS)
             |           OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                 ROWS BETWEEN UNBOUNDED PRECEDING
             |                          AND 1 PRECEDING), 'direct') AS channel,
             |         event_type, CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events)
             |WHERE event_type = 'purchase'
             |GROUP BY channel ORDER BY channel""".stripMargin),
      "last-touch revenue attribution: strictly-prior channel credit per conversion"
    ),

    // A/B experiment readout: Welch's unequal-variance t-test from six
    // exact int64 accumulators; the t / df formulas are the SAME text on
    // both engines (Behavior.WelchT/WelchDf) — fixed IEEE op sequence
    "rel_ab_welch" -> Q(
      (s, dir) =>
        Behavior.welchTTest(t(s, dir, "events"), "event_type",
            "click", "view", round(col("value") * 100).cast("long"))
          .select(col("n_a"), col("n_b"),
            round(col("mean_a"), 4).as("mean_a"),
            round(col("mean_b"), 4).as("mean_b"),
            (round(col("t_stat"), 4) + lit(0)).as("t_stat"),
            round(col("df_welch"), 2).as("df_welch")),
      Some(s"""WITH g AS (
             |  SELECT
             |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_a,
             |    sum(CASE WHEN event_type = 'click'
             |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS s_a,
             |    sum(CASE WHEN event_type = 'click'
             |        THEN CAST(round(value * 100) AS BIGINT)
             |           * CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS ss_a,
             |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_b,
             |    sum(CASE WHEN event_type = 'view'
             |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS s_b,
             |    sum(CASE WHEN event_type = 'view'
             |        THEN CAST(round(value * 100) AS BIGINT)
             |           * CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS ss_b
             |  FROM events WHERE event_type IN ('click', 'view')),
             |c AS (
             |  SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             |         CAST(s_a AS BIGINT) AS s_a, CAST(s_b AS BIGINT) AS s_b,
             |         CAST(ss_a AS BIGINT) AS ss_a, CAST(ss_b AS BIGINT) AS ss_b
             |  FROM g),
             |w AS (
             |  SELECT n_a, n_b,
             |         CAST(s_a AS DOUBLE) / n_a AS mean_a,
             |         CAST(s_b AS DOUBLE) / n_b AS mean_b,
             |         ${Behavior.WelchT},
             |         ${Behavior.WelchDf}
             |  FROM c)
             |SELECT n_a, n_b, round(mean_a, 4) + 0 AS mean_a,
             |       round(mean_b, 4) + 0 AS mean_b,
             |       round(t_stat, 4) + 0 AS t_stat,
             |       round(df_welch, 2) + 0 AS df_welch
             |FROM w""".stripMargin),
      "Welch t-test A/B readout: exact integer accumulators, shared-text IEEE tail"
    ),

    // rank-based A/B readout (outlier-robust complement to rel_ab_welch):
    // ranks never materialize — distinct-value counts give every tie
    // block's doubled average rank exactly, so 2·U_A and the tie
    // correction are exact DECIMAL(38,0) (no 2^63 cliff — the int64 form
    // overflowed at ~2.1e6 rows tied on one value) surfaced as identical-
    // bits doubles before the one shared-text z collapse
    "rel_ab_mannwhitney" -> Q(
      (s, dir) =>
        Behavior.mannWhitneyU(t(s, dir, "events"), "event_type",
            "click", "view", round(col("value") * 100).cast("long"))
          .select(col("n_a"), col("n_b"), col("u2_a"), col("tie_term"),
            col("u_a"), (round(col("z"), 4) + lit(0)).as("z")),
      Some(s"""WITH s AS (
             |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
             |  FROM events WHERE event_type IN ('click', 'view')),
             |bv AS (
             |  SELECT v,
             |    CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT)
             |      AS ca,
             |    CAST(sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT)
             |      AS cb
             |  FROM s GROUP BY v),
             |wp AS (
             |  SELECT v, ca, cb,
             |         coalesce(sum(ca + cb) OVER (ORDER BY v
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |           AS p
             |  FROM bv),
             |a AS (
             |  SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             |         CAST(sum(cb) AS BIGINT) AS n_b,
             |         sum(CAST(ca AS DECIMAL(19,0))
             |             * CAST(2 * p + ca + cb + 1 AS DECIMAL(19,0))) AS r2a,
             |         sum(CAST(ca + cb AS DECIMAL(12,0))
             |             * CAST(ca + cb AS DECIMAL(12,0))
             |             * CAST(ca + cb AS DECIMAL(12,0)) - (ca + cb))
             |           AS tie_dec
             |  FROM wp),
             |u AS (
             |  SELECT n_a, n_b,
             |         CAST(r2a - CAST(n_a AS DECIMAL(19,0))
             |              * CAST(n_a + 1 AS DECIMAL(19,0)) AS DOUBLE) AS u2_a,
             |         CAST(tie_dec AS DOUBLE) AS tie_term
             |  FROM a),
             |zz AS (
             |  SELECT n_a, n_b, u2_a, tie_term,
             |         u2_a / 2 AS u_a,
             |         ${Behavior.MannWhitneyZ}
             |  FROM u)
             |SELECT n_a, n_b, u2_a, tie_term, u_a, round(z, 4) + 0 AS z
             |FROM zz""".stripMargin),
      "Mann-Whitney U A/B readout: exact doubled ranks from value counts, tie-corrected z"
    ),

    // distribution-shape A/B readout (completes the location-shift pair
    // welch/mannwhitney): the KS D statistic's numerator max|Fa·nb − Fb·na|
    // is exact DECIMAL(38,0) over distinct-value ECDF steps (no 2^63
    // cliff) — ties absorbed exactly, one terminal division
    "rel_ab_ks" -> Q(
      (s, dir) =>
        Behavior.ksTest(t(s, dir, "events"), "event_type",
            "click", "purchase", round(col("value") * 100).cast("long"))
          .select(col("n_a"), col("n_b"), col("d_num"), col("d")),
      Some("""WITH s AS (
             |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
             |  FROM events WHERE event_type IN ('click', 'purchase')),
             |bv AS (
             |  SELECT v,
             |    CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT)
             |      AS ca,
             |    CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             |      AS cb
             |  FROM s GROUP BY v),
             |f AS (
             |  SELECT
             |    CAST(sum(ca) OVER (ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS fa,
             |    CAST(sum(cb) OVER (ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS fb,
             |    CAST(sum(ca) OVER () AS BIGINT) AS na,
             |    CAST(sum(cb) OVER () AS BIGINT) AS nb
             |  FROM bv)
             |SELECT max(na) AS n_a, max(nb) AS n_b,
             |       CAST(max(ABS(CAST(fa AS DECIMAL(19,0)) * CAST(nb AS DECIMAL(19,0))
             |                  - CAST(fb AS DECIMAL(19,0)) * CAST(na AS DECIMAL(19,0))))
             |         AS DOUBLE) AS d_num,
             |       CAST(max(ABS(CAST(fa AS DECIMAL(19,0)) * CAST(nb AS DECIMAL(19,0))
             |                  - CAST(fb AS DECIMAL(19,0)) * CAST(na AS DECIMAL(19,0))))
             |         AS DOUBLE)
             |         / max(na) / max(nb) AS d
             |FROM f""".stripMargin),
      "two-sample Kolmogorov-Smirnov: exact decimal ECDF-gap numerator over value cells"
    ),

    // is the event mix independent of weekday? Pearson chi-squared
    // contingency cells with exact integer marginals and floor'd
    // micro-unit contributions (shared-text Behavior.ChiSqCellU — the
    // total statistic is then an exact integer sum of the chi2_u column)
    "rel_chisq_independence" -> Q(
      (s, dir) =>
        Behavior.chiSquared(t(s, dir, "events"),
            col("event_type"), (dayofweek(col("ts")) + 5) % 7 + 1,
            "event_type", "iso_dow")
          .orderBy("event_type", "iso_dow"),
      Some(s"""WITH cells AS (
             |  SELECT event_type, CAST(isodow(ts) AS INT) AS iso_dow,
             |         CAST(count(*) AS BIGINT) AS o
             |  FROM events GROUP BY 1, 2),
             |m AS (
             |  SELECT event_type, iso_dow, o,
             |         CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT)
             |           AS r_total,
             |         CAST(sum(o) OVER (PARTITION BY iso_dow) AS BIGINT)
             |           AS c_total,
             |         CAST(sum(o) OVER () AS BIGINT) AS n_total
             |  FROM cells),
             |rc AS (
             |  -- HUGEINT, not DECIMAL: DuckDB's // on decimals ROUNDS the
             |  -- quotient (331.7924 -> 332); hugeint // is a true floor
             |  SELECT *, CAST(r_total AS HUGEINT) * c_total AS rcv
             |  FROM m)
             |SELECT event_type, iso_dow, o, r_total, c_total, n_total,
             |       CAST(rcv // n_total AS BIGINT) * 1000000
             |         + CAST((rcv % n_total) * 1000000 // n_total AS BIGINT)
             |         AS exp_ppm,
             |       ${Behavior.ChiSqCellU} AS chi2_u
             |FROM rc ORDER BY event_type, iso_dow""".stripMargin),
      "chi-squared independence cells (event mix x weekday), exact micro-unit terms"
    ),

    // first-digit (Benford) audit over order totals: the fraud/corruption
    // smoke test every financial pipeline runs. Digit extraction rides the
    // exact integer->string path; expected ppm are shared literal
    // constants, so every output column is an exact integer
    "rel_benford_digits" -> Q(
      (s, dir) => {
        val digits = t(s, dir, "orders")
          .select(round(col("o_totalprice") * 100).cast("long").as("c"))
          .filter(col("c") > 0)
          .select(substring(col("c").cast("string"), 1, 1).cast("int")
            .as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
        digits
          .withColumn("total",
            sum(col("n")).over(Window.partitionBy(lit(1))))
          .withColumn("obs_ppm", expr("n * 1000000 DIV total"))
          .withColumn("exp_ppm", expr(BenfordExpPpm))
          .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
          .drop("total")
          .orderBy("digit")
      },
      Some(s"""WITH d AS (
             |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
             |  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
             |        FROM orders) WHERE c > 0),
             |g AS (
             |  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
             |t AS (
             |  SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS total FROM g)
             |SELECT digit, n,
             |       CAST(n * 1000000 // total AS BIGINT) AS obs_ppm,
             |       CAST($BenfordExpPpm AS BIGINT) AS exp_ppm,
             |       CAST(abs(n * 1000000 // total - ($BenfordExpPpm))
             |         AS BIGINT) AS dev_ppm
             |FROM t ORDER BY digit""".stripMargin),
      "Benford first-digit audit over order totals: observed vs expected ppm, exact"
    ),

    // median filter: linear interpolation at even frames makes every value
    // k or k+0.5 in cents — dyadic, so the /100 double op is engine-exact
    "ts_rolling_median" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
        Smooth.rollingMedian(ev.filter(col("user_id") < 20), Seq("ts"), "cents",
            window = 5, seriesCols = Seq("user_id"))
          .select(col("user_id"), col("ts"),
            (col("roll_median") / 100).as("roll_median"))
          .orderBy("user_id", "ts")
      },
      Some("""SELECT user_id, ts,
             |       median(CAST(round(value * 100) AS BIGINT)) OVER w / 100
             |         AS roll_median
             |FROM events WHERE user_id < 20
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts
             |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, ts""".stripMargin),
      "rolling median (robust smoother): exact dyadic medians over integer cents"
    ),

    // calendar occupancy heatmap: event counts + cents per (ISO weekday,
    // hour) cell. Weekday parity needs care: Spark dayofweek is Sun=1,
    // DuckDB isodow is Mon=1 — the ((d+5) % 7) + 1 remap makes both
    // sides ISO (Mon=1..Sun=7)
    "ts_heatmap_dow_hour" -> Q(
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(
            ((dayofweek(col("ts")) + 5) % 7 + 1).as("iso_dow"),
            hour(col("ts")).as("hour"))
          .agg(count(lit(1)).as("n_events"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
          .orderBy("iso_dow", "hour"),
      Some("""SELECT CAST(isodow(ts) AS INT) AS iso_dow,
             |       CAST(hour(ts) AS INT) AS hour,
             |       CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |         AS cents
             |FROM events GROUP BY 1, 2 ORDER BY iso_dow, hour""".stripMargin),
      "calendar heatmap: counts + integer cents per ISO weekday x hour cell"
    ),

    // irregular-sampling-correct mean: each value weighted by how long it
    // stayed current; exact int64 weighted sum, one final division
    "ts_twap" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), round(col("value") * 100).cast("long").as("cents"))
        Smooth.twap(ev, Seq("ts", "event_id"), "cents", "ts",
            seriesCols = Seq("user_id"))
          .select(col("user_id"), col("n"),
            round(col("twap"), 4).as("twap"))
          .orderBy("user_id")
      },
      Some("""WITH b AS (
             |  SELECT user_id, epoch_us(ts) AS t,
             |         CAST(round(value * 100) AS BIGINT) AS x,
             |         lead(epoch_us(ts)) OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id) AS nxt
             |  FROM events),
             |h AS (SELECT user_id, x, (nxt - t) // 1000000 AS hold FROM b),
             |a AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(CASE WHEN hold IS NULL THEN 0
             |                       ELSE x * hold END) AS BIGINT) AS wsum,
             |         CAST(sum(coalesce(hold, 0)) AS BIGINT) AS span
             |  FROM h GROUP BY user_id)
             |SELECT user_id, n,
             |       round(CASE WHEN span > 0
             |                  THEN CAST(wsum AS DOUBLE) / span END, 4) + 0
             |         AS twap
             |FROM a ORDER BY user_id""".stripMargin),
      "time-weighted average: hold-duration weights, exact int64 weighted sum"
    ),

    // deepest drop from a running peak — pure running-max algebra over
    // int64 cents, no float anywhere in the statistic
    "ts_drawdown" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), round(col("value") * 100).cast("long").as("cents"))
        Smooth.maxDrawdown(ev, Seq("ts", "event_id"), "cents",
            seriesCols = Seq("user_id"))
          .orderBy("user_id")
      },
      Some("""WITH b AS (
             |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS x,
             |         max(CAST(round(value * 100) AS BIGINT))
             |           OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                 ROWS UNBOUNDED PRECEDING) AS runmax
             |  FROM events)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |       CAST(max(x) AS BIGINT) AS peak,
             |       CAST(max(runmax - x) AS BIGINT) AS max_drawdown
             |FROM b GROUP BY user_id ORDER BY user_id""".stripMargin),
      "max drawdown per series: deepest drop from the running peak, exact integers"
    ),

    // band-breach detection with no float sigma: the k-sigma test is
    // multiplied through by n² so both sides are exact int64
    "ts_bollinger" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), round(col("value") * 100).cast("long").as("cents"))
        Smooth.bollingerBreaches(ev, Seq("ts", "event_id"), "cents",
            window = 8, k = 2, seriesCols = Seq("user_id"))
          .orderBy("user_id")
      },
      Some("""WITH b AS (
             |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS x,
             |         sum(CAST(round(value * 100) AS BIGINT)) OVER w AS s,
             |         sum(CAST(round(value * 100) AS BIGINT)
             |             * CAST(round(value * 100) AS BIGINT)) OVER w AS ss,
             |         count(*) OVER w AS c
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
             |f AS (
             |  SELECT user_id, 8 * x - s AS dev, 8 * ss - s * s AS varnum
             |  FROM b WHERE c = 8)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_eval,
             |       CAST(sum(CASE WHEN dev > 0 AND dev * dev > 4 * varnum
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_upper,
             |       CAST(sum(CASE WHEN dev < 0 AND dev * dev > 4 * varnum
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_lower,
             |       CAST(sum(varnum) AS BIGINT) AS sum_varnum
             |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin),
      "Bollinger k-sigma band breaches, float-free integer band test"
    ),

    // momentum oscillator: Cutler's RSI (SMA gains/losses over the last 6
    // diffs) in exact integer ppm; overbought/oversold at 70/30
    "ts_rsi" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), round(col("value") * 100).cast("long").as("cents"))
        Smooth.rsiCutler(ev, Seq("ts", "event_id"), "cents",
            period = 6, seriesCols = Seq("user_id"))
          .orderBy("user_id")
      },
      Some("""WITH d AS (
             |  SELECT user_id, ts, event_id,
             |         CAST(round(value * 100) AS BIGINT)
             |           - lag(CAST(round(value * 100) AS BIGINT))
             |             OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |           AS dx
             |  FROM events),
             |f AS (
             |  SELECT user_id,
             |         sum(CASE WHEN dx > 0 THEN dx ELSE 0 END) OVER w AS sg,
             |         sum(CASE WHEN dx < 0 THEN -dx ELSE 0 END) OVER w AS sl,
             |         sum(CASE WHEN dx IS NOT NULL THEN 1 ELSE 0 END) OVER w
             |           AS nd
             |  FROM d
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)),
             |r AS (
             |  SELECT user_id,
             |         CASE WHEN sg + sl = 0 THEN 500000
             |              ELSE sg * 1000000 // (sg + sl) END AS rsi_ppm
             |  FROM f WHERE nd = 6)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_eval,
             |       CAST(sum(CASE WHEN rsi_ppm >= 700000 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_overbought,
             |       CAST(sum(CASE WHEN rsi_ppm <= 300000 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_oversold,
             |       CAST(sum(rsi_ppm) AS BIGINT) AS sum_rsi_ppm
             |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin),
      "Cutler RSI momentum per series: integer-ppm oscillator, 70/30 flags"
    ),

    // multi-resolution structure: Haar detail-coefficient L1 energy per
    // level over the hourly cents grid — every coefficient exact int64
    "ts_haar_levels" -> Q(
      (s, dir) => {
        val g = t(s, dir, "events")
          .groupBy(expr("unix_micros(ts) div 3600000000").as("idx"))
          .agg(sum(round(col("value") * 100).cast("long")).as("x"))
        ts.Spectral.haarL1(g, "idx", "x", levels = 6)
          .orderBy("level")
      },
      Some("""WITH g AS (
             |  SELECT epoch_us(ts) // 3600000000 AS idx,
             |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |           AS x
             |  FROM events GROUP BY 1),
             |e AS (
             |  SELECT l.level, g.idx // (1 << l.level) AS block,
             |         CASE WHEN (g.idx // (1 << (l.level - 1))) % 2 = 0
             |              THEN g.x ELSE -g.x END AS signed
             |  FROM g CROSS JOIN
             |       (SELECT unnest([1, 2, 3, 4, 5, 6]) AS level) l),
             |d AS (
             |  SELECT level, block, CAST(sum(signed) AS BIGINT) AS d
             |  FROM e GROUP BY level, block)
             |SELECT CAST(level AS INT) AS level,
             |       CAST(count(*) AS BIGINT) AS n_coeffs,
             |       CAST(sum(abs(d)) AS BIGINT) AS l1_energy,
             |       CAST(max(abs(d)) AS BIGINT) AS max_abs
             |FROM d GROUP BY level ORDER BY level""".stripMargin),
      "Haar wavelet L1 energy by level: exact multi-resolution profile"
    ),

    // autoregressive structure per series: AR(2) normal equations from
    // exact int64 moment sums, solved in fixed-IEEE-order doubles
    "ts_ar2_forecast" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), round(col("value") * 100).cast("long").as("cents"))
        ts.Backtest.ar2Fit(ev, Seq("ts", "event_id"), "cents",
            Seq("user_id"))
          .orderBy("user_id")
      },
      Some("""WITH b AS (
             |  SELECT user_id,
             |         CAST(round(value * 100) AS BIGINT) AS y,
             |         lag(CAST(round(value * 100) AS BIGINT), 1) OVER w AS l1,
             |         lag(CAST(round(value * 100) AS BIGINT), 2) OVER w AS l2,
             |         row_number() OVER (PARTITION BY user_id
             |           ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |m AS (
             |  SELECT user_id,
             |         CAST(sum(CASE WHEN l2 IS NOT NULL THEN 1 ELSE 0 END)
             |           AS BIGINT) AS n_eval,
             |         CAST(sum(CASE WHEN l2 IS NOT NULL THEN l1 * l1 ELSE 0 END)
             |           AS BIGINT) AS s11,
             |         CAST(sum(CASE WHEN l2 IS NOT NULL THEN l1 * l2 ELSE 0 END)
             |           AS BIGINT) AS s12,
             |         CAST(sum(CASE WHEN l2 IS NOT NULL THEN l2 * l2 ELSE 0 END)
             |           AS BIGINT) AS s22,
             |         CAST(sum(CASE WHEN l2 IS NOT NULL THEN y * l1 ELSE 0 END)
             |           AS BIGINT) AS sy1,
             |         CAST(sum(CASE WHEN l2 IS NOT NULL THEN y * l2 ELSE 0 END)
             |           AS BIGINT) AS sy2,
             |         max(CASE WHEN rn = 1 THEN y END) AS last1,
             |         max(CASE WHEN rn = 2 THEN y END) AS last2
             |  FROM b GROUP BY user_id),
             |f AS (
             |  SELECT user_id, n_eval,
             |         CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)
             |           - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE) AS det,
             |         CAST(sy1 AS DOUBLE) * CAST(s22 AS DOUBLE)
             |           - CAST(sy2 AS DOUBLE) * CAST(s12 AS DOUBLE) AS n1,
             |         CAST(sy2 AS DOUBLE) * CAST(s11 AS DOUBLE)
             |           - CAST(sy1 AS DOUBLE) * CAST(s12 AS DOUBLE) AS n2,
             |         last1, last2
             |  FROM m)
             |SELECT user_id, n_eval,
             |       CASE WHEN det <> 0
             |            THEN round(n1 / det, 6) + 0 END AS phi1,
             |       CASE WHEN det <> 0
             |            THEN round(n2 / det, 6) + 0 END AS phi2,
             |       CASE WHEN det <> 0 THEN
             |         CAST(floor((n1 / det) * CAST(last1 AS DOUBLE)
             |              + (n2 / det) * CAST(last2 AS DOUBLE) + 0.5)
             |           AS BIGINT) END AS forecast_next
             |FROM f ORDER BY user_id""".stripMargin),
      "AR(2) fit + 1-step forecast: exact integer moments, fixed-order solve"
    ),

    // does last-season beat last-hour? seasonal-naive (lag 24) vs naive
    // (lag 1) on the hourly grid, identical eval set, exact int64 scoring
    "ts_backtest_seasonal" -> Q(
      (s, dir) => {
        val g = t(s, dir, "events")
          .groupBy(expr("unix_micros(ts) div 3600000000").as("idx"))
          .agg(sum(round(col("value") * 100).cast("long")).as("x"))
        ts.Backtest.oneStepAheadSeasonal(g, Seq("idx"), "x", period = 24)
          .select(col("n_eval"),
            expr("sum_ae_naive div n_eval").as("mae_naive_cents"),
            expr("sum_ae_seasonal div n_eval").as("mae_seasonal_cents"),
            expr("sum_smape_naive_ppm div n_eval").as("smape_naive_ppm"),
            expr("sum_smape_seasonal_ppm div n_eval").as("smape_seasonal_ppm"),
            when(col("sum_ae_seasonal") <= col("sum_ae_naive"),
              lit("seasonal")).otherwise(lit("naive")).as("best_model"))
      },
      Some("""WITH g AS (
             |  SELECT epoch_us(ts) // 3600000000 AS idx,
             |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |           AS x
             |  FROM events GROUP BY 1),
             |f AS (
             |  SELECT x,
             |         lag(x, 1) OVER (ORDER BY idx) AS fn,
             |         lag(x, 24) OVER (ORDER BY idx) AS fs
             |  FROM g),
             |e AS (SELECT * FROM f WHERE fn IS NOT NULL AND fs IS NOT NULL),
             |a AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_eval,
             |         CAST(sum(abs(x - fn)) AS BIGINT) AS san,
             |         CAST(sum(abs(x - fs)) AS BIGINT) AS sas,
             |         CAST(sum(CASE WHEN abs(fn) + abs(x) = 0 THEN 0
             |                  ELSE (2 * abs(fn - x) * 1000000)
             |                       // (abs(fn) + abs(x)) END) AS BIGINT) AS ssn,
             |         CAST(sum(CASE WHEN abs(fs) + abs(x) = 0 THEN 0
             |                  ELSE (2 * abs(fs - x) * 1000000)
             |                       // (abs(fs) + abs(x)) END) AS BIGINT) AS sss
             |  FROM e)
             |SELECT n_eval,
             |       san // n_eval AS mae_naive_cents,
             |       sas // n_eval AS mae_seasonal_cents,
             |       ssn // n_eval AS smape_naive_ppm,
             |       sss // n_eval AS smape_seasonal_ppm,
             |       CASE WHEN sas <= san THEN 'seasonal' ELSE 'naive' END
             |         AS best_model
             |FROM a""".stripMargin),
      "seasonal-naive vs naive hourly backtest, shared eval set, exact scoring"
    ),

    // volume-weighted mean: Σ(x·w)/Σw with int64 numerator/denominator,
    // weight = the JSON props' k field — one float division at the end
    "ts_vwap" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"),
          get_json_object(col("props"), "$.k").cast("long").as("w"))
        ev.groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("w")).as("sum_w"),
            sum(col("cents") * col("w")).as("__wx"))
          .withColumn("vwap_cents",
            when(col("sum_w") > 0,
              round(col("__wx").cast("double") / col("sum_w").cast("double"),
                4) + lit(0.0)))
          .drop("__wx")
          .orderBy("event_type")
      },
      Some("""WITH b AS (
             |  SELECT event_type,
             |         CAST(round(value * 100) AS BIGINT) AS x,
             |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS w
             |  FROM events)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(w) AS BIGINT) AS sum_w,
             |       CASE WHEN sum(w) > 0 THEN
             |         round(CAST(sum(x * w) AS DOUBLE)
             |               / CAST(sum(w) AS DOUBLE), 4) + 0 END AS vwap_cents
             |FROM b GROUP BY event_type ORDER BY event_type""".stripMargin),
      "value-weighted average (VWAP shape): exact int64 sums, one division"
    ),

    // which-of-these-rhythms spectral detection: DFT power at 4 candidate
    // periods over the hourly cents grid; centering ×n and micro-unit trig
    // keep both spectral sums exact int64 (probed: JVM and libm cos/sin
    // agree at every phase after the 1e6 snap)
    "ts_periodogram" -> Q(
      (s, dir) => {
        val g = t(s, dir, "events")
          .groupBy(expr("unix_micros(ts) div 3600000000").as("idx"))
          .agg(sum(round(col("value") * 100).cast("long")).as("x"))
        ts.Spectral.periodogram(g, "idx", "x", Seq(6, 12, 24, 168))
          .orderBy("period")
      },
      Some("""WITH g AS (
             |  SELECT epoch_us(ts) // 3600000000 AS idx,
             |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |           AS x
             |  FROM events GROUP BY 1),
             |tot AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s FROM g),
             |f AS (
             |  SELECT p.period, tot.n,
             |         tot.n * g.x - tot.s AS dev,
             |         g.idx % p.period AS r
             |  FROM g
             |  CROSS JOIN (SELECT unnest([6, 12, 24, 168]) AS period) p
             |  CROSS JOIN tot),
             |u AS (
             |  SELECT period, n, dev,
             |         CAST(round(cos(2 * pi() * r / period) * 1e6) AS BIGINT)
             |           AS cos_u,
             |         CAST(round(sin(2 * pi() * r / period) * 1e6) AS BIGINT)
             |           AS sin_u
             |  FROM f),
             |a AS (
             |  SELECT period, max(n) AS n,
             |         CAST(sum(dev * cos_u) AS BIGINT) AS sc_u,
             |         CAST(sum(dev * sin_u) AS BIGINT) AS ss_u
             |  FROM u GROUP BY period)
             |SELECT period, n, sc_u, ss_u,
             |       round(CAST(sc_u AS DOUBLE) / 1e6 / n / n
             |              * (CAST(sc_u AS DOUBLE) / 1e6 / n / n)
             |            + CAST(ss_u AS DOUBLE) / 1e6 / n / n
             |              * (CAST(ss_u AS DOUBLE) / 1e6 / n / n), 4) + 0 AS power
             |FROM a ORDER BY period""".stripMargin),
      "candidate-period DFT power: integer micro-unit trig, exact spectral sums"
    ),

    // robust spike detection/cleaning: |x - med| > k*MAD over a trailing
    // frame, all in doubled/quadrupled integer units (2·median of ints is
    // an exact integer) — the comparison itself never touches a float
    "ts_hampel" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
        Smooth.hampel(ev.filter(col("user_id") < 20), Seq("ts"), "cents",
            window = 7, k = 3, seriesCols = Seq("user_id"))
          .select(col("user_id"), col("ts"),
            (col("roll_med") / 100).as("roll_med"),
            (col("roll_mad") / 100).as("roll_mad"),
            col("is_outlier"),
            (col("cleaned") / 100).as("cleaned"))
          .orderBy("user_id", "ts")
      },
      Some("""WITH b AS (
             |  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events WHERE user_id < 20),
             |f AS (
             |  SELECT user_id, ts, x, list(x) OVER w AS fr
             |  FROM b
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts
             |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
             |m AS (
             |  SELECT user_id, ts, x, fr, len(fr) AS n,
             |         CASE WHEN len(fr) % 2 = 1
             |           THEN 2 * list_sort(fr)[(len(fr) + 1) // 2]
             |           ELSE list_sort(fr)[len(fr) // 2]
             |              + list_sort(fr)[len(fr) // 2 + 1]
             |         END AS med2
             |  FROM f),
             |d AS (
             |  SELECT user_id, ts, x, n, med2,
             |         list_transform(fr, v -> abs(2 * v - med2)) AS dev2
             |  FROM m),
             |e AS (
             |  SELECT user_id, ts, x, med2,
             |         CASE WHEN n % 2 = 1
             |           THEN 2 * list_sort(dev2)[(n + 1) // 2]
             |           ELSE list_sort(dev2)[n // 2] + list_sort(dev2)[n // 2 + 1]
             |         END AS mad4
             |  FROM d)
             |SELECT user_id, ts,
             |       (med2 / 2.0) / 100 AS roll_med,
             |       (mad4 / 4.0) / 100 AS roll_mad,
             |       2 * abs(2 * x - med2) > 3 * mad4 AS is_outlier,
             |       CASE WHEN 2 * abs(2 * x - med2) > 3 * mad4
             |            THEN med2 / 2.0 ELSE CAST(x AS DOUBLE) END / 100
             |         AS cleaned
             |FROM e ORDER BY user_id, ts""".stripMargin),
      "Hampel filter: rolling median/MAD outlier replacement, exact integer test"
    ),

    // lead/lag discovery: hourly-grid Pearson corr at lags -3..3 between
    // every user pair; six exact-int64 sums, exact-decimal products
    // (no 2^63 cliff), fixed IEEE op order
    "ts_cross_correlation" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("user_id") < 10)
          .select(col("user_id"),
            expr("unix_micros(ts) div 3600000000").as("hour_idx"),
            round(col("value") * 100).cast("long").as("cents"))
        ts.CrossCorr.crossCorrelation(ev, "user_id", "hour_idx", "cents",
            maxLag = 3)
          .select(col("series_a"), col("series_b"), col("lag"),
            col("n_overlap"), round(col("xcorr"), 4).as("xcorr"))
          .orderBy("series_a", "series_b", "lag")
      },
      Some(s"""WITH g AS (
             |  SELECT user_id, epoch_us(ts) // 3600000000 AS b,
             |         sum(CAST(round(value * 100) AS BIGINT)) AS v
             |  FROM events WHERE user_id < 10 GROUP BY 1, 2),
             |p AS (
             |  SELECT a.user_id AS series_a, b.user_id AS series_b, l.lag,
             |         count(*) AS n_overlap,
             |         sum(a.v) AS sx, sum(b.v) AS sy, sum(a.v * b.v) AS sxy,
             |         sum(a.v * a.v) AS sxx, sum(b.v * b.v) AS syy
             |  FROM g a
             |  CROSS JOIN (SELECT unnest(range(-3, 4)) AS lag) l
             |  JOIN g b ON b.b = a.b + l.lag AND a.user_id < b.user_id
             |  GROUP BY 1, 2, 3)
             |SELECT series_a, series_b, lag, n_overlap,
             |       round(${ts.CrossCorr.xcorrSql("n_overlap", "sx", "sy",
                        "sxy", "sxx", "syy").replace("\n", " ")}, 4) + 0
             |         AS xcorr
             |FROM p ORDER BY series_a, series_b, lag""".stripMargin),
      "lagged cross-correlation between series pairs: hourly grid, exact integer sums"
    ),

    "ts_outlier_mad" -> Q(
      (s, dir) => {
        // robust (median/MAD) outlier detection — the z-score's resistant
        // sibling; integer cents keep every deviation exact, and both
        // percentile scalars broadcast into per-row filters (the 100 TB
        // path swaps percentile for approx_percentile unchanged)
        val ev = t(s, dir, "events").select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        val med = ev.agg(percentile(col("cents"), lit(0.5)).as("med"))
        val dev = ev.crossJoin(broadcast(med))
          .withColumn("adev", abs(col("cents") - col("med")))
        val mad = dev.agg(percentile(col("adev"), lit(0.5)).as("mad"))
        dev.crossJoin(broadcast(mad))
          .filter(col("adev") > lit(3.0) * lit(1.4826) * col("mad"))
          .groupBy(col("event_type")).agg(count(lit(1)).as("n_outliers"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
             |           FROM events),
             |m AS (SELECT quantile_cont(cents, 0.5) AS med FROM c),
             |d AS (SELECT event_type, abs(cents - med) AS adev FROM c, m),
             |md AS (SELECT quantile_cont(adev, 0.5) AS mad FROM d)
             |SELECT event_type, count(*) AS n_outliers
             |FROM d, md WHERE adev > 3.0 * 1.4826 * mad
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
      "MAD-based robust outlier detection (median absolute deviation, 3-sigma-equivalent)"
    ),

    "rel_profile" -> Q(
      (s, dir) => {
        // one-pass data profiling: row count, null counts, exact distinct
        // cardinalities, value bounds — the audit every ingest runs before
        // training; swap count_distinct for approx_count_distinct at 100 TB
        val li = t(s, dir, "lineitem")
        li.agg(
          count(lit(1)).as("n_rows"),
          count(col("l_quantity")).as("qty_nonnull"),
          count_distinct(col("l_quantity")).as("qty_distinct"),
          count_distinct(col("l_returnflag")).as("flag_distinct"),
          count_distinct(col("l_shipdate")).as("shipdate_distinct"),
          min(col("l_shipdate")).as("shipdate_min"),
          max(col("l_shipdate")).as("shipdate_max"),
          round(sum(col("l_quantity")), 2).as("qty_sum"))
      },
      Some("""SELECT count(*) AS n_rows,
             |       count(l_quantity) AS qty_nonnull,
             |       count(DISTINCT l_quantity) AS qty_distinct,
             |       count(DISTINCT l_returnflag) AS flag_distinct,
             |       count(DISTINCT l_shipdate) AS shipdate_distinct,
             |       min(l_shipdate) AS shipdate_min,
             |       max(l_shipdate) AS shipdate_max,
             |       round(sum(l_quantity), 2) + 0 AS qty_sum
             |FROM lineitem""".stripMargin),
      "one-pass table profile: counts, cardinalities, bounds (ingest audit)"
    ),

    "doc_length_histogram" -> Q(
      (s, dir) =>
        t(s, dir, "documents")
          .select(TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
          .groupBy(expr("n_tokens div 64").as("bucket_64"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("bucket_64"),
      Some("""SELECT CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
             |         x -> len(x) > 0)) // 64 AS BIGINT) AS bucket_64,
             |       count(*) AS n_docs
             |FROM documents GROUP BY 1 ORDER BY bucket_64""".stripMargin),
      "document length distribution in 64-token buckets (mixture design input)"
    ),

    "rel_salted_agg" -> Q(
      (s, dir) => {
        // the skew escape hatch, proven semantics-preserving: salted
        // two-stage aggregation must equal the plain one-stage GROUP BY
        // the oracle runs (integer sums are exact in any order)
        val ev = t(s, dir, "events").select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        Skew.saltedAggregate(ev, Seq("event_type"), Seq(
            "sum_cents" -> (sum(col("cents")), sum(col("sum_cents"))),
            "n" -> (count(lit(1)), sum(col("n")))),
          saltFactor = 16)
          .select(col("event_type"), col("sum_cents"), col("n"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             |       count(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      "salted two-stage hot-key aggregation == plain GROUP BY (skew mitigation verified)"
    ),

    // the other join-side scale move, proven semantics-preserving: Bloom-
    // prune the big side against the small side's key bits BEFORE the
    // shuffle (no false negatives -> result EQUALS the plain join the
    // oracle runs; false positives fall out of the equi-join itself)
    "rel_bloom_join" -> Q(
      (s, dir) => {
        val small = t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_orderdate") >= to_timestamp(lit("1995-03-01")) &&
            col("o_orderdate") < to_timestamp(lit("1995-04-01")))
          .select(col("o_orderkey"))
        val big = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
        Skew.bloomPrunedJoin(big, small, "l_orderkey", "o_orderkey")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("revenue_cents"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |         AS BIGINT) AS revenue_cents
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderpriority = '1-URGENT'
             |  AND o_orderdate >= TIMESTAMP '1995-03-01'
             |  AND o_orderdate < TIMESTAMP '1995-04-01'
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      "bloom-pruned equi-join == plain join (semi-join reduction verified)"
    ),

    // privacy audit: k-anonymity over a quasi-identifier tuple
    // (event_type × hour-of-day × 50-unit value band) — group-size
    // distribution plus the share of rows at re-identification risk,
    // all exact integers
    "rel_k_anonymity" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"),
          hour(col("ts")).as("h"),
          expr("CAST(round(value * 100) AS BIGINT) div 5000").as("vband"))
        ev.groupBy("event_type", "h", "vband")
          .agg(count(lit(1)).as("gn"))
          .agg(
            count(lit(1)).as("n_groups"),
            min(col("gn")).as("min_group_size"),
            count(when(col("gn") < 5, lit(1))).as("n_small_groups"),
            sum(when(col("gn") < 5, col("gn")).otherwise(lit(0L)))
              .as("rows_at_risk"),
            sum(col("gn")).as("__total_rows"))
          .select(col("n_groups"), col("min_group_size"),
            col("n_small_groups"), col("rows_at_risk"),
            expr("rows_at_risk * 1000000 div __total_rows").as("risk_ppm"))
      },
      Some("""WITH g AS (
             |  SELECT event_type, hour(ts) AS h,
             |         CAST(round(value * 100) AS BIGINT) // 5000 AS vband,
             |         count(*) AS gn
             |  FROM events GROUP BY 1, 2, 3)
             |SELECT count(*) AS n_groups,
             |       CAST(min(gn) AS BIGINT) AS min_group_size,
             |       CAST(count(CASE WHEN gn < 5 THEN 1 END) AS BIGINT)
             |         AS n_small_groups,
             |       CAST(sum(CASE WHEN gn < 5 THEN gn ELSE 0 END) AS BIGINT)
             |         AS rows_at_risk,
             |       CAST(sum(CASE WHEN gn < 5 THEN gn ELSE 0 END) * 1000000
             |            // sum(gn) AS BIGINT) AS risk_ppm
             |FROM g""".stripMargin),
      "k-anonymity audit: quasi-identifier group sizes + rows-at-risk share"
    ),

    // funnel latency: time from a user's first click to their first
    // LATER purchase — integer minutes, exact interpolated percentiles
    "rel_time_to_convert" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val firstClick = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id")).agg(min(col("ts")).as("__c"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("__p"))
        firstClick.join(purch, Seq("user_id"))
          .filter(col("__p") > col("__c"))
          .groupBy(col("user_id")).agg(min(col("__p")).as("__p1"),
            min(col("__c")).as("__c1"))
          .select(expr("(unix_micros(__p1) - unix_micros(__c1)) div 60000000")
            .as("mins"))
          .agg(
            count(lit(1)).as("n_converted"),
            min(col("mins")).as("min_mins"),
            expr("percentile(mins, 0.5)").as("p50_mins"),
            expr("percentile(mins, 0.9)").as("p90_mins"),
            sum(col("mins")).as("sum_mins"))
          .withColumn("mean_mins", expr("sum_mins div n_converted"))
      },
      Some("""WITH fc AS (
             |  SELECT user_id, min(ts) AS c
             |  FROM events WHERE event_type = 'click' GROUP BY user_id),
             |fp AS (
             |  SELECT e.user_id, min(e.ts) AS p, min(fc.c) AS c
             |  FROM events e JOIN fc ON fc.user_id = e.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > fc.c
             |  GROUP BY e.user_id),
             |d AS (
             |  SELECT (epoch_us(p) - epoch_us(c)) // 60000000 AS mins
             |  FROM fp)
             |SELECT CAST(count(*) AS BIGINT) AS n_converted,
             |       CAST(min(mins) AS BIGINT) AS min_mins,
             |       quantile_cont(mins, 0.5) AS p50_mins,
             |       quantile_cont(mins, 0.9) AS p90_mins,
             |       CAST(sum(mins) AS BIGINT) AS sum_mins,
             |       CAST(sum(mins) // count(*) AS BIGINT) AS mean_mins
             |FROM d""".stripMargin),
      "conversion latency: first click to first later purchase, exact percentiles"
    ),

    // the companion privacy audit: l-diversity — a quasi-identifier group
    // is safe only if its SENSITIVE attribute (user_id here) also takes
    // many values; k-anonymous groups with one user are still re-identifiable
    "rel_l_diversity" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"),
          hour(col("ts")).as("h"), col("user_id"))
        ev.groupBy("event_type", "h")
          .agg(count(lit(1)).as("gn"),
            countDistinct(col("user_id")).as("l"))
          .agg(
            count(lit(1)).as("n_groups"),
            min(col("l")).as("min_l"),
            count(when(col("l") < 3, lit(1))).as("n_low_diversity"),
            sum(when(col("l") < 3, col("gn")).otherwise(lit(0L)))
              .as("rows_at_risk"),
            sum(col("gn")).as("__total"))
          .select(col("n_groups"), col("min_l"), col("n_low_diversity"),
            col("rows_at_risk"),
            expr("rows_at_risk * 1000000 div __total").as("risk_ppm"))
      },
      Some("""WITH g AS (
             |  SELECT event_type, hour(ts) AS h,
             |         CAST(count(*) AS BIGINT) AS gn,
             |         CAST(count(DISTINCT user_id) AS BIGINT) AS l
             |  FROM events GROUP BY 1, 2)
             |SELECT count(*) AS n_groups,
             |       CAST(min(l) AS BIGINT) AS min_l,
             |       CAST(count(CASE WHEN l < 3 THEN 1 END) AS BIGINT)
             |         AS n_low_diversity,
             |       CAST(sum(CASE WHEN l < 3 THEN gn ELSE 0 END) AS BIGINT)
             |         AS rows_at_risk,
             |       CAST(sum(CASE WHEN l < 3 THEN gn ELSE 0 END) * 1000000
             |            // sum(gn) AS BIGINT) AS risk_ppm
             |FROM g""".stripMargin),
      "l-diversity audit: distinct-sensitive-value floor per quasi-group"
    ),

    // the Laplace mechanism with a DERIVED (content-keyed) noise draw:
    // u comes from the portable md5 hash of the group key — same inverse-
    // CDF transform as production DP release code, but reproducible, so
    // the whole mechanism (hash -> uniform -> Laplace -> noisy count) is
    // engine-replayable. b = 2 (eps = 0.5 at sensitivity 1).
    "rel_dp_noisy_counts" -> Q(
      (s, dir) => {
        val m = 576460752303423488L // 2^59
        t(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_true"))
          .withColumn("__h",
            conv(substring(md5(col("event_type")), 1, 15), 16, 10)
              .cast("long"))
          .withColumn("__k", pmod(col("__h"), lit(2L * m)) - lit(m))
          .withColumn("__u", col("__k").cast("double") / lit(m.toDouble))
          .withColumn("__noise",
            -lit(2.0) * signum(col("__u")) * log(lit(1.0) - abs(col("__u"))))
          .select(col("event_type"), col("n_true"),
            round(col("__noise") * 1e6, 0).cast("long").as("noise_micro"),
            (col("n_true") +
              round(col("__noise"), 0).cast("long")).as("n_noisy"))
          .orderBy("event_type")
      },
      Some("""WITH g AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
             |  FROM events GROUP BY event_type),
             |h AS (
             |  SELECT event_type, n_true,
             |         ('0x' || substr(md5(event_type), 1, 15))::BIGINT AS hh
             |  FROM g),
             |u AS (
             |  SELECT event_type, n_true,
             |         CAST(hh % 1152921504606846976 - 576460752303423488
             |           AS DOUBLE) / 576460752303423488.0 AS uu
             |  FROM h),
             |n AS (
             |  SELECT event_type, n_true,
             |         -2.0 * sign(uu) * ln(1.0 - abs(uu)) AS noise
             |  FROM u)
             |SELECT event_type, n_true,
             |       CAST(round(noise * 1e6) AS BIGINT) AS noise_micro,
             |       n_true + CAST(round(noise) AS BIGINT) AS n_noisy
             |FROM n ORDER BY event_type""".stripMargin),
      "Laplace-mechanism noisy counts: content-keyed uniform, inverse-CDF, replayable"
    ),

    // time-based (RANGE) frames, the interval cousin of every ROWS window
    // here: trailing-1-hour activity per user at every event — frame
    // membership is closed [t-1h, t] on microsecond epoch, exact int sums
    "ts_rolling_1h_range" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("__t"))
          .rangeBetween(-3600000000L, 0L)
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            unix_micros(col("ts")).as("__t"),
            round(col("value") * 100).cast("long").as("cents"))
          .withColumn("n_1h", count(lit(1)).over(w))
          .withColumn("sum_cents_1h", sum(col("cents")).over(w))
          .select("user_id", "event_id", "n_1h", "sum_cents_1h")
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
             |       CAST(count(*) OVER w AS BIGINT) AS n_1h,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w
             |         AS BIGINT) AS sum_cents_1h
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, event_id""".stripMargin),
      "RANGE-frame window: trailing-1h per-user activity, microsecond-exact bounds"
    ),

    // ranking-distribution window battery: percent_rank / cume_dist /
    // ntile over a total order — (r−1)/(n−1) and peers/n are single
    // IEEE divides of exact integers, engine-identical
    "rel_window_distribution" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy("value", "event_id")
        t(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value"))
          .withColumn("pr", percent_rank().over(w))
          .withColumn("cd", cume_dist().over(w))
          .withColumn("quartile", ntile(4).over(w))
          .select(col("event_id"), col("pr"), col("cd"), col("quartile"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |       percent_rank() OVER w AS pr,
             |       cume_dist() OVER w AS cd,
             |       CAST(ntile(4) OVER w AS INT) AS quartile
             |FROM events
             |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
             |ORDER BY event_id""".stripMargin),
      "percent_rank / cume_dist / ntile over a pinned total order"
    ),

    "ts_resample_per_series" -> Q(
      (s, dir) => {
        // ALL-INTEGER outputs: double means land on exact .xxxx5 rounding
        // edges (2-decimal source data) where Spark's BigDecimal HALF_UP and
        // DuckDB's double-multiply rounding disagree — so emit exact cent
        // sums, counts, and an integer-division mean instead of round()
        val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
          round(col("value") * 100).as("cents"), lit(1.0).as("one"))
        Resample.resampleTimeSeries(ev, "ts", "1d",
            methodResample = Some("sum"), valueCols = Seq("cents", "one"),
            seriesCols = Seq("user_id"))
          .select(col("user_id"), col("ts"),
            col("cents").cast("long").as("sum_cents"),
            col("one").cast("long").as("n_points"),
            when(col("one").isNull, lit(null).cast("long"))
              .otherwise(expr("CAST((CAST(cents AS BIGINT) * 10000) DIV CAST(one AS BIGINT) AS BIGINT)"))
              .as("mean_e4"))
          .orderBy("user_id", "ts")
      },
      Some("""WITH b AS (SELECT user_id, epoch_us(min(ts)) AS s, epoch_us(max(ts)) AS e
             |          FROM events GROUP BY 1),
             |ev AS (SELECT user_id, epoch_us(ts) AS tu,
             |              CAST(round(value * 100) AS BIGINT) AS cents FROM events),
             |agg AS (
             |  SELECT ev.user_id,
             |         CASE WHEN tu = s THEN s
             |              ELSE s + (CAST(ceil((tu - s) / 86400000000.0) AS BIGINT) - 1) * 86400000000
             |         END AS bu, cents
             |  FROM ev JOIN b ON ev.user_id = b.user_id),
             |a2 AS (SELECT user_id, bu,
             |              CAST(sum(cents) AS BIGINT) AS sc,
             |              count(*) AS n FROM agg GROUP BY 1, 2),
             |g AS (SELECT user_id, unnest(range(s, e + 1, 86400000000)) AS bu FROM b)
             |SELECT g.user_id AS user_id, make_timestamp(g.bu) AS ts,
             |       a2.sc AS sum_cents, a2.n AS n_points,
             |       CAST((a2.sc * 10000) // a2.n AS BIGINT) AS mean_e4
             |FROM g LEFT JOIN a2 ON g.user_id = a2.user_id AND g.bu = a2.bu
             |ORDER BY g.user_id, ts""".stripMargin),
      "per-series resample pipeline: executor-side per-key grids + right-closed buckets"
    ),

    "ts_session_window" -> Q(
      (s, dir) => {
        // Spark's NATIVE session windows (streaming-capable operator) must
        // agree with the lag-based Sessionize on bounds and counts
        val ev = t(s, dir, "events").select(col("user_id"), col("ts"))
        ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"))
          .select(col("user_id"), col("session_start"), col("session_end"),
            col("n_events"))
          .orderBy("user_id", "session_start")
      },
      Some("""WITH d AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL THEN 0
             |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1
             |         ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (
             |  SELECT user_id, ts,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM d)
             |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             |       count(*) AS n_events
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin),
      "native session_window operator vs gap-rule oracle (windows are [ts, ts+gap): exact-gap separation splits)"
    ),

    "ts_sessionize" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("ts"))
        Sessionize.sessions(ev, "ts", java.time.Duration.ofMinutes(30), Seq("user_id"))
          .select(col("user_id"), col("session_id"),
            col("session_start"), col("session_end"),
            col("n_events"), col("duration_us"))
          .orderBy("user_id", "session_id")
      },
      Some("""WITH d AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL THEN 0
             |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
             |         ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (
             |  SELECT user_id, ts,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM d)
             |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             |       min(ts) AS session_start, max(ts) AS session_end,
             |       count(*) AS n_events,
             |       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
             |FROM s GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin),
      "gap-based sessionization per user (lag + running sum + agg)"
    ),

    "doc_word_freq" -> Q(
      (s, dir) =>
        t(s, dir, "documents")
          .select(explode(Dedup.tokens(col("text"))).as("word"))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("word").asc)
          .limit(20),
      Some("""SELECT word, count(*) AS n FROM (
             |  SELECT unnest(list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> len(x) > 0)) AS word
             |  FROM documents)
             |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin),
      "corpus word frequency: explode + agg + top-k"
    ),

    // BM25 search: integer micro-nat idf x integer-rational tf norm
    // (k1=12/10, b=3/4 multiply through to pure int64 arithmetic), so the
    // ranking is exact — no float fold-order, no cross-engine ULP ties
    "doc_bm25_search" -> Q(
      (s, dir) => TextStats.bm25(t(s, dir, "documents"), "doc_id", "text",
          Seq("hash", "join", "spark", "window", "vector"))
        .orderBy(col("score_u").desc, col("doc_id"))
        .limit(20),
      Some("""WITH tk AS (
             |  SELECT doc_id, list_filter(
             |           string_split_regex(lower(trim(text)), '\s+'),
             |           x -> len(x) > 0) AS toks
             |  FROM documents),
             |dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
             |tf AS (
             |  SELECT doc_id, term, count(*) AS tf_cnt FROM (
             |    SELECT doc_id, unnest(toks) AS term FROM tk)
             |  WHERE term IN ('hash', 'join', 'spark', 'window', 'vector')
             |  GROUP BY doc_id, term),
             |dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
             |tot AS (SELECT count(*) AS nd, sum(dl) AS tt FROM dl),
             |sc AS (
             |  SELECT tf.doc_id,
             |         CAST(round(ln((nd + 1) / (df_t + 0.5)) * 1e6) AS BIGINT)
             |           AS idf_u,
             |         tf.tf_cnt, dl.dl, tot.nd, tot.tt
             |  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id)
             |  CROSS JOIN tot)
             |SELECT doc_id, count(*) AS matched_terms,
             |       CAST(sum((idf_u * 22 * tf_cnt * tt) //
             |           (10 * tf_cnt * tt + 3 * tt + 9 * dl * nd)) AS BIGINT)
             |         AS score_u,
             |       round(CAST(sum((idf_u * 22 * tf_cnt * tt) //
             |           (10 * tf_cnt * tt + 3 * tt + 9 * dl * nd)) AS DOUBLE)
             |         / 1e6, 6) + 0 AS bm25
             |FROM sc GROUP BY doc_id
             |ORDER BY score_u DESC, doc_id LIMIT 20""".stripMargin),
      "BM25 top-k retrieval: micro-nat idf, integer-rational tf norm, exact ranking"
    ),

    // hybrid retrieval: reciprocal-rank fusion of the BM25 lexical ranking
    // with the dense cosine ranking against query vector 0 (vec_id aligns
    // 1:1 with doc_id in the testdata). Each fused contribution is the
    // integer 1e6 div (60 + rank), so the RRF score is exact int64; a doc
    // missing from one list contributes only the other's term (standard
    // RRF). The global rank windows run over one query's candidate lists
    // (bounded per query, the top-k exception) — at fan-out each query
    // partitions its own window.
    "doc_rrf_hybrid" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        // both rank lists are corpus-sized, so the global row_numbers ride
        // the chunked spine instead of a single-task Window.orderBy
        // (descending score = negated key, doc_id tie-break)
        val text = ts.RangeSeries.withRunning(
            TextStats.bm25(t(s, dir, "documents"), "doc_id", "text",
              Seq("hash", "join", "spark", "window", "vector")),
            key = struct((-col("score_u")).as("k1"), col("doc_id").as("k2")),
            runnings = Nil,
            rnCol = Some("r_text"),
            bucketKey = Some(-col("score_u")))
          .select(col("doc_id"), col("r_text"))
        val q = emb.filter(col("vec_id") === 0)
          .select(transform(col("embedding"), x => x.cast("double")).as("qe"))
        val vec = ts.RangeSeries.withRunning(
            emb.filter(col("vec_id") =!= 0)
              .select(col("vec_id").as("doc_id"),
                transform(col("embedding"), x => x.cast("double")).as("e"))
              .crossJoin(broadcast(q))
              .withColumn("cos", Similarity.cosine(col("e"), col("qe"))),
            key = struct((-col("cos")).as("k1"), col("doc_id").as("k2")),
            runnings = Nil,
            rnCol = Some("r_vec"),
            bucketKey = Some(-col("cos")))
          .select(col("doc_id"), col("r_vec"))
        text.join(vec, Seq("doc_id"), "full_outer")
          .withColumn("rrf_u",
            coalesce(expr("1000000 DIV (60 + r_text)"), lit(0L)) +
              coalesce(expr("1000000 DIV (60 + r_vec)"), lit(0L)))
          .orderBy(col("rrf_u").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, list_filter(
             |           string_split_regex(lower(trim(text)), '\s+'),
             |           x -> len(x) > 0) AS toks
             |  FROM documents),
             |dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
             |tf AS (
             |  SELECT doc_id, term, count(*) AS tf_cnt FROM (
             |    SELECT doc_id, unnest(toks) AS term FROM tk)
             |  WHERE term IN ('hash', 'join', 'spark', 'window', 'vector')
             |  GROUP BY doc_id, term),
             |dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
             |tot AS (SELECT count(*) AS nd, sum(dl) AS tt FROM dl),
             |sc AS (
             |  SELECT tf.doc_id,
             |         CAST(round(ln((nd + 1) / (df_t + 0.5)) * 1e6) AS BIGINT)
             |           AS idf_u,
             |         tf.tf_cnt, dl.dl, tot.nd, tot.tt
             |  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id)
             |  CROSS JOIN tot),
             |ttop AS (
             |  SELECT doc_id, row_number() OVER (ORDER BY score_u DESC, doc_id)
             |           AS r_text
             |  FROM (SELECT doc_id,
             |               CAST(sum((idf_u * 22 * tf_cnt * tt) //
             |                   (10 * tf_cnt * tt + 3 * tt + 9 * dl * nd))
             |                 AS BIGINT) AS score_u
             |        FROM sc GROUP BY doc_id)),
             |v AS (
             |  SELECT vec_id,
             |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings),
             |n AS (
             |  SELECT vec_id, e,
             |         sqrt(list_reduce(list_prepend(0.0,
             |           list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
             |  FROM v),
             |vr AS (
             |  SELECT c.vec_id AS doc_id,
             |         row_number() OVER (ORDER BY
             |           list_reduce(list_prepend(0.0,
             |             list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
             |             (a, b) -> a + b) / (c.nrm * q.nrm) DESC, c.vec_id)
             |           AS r_vec
             |  FROM n c, n q WHERE q.vec_id = 0 AND c.vec_id <> 0),
             |u AS (
             |  SELECT coalesce(t.doc_id, v.doc_id) AS doc_id, t.r_text, v.r_vec
             |  FROM ttop t FULL OUTER JOIN vr v ON t.doc_id = v.doc_id)
             |SELECT doc_id, r_text, r_vec,
             |       coalesce(1000000 // (60 + r_text), 0)
             |         + coalesce(1000000 // (60 + r_vec), 0) AS rrf_u
             |FROM u ORDER BY rrf_u DESC, doc_id LIMIT 20""".stripMargin),
      "hybrid search: reciprocal-rank fusion of BM25 and dense cosine, exact integer"
    ),

    // ==================== BPE tokenizer training =========================

    // trains on the word-frequency table (ONE corpus shuffle, then every
    // round is vocab-bounded); the oracle unrolls all 16 merge rounds in
    // CTEs and re-derives the winning pairs from raw documents
    "doc_bpe_merges" -> Q(
      (s, dir) => Bpe.mergesDf(t(s, dir, "documents"), "text", nMerges = 16)
        .orderBy("merge_rank"),
      Some(BpeSql.mergesSql(16)),
      "BPE tokenizer training: 16 merge rounds on the vocab table, exact SQL replay"
    ),

    // encode = broadcast-join the corpus tokens against the trained
    // vocab's symbol counts — no per-merge corpus pass
    "doc_bpe_encode" -> Q(
      (s, dir) => Bpe.encodeStats(
          t(s, dir, "documents"), "doc_id", "text", nMerges = 16)
        .orderBy("doc_id"),
      Some(BpeSql.encodeSql(16)),
      "per-doc token/char/BPE-symbol counts under the trained 16-merge BPE"
    ),

    // tokenizer-quality readout per language: fertility (BPE symbols per
    // word) and compression (chars per symbol) in exact integer ppm —
    // the eval that says which languages the trained vocab shortchanges
    "doc_bpe_fertility" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Bpe.encodeStats(docs, "doc_id", "text", nMerges = 16)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_words"),
            sum(col("n_chars")).as("n_chars"),
            sum(col("n_bpe")).as("n_bpe"))
          .withColumn("fertility_ppm",
            expr("n_bpe * 1000000 div n_words"))
          .withColumn("chars_per_sym_ppm",
            expr("n_chars * 1000000 div n_bpe"))
          .orderBy("lang")
      },
      Some(BpeSql.fertilitySql(16)),
      "per-language BPE fertility/compression in exact ppm under the trained vocab"
    ),

    // ============== fixed-size sketches (Count-Min / Bloom / HLL) ==============

    // CMS estimate for the exact top-20 words: the sketch is d·w counters
    // no matter the corpus size; est >= exact always (spec-pinned), and the
    // oracle replays every bucket so the VALUES are checked, not bounds
    "doc_cms_heavy_hitters" -> Q(
      (s, dir) => {
        // tokenize once (round 13, guide §1.2): the token stream feeds the
        // exact top-20 agg AND the CMS build — checkpoint the per-doc
        // token arrays and explode per consumer; spread first (§2.5) so
        // the one-task scan doesn't serialize the tokenize
        val toks = graft.ops.Spread.byKey(t(s, dir, "documents"), col("doc_id"))
          .select(Dedup.tokens(col("text")).as("__t"))
          .localCheckpoint()
          .select(explode(col("__t")).as("word"))
        val exact = toks.groupBy("word").agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("word").asc).limit(20)
        val sk = Sketch.cmsBuild(toks, "word", depth = 4, width = 1024)
        exact
          .join(Sketch.cmsLookup(sk, exact.select("word"), "word",
            depth = 4, width = 1024), Seq("word"))
          .select("word", "n_exact", "cms_est")
          .orderBy(col("n_exact").desc, col("word").asc)
      },
      Some("""WITH toks AS (
             |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                            x -> len(x) > 0)) AS word
             |  FROM documents),
             |ex AS (
             |  SELECT word, count(*) AS n_exact FROM toks
             |  GROUP BY word ORDER BY n_exact DESC, word LIMIT 20),
             |sk AS (
             |  SELECT r, ('0x' || substr(md5(word), r * 8 + 1, 8))::BIGINT % 1024
             |           AS bucket, count(*) AS cnt
             |  FROM toks CROSS JOIN range(4) t(r)
             |  GROUP BY 1, 2)
             |SELECT e.word, e.n_exact, min(s.cnt) AS cms_est
             |FROM ex e CROSS JOIN range(4) t(r)
             |JOIN sk s ON s.r = t.r AND s.bucket =
             |  ('0x' || substr(md5(e.word), t.r * 8 + 1, 8))::BIGINT % 1024
             |GROUP BY 1, 2
             |ORDER BY n_exact DESC, word""".stripMargin),
      "Count-Min heavy hitters: d x w counter sketch, min-over-rows estimate vs exact top-20"
    ),

    // Bloom prefilter for benchmark contamination: the eval set compresses
    // to <= mBits rows (broadcast), no false negatives (n_bloom >= n_exact
    // per doc — structural), FPs appear as n_bloom > n_exact
    "doc_bloom_contamination" -> Q(
      (s, dir) => {
        // grams collapse to 60-bit longs in the SAME projection that
        // explodes them, and the (doc_id, gh) frame localCheckpoints: the
        // eval set, the probe stream, and the exact join all reuse one
        // materialized pass — text never rides a shuffle at scale (the
        // small-input Spread gate repairs the one-task scan, §2.5)
        val toksDf = graft.ops.Spread.byKey(
            t(s, dir, "documents"), col("doc_id"))
          .select(col("doc_id"), Dedup.tokens(col("text")).as("__t"))
        val grams = toksDf
          .select(col("doc_id"),
            explode(Dedup.shinglesFromTokens(col("__t"), 4)).as("gram"))
          .select(col("doc_id"),
            conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("gh"))
          .localCheckpoint()
        val evalG = grams.filter(col("doc_id") % 97 === 0).select("gh").distinct()
        val probeG = grams.filter(col("doc_id") % 97 =!= 0)
        val bits = Sketch.bloomBits(evalG, "gh", k = 4, mBits = 16384)
        // bloom_hit is a pure function of gh, so probe IN-ROW against the
        // packed-word bit table (round 13, guide §2.4): same md5 positions,
        // bit-identical verdicts, but the per-distinct-gh bloomProbe plan
        // (distinct exchange + 4x explode + bit join + agg) and the
        // verdict-attach equi-join both collapse into one projection.
        // Round 14 (VERDICT item 4 — the r13 form ran 17% SLOWER on the
        // driver box): the word table arrives as a LITERAL array instead
        // of a crossJoin(broadcast(...)) column — the BroadcastNestedLoop
        // join copied the 2 KB packed array into EVERY probe output row
        // (~GBs of memcpy across the gram stream), which is where the
        // regression lived. The table is mBits/64 = 256 longs by
        // CONSTRUCTION (not data-sized), so the driver fetch is bounded —
        // the same dispatch precedent as the graph scalars — and verdicts
        // stay bit-identical (same positions, same words).
        val bwords = Sketch.bloomBitsWords(bits, mBits = 16384)
          .head().getSeq[Long](0).toArray
        probeG
          .withColumn("bloom_hit",
            Sketch.bitsMightContain(col("gh"), lit(bwords),
              k = 4, mBits = 16384))
          .join(broadcast(evalG.withColumn("__in", lit(1))), Seq("gh"), "left")
          .groupBy("doc_id")
          .agg(count(when(col("bloom_hit"), 1)).as("n_bloom"),
            count(col("__in")).as("n_exact"))
          .filter(col("n_bloom") > 0)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                             x -> len(x) > 0) AS t
             |  FROM documents),
             |grams AS (
             |  SELECT DISTINCT doc_id, unnest(
             |    CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
             |    ELSE list_distinct(list_transform(range(1, len(t) - 2),
             |         i -> array_to_string(t[i:i+3], ' '))) END) AS gram
             |  FROM toks),
             |ghx AS (
             |  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
             |  FROM grams),
             |ev AS (SELECT DISTINCT gh FROM ghx WHERE doc_id % 97 = 0),
             |bits AS (
             |  SELECT DISTINCT ('0x' || substr(md5(CAST(gh AS VARCHAR)),
             |    i * 8 + 1, 8))::BIGINT % 16384 AS bit
             |  FROM ev CROSS JOIN range(4) t(i)),
             |pg AS (SELECT doc_id, gh FROM ghx WHERE doc_id % 97 <> 0),
             |pv AS (
             |  SELECT gh, count(b.bit) = 4 AS bloom_hit
             |  FROM (SELECT DISTINCT gh FROM pg) d
             |  CROSS JOIN range(4) t(i)
             |  LEFT JOIN bits b ON b.bit = ('0x' || substr(md5(CAST(d.gh AS VARCHAR)),
             |    t.i * 8 + 1, 8))::BIGINT % 16384
             |  GROUP BY gh)
             |SELECT doc_id,
             |       count(CASE WHEN pv.bloom_hit THEN 1 END) AS n_bloom,
             |       count(ev.gh) AS n_exact
             |FROM pg
             |JOIN pv USING (gh)
             |LEFT JOIN ev ON ev.gh = pg.gh
             |GROUP BY doc_id
             |HAVING count(CASE WHEN pv.bloom_hit THEN 1 END) > 0
             |ORDER BY doc_id""".stripMargin),
      "Bloom-filter contamination prefilter: k-hash membership over 60-bit gram ids, FP overcount vs exact"
    ),

    // HLL distinct-token estimate per source: 64 registers per group, the
    // harmonic sum is an exact int64, the raw estimate is two IEEE ops over
    // exactly-representable operands — every intermediate hash-checked
    "doc_hll_distinct" -> Q(
      (s, dir) => {
        // NOT spread (round 14, §2.5 examined): both consumers are map-
        // side-combining aggs and the extra exchange measured 0.88x
        val toks = t(s, dir, "documents")
          .select(col("source"), explode(Dedup.tokens(col("text"))).as("word"))
        val est = Sketch.hllEstimate(
          Sketch.hllRegisters(toks, "word", Seq("source")), Seq("source"))
        val exact = toks.groupBy("source")
          .agg(countDistinct(col("word")).as("n_exact"))
        est.join(exact, Seq("source"))
          .select("source", "v_zero", "harmonic_s", "est_u", "hll_est", "n_exact")
          .orderBy("source")
      },
      Some("""WITH toks AS (
             |  SELECT source, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                        x -> len(x) > 0)) AS word
             |  FROM documents),
             |h AS (
             |  SELECT DISTINCT source,
             |         ('0x' || substr(md5('hll|' || word), 1, 15))::BIGINT AS h
             |  FROM toks),
             |r AS (
             |  SELECT source, h % 64 AS bucket,
             |         CASE WHEN h // 64 = 0 THEN 55
             |              ELSE 55 - length(bin(h // 64)) END AS rho
             |  FROM h),
             |regs AS (SELECT source, bucket, max(rho) AS m_j FROM r GROUP BY 1, 2),
             |g AS (
             |  SELECT source, count(*) AS present,
             |         sum((1::BIGINT) << (55 - m_j)) AS sp
             |  FROM regs GROUP BY 1),
             |e AS (
             |  SELECT source, CAST(64 - present AS INT) AS v_zero,
             |         CAST(sp + (64 - present) * ((1::BIGINT) << 55) AS BIGINT) AS harmonic_s
             |  FROM g),
             |f AS (
             |  SELECT source, v_zero, harmonic_s,
             |         CAST(floor(CAST(2905456640 AS DOUBLE) * CAST(36028797018963968 AS DOUBLE)
             |           / CAST(harmonic_s AS DOUBLE)) AS BIGINT) AS raw_u
             |  FROM e),
             |est AS (
             |  SELECT source, v_zero, harmonic_s,
             |         CASE WHEN v_zero > 0 AND raw_u < 160000000
             |           THEN 64 * (4158883 - CAST(round(ln(v_zero) * 1e6, 0) AS BIGINT))
             |           ELSE raw_u END AS est_u
             |  FROM f),
             |ex AS (SELECT source, count(DISTINCT word) AS n_exact FROM toks GROUP BY 1)
             |SELECT source, v_zero, harmonic_s, est_u, est_u // 1000000 AS hll_est, n_exact
             |FROM est JOIN ex USING (source)
             |ORDER BY source""".stripMargin),
      "HyperLogLog distinct count per source: 64 exact-integer registers + IEEE-deterministic estimate vs exact"
    ),

    // ============== corpus preparation (split/repetition/PII/contamination) ==============

    "doc_split_train_test" -> Q(
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          Corpus.pctBucket(col("text")).as("pct"),
          Corpus.splitAssign(col("text")).as("split"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, pct,
             |       CASE WHEN pct < 90 THEN 'train'
             |            WHEN pct < 95 THEN 'val'
             |            ELSE 'test' END AS split
             |FROM (SELECT doc_id,
             |             ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS pct
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin),
      "deterministic content-hash train/val/test split (dup-safe: same text -> same split)"
    ),

    // the end-to-end curation decision a real pipeline runs: NEAR-dup
    // removal (keep each MinHash-LSH cluster's lowest id) + blocklist +
    // quality floor + benchmark decontamination, composed into one
    // kept-set frame. Every component already has a SQL twin — the dup
    // flag replays the whole signature->bands->pairs->closure pipeline
    // over the train subset — so the WHOLE decision is hash-checked.
    "doc_curate" -> Q(
      (s, dir) => {
        val all = t(s, dir, "documents")
        val docs = all.filter(col("doc_id") % 97 =!= 0)
        val eval = all.filter(col("doc_id") % 97 === 0)
        val contam = Corpus.contamination(docs, eval, "doc_id", "text", n = 4)
          .select(col("doc_id"), lit(true).as("__cont"))
        // train-side-only clustering: the keeper is always a kept-set
        // candidate, never an excluded eval doc. A doc's signature depends
        // only on its text, so the session-wide signature memo filtered to
        // the train side IS the train-side signature table — no recompute.
        val trainSigs = docSignatures(s, dir).filter(col("doc_id") % 97 =!= 0)
        val clusters = Dedup.nearDupClusters(docs, "doc_id", "text",
            precomputedSigs = Some(trainSigs))
          .select(col("doc_id"), col("cluster_id"))
        graft.ops.Spread.byKey(docs, col("doc_id"))
          .withColumn("__toks", Corpus.tokens(col("text")))
          .withColumn("__nt", size(col("__toks")).cast("long"))
          .withColumn("__nd", size(array_distinct(col("__toks"))).cast("long"))
          .join(clusters, Seq("doc_id"))
          .withColumn("is_dup", col("doc_id") =!= col("cluster_id"))
          .withColumn("blocked",
            Corpus.blocklistHits(col("text"), Seq("dup", "spam")) > 0)
          .withColumn("low_quality",
            col("__nt") < 20 || col("__nd") * 2 < col("__nt"))
          .join(contam, Seq("doc_id"), "left")
          .withColumn("contaminated", coalesce(col("__cont"), lit(false)))
          .withColumn("kept",
            !col("is_dup") && !col("blocked") &&
              !col("low_quality") && !col("contaminated"))
          .select("doc_id", "is_dup", "blocked", "low_quality",
            "contaminated", "kept")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE allt AS (
             |  SELECT doc_id, text,
             |         list_filter(string_split_regex(trim(text), '\\s+'),
             |                     x -> len(x) > 0) AS tt,
             |         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
             |                     x -> len(x) > 0) AS lt
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, unnest(list_transform(range(1, len(tt)-4+2),
             |                   i -> array_to_string(tt[i:i+3], ' '))) AS gram
             |  FROM allt),
             |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
             |cont AS (SELECT DISTINCT doc_id FROM grams JOIN bench USING (gram)
             |         WHERE doc_id % 97 <> 0),
             |train AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
             |${MinhashSql.sigCtesFrom("train")},
             |${MinhashSql.pairCtes},
             |strong AS (SELECT id_a, id_b FROM est WHERE ej >= 0.8),
             |edges AS (SELECT id_a AS s, id_b AS d FROM strong
             |          UNION ALL SELECT id_b, id_a FROM strong),
             |reach(id, r) AS (
             |  SELECT doc_id, doc_id FROM train
             |  UNION
             |  SELECT p.id, e.d FROM reach p JOIN edges e ON p.r = e.s),
             |cl AS (SELECT id AS doc_id, min(r) AS cluster_id
             |       FROM reach GROUP BY id),
             |f AS (
             |  SELECT a.doc_id,
             |         a.doc_id <> cl.cluster_id AS is_dup,
             |         len(list_intersect(list_distinct(a.lt), ['dup', 'spam'])) > 0
             |           AS blocked,
             |         (len(a.tt) < 20 OR len(list_distinct(a.tt)) * 2 < len(a.tt))
             |           AS low_quality,
             |         (cont.doc_id IS NOT NULL) AS contaminated
             |  FROM allt a JOIN cl ON cl.doc_id = a.doc_id
             |       LEFT JOIN cont ON cont.doc_id = a.doc_id
             |  WHERE a.doc_id % 97 <> 0)
             |SELECT doc_id, is_dup, blocked, low_quality, contaminated,
             |       (NOT is_dup AND NOT blocked AND NOT low_quality
             |        AND NOT contaminated) AS kept
             |FROM f ORDER BY doc_id""".stripMargin),
      "end-to-end curation: near-dedup + blocklist + quality + decontamination, one kept-set"
    ),

    "stream_curate" -> Q(
      (s, dir) => {
        // the STREAMING curation pipeline run for real: replay `documents`
        // as a file stream through quality filter -> watermark dedup ->
        // shard label (graft.streaming.StreamingCuration), land in a memory
        // sink, return the result. Output is CONTENT-keyed (hash, shard,
        // quality are all functions of the text alone), so the result set
        // is independent of arrival order and of which duplicate row
        // survives the dedup — which is what makes a value-hash oracle
        // possible for a streaming query at all.
        streamToDf(s, "stream-curate") { in =>
          t(s, dir, "documents").select("doc_id", "text")
            .write.mode("overwrite").parquet(in)
        } { in =>
          val schema = s.read.parquet(in).schema
          val stream = s.readStream.schema(schema).parquet(in)
            .withColumn("ts", timestamp_micros(
              lit(1704067200000000L) + col("doc_id") * 1000000L))
          graft.streaming.StreamingCuration.curate(
            stream, "ts", "text", minQuality = 0.65, nShards = 8)
        }
          .select(col("content_hash"), col("shard"), col("quality"))
          .orderBy("content_hash")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |         list_filter(string_split_regex(trim(text), '\s+'),
             |                     x -> len(x) > 0) AS toks,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                     x -> len(x) > 0) AS ltoks
             |  FROM documents),
             |sig AS (
             |  SELECT text,
             |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
             |      (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
             |        / length(text) END AS pr,
             |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             |      (length(text) - len(regexp_extract_all(text, '\s')))::DOUBLE
             |        / len(toks) END AS mwl,
             |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             |      len(list_filter(ltoks, w -> list_contains(
             |        ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this'], w)))::DOUBLE
             |        / len(toks) END AS sr
             |  FROM t),
             |q AS (
             |  SELECT text,
             |         round(least(length(text)::DOUBLE / 500.0, 1.0) * 0.3 +
             |               (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.3 END) * 0.3 +
             |               (1.0 - least(pr * 5.0, 1.0)) * 0.2 +
             |               least(sr * 4.0, 1.0) * 0.2, 6) + 0 AS quality
             |  FROM sig),
             |d AS (
             |  SELECT DISTINCT
             |         sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
             |           AS content_hash,
             |         quality
             |  FROM q WHERE quality >= 0.65)
             |SELECT content_hash,
             |       ('0x' || substr(md5('shuf|' || content_hash), 17, 8))::BIGINT % 8
             |         AS shard,
             |       quality
             |FROM d ORDER BY content_hash""".stripMargin),
      "streaming curation end-to-end (file stream -> quality -> watermark dedup -> shard), content-keyed so the set is arrival-order-free"
    ),

    // the per-series STATEFUL streaming kernels promoted to the full
    // driver oracle (the stream_curate pattern): replay `events` as a file
    // stream with a synthetic per-event timestamp (base + event_id s —
    // unique, so per-series event order is total and the in-batch sort
    // makes the fold deterministic), run the live crediting kernel, land
    // in a memory sink, hash against the batch window-SQL oracle. The
    // credited set is a pure function of the data: each conversion row is
    // keyed by its own (series, ts) and its credit depends only on
    // strictly-prior events of the same series.
    "stream_attribution" -> Q(
      (s, dir) => {
        import s.implicits._
        streamToDf(s, "stream-attr") { in =>
          t(s, dir, "events")
            .select(col("user_id").cast("string").as("series"),
              timestamp_micros(lit(1704067200000000L) +
                col("event_id") * 1000000L).as("ts"),
              col("event_type").as("eventType"),
              round(col("value") * 100).cast("long").as("cents"))
            .write.mode("overwrite").parquet(in)
        } { in =>
          val schema = s.read.parquet(in).schema
          val stream = s.readStream.schema(schema).parquet(in)
            .as[graft.streaming.StreamingResample.TouchEvent]
          graft.streaming.StreamingResample.attributionStream(
            stream, conversionType = "purchase",
            channelTypes = Set("click", "view", "signup")).toDF()
        }.orderBy("series", "ts")
      },
      Some("""WITH e AS (
             |  SELECT CAST(user_id AS VARCHAR) AS series,
             |         make_timestamp(1704067200000000 + event_id * 1000000)
             |           AS ts,
             |         event_type,
             |         CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events),
             |w AS (
             |  SELECT series, ts, event_type, cents,
             |         last_value(CASE WHEN event_type IN
             |             ('click', 'view', 'signup') THEN event_type END
             |           IGNORE NULLS)
             |           OVER (PARTITION BY series ORDER BY ts
             |                 ROWS BETWEEN UNBOUNDED PRECEDING
             |                          AND 1 PRECEDING) AS ch
             |  FROM e)
             |SELECT series, ts, coalesce(ch, 'direct') AS channel, cents
             |FROM w WHERE event_type = 'purchase'
             |ORDER BY series, ts""".stripMargin),
      "streaming last-touch attribution: live per-conversion crediting == the batch window fold, row for row"
    ),

    "stream_scd2" -> Q(
      (s, dir) => {
        import s.implicits._
        streamToDf(s, "stream-scd2") { in =>
          t(s, dir, "events")
            .select(col("user_id").cast("string").as("series"),
              timestamp_micros(lit(1704067200000000L) +
                col("event_id") * 1000000L).as("ts"),
              col("event_type").as("attr"))
            .write.mode("overwrite").parquet(in)
        } { in =>
          val schema = s.read.parquet(in).schema
          val stream = s.readStream.schema(schema).parquet(in)
            .as[graft.streaming.StreamingResample.AttrPoint]
          graft.streaming.StreamingResample.scd2Stream(stream).toDF()
        }.orderBy("series", "valid_from")
      },
      Some("""WITH e AS (
             |  SELECT CAST(user_id AS VARCHAR) AS series,
             |         make_timestamp(1704067200000000 + event_id * 1000000)
             |           AS ts,
             |         event_type AS attr
             |  FROM events),
             |b AS (
             |  SELECT series, ts, attr,
             |         CASE WHEN lag(attr) OVER w IS NULL
             |                OR lag(attr) OVER w <> attr
             |              THEN 1 ELSE 0 END AS chg
             |  FROM e WINDOW w AS (PARTITION BY series ORDER BY ts)),
             |r AS (
             |  SELECT series, ts, attr,
             |         sum(chg) OVER (PARTITION BY series ORDER BY ts
             |                        ROWS UNBOUNDED PRECEDING) AS run
             |  FROM b),
             |g AS (
             |  SELECT series, run, max(attr) AS attr,
             |         CAST(count(*) AS BIGINT) AS n_events,
             |         min(ts) AS valid_from
             |  FROM r GROUP BY series, run),
             |iv AS (
             |  SELECT series, attr, valid_from,
             |         lead(valid_from) OVER (PARTITION BY series
             |           ORDER BY run) AS valid_to,
             |         n_events
             |  FROM g)
             |SELECT series, attr, valid_from, valid_to, n_events
             |FROM iv WHERE valid_to IS NOT NULL
             |ORDER BY series, valid_from""".stripMargin),
      "streaming SCD2: closed validity intervals emitted live == the batch gaps-and-islands rows"
    ),

    // W2's streaming twin under a full driver oracle: gap events are
    // content-keyed (series, gap_start, gap_end) and depend only on the
    // per-series point set — not on arrival order (the operator sorts each
    // micro-batch and carries last-ts state across batches) — so a lag()
    // replay in DuckDB is an exact oracle. Synthetic whole-second
    // timestamps from event_id: GapEvent rides java.sql.Timestamp (millis),
    // so sub-milli source precision must not reach the boundary values.
    "stream_gap_detect" -> Q(
      (s, dir) => {
        import s.implicits._
        streamToDf(s, "stream-gaps") { in =>
          t(s, dir, "events")
            .select(col("user_id").cast("string").as("series"),
              timestamp_micros(lit(1704067200000000L) +
                col("event_id") * 1000000L).as("ts"))
            .write.mode("overwrite").parquet(in)
        } { in =>
          val schema = s.read.parquet(in).schema
          val stream = s.readStream.schema(schema).parquet(in)
            .as[graft.streaming.StreamingResample.SeriesPoint]
          graft.streaming.StreamingResample.detectGapsStream(
            stream, java.time.Duration.ofSeconds(600)).toDF()
        }.orderBy("series", "gap_start")
      },
      Some("""WITH e AS (
             |  SELECT CAST(user_id AS VARCHAR) AS series,
             |         make_timestamp(1704067200000000 + event_id * 1000000)
             |           AS ts
             |  FROM events),
             |d AS (
             |  SELECT series, ts,
             |         lag(ts) OVER (PARTITION BY series ORDER BY ts)
             |           AS prev_ts
             |  FROM e)
             |SELECT series, prev_ts AS gap_start, ts AS gap_end,
             |       (epoch_us(ts) - epoch_us(prev_ts)) // 1000000
             |         AS duration_s
             |FROM d
             |WHERE epoch_us(ts) - epoch_us(prev_ts) > 600000000
             |ORDER BY series, gap_start""".stripMargin),
      "streaming gap detection: per-series last-ts state, emitted gap events == the batch lag() rows"
    ),

    "doc_blocklist_filter" -> Q(
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          Corpus.blocklistHits(col("text"),
            Seq("slow", "stale", "spam")).as("n_blocked"))
          .withColumn("kept", col("n_blocked") === 0)
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       CAST(len(list_intersect(list_distinct(list_filter(
             |              string_split_regex(lower(trim(text)), '\s+'),
             |              x -> len(x) > 0)),
             |            ['slow', 'stale', 'spam'])) AS BIGINT) AS n_blocked,
             |       len(list_intersect(list_distinct(list_filter(
             |              string_split_regex(lower(trim(text)), '\s+'),
             |              x -> len(x) > 0)),
             |            ['slow', 'stale', 'spam'])) = 0 AS kept
             |FROM documents ORDER BY doc_id""".stripMargin),
      "C4-style blocklist filter: distinct blocklisted-token hits per doc"
    ),

    // the mixture dashboard a curator reads first: one map-side-combined
    // groupBy over the scan, O(#sources) result
    "doc_source_profile" -> Q(
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"),
            sum(TextStats.tokenCount(col("text")).cast("long")).as("total_tokens"),
            countDistinct(col("lang")).as("n_langs"))
          .withColumn("mean_chars", expr("total_chars div n_docs"))
          .orderBy("source"),
      Some("""SELECT source,
             |       CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |       CAST(min(n_chars) AS BIGINT) AS min_chars,
             |       CAST(max(n_chars) AS BIGINT) AS max_chars,
             |       CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'),
             |                    x -> len(x) > 0))) AS BIGINT) AS total_tokens,
             |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             |       CAST(CAST(sum(n_chars) AS BIGINT) // CAST(count(*) AS BIGINT)
             |            AS BIGINT) AS mean_chars
             |FROM documents GROUP BY source ORDER BY source""".stripMargin),
      "per-source corpus profile (docs, chars, tokens, language spread)"
    ),

    "doc_shard_assign" -> Q(
      (s, dir) =>
        Corpus.shardAssign(t(s, dir, "documents"), "doc_id", nShards = 8)
          .select(col("doc_id"), col("shard"), col("pos"))
          .orderBy("doc_id"),
      Some("""WITH h AS (
             |  SELECT doc_id,
             |         ('0x' || substr(md5('shuf|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS ord,
             |         ('0x' || substr(md5('shuf|' || CAST(doc_id AS VARCHAR)), 17, 8))::BIGINT % 8 AS shard
             |  FROM documents)
             |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
             |       CAST(row_number() OVER (PARTITION BY shard
             |              ORDER BY ord, doc_id) - 1 AS BIGINT) AS pos
             |FROM h ORDER BY doc_id""".stripMargin),
      "deterministic global shuffle: stable pseudo-random (shard, pos) address per row"
    ),

    "doc_chunk_overlap" -> Q(
      (s, dir) =>
        Corpus.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
            chunkSize = 32, stride = 24)
          .orderBy("doc_id", "chunk_idx"),
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
             |                             x -> len(x) > 0) AS toks
             |  FROM documents),
             |st AS (
             |  SELECT doc_id, toks,
             |         unnest(generate_series(1, len(toks), 24)) AS start
             |  FROM t WHERE len(toks) >= 1),
             |c AS (
             |  SELECT doc_id, start,
             |         toks[start : least(start + 31, len(toks))] AS chunk
             |  FROM st)
             |SELECT doc_id,
             |       CAST((start - 1) // 24 AS BIGINT) AS chunk_idx,
             |       CAST(start AS BIGINT) AS start_tok,
             |       CAST(len(chunk) AS BIGINT) AS n_tokens,
             |       md5(array_to_string(chunk, ' ')) AS chunk_md5
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
      "overlapping token-window chunking (32-token chunks, stride 24): zero-shuffle explode"
    ),

    "doc_repetition" -> Q(
      (s, dir) =>
        Corpus.repetitionStats(
            t(s, dir, "documents").select("doc_id", "text"), "text")
          .select("doc_id", "n_tokens", "n_distinct", "repetition_ratio")
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
             |                             x -> len(x) > 0) AS toks
             |  FROM documents)
             |SELECT doc_id,
             |       CAST(len(toks) AS BIGINT) AS n_tokens,
             |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             |       CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             |         round(1.0 - len(list_distinct(toks))::DOUBLE / len(toks), 6) + 0
             |       END AS repetition_ratio
             |FROM t ORDER BY doc_id""".stripMargin),
      "per-doc repetition: distinct-token ratio (compression-proxy quality signal)"
    ),

    // crawl-dedup stage 0: cosmetically-different URLs of the same page
    // collapse to one canonical key BEFORE any content hashing. The raw
    // URLs are built from doc_id by the same formula on both engines; the
    // ORACLE states the expected canonical in closed form (an independent
    // check of the whole normalization chain, not a replay of it)
    "doc_url_canonical" -> Q(
      (s, dir) => {
        // parseable rows exercise the full chain (case, default port, www,
        // fragment, tracking params, trailing slash, percent-encoding:
        // %7E decodes to ~, %2f uppercases to %2F, %41 decodes to A);
        // doc_id % 11 == 0 rows are RELATIVE urls that must pass through
        // UNCHANGED (no scheme://authority), each its own canonical group
        val raw = concat(
          lit("HTTPS://WWW.Example"), (col("doc_id") % 7).cast("string"),
          lit(".COM:443/Path/%7Euser"), (col("doc_id") % 5).cast("string"),
          when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=feed&b="), (col("doc_id") % 3).cast("string"),
          lit("&a=1&c=x%2fy%41"),
          when(col("doc_id") % 3 === 0, lit("&gclid=XYZ")).otherwise(lit("")),
          lit("#sec"), (col("doc_id") % 4).cast("string"))
        val urls = t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 11 === 0,
            concat(lit("relative/path?x="), col("doc_id").cast("string")))
            .otherwise(raw).as("url"))
        Corpus.urlDedupGroups(urls, "doc_id", "url")
          .select(col("doc_id"), col("canonical_url"),
            col("n_same").cast("long").as("n_same"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (
             |  SELECT doc_id,
             |         CASE WHEN doc_id % 11 = 0
             |              THEN 'relative/path?x=' || doc_id
             |              ELSE 'https://example' || (doc_id % 7) ||
             |                   '.com/Path/~user' || (doc_id % 5) ||
             |                   '?a=1&b=' || (doc_id % 3) || '&c=x%2FyA'
             |         END AS canonical_url
             |  FROM documents)
             |SELECT doc_id, canonical_url,
             |       CAST(count(*) OVER (PARTITION BY canonical_url) AS BIGINT)
             |         AS n_same
             |FROM c ORDER BY doc_id""".stripMargin),
      "URL canonicalization: case/port/www/fragment/tracking-param/slash/percent-encoding normalization + unparseable passthrough, closed-form oracle"
    ),

    // boilerplate strip: html -> text through the deterministic tag
    // algebra (comments/script/style/nav wholesale, quote-aware tag
    // strip, entity decode, whitespace collapse). The oracle states the
    // EXPECTED text in closed form from the fixture's construction — an
    // independent check of the whole chain, not a replay of it (the
    // corpus text is single-spaced plain words, so the only transform it
    // needs is the substr-edge trim). The fixture drives the edges: a
    // quoted `>` inside an attribute (`data-x="a>b"` must strip cleanly)
    // and a nested entity (`A&amp;amp;B` must decode to `A&amp;B`, one
    // pass, no re-scan)
    "doc_html_extract" -> Q(
      (s, dir) => {
        val html = t(s, dir, "documents").select(col("doc_id"), concat(
          lit("<html><head><title>T"), col("doc_id").cast("string"),
          lit("</title><script>var x="), col("doc_id").cast("string"),
          lit(";</script><style>p{color:red}</style></head><body>" +
            "<nav>Home | About</nav><!-- junk --><p>Fish &amp; Chips " +
            "&lt;fresh&gt; A&amp;amp;B "),
          substring(col("text"), 1, 120),
          lit("</p><div data-x=\"a>b\">tail</div></body></html>")).as("html"))
        html.select(col("doc_id"),
            Corpus.htmlToText(col("html")).as("extracted"),
            length(col("html")).cast("long").as("html_chars"))
          .withColumn("extracted_chars",
            length(col("extracted")).cast("long"))
          .withColumn("retained_ppm",
            expr("(extracted_chars * 1000000L) div html_chars"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
             |  SELECT doc_id,
             |         '<html><head><title>T' || doc_id || '</title><script>var x='
             |         || doc_id || ';</script><style>p{color:red}</style></head><body>'
             |         || '<nav>Home | About</nav><!-- junk --><p>Fish &amp; Chips &lt;fresh&gt; A&amp;amp;B '
             |         || substr(text, 1, 120)
             |         || '</p><div data-x="a>b">tail</div></body></html>' AS html,
             |         'T' || doc_id || ' Fish & Chips <fresh> A&amp;B ' ||
             |           trim(substr(text, 1, 120)) || ' tail' AS extracted
             |  FROM documents)
             |SELECT doc_id, extracted,
             |       CAST(length(html) AS BIGINT) AS html_chars,
             |       CAST(length(extracted) AS BIGINT) AS extracted_chars,
             |       CAST(length(extracted) * 1000000 // length(html) AS BIGINT)
             |         AS retained_ppm
             |FROM h ORDER BY doc_id""".stripMargin),
      "HTML boilerplate strip: script/style/nav/comment removal, quote-aware tag strip, entity decode, whitespace collapse — closed-form independent oracle"
    ),

    "doc_pii_scrub" -> Q(
      (s, dir) => {
        // the corpus has no PII; both engines append the SAME deterministic
        // synthetic contact line to every 10th doc so redaction does real work
        val aug = graft.ops.Spread.byKey(
          t(s, dir, "documents"), col("doc_id")).select(
          col("doc_id"),
          when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com or +1 (555) 010-"), (col("doc_id") % 10000).cast("string")))
            .otherwise(col("text")).as("aug"))
        aug.select(
          col("doc_id"),
          Corpus.emailCount(col("aug")).as("emails_found"),
          Corpus.phoneCount(col("aug")).as("phones_found"),
          length(Corpus.redactPii(col("aug"))).cast("long").as("redacted_len"),
          length(col("aug")).cast("long").as("orig_len"))
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (
             |  SELECT doc_id,
             |         CASE WHEN doc_id % 10 = 0 THEN
             |           text || ' contact user' || doc_id ||
             |           '@example.com or +1 (555) 010-' || (doc_id % 10000)
             |         ELSE text END AS aug
             |  FROM documents)
             |SELECT doc_id,
             |       CAST(len(regexp_extract_all(aug,
             |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             |         AS emails_found,
             |       CAST(len(regexp_extract_all(aug,
             |         '\+?[0-9][0-9()\-\s]{6,}[0-9]')) AS BIGINT) AS phones_found,
             |       CAST(length(regexp_replace(regexp_replace(aug,
             |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |         '\+?[0-9][0-9()\-\s]{6,}[0-9]', '<PHONE>', 'g')) AS BIGINT)
             |         AS redacted_len,
             |       CAST(length(aug) AS BIGINT) AS orig_len
             |FROM aug ORDER BY doc_id""".stripMargin),
      "PII detection + redaction counts (RE2-safe patterns, cross-engine identical)"
    ),

    "doc_contamination" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Corpus.contamination(
            docs.filter(col("doc_id") % 97 =!= 0),
            docs.filter(col("doc_id") % 97 === 0),
            "doc_id", "text", n = 4)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
             |                             x -> len(x) > 0) AS t
             |  FROM documents),
             |grams AS (
             |  SELECT doc_id, unnest(list_transform(range(1, len(t)-4+2),
             |                   i -> array_to_string(t[i:i+3], ' '))) AS gram
             |  FROM toks),
             |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0)
             |SELECT doc_id,
             |       count(DISTINCT gram) AS n_contaminated_grams
             |FROM grams JOIN bench USING (gram)
             |WHERE doc_id % 97 <> 0
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "benchmark-contamination check: token 4-gram overlap vs broadcast eval set"
    ),

    "doc_line_dedup" -> Q(
      (s, dir) => {
        // corpus docs are single-line prose, so both engines prepend the
        // SAME boilerplate line to every 3rd doc; line-level dedup must
        // strip exactly those corpus-frequent lines and nothing else
        val aug = t(s, dir, "documents").select(
          col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(lit("Subscribe to our newsletter today!\n"), col("text")))
            .otherwise(col("text")).as("aug"))
        Corpus.dedupLines(aug, "doc_id", "aug", minCount = 5)
          .select(col("doc_id"), col("n_lines"), col("n_lines_kept"),
            md5(col("clean_text")).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH aug AS (
             |  SELECT doc_id,
             |         CASE WHEN doc_id % 3 = 0
             |              THEN 'Subscribe to our newsletter today!' || chr(10) || text
             |              ELSE text END AS aug
             |  FROM documents),
             |sp AS (SELECT doc_id, string_split(aug, chr(10)) AS l FROM aug),
             |lines AS (SELECT doc_id, unnest(l) AS line, unnest(range(len(l))) AS pos
             |          FROM sp),
             |freq AS (SELECT line FROM lines GROUP BY line HAVING count(*) >= 5),
             |kept AS (
             |  SELECT doc_id, count(*) AS n_lines_kept,
             |         string_agg(line, chr(10) ORDER BY pos) AS clean_text
             |  FROM lines ANTI JOIN freq USING (line)
             |  GROUP BY doc_id)
             |SELECT sp.doc_id, CAST(len(sp.l) AS BIGINT) AS n_lines,
             |       CAST(coalesce(k.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
             |       md5(coalesce(k.clean_text, '')) AS clean_md5
             |FROM sp LEFT JOIN kept k USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      "CCNet-style line-level dedup: corpus-frequent (boilerplate) lines removed"
    ),

    "doc_stratified_sample" -> Q(
      (s, dir) =>
        Corpus.stratifiedSample(
            t(s, dir, "documents").select("doc_id", "lang", "text"),
            "lang", "text",
            Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2), defaultRate = 0.05)
          .select(col("doc_id"), col("lang"),
            Corpus.bucket10k(col("text")).as("bucket"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, bucket
             |FROM (SELECT doc_id, lang,
             |             ('0x' || substr(md5(text), 1, 8))::BIGINT % 10000 AS bucket
             |      FROM documents)
             |WHERE bucket < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 3000
             |                         WHEN 'fr' THEN 2000 ELSE 500 END
             |ORDER BY doc_id""".stripMargin),
      "deterministic content-hash stratified sampling (per-language mixing rates)"
    ),

    "doc_quality_filter" -> Q(
      (s, dir) => {
        // integer micro-score: per-row arithmetic is bit-identical across
        // engines (same expression tree, IEEE doubles), and an integer
        // score makes the >=-threshold cut robust to 1-ulp interpolation
        // differences in the percentile
        val pr = TextStats.punctRatio(col("text"))
        val dr = TextStats.digitRatio(col("text"))
        val mwl = TextStats.meanWordLength(col("text"))
        val score = lit(0.5) * (lit(1.0) - least(pr * 5.0, lit(1.0))) +
          lit(0.3) * (lit(1.0) - least(dr * 10.0, lit(1.0))) +
          lit(0.2) * least(mwl / 8.0, lit(1.0))
        val scored = graft.ops.Spread.byKey(
          t(s, dir, "documents"), col("doc_id")).select(
          col("doc_id"), round(score * 1e6, 0).cast("long").as("score_u"))
        Corpus.topQuantileFilter(scored, "score_u", 0.8)
          .select(col("doc_id"), col("score_u"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |         list_filter(string_split_regex(trim(text), '\s+'),
             |                     x -> len(x) > 0) AS toks
             |  FROM documents),
             |scored AS (
             |  SELECT doc_id, CAST(round((
             |    0.5 * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE
             |      (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
             |        / length(text) END) * 5.0, 1.0)) +
             |    0.3 * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE
             |      (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
             |        / length(text) END) * 10.0, 1.0)) +
             |    0.2 * least((CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             |      list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks) END)
             |        / 8.0, 1.0)) * 1e6, 0) AS BIGINT) AS score_u
             |  FROM t),
             |thr AS (SELECT quantile_cont(score_u, 0.8) AS t FROM scored)
             |SELECT doc_id, score_u FROM scored, thr
             |WHERE score_u >= thr.t ORDER BY doc_id""".stripMargin),
      "top-quantile quality filter: exact percentile threshold (approx t-digest is the scale path)"
    ),

    // curriculum binning: the same integer micro-score, cut into deciles
    // by exact interpolated percentiles; bucket = #thresholds <= score
    "doc_quality_deciles" -> Q(
      (s, dir) => {
        val pr = TextStats.punctRatio(col("text"))
        val dr = TextStats.digitRatio(col("text"))
        val mwl = TextStats.meanWordLength(col("text"))
        val score = lit(0.5) * (lit(1.0) - least(pr * 5.0, lit(1.0))) +
          lit(0.3) * (lit(1.0) - least(dr * 10.0, lit(1.0))) +
          lit(0.2) * least(mwl / 8.0, lit(1.0))
        val scored = graft.ops.Spread.byKey(
          t(s, dir, "documents"), col("doc_id")).select(
          col("doc_id"), round(score * 1e6, 0).cast("long").as("score_u"))
        Corpus.quantileBuckets(scored, "score_u", k = 10)
          .select(col("doc_id"), col("score_u"), col("bucket"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |         list_filter(string_split_regex(trim(text), '\s+'),
             |                     x -> len(x) > 0) AS toks
             |  FROM documents),
             |scored AS (
             |  SELECT doc_id, CAST(round((
             |    0.5 * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE
             |      (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
             |        / length(text) END) * 5.0, 1.0)) +
             |    0.3 * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0 ELSE
             |      (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
             |        / length(text) END) * 10.0, 1.0)) +
             |    0.2 * least((CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             |      list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks) END)
             |        / 8.0, 1.0)) * 1e6, 0) AS BIGINT) AS score_u
             |  FROM t),
             |thr AS (SELECT quantile_cont(score_u,
             |          [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS t
             |        FROM scored)
             |SELECT doc_id, score_u,
             |       CAST(len(list_filter(thr.t, x -> score_u >= x)) AS BIGINT) AS bucket
             |FROM scored, thr ORDER BY doc_id""".stripMargin),
      "quality deciles (curriculum binning): broadcast exact-percentile cut points"
    ),

    "doc_seq_packing" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents").select(
          col("doc_id"), (col("doc_id") % 8).as("bucket"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
        Corpus.packSequences(docs, "doc_id", "n_tokens", "bucket", budget = 256)
          .select(col("doc_id"), col("bucket"), col("n_tokens"),
            col("pack_in_bucket"), col("pack_offset"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, doc_id % 8 AS bucket,
             |         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
             |                              x -> len(x) > 0)) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, bucket, n_tokens,
             |         coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
             |  FROM d)
             |SELECT doc_id, bucket, n_tokens,
             |       CAST(cum // 256 AS BIGINT) AS pack_in_bucket,
             |       CAST(cum % 256 AS BIGINT) AS pack_offset
             |FROM c ORDER BY doc_id""".stripMargin),
      "concat-and-chunk sequence packing into 256-token windows, sharded by bucket"
    ),

    "doc_tfidf_top_terms" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val w = Window.partitionBy("doc_id")
          .orderBy(col("tfidf_u").desc, col("term"))
        TextStats.tfIdf(docs, "doc_id", "text")
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3 && col("doc_id") < 50)
          .select(col("doc_id"), col("rnk"), col("term"),
            col("tf_cnt"), col("df_t"), col("tfidf"))
          .orderBy("doc_id", "rnk")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |                             x -> len(x) > 0) AS t
             |  FROM documents),
             |terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
             |tf AS (SELECT doc_id, term, count(*) AS tf_cnt FROM terms GROUP BY 1, 2),
             |dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
             |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
             |j AS (
             |  SELECT doc_id, term, tf_cnt, df_t,
             |         CAST(round(ln(n.n_docs::DOUBLE / df_t) * 1e6, 0) AS BIGINT) AS idf_u
             |  FROM tf JOIN dft USING (term), n),
             |r AS (
             |  SELECT doc_id, term, tf_cnt, df_t,
             |         round((tf_cnt * idf_u)::DOUBLE / 1e6, 6) + 0 AS tfidf,
             |         row_number() OVER (PARTITION BY doc_id
             |           ORDER BY tf_cnt * idf_u DESC, term) AS rnk
             |  FROM j)
             |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf_cnt, df_t, tfidf
             |FROM r WHERE rnk <= 3 AND doc_id < 50 ORDER BY doc_id, rnk""".stripMargin),
      "corpus TF-IDF with exact-integer ranking; top-3 terms per doc"
    ),

    "ts_asof_backward_tol" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("ts"), col("value"))
        val bounds = ev.agg(
          date_trunc("day", min(col("ts"))).as("s"), max(col("ts")).as("e"))
        val grid = bounds.select(
          explode(sequence(col("s"), col("e"), expr("interval 6 hours"))).as("grid_ts"))
        AsOf.join(grid, ev, "grid_ts", "ts", Seq("value"),
            direction = AsOf.Direction.Backward,
            tolerance = Some(java.time.Duration.ofMinutes(30)),
            prefix = "asof_")
          .select(col("grid_ts"),
            round(col("asof_value"), 4).as("last_value"),
            col("asof_ts").as("matched_ts"))
          .orderBy("grid_ts")
      },
      Some("""WITH g AS (
             |  SELECT unnest(generate_series(
             |    date_trunc('day', (SELECT min(ts) FROM events)),
             |    (SELECT max(ts) FROM events), INTERVAL 6 HOUR)) AS grid_ts)
             |SELECT g.grid_ts,
             |  round((SELECT e.value FROM events e
             |         WHERE e.ts <= g.grid_ts
             |           AND epoch_us(g.grid_ts) - epoch_us(e.ts) <= 1800000000
             |         ORDER BY e.ts DESC, e.value LIMIT 1), 4) + 0 AS last_value,
             |  (SELECT e.ts FROM events e
             |   WHERE e.ts <= g.grid_ts
             |     AND epoch_us(g.grid_ts) - epoch_us(e.ts) <= 1800000000
             |   ORDER BY e.ts DESC, e.value LIMIT 1) AS matched_ts
             |FROM g ORDER BY grid_ts""".stripMargin),
      "J1 backward as-of join with tolerance bound"
    ),

    // ======================= relational / TPC-H-ish ========================

    "rel_pricing_summary" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            // qty is integer-valued: its double sum is exact to 2^53.
            // Prices go through int64: cents-exact base, 1e-4-dollar-exact
            // discounted product — both sums EXACT and order-independent
            // (double accumulation broke the 2dp rounding at the sf1
            // sweep; int64 keeps the agg codegen'd, see rel_rollup_revenue)
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            (sum(round(col("l_extendedprice") * 100).cast("long"))
              .cast("double") / 100).as("sum_base_price"),
            (sum(round(col("l_extendedprice") * 100).cast("long") *
                (lit(100L) - round(col("l_discount") * 100).cast("long")))
              .cast("double") / 10000).as("sum_disc_price"),
            round(avg(col("l_quantity")), 4).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |       round(sum(l_quantity), 2) + 0 AS sum_qty,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_base_price,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
             |                (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000 AS sum_disc_price,
             |       round(avg(l_quantity), 4) + 0 AS avg_qty,
             |       count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      "scan + filter pushdown + hash agg (TPC-H Q1 shape)"
    ),

    "rel_revenue_by_nation" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            // exact int64 revenue (see rel_rollup_revenue rationale)
            (sum(round(col("l_extendedprice") * 100).cast("long") *
                (lit(100L) - round(col("l_discount") * 100).cast("long")))
              .cast("double") / 10000).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
             |                (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000 AS revenue,
             |       count(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin),
      "multi-join with broadcast dims + hash agg"
    ),

    "rel_top10_customers" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_custkey"), col("c_name"))
          // exact int64 revenue: the top-10 ORDER BY is over exact values,
          // so near-tie customers rank deterministically at every scale
          .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev"))
          .orderBy(col("rev").desc, col("c_custkey").asc)
          .limit(10)
          .select(col("c_custkey"), col("c_name"),
            (col("rev").cast("double") / 10000).as("revenue"))
      },
      Some("""SELECT c_custkey, c_name,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
             |                (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000 AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_custkey, c_name
             |ORDER BY sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
             |             (100 - CAST(round(l_discount * 100) AS BIGINT))) DESC, c_custkey
             |LIMIT 10""".stripMargin),
      "top-k: TakeOrderedAndProject after join+agg"
    ),

    "rel_orders_rank" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        o.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"),
            round(col("o_totalprice"), 2).as("totalprice"), col("rn"))
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, round(o_totalprice, 2) + 0 AS totalprice, rn
             |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             |             row_number() OVER (PARTITION BY o_custkey
             |               ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |      FROM orders)
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
      "ranking window function"
    ),

    "rel_semi_anti_join" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        val o = t(s, dir, "orders")
          .filter(col("o_totalprice") > 150000.0)
          .select(col("o_custkey"))
        val withBig = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_with_big_order"))
        val without = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_without"))
        withBig.join(without, Seq("c_nationkey"), "full")
          .select(col("c_nationkey"),
            coalesce(col("n_with_big_order"), lit(0L)).as("n_with_big_order"),
            coalesce(col("n_without"), lit(0L)).as("n_without"))
          .orderBy("c_nationkey")
      },
      Some("""WITH big AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 150000.0),
             |w AS (SELECT c_nationkey, count(*) AS n_with_big_order FROM customer
             |      WHERE c_custkey IN (SELECT o_custkey FROM big) GROUP BY 1),
             |wo AS (SELECT c_nationkey, count(*) AS n_without FROM customer
             |       WHERE c_custkey NOT IN (SELECT o_custkey FROM big) GROUP BY 1)
             |SELECT coalesce(w.c_nationkey, wo.c_nationkey) AS c_nationkey,
             |       coalesce(n_with_big_order, 0) AS n_with_big_order,
             |       coalesce(n_without, 0) AS n_without
             |FROM w FULL JOIN wo ON w.c_nationkey = wo.c_nationkey
             |ORDER BY c_nationkey""".stripMargin),
      "left_semi (EXISTS) + left_anti (NOT EXISTS) joins"
    ),

    // Price sums go through int64 CENTS, not double: prices are
    // cents-exact, so the cent sum is EXACT and order-independent —
    // double accumulation drifts past the 2-decimal rounding threshold
    // once a group's sum reaches ~1e11 (the sf1 sweep caught the grand
    // total rows here at 159057263221.01-vs-.0), and a float grand total
    // is not even partition-count-deterministic at that magnitude. The
    // final cast+divide is the same single rounding in both engines ->
    // identical bits. (A DECIMAL(18,2) sum is equally exact but ~3x
    // slower — decimal aggregation leaves whole-stage codegen's fast
    // path; the int64 convention keeps the agg vectorizable. Headroom:
    // cent totals reach ~1.6e13 at sf1, 1000x more still < 2^63.)
    "rel_rollup_revenue" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg((sum(round(col("l_extendedprice") * 100).cast("long"))
            .cast("double") / 100).as("sum_price"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_price,
             |       count(*) AS n
             |FROM lineitem
             |GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      "ROLLUP grouping sets (free via Catalyst)"
    ),

    "rel_cube_revenue" -> Q(
      (s, dir) =>
        t(s, dir, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg((sum(round(col("l_extendedprice") * 100).cast("long"))
            .cast("double") / 100).as("sum_price"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_price,
             |       count(*) AS n
             |FROM lineitem
             |GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
      "CUBE grouping sets (all dimension combinations, free via Catalyst)"
    ),

    "rel_distinct_stats" -> Q(
      (s, dir) =>
        t(s, dir, "events").agg(
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("event_type")).as("n_types"),
          count(lit(1)).as("n_events")),
      Some("""SELECT count(DISTINCT user_id) AS n_users,
             |       count(DISTINCT event_type) AS n_types,
             |       count(*) AS n_events FROM events""".stripMargin),
      "distinct aggregation (expand + two-phase agg)"
    ),

    "rel_pivot" -> Q(
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(pmod(col("user_id"), lit(10)).as("user_mod"))
          .pivot("event_type", Seq("click", "view", "signup", "error", "purchase"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy("user_mod"),
      Some("""SELECT user_id % 10 AS user_mod,
             |       count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
             |       count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
             |       count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
             |       count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
             |       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase
             |FROM events GROUP BY 1 ORDER BY user_mod""".stripMargin),
      "pivot (explicit value list -> conditional-agg columns)"
    ),

    "rel_quantiles" -> Q(
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(
            round(expr("percentile(value, 0.5)"), 4).as("p50"),
            round(expr("percentile(value, 0.9)"), 4).as("p90"),
            round(expr("percentile(value, 0.99)"), 4).as("p99"))
          .orderBy("event_type"),
      Some("""SELECT event_type,
             |       round(quantile_cont(value, 0.5), 4) + 0 AS p50,
             |       round(quantile_cont(value, 0.9), 4) + 0 AS p90,
             |       round(quantile_cont(value, 0.99), 4) + 0 AS p99
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      "exact interpolated quantiles per group"
    ),

    "rel_events_json" -> Q(
      (s, dir) =>
        t(s, dir, "events")
          .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
          .groupBy(pmod(col("k"), lit(10)).as("k_mod"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
          .orderBy("k_mod"),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
             |       count(*) AS n,
             |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
             |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin),
      "F12-analogue: JSON field extraction + agg"
    ),

    "rel_users_intersect" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        ev.filter(col("event_type") === "click").select(col("user_id")).distinct()
          .intersect(
            ev.filter(col("event_type") === "signup").select(col("user_id")).distinct())
          .orderBy("user_id")
      },
      Some("""SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
             |INTERSECT
             |SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
             |ORDER BY user_id""".stripMargin),
      "set operation (INTERSECT)"
    ),

    // ================== training-data pipeline operators ===================

    "doc_dedup_exact" -> Q(
      (s, dir) =>
        Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("keep_id"),
      Some("""SELECT sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
             |         AS content_hash,
             |       min(doc_id) AS keep_id, count(*) AS group_size
             |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin),
      "exact dedup by normalized content hash"
    ),

    "doc_token_stats" -> Q(
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          TextStats.tokenCount(col("text")).as("n_tokens"),
          TextStats.charCount(col("text")).as("n_chars2"),
          round(TextStats.meanWordLength(col("text")), 4).as("mean_word_len"),
          round(TextStats.stopwordRatio(col("text")), 4).as("stopword_ratio"))
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |         list_filter(string_split_regex(trim(text), '\s+'),
             |                     x -> len(x) > 0) AS toks,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                     x -> len(x) > 0) AS ltoks
             |  FROM documents)
             |SELECT doc_id,
             |       len(toks) AS n_tokens,
             |       length(text) AS n_chars2,
             |       round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             |         list_reduce(list_prepend(CAST(0 AS BIGINT),
             |           list_transform(toks, x -> CAST(len(x) AS BIGINT))),
             |           (a, b) -> a + b)::DOUBLE / len(toks) END, 4) + 0 AS mean_word_len,
             |       round(CASE WHEN len(ltoks) = 0 THEN 0.0 ELSE
             |         len(list_filter(ltoks, x -> list_contains(
             |           ['the','a','an','and','or','of','to','in','is','it',
             |            'that','for','on','with','as','at','by','this'], x)))::DOUBLE
             |           / len(ltoks) END, 4) + 0 AS stopword_ratio
             |FROM t ORDER BY doc_id""".stripMargin),
      "token counting + quality signals"
    ),

    "doc_langid" -> Q(
      (s, dir) =>
        graft.ops.Spread.byKey(t(s, dir, "documents"), col("doc_id"))
          .select(col("doc_id"), TextStats.languageId(col("text")).as("lang_pred"))
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                     x -> len(x) > 0) AS toks
             |  FROM documents),
             |s AS (
             |  SELECT doc_id,
             |    CASE WHEN len(toks)=0 THEN 0.0 ELSE len(list_filter(toks, x -> list_contains(
             |      ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this'],
             |      x)))::DOUBLE / len(toks) END AS s_en,
             |    CASE WHEN len(toks)=0 THEN 0.0 ELSE len(list_filter(toks, x -> list_contains(
             |      ['der','die','das','und','oder','von','zu','in','ist','es','dass','fur','auf','mit','als','bei','ein'],
             |      x)))::DOUBLE / len(toks) END AS s_de,
             |    CASE WHEN len(toks)=0 THEN 0.0 ELSE len(list_filter(toks, x -> list_contains(
             |      ['le','la','les','et','ou','de','du','dans','est','il','que','pour','sur','avec','comme','chez','un'],
             |      x)))::DOUBLE / len(toks) END AS s_fr,
             |    CASE WHEN len(toks)=0 THEN 0.0 ELSE len(list_filter(toks, x -> list_contains(
             |      ['el','la','los','las','y','o','de','en','es','que','para','sobre','con','como','por','un','una'],
             |      x)))::DOUBLE / len(toks) END AS s_es,
             |    CASE WHEN length(text)=0 THEN 0.0 ELSE
             |      length(regexp_replace(text, '[^一-鿿]', '', 'g'))::DOUBLE / length(text)
             |      END AS s_zh
             |  FROM t)
             |SELECT doc_id,
             |  CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) <= 0 THEN 'unknown'
             |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
             |       WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
             |       WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
             |       WHEN s_es >= s_zh THEN 'es'
             |       ELSE 'zh' END AS lang_pred
             |FROM s ORDER BY doc_id""".stripMargin),
      "n-gram/stopword-heuristic language ID"
    ),

    "doc_langid_confusion" -> Q(
      (s, dir) =>
        graft.ops.Spread.byKey(t(s, dir, "documents"), col("doc_id"))
          .select(col("lang"), TextStats.languageId(col("text")).as("pred"))
          // same Exchange barrier as doc_langid_accuracy: keep the giant
          // languageId expression in a codegen'd Project, not the agg
          .repartition(col("lang"))
          .groupBy(col("lang"), col("pred").as("lang_pred"))
          .agg(count(lit(1)).as("n"))
          .select(col("lang"), col("lang_pred"), col("n"))
          .orderBy("lang", "lang_pred"),
      Some("""WITH t AS (
             |  SELECT doc_id, lang, text,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                     x -> len(x) > 0) AS toks
             |  FROM documents),
             |s AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN len(toks)=0 THEN 0.0 ELSE len(list_filter(toks, x -> list_contains(
             |      ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this'],
             |      x)))::DOUBLE / len(toks) END AS s_en,
             |    CASE WHEN len(toks)=0 THEN 0.0 ELSE len(list_filter(toks, x -> list_contains(
             |      ['der','die','das','und','oder','von','zu','in','ist','es','dass','fur','auf','mit','als','bei','ein'],
             |      x)))::DOUBLE / len(toks) END AS s_de,
             |    CASE WHEN len(toks)=0 THEN 0.0 ELSE len(list_filter(toks, x -> list_contains(
             |      ['le','la','les','et','ou','de','du','dans','est','il','que','pour','sur','avec','comme','chez','un'],
             |      x)))::DOUBLE / len(toks) END AS s_fr,
             |    CASE WHEN len(toks)=0 THEN 0.0 ELSE len(list_filter(toks, x -> list_contains(
             |      ['el','la','los','las','y','o','de','en','es','que','para','sobre','con','como','por','un','una'],
             |      x)))::DOUBLE / len(toks) END AS s_es,
             |    CASE WHEN length(text)=0 THEN 0.0 ELSE
             |      length(regexp_replace(text, '[^一-鿿]', '', 'g'))::DOUBLE / length(text)
             |      END AS s_zh
             |  FROM t),
             |p AS (
             |  SELECT lang,
             |    CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) <= 0 THEN 'unknown'
             |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
             |         WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
             |         WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
             |         WHEN s_es >= s_zh THEN 'es'
             |         ELSE 'zh' END AS pred
             |  FROM s)
             |SELECT lang, pred AS lang_pred, count(*) AS n
             |FROM p GROUP BY lang, pred ORDER BY lang, lang_pred""".stripMargin),
      "language-ID confusion matrix against ground-truth labels"
    ),

    "doc_langid_accuracy" -> Q(
      (s, dir) =>
        graft.ops.Spread.byKey(t(s, dir, "documents"), col("doc_id"))
          .select(col("lang"), TextStats.languageId(col("text")).as("pred"))
          // Exchange barrier: without it Catalyst collapses the languageId
          // projection into the hash-aggregate's expression path (interpreted,
          // ~10x slower). Partitioning by lang also satisfies the groupBy, so
          // no second shuffle; only tiny (lang, pred) pairs cross the wire.
          .repartition(col("lang"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("pred") === col("lang"), lit(1))).as("n_correct"))
          .orderBy("lang"),
      Some("""WITH t AS (
             |  SELECT doc_id, lang, text,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                     x -> len(x) > 0) AS toks
             |  FROM documents),
             |s AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN len(toks)=0 THEN 0.0 ELSE len(list_filter(toks, x -> list_contains(
             |      ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','this'],
             |      x)))::DOUBLE / len(toks) END AS s_en,
             |    CASE WHEN len(toks)=0 THEN 0.0 ELSE len(list_filter(toks, x -> list_contains(
             |      ['der','die','das','und','oder','von','zu','in','ist','es','dass','fur','auf','mit','als','bei','ein'],
             |      x)))::DOUBLE / len(toks) END AS s_de,
             |    CASE WHEN len(toks)=0 THEN 0.0 ELSE len(list_filter(toks, x -> list_contains(
             |      ['le','la','les','et','ou','de','du','dans','est','il','que','pour','sur','avec','comme','chez','un'],
             |      x)))::DOUBLE / len(toks) END AS s_fr,
             |    CASE WHEN len(toks)=0 THEN 0.0 ELSE len(list_filter(toks, x -> list_contains(
             |      ['el','la','los','las','y','o','de','en','es','que','para','sobre','con','como','por','un','una'],
             |      x)))::DOUBLE / len(toks) END AS s_es,
             |    CASE WHEN length(text)=0 THEN 0.0 ELSE
             |      length(regexp_replace(text, '[^一-鿿]', '', 'g'))::DOUBLE / length(text)
             |      END AS s_zh
             |  FROM t),
             |p AS (
             |  SELECT lang,
             |    CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) <= 0 THEN 'unknown'
             |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
             |         WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
             |         WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
             |         WHEN s_es >= s_zh THEN 'es'
             |         ELSE 'zh' END AS pred
             |  FROM s)
             |SELECT lang, count(*) AS n_docs,
             |       count(CASE WHEN pred = lang THEN 1 END) AS n_correct
             |FROM p GROUP BY lang ORDER BY lang""".stripMargin),
      "language-ID accuracy against ground-truth labels"
    ),

    "emb_knn_label_agreement" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val labels = emb.select(col("vec_id").as("corpus_id"), col("label").as("nbr_label"))
        val qLabels = emb.select(col("vec_id").as("query_id"), col("label").as("q_label"))
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 50),
            "vec_id", "embedding", "vec_id", k = 5)
          .join(broadcast(labels), Seq("corpus_id"))
          .join(broadcast(qLabels), Seq("query_id"))
          .groupBy(col("query_id"), col("q_label"))
          .agg(count(when(col("nbr_label") === col("q_label"), lit(1))).as("n_same_label"))
          .orderBy("query_id")
      },
      Some("""WITH v AS (
             |  SELECT vec_id, label,
             |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings),
             |n AS (
             |  SELECT vec_id, label, e,
             |         sqrt(list_reduce(list_prepend(0.0,
             |           list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
             |  FROM v),
             |p AS (
             |  SELECT q.vec_id AS query_id, q.label AS q_label,
             |         c.label AS nbr_label,
             |         row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |           list_reduce(list_prepend(0.0,
             |             list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
             |             (a, b) -> a + b) / (c.nrm * q.nrm) DESC, c.vec_id) AS rnk
             |  FROM n c, n q WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id)
             |SELECT query_id, q_label,
             |       count(CASE WHEN nbr_label = q_label THEN 1 END) AS n_same_label
             |FROM p WHERE rnk <= 5
             |GROUP BY query_id, q_label ORDER BY query_id""".stripMargin),
      "kNN label agreement: embedding-space quality eval vs ground truth"
    ),

    "doc_ngram_jaccard" -> Q(
      (s, dir) => {
        // native one-pass n-gram kernel; empty array == fewer than 3
        // tokens, replaying the oracle's len(toks) >= 3 guard
        // checkpointed (round 13, guide §1.2): d is both endpoints of the
        // adjacent-id join — uncut, the corpus shingle build ran twice
        val d = t(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.minhash.token_ngrams(col("text"), 3).as("sh"))
          .filter(size(col("sh")) > 0)
          .localCheckpoint()
        val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
        a.join(b, col("id_b") === col("id_a") + 1)
          .select(col("id_a"), col("id_b"),
            round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
              size(array_union(col("sh_a"), col("sh_b"))), 4).as("jaccard"))
          .orderBy("id_a")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                     x -> len(x) > 0) AS toks
             |  FROM documents),
             |s AS (
             |  SELECT doc_id,
             |         list_distinct(list_transform(range(1, len(toks) - 1),
             |           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
             |  FROM t WHERE len(toks) >= 3)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       round(len(list_intersect(a.sh, b.sh))::DOUBLE /
             |             len(list_distinct(list_concat(a.sh, b.sh))), 4) + 0 AS jaccard
             |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
             |ORDER BY id_a""".stripMargin),
      "exact n-gram Jaccard similarity on adjacent-id pairs"
    ),

    // shape of the duplication graph: how many docs have 1, 2, ... k
    // near-dup partners — the skew readout that decides keep-first vs
    // cluster-sample dedup policy; exact integer degrees
    "doc_dup_degree_hist" -> Q(
      (s, dir) => {
        val pairs = Dedup.minhashCandidatePairs(t(s, dir, "documents"),
            "doc_id", "text", precomputedSigs = Some(docSignatures(s, dir)))
          .select(col("id_a"), col("id_b"))
        pairs.select(col("id_a").as("doc_id"))
          .unionAll(pairs.select(col("id_b").as("doc_id")))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
          .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
          .orderBy("degree")
      },
      Some(s"""WITH ${MinhashSql.sigCtes},
              |${MinhashSql.pairCtes},
              |deg AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
              |    SELECT id_a AS doc_id FROM cand
              |    UNION ALL SELECT id_b AS doc_id FROM cand)
              |  GROUP BY doc_id)
              |SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
              |FROM deg GROUP BY degree ORDER BY degree""".stripMargin),
      "near-dup graph degree histogram: docs per partner count"
    ),

    // does duplication track content shape? Pearson corr between a doc's
    // near-dup degree (0 when it has no partners) and its length, from six
    // exact int64 sums — the curation question "are my dups boilerplate?"
    // as one checkable number
    "doc_dup_quality_corr" -> Q(
      (s, dir) => {
        val pairs = Dedup.minhashCandidatePairs(t(s, dir, "documents"),
            "doc_id", "text", precomputedSigs = Some(docSignatures(s, dir)))
          .select(col("id_a"), col("id_b"))
        val deg = pairs.select(col("id_a").as("doc_id"))
          .unionAll(pairs.select(col("id_b").as("doc_id")))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
        t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
          .join(deg, Seq("doc_id"), "left")
          .select(col("n_chars").as("__x"),
            coalesce(col("deg"), lit(0L)).as("__u"))
          .agg(count(lit(1)).as("n"),
            sum(col("__x")).as("sx"), sum(col("__u")).as("su"),
            sum(col("__x") * col("__u")).as("sxu"),
            sum(col("__x") * col("__x")).as("sxx"),
            sum(col("__u") * col("__u")).as("suu"))
          .selectExpr("n", "CAST(su AS BIGINT) AS n_dup_slots",
            // shared exact-decimal Pearson text — the int64 n·Σx² form
            // crossed 2^63 at ~3e5 docs of 1e4-char lengths
            "round(" + Smooth.pearsonExactSql("n", "sx", "su", "sxu",
              "sxx", "suu").replace("\n", " ") +
              ", 4) + 0 AS corr_len_degree")
      },
      Some(s"""WITH ${MinhashSql.sigCtes},
              |${MinhashSql.pairCtes},
              |deg AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
              |    SELECT id_a AS doc_id FROM cand
              |    UNION ALL SELECT id_b AS doc_id FROM cand)
              |  GROUP BY doc_id),
              |j AS (
              |  SELECT d.n_chars AS x, coalesce(deg.deg, 0) AS u
              |  FROM documents d LEFT JOIN deg USING (doc_id)),
              |a AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n,
              |         CAST(sum(x) AS BIGINT) AS sx,
              |         CAST(sum(u) AS BIGINT) AS su,
              |         CAST(sum(x * u) AS BIGINT) AS sxu,
              |         CAST(sum(x * x) AS BIGINT) AS sxx,
              |         CAST(sum(u * u) AS BIGINT) AS suu
              |  FROM j)
              |SELECT n, su AS n_dup_slots,
              |       round(${Smooth.pearsonExactSql("n", "sx", "su", "sxu",
                       "sxx", "suu").replace("\n", " ")}, 4) + 0
              |         AS corr_len_degree
              |FROM a""".stripMargin),
      "corr(near-dup degree, doc length) from exact integer sums"
    ),

    // LSH parameter tuning made measurable: candidate counts under three
    // (bands, rows) splits of the SAME 32-hash signatures — the S-curve
    // steepness tradeoff (more bands = recall, fewer = precision) as a
    // checkable number instead of folklore
    "doc_lsh_band_sweep" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val sigs = docSignatures(s, dir)
        Seq((4, 8), (8, 4), (16, 2)).map { case (b, r) =>
          Dedup.minhashCandidatePairs(docs, "doc_id", "text",
              bands = b, rowsPerBand = r, precomputedSigs = Some(sigs))
            .agg(count(lit(1)).as("n_candidates"))
            .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
              col("n_candidates"))
        }.reduce(_.unionByName(_)).orderBy("bands")
      },
      Some(MinhashSql.bandSweepSql(Seq((4, 8), (8, 4), (16, 2)))),
      "LSH band-tuning sweep: candidate counts at three signature splits"
    ),

    // the doc-inside-doc signal Jaccard dilutes: |A∩B| / min(|A|,|B|) in
    // exact integer ppm over the same adjacent-id candidate pairs
    "doc_ngram_containment" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // checkpointed (round 13, guide §1.2): the eligible-id frame is
        // both endpoints of the adjacent-id pair build — uncut, the
        // corpus shingle pass ran twice here plus twice more inside
        // ngramContainment's (now also checkpointed) set attach
        val d = docs
          .select(col("doc_id"),
            graft.functions.minhash.token_ngrams(col("text"), 3).as("sh"))
          .filter(size(col("sh")) > 0)
          .localCheckpoint()
        val pairs = d.select(col("doc_id").as("id_a"))
          .join(d.select(col("doc_id").as("id_b")),
            col("id_b") === col("id_a") + 1)
        Dedup.ngramContainment(docs, pairs, "doc_id", "text", n = 3)
          .select(col("id_a"), col("id_b"), col("n_inter"), col("n_small"),
            col("containment_ppm"))
          .orderBy("id_a")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                     x -> len(x) > 0) AS toks
             |  FROM documents),
             |s AS (
             |  SELECT doc_id,
             |         list_distinct(list_transform(range(1, len(toks) - 1),
             |           i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
             |           AS sh
             |  FROM t WHERE len(toks) >= 3)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
             |       CAST(least(len(a.sh), len(b.sh)) AS BIGINT) AS n_small,
             |       CASE WHEN least(len(a.sh), len(b.sh)) > 0
             |            THEN CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT)
             |                 * 1000000 // least(len(a.sh), len(b.sh))
             |       END AS containment_ppm
             |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
             |ORDER BY id_a""".stripMargin),
      "asymmetric n-gram containment (doc-inside-doc) in exact integer ppm"
    ),

    // EXACT theta-threshold similarity self-join via prefix filtering
    // (All-Pairs/PPJoin): recall 1.0 by construction — the oracle replays
    // the semantics BRUTE-FORCE (all grams equi-joined), so a green hash
    // proves the prefix pruning dropped no qualifying pair. The Spark side
    // never materializes the all-pairs space: only rarest-first prefix
    // grams (~20% of each set at theta=0.8) become join keys.
    "doc_setsim_join" -> Q(
      (s, dir) =>
        Dedup.setSimilarityJoin(t(s, dir, "documents"), "doc_id", "text",
            n = 3, thetaPpm = 800000L)
          .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                     x -> len(x) > 0) AS t
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
             |              ELSE list_distinct(list_transform(
             |                     range(1, len(t) - 1),
             |                     i -> array_to_string(t[i:i+2], ' '))) END AS gs
             |  FROM toks),
             |h AS (SELECT doc_id,
             |             list_distinct(list_transform(gs,
             |               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs
             |      FROM sh),
             |e AS (SELECT doc_id, unnest(hs) AS g FROM h),
             |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |                count(*) AS n_inter
             |         FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
             |         GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(hs) AS sz FROM h)
             |SELECT id_a, id_b, n_inter,
             |       sa.sz + sb.sz - n_inter AS n_union,
             |       CAST(n_inter * 1000000 // (sa.sz + sb.sz - n_inter)
             |            AS BIGINT) AS jaccard_ppm
             |FROM cand
             |JOIN sz sa ON id_a = sa.doc_id
             |JOIN sz sb ON id_b = sb.doc_id
             |WHERE n_inter * 1000000 >= 800000 * (sa.sz + sb.sz - n_inter)
             |ORDER BY id_a, id_b""".stripMargin),
      "exact Jaccard>=0.8 self-join by prefix filtering, oracle is brute force"
    ),

    // Common-Crawl-style per-domain cap: at most 10 docs per source, the
    // 10 smallest md5(doc_id) values — deterministic uniform sampling
    // without replacement, replayed row-identically by the oracle.
    "doc_source_cap" -> Q(
      (s, dir) =>
        Corpus.capPerSource(t(s, dir, "documents"), "doc_id", "source", 10)
          .select(col("doc_id"), col("source"))
          .orderBy("source", "doc_id"),
      Some("""WITH r AS (
             |  SELECT doc_id, source,
             |         row_number() OVER (PARTITION BY source
             |           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
             |                                    1, 8))::BIGINT,
             |                    doc_id) AS rk
             |  FROM documents)
             |SELECT doc_id, source FROM r WHERE rk <= 10
             |ORDER BY source, doc_id""".stripMargin),
      "per-source document cap by smallest-hash order (domain balancing)"
    ),

    // sketch-quality eval (the MinHash analogue of emb_ann_recall): for
    // every LSH candidate pair, the signature's jaccard estimate vs the
    // exact shingle-set jaccard, in integer ppm. collapseShort=true keeps
    // the exact side defined over the SAME shingle sets the signatures
    // sketch, so the comparison is apples-to-apples.
    "doc_minhash_est_error" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val cand = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
            precomputedSigs = Some(docSignatures(s, dir)))
          .select(col("id_a"), col("id_b"),
            round(col("est_jaccard") * 32).cast("long").as("__m"))
        val sh = docs.select(col("doc_id"),
          graft.functions.minhash.token_ngrams(col("text"), 3,
            collapseShort = true).as("sh"))
        cand
          .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
          .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
          .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
          .withColumn("__u", size(array_union(col("sh_a"), col("sh_b"))).cast("long"))
          .withColumn("est_ppm", expr("__m * 1000000 div 32"))
          .withColumn("exact_ppm", expr("__i * 1000000 div __u"))
          .select(col("id_a"), col("id_b"), col("est_ppm"), col("exact_ppm"),
            abs(col("est_ppm") - col("exact_ppm")).as("abs_err_ppm"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${MinhashSql.sigCtes},
              |${MinhashSql.pairCtes},
              |sh2 AS (
              |  SELECT doc_id,
              |         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
              |              i -> array_to_string(t[i:i+2], ' '))) END AS sh
              |  FROM toks),
              |j AS (
              |  SELECT e.id_a, e.id_b,
              |         CAST(CAST(round(e.ej * 32) AS BIGINT) * 1000000 // 32
              |              AS BIGINT) AS est_ppm,
              |         CAST(len(list_intersect(a.sh, b.sh)) * 1000000 //
              |              len(list_distinct(list_concat(a.sh, b.sh)))
              |              AS BIGINT) AS exact_ppm
              |  FROM est e JOIN sh2 a ON a.doc_id = e.id_a
              |            JOIN sh2 b ON b.doc_id = e.id_b)
              |SELECT id_a, id_b, est_ppm, exact_ppm,
              |       abs(est_ppm - exact_ppm) AS abs_err_ppm
              |FROM j ORDER BY id_a, id_b""".stripMargin),
      "MinHash sketch-quality eval: estimated vs exact jaccard per candidate pair (ppm)"
    ),

    // LSH candidate recall — the third sketch eval: of the TRUE near-dup
    // pairs (exact shingle-set jaccard >= 0.5; integer-exact as 2i >= u),
    // what fraction does banding surface as candidates? Ground truth caps
    // only the LOWER id (near-dup mates land anywhere in the id range), so
    // the verification crossJoin is O(cap x corpus) — the same bounded-
    // subset pattern as emb_neardup_cosine — while candidates come from
    // the full production pipeline.
    "doc_lsh_recall" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // shingles hash to 60-bit longs ONCE per doc (identical md5 family
        // both engines); exact intersections come from the INVERTED INDEX
        // — explode, equi-join on hash, count per pair — so no per-pair
        // set objects exist anywhere, and |union| = n_a + n_b − |∩|
        // (distinct arrays), i.e. jaccard >= 1/2 ⇔ 3·|∩| >= n_a + n_b.
        // (crossJoin + array_intersect measured 23 s as strings, 4 s as
        // longs; the inverted-index join is the honest-at-scale shape.)
        // checkpointed ONCE (round 13, guide §1.2 — the setsim gramSets
        // precedent): sh feeds four consumers (both sides of the inverted-
        // index self-join and both size attaches), and without the cut the
        // planner re-tokenizes + re-hashes the full corpus per consumer
        // (shell A/B: 1.6-1.9 -> 1.0-1.2 s, values identical)
        val sh = docs.select(col("doc_id"),
          transform(
            graft.functions.minhash.token_ngrams(col("text"), 3,
              collapseShort = true),
            g => Dedup.portableHash64(g)).as("sh"))
          .withColumn("__n", size(col("sh")).cast("long"))
          .localCheckpoint()
        val ex = sh.select(col("doc_id"), explode(col("sh")).as("__h"))
        val sizes = sh.select(col("doc_id"), col("__n"))
        val truth = ex.filter(col("doc_id") < 200)
          .select(col("doc_id").as("id_a"), col("__h"))
          .join(ex.select(col("doc_id").as("id_b"), col("__h")), Seq("__h"))
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("__i"))
          .join(sizes.select(col("doc_id").as("id_a"), col("__n").as("n_a")), Seq("id_a"))
          .join(sizes.select(col("doc_id").as("id_b"), col("__n").as("n_b")), Seq("id_b"))
          .filter(col("__i") * 3 >= col("n_a") + col("n_b"))
          .select("id_a", "id_b")
        val cand = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
            precomputedSigs = Some(docSignatures(s, dir)))
          .select(col("id_a"), col("id_b"), lit(1L).as("__hit"))
        truth.join(cand, Seq("id_a", "id_b"), "left")
          .agg(
            count(lit(1)).as("n_truth"),
            coalesce(sum(coalesce(col("__hit"), lit(0L))), lit(0L)).as("n_found"))
          .withColumn("recall_ppm",
            expr("CASE WHEN n_truth = 0 THEN 0 ELSE n_found * 1000000 div n_truth END"))
      },
      Some(s"""WITH ${MinhashSql.sigCtes},
              |${MinhashSql.pairCtes},
              |sh2 AS (
              |  SELECT doc_id,
              |         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
              |              i -> array_to_string(t[i:i+2], ' '))) END AS sh
              |  FROM toks),
              |sh3 AS (
              |  SELECT doc_id,
              |         list_transform(sh,
              |           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS sh,
              |         len(sh) AS n
              |  FROM sh2),
              |ex AS (SELECT doc_id, unnest(sh) AS hh FROM sh3),
              |inter AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              |  FROM ex a JOIN ex b ON a.hh = b.hh
              |  WHERE a.doc_id < 200 AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |tru AS (
              |  SELECT id_a, id_b
              |  FROM inter JOIN sh3 sa ON sa.doc_id = inter.id_a
              |             JOIN sh3 sb ON sb.doc_id = inter.id_b
              |  WHERE i * 3 >= sa.n + sb.n),
              |cd AS (SELECT DISTINCT id_a, id_b FROM cand)
              |SELECT CAST(count(*) AS BIGINT) AS n_truth,
              |       CAST(coalesce(count(cd.id_a), 0) AS BIGINT) AS n_found,
              |       CAST(CASE WHEN count(*) = 0 THEN 0
              |            ELSE count(cd.id_a) * 1000000 // count(*) END AS BIGINT)
              |         AS recall_ppm
              |FROM tru LEFT JOIN cd
              |  ON cd.id_a = tru.id_a AND cd.id_b = tru.id_b""".stripMargin),
      "LSH candidate recall vs exact-jaccard ground truth (low-id anchored pairs)"
    ),

    "doc_incremental_dedup" -> Q(
      (s, dir) => {
        // production shape: today's increment (every 5th doc) deduped
        // against the standing corpus — survivors are increment docs whose
        // content is new, one per in-batch content group
        val docs = t(s, dir, "documents").select("doc_id", "text")
        Dedup.incrementalExact(
            docs.filter(col("doc_id") % 5 === 0),
            docs.filter(col("doc_id") % 5 =!= 0),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
             |  SELECT doc_id, doc_id % 5 = 0 AS inc,
             |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch
             |  FROM documents),
             |known AS (SELECT DISTINCT ch FROM h WHERE NOT inc)
             |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
             |FROM h ANTI JOIN known USING (ch)
             |WHERE inc GROUP BY ch ORDER BY doc_id""".stripMargin),
      "incremental dedup: new batch vs standing corpus, hash-only join keys"
    ),

    "doc_incremental_neardup" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        Dedup.incrementalNearDup(
            docs.filter(col("doc_id") % 5 === 0),
            docs.filter(col("doc_id") % 5 =!= 0),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      // mirrors the operator exactly: bands of each side, CROSS-side
      // collisions only, no bucket cap, est >= 0.8 (exact /32 compare)
      Some(s"""WITH ${MinhashSql.sigCtes},
              |${MinhashSql.bandedCte},
              |ib AS (SELECT doc_id, band_id, band_hash FROM banded WHERE doc_id % 5 = 0),
              |kb AS (SELECT doc_id, band_id, band_hash FROM banded WHERE doc_id % 5 <> 0),
              |cand AS (
              |  SELECT DISTINCT ib.doc_id AS inc_id, kb.doc_id AS kn_id
              |  FROM ib JOIN kb USING (band_id, band_hash)),
              |dup AS (
              |  SELECT DISTINCT inc_id AS doc_id
              |  FROM cand JOIN sig a ON a.doc_id = cand.inc_id
              |            JOIN sig b ON b.doc_id = cand.kn_id
              |  WHERE (${MinhashSql.matchSum}) / 32.0 >= 0.8),
              |inc AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0)
              |SELECT doc_id FROM inc ANTI JOIN dup USING (doc_id)
              |ORDER BY doc_id""".stripMargin),
      "incremental near-dup: new batch probes the corpus's banded signature table"
    ),

    "doc_neardup_editdist" -> Q(
      (s, dir) => {
        // the third verify lens after jaccard/cosine: LEVENSHTEIN distance
        // on LSH candidates only (never all pairs); 200-char prefixes cap
        // the O(len^2) DP per pair
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val pairs = Dedup.minhashCandidatePairs(d, "doc_id", "text",
            precomputedSigs = Some(docSignatures(s, dir)))
          .filter(col("est_jaccard") >= 0.8)
        val a = d.select(col("doc_id").as("id_a"), col("text").as("ta"))
        val b = d.select(col("doc_id").as("id_b"), col("text").as("tb"))
        pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            levenshtein(substring(col("ta"), 1, 200), substring(col("tb"), 1, 200))
              .cast("long").as("edit_dist"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${MinhashSql.sigCtes},
              |${MinhashSql.pairCtes},
              |strong AS (SELECT id_a, id_b FROM est WHERE ej >= 0.8)
              |SELECT id_a, id_b,
              |       CAST(levenshtein(substr(da.text, 1, 200), substr(db.text, 1, 200))
              |            AS BIGINT) AS edit_dist
              |FROM strong JOIN documents da ON da.doc_id = strong.id_a
              |            JOIN documents db ON db.doc_id = strong.id_b
              |ORDER BY id_a, id_b""".stripMargin),
      "edit-distance verification of LSH candidate pairs (capped prefixes)"
    ),

    "doc_minhash_signatures" -> Q(
      (s, dir) => {
        val sigCols = (0 until 32).map(i => element_at(col("sig"), i + 1).as(s"h$i"))
        docSignatures(s, dir)
          .select(col("doc_id") +: sigCols: _*)
          .orderBy("doc_id")
      },
      Some(s"""WITH ${MinhashSql.sigCtes}
              |SELECT * FROM sig ORDER BY doc_id""".stripMargin),
      "MinHash signatures, every value oracle-checked (md5 + affine-mod-P family)"
    ),

    "doc_lsh_pairs" -> Q(
      (s, dir) =>
        Dedup.minhashCandidatePairs(t(s, dir, "documents"), "doc_id", "text",
            precomputedSigs = Some(docSignatures(s, dir)))
          .select(col("id_a"), col("id_b"),
            round(col("est_jaccard"), 4).as("est_jaccard"))
          .orderBy("id_a", "id_b"),
      Some(s"""WITH ${MinhashSql.sigCtes},
              |${MinhashSql.pairCtes}
              |SELECT id_a, id_b, round(ej, 4) + 0 AS est_jaccard
              |FROM est ORDER BY id_a, id_b""".stripMargin),
      "banded-LSH candidate pairs with estimated jaccard, oracle-checked end to end"
    ),

    "doc_simhash" -> Q(
      (s, dir) =>
        Dedup.withSimhash(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      // bit-majority votes replayed in SQL: 60 per-bit popcount sums per
      // doc, fingerprint = sum of disjoint (vote ? 1<<b : 0) terms
      Some {
        val sums = (0 until 60)
          .map(b => s"sum((hm >> $b) & 1) AS s$b").mkString(",\n       ")
        val fpExpr = (0 until 60)
          .map(b => s"(CASE WHEN s$b * 2 > n THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)")
          .mkString(" + ")
        s"""WITH toks AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
           |                             x -> len(x) > 0) AS t
           |  FROM documents),
           |tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
           |th AS (SELECT doc_id, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS hm FROM tok),
           |agg AS (SELECT doc_id, count(*) AS n,
           |       $sums
           |FROM th GROUP BY doc_id)
           |SELECT doc_id, CAST($fpExpr AS BIGINT) AS fp
           |FROM agg ORDER BY doc_id""".stripMargin
      },
      "SimHash fingerprint, every bit oracle-checked (portable md5 token hash)"
    ),

    // the portable (md5-family) winnow kernel, digest + cardinality hash-
    // checked; the xxhash64 kernel remains the throughput path, pinned
    // bit-identical to its HOF executable spec in TextStatsSpec
    "doc_fingerprint" -> Q(
      (s, dir) =>
        TextStats.fingerprintPortable(
            graft.ops.Spread.byKey(t(s, dir, "documents"), col("doc_id"))
              .select(col("doc_id"), col("text")),
            "text", "__fp")
          .select(col("doc_id"),
            md5(array_join(transform(array_sort(col("__fp")), _.cast("string")), ","))
              .as("fp_md5"),
            size(col("__fp")).cast("long").as("n_grams"))
          .orderBy("doc_id"),
      Some("""WITH g AS (
             |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS nt
             |  FROM documents),
             |g2 AS (SELECT doc_id, nt, length(nt) AS n FROM g),
             |kg AS (
             |  SELECT doc_id,
             |         CASE WHEN n < 8
             |           THEN [('0x' || substr(md5(nt), 1, 15))::BIGINT]
             |           ELSE list_transform(range(1, n - 6),
             |                  j -> ('0x' || substr(md5(substr(nt, j, 8)), 1, 15))::BIGINT)
             |         END AS hs
             |  FROM g2),
             |mins AS (
             |  SELECT doc_id,
             |         CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
             |           ELSE list_transform(range(1, len(hs) - 2),
             |                  p -> list_min(hs[p:p+3]))
             |         END AS ms
             |  FROM kg),
             |d AS (SELECT doc_id, list_sort(list_distinct(ms)) AS fp FROM mins)
             |SELECT doc_id,
             |       md5(array_to_string(fp, ',')) AS fp_md5,
             |       CAST(len(fp) AS BIGINT) AS n_grams
             |FROM d ORDER BY doc_id""".stripMargin),
      "winnowing document fingerprint (portable md5 k-gram family, hash-checked)"
    ),

    "emb_bruteforce_top5" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(
            emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", "vec_id", k = 5)
          .select(col("query_id"), col("corpus_id"),
            round(col("cosine"), 4).as("cosine"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (
             |  SELECT vec_id,
             |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings),
             |n AS (
             |  SELECT vec_id, e,
             |         sqrt(list_reduce(list_prepend(0.0,
             |           list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
             |  FROM v),
             |p AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             |         list_reduce(list_prepend(0.0,
             |           list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
             |           (a, b) -> a + b) / (c.nrm * q.nrm) AS cos
             |  FROM n c, n q WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
             |r AS (
             |  SELECT query_id, corpus_id, cos,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY cos DESC, corpus_id) AS rank
             |  FROM p)
             |SELECT query_id, corpus_id, round(cos, 4) + 0 AS cosine, rank
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      "brute-force cosine top-k ANN baseline"
    ),

    // dedup-aggressiveness curve: pair counts at a ladder of cosine
    // thresholds over the capped verification subset — the eval that tells
    // you what a semantic-dedup threshold will actually delete. Exact:
    // the fold-ordered cosine doubles are engine-identical, and each
    // threshold is the same int/1e4 division on both sides.
    "emb_neardup_sweep" -> Q(
      (s, dir) => {
        val v = t(s, dir, "embeddings").filter(col("vec_id") < 200)
        val a = v.select(col("vec_id").as("id_a"),
          transform(col("embedding"), x => x.cast("double")).as("ea"))
        val b = v.select(col("vec_id").as("id_b"),
          transform(col("embedding"), x => x.cast("double")).as("eb"))
        a.crossJoin(b).filter(col("id_a") < col("id_b"))
          .withColumn("cos", Similarity.cosine(col("ea"), col("eb")))
          .withColumn("threshold_bp",
            explode(array(Seq(2000, 2500, 3000, 3500).map(lit): _*)))
          .filter(col("cos") >= col("threshold_bp") / 10000.0)
          .groupBy("threshold_bp")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("threshold_bp")
      },
      Some("""WITH v AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings WHERE vec_id < 200),
             |n AS (
             |  SELECT vec_id, e,
             |         sqrt(list_reduce(list_prepend(0.0,
             |           list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
             |  FROM v),
             |p AS (
             |  SELECT list_reduce(list_prepend(0.0,
             |           list_transform(range(1, 65), i -> a.e[i] * b.e[i])),
             |           (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
             |  FROM n a, n b WHERE a.vec_id < b.vec_id)
             |SELECT t.threshold_bp, CAST(count(*) AS BIGINT) AS n_pairs
             |FROM p, (SELECT unnest([2000, 2500, 3000, 3500]) AS threshold_bp) t
             |WHERE p.cos >= t.threshold_bp / 10000.0
             |GROUP BY t.threshold_bp ORDER BY t.threshold_bp""".stripMargin),
      "semantic-dedup threshold sweep: pair counts at a cosine ladder, engine-exact"
    ),

    "emb_neardup_cosine" -> Q(
      (s, dir) => {
        val v = t(s, dir, "embeddings").filter(col("vec_id") < 200)
        val a = v.select(col("vec_id").as("id_a"),
          transform(col("embedding"), x => x.cast("double")).as("ea"))
        val b = v.select(col("vec_id").as("id_b"),
          transform(col("embedding"), x => x.cast("double")).as("eb"))
        a.crossJoin(b).filter(col("id_a") < col("id_b"))
          .withColumn("cos", Similarity.cosine(col("ea"), col("eb")))
          .filter(col("cos") >= 0.25)
          .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cosine"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH v AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings WHERE vec_id < 200),
             |n AS (
             |  SELECT vec_id, e,
             |         sqrt(list_reduce(list_prepend(0.0,
             |           list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
             |  FROM v)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |       round(list_reduce(list_prepend(0.0,
             |         list_transform(range(1, 65), i -> a.e[i] * b.e[i])),
             |         (x, y) -> x + y) / (a.nrm * b.nrm), 4) + 0 AS cosine
             |FROM n a, n b
             |WHERE a.vec_id < b.vec_id
             |  AND list_reduce(list_prepend(0.0,
             |        list_transform(range(1, 65), i -> a.e[i] * b.e[i])),
             |        (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.25
             |ORDER BY id_a, id_b""".stripMargin),
      "embedding-cosine near-duplicate pairs (verified subset)"
    ),

    "emb_quantize" -> Q(
      (s, dir) => {
        // scale/codes as REAL columns (withColumn): referenced 3+ times
        // below, so projection collapse must not inline the transform —
        // inlined, the lambda would re-evaluate array_max per ELEMENT
        val scaled = t(s, dir, "embeddings")
          .withColumn("__scale", Similarity.quantScale(col("embedding")))
        val coded = scaled.withColumn("codes",
          Similarity.quantizeInt8(col("embedding"), col("__scale")))
        coded.select(
          col("vec_id"),
          round(col("__scale") * 1e9, 0).cast("long").as("scale_u"),
          md5(array_join(transform(col("codes"), _.cast("string")), ",")).as("codes_md5"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x).as("code_sum"),
          size(filter(col("codes"), c => abs(c) === 127)).cast("long").as("n_clip"))
          .orderBy("vec_id")
      },
      Some("""WITH q AS (
             |  SELECT vec_id, embedding,
             |         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0
             |           AS scale
             |  FROM embeddings),
             |c AS (
             |  SELECT vec_id, scale,
             |         CASE WHEN scale = 0
             |           THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
             |           ELSE list_transform(embedding,
             |                  x -> CAST(round(x::DOUBLE / scale, 0) AS BIGINT)) END
             |           AS codes
             |  FROM q)
             |SELECT vec_id,
             |       CAST(round(scale * 1e9, 0) AS BIGINT) AS scale_u,
             |       md5(array_to_string(codes, ',')) AS codes_md5,
             |       CAST(list_sum(codes) AS BIGINT) AS code_sum,
             |       CAST(len(list_filter(codes, x -> abs(x) = 127)) AS BIGINT) AS n_clip
             |FROM c ORDER BY vec_id""".stripMargin),
      "int8 scalar quantization of embeddings: max-abs scale, exact integer codes"
    ),

    // full oracle since round 4 (same integer-exact Lloyd recompute): one
    // refinement round + intra-cell pairs + the recursive-CTE closure
    "emb_semdedup" -> Q(
      (s, dir) =>
        Similarity.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
            threshold = 0.95, nlist = 16, refineIters = 1)
          .orderBy("vec_id"),
      Some(s"""WITH RECURSIVE ${IvfSql.lloydCtes(16, 1)},
              |cc AS (SELECT vec_id, cell FROM ranked WHERE r = 1),
              |-- materialize ONE compact (id, cell, vec, norm) table and
              |-- self-join THAT: with the id-keyed n-joins inlined per
              |-- reference, the planner picked a payload-first join order
              |-- that materialized two 64-dim lists per candidate pair
              |-- (~79 GB and a timeout at sf3's 112M in-cell pairs); the
              |-- cell-first self-join streams pairs through the native
              |-- list_dot_product at 46 s for the same 30x data — the
              |-- rel_assoc_rules CTE-inlining cliff, same cure
              |cv AS MATERIALIZED (
              |  SELECT c.vec_id, c.cell, n.e, n.nrm
              |  FROM cc c JOIN n USING (vec_id)),
              |pr AS MATERIALIZED (
              |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
              |  FROM cv a JOIN cv b USING (cell)
              |  WHERE a.vec_id < b.vec_id
              |    -- native list_dot_product: bit-identical to the sequential
              |    -- lambda fold (0/300 bit-diffs measured) and ~32x faster
              |    AND list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.95),
              |ed AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pr
              |          UNION ALL SELECT id_b, id_a FROM pr),
              |-- components: 4 Shiloach-Vishkin hook+jump levels (bulk
              |-- shrink) + the exact quotient closure below; level count
              |-- is a cost knob only (see SvSql)
              |l0 AS MATERIALIZED (SELECT vec_id AS id, vec_id AS lab
              |                    FROM embeddings),
              |${SvSql.levels("ed", 4)},
              |-- The levels are a bulk shrink, NOT a convergence
              |-- guarantee (the sf3 sweep caught a hook wavefront crawling
              |-- ~one hop/level through a chain; fixpoint at level 54).
              |-- Exactness at any scale: contract to the quotient graph
              |-- over labels still joined by an edge and close THAT with
              |-- a recursive CTE — trivial after the shrink, and degrading
              |-- in cost, never in truth.
              |qedges AS MATERIALIZED (
              |  SELECT DISTINCT la.lab AS a, lb.lab AS b
              |  FROM ed JOIN l4 la ON la.id = ed.s
              |          JOIN l4 lb ON lb.id = ed.d
              |  WHERE la.lab <> lb.lab),
              |qreach(a, b) AS (
              |  SELECT a, a FROM (SELECT DISTINCT a FROM qedges) t(a)
              |  UNION
              |  SELECT q.a, e.b FROM qreach q JOIN qedges e ON e.a = q.b),
              |qmin AS MATERIALIZED (
              |  SELECT a, min(b) AS root FROM qreach GROUP BY a)
              |SELECT l.id AS vec_id, coalesce(q.root, l.lab) AS cluster_id
              |FROM l4 l LEFT JOIN qmin q ON q.a = l.lab
              |ORDER BY vec_id""".stripMargin),
      "SemDeDup with 1 Lloyd round: cells -> intra-cell pairs -> closure, fully value-checked"
    ),

    "emb_lsh_ann_top5" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", "vec_id", k = 5, bits = 8, tables = 4)
          .select(col("query_id"), col("corpus_id"),
            round(col("cosine"), 4).as("cosine"), col("rank"))
          .orderBy("query_id", "rank")
      },
      // approximate vs brute force, but DETERMINISTIC: the hyperplanes are
      // fixed-seed, the dot products are sequential-order IEEE identical
      // in both engines (same property emb_bruteforce_top5 relies on), so
      // the oracle replays bucketing with the SAME plane constants
      // interpolated as literals
      Some {
        val planeRows = (for {
          (planes, tb) <- (0 until 4).map(t => Similarity.hyperplanes(64, 8, 42L + t)).zipWithIndex
          (p, bit) <- planes.zipWithIndex
        } yield {
          // Locale.ROOT: a comma-decimal default locale would render
          // "0,123..." and break the generated SQL
          val arr = p.map(v =>
            String.format(java.util.Locale.ROOT, "%.17g", Double.box(v))).mkString(", ")
          s"($tb, $bit, [$arr])"
        }).mkString(",\n    ")
        s"""WITH planes(table_id, bit, p) AS (VALUES
           |    $planeRows),
           |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           |      FROM embeddings),
           |b AS (
           |  SELECT v.vec_id, pl.table_id,
           |         CAST(sum(CASE WHEN list_reduce(list_prepend(0.0,
           |                list_transform(range(1, 65), i -> v.e[i] * pl.p[i])),
           |                (a, b) -> a + b) >= 0
           |              THEN (CAST(1 AS BIGINT) << pl.bit) ELSE 0 END) AS BIGINT) AS bucket
           |  FROM v, planes pl GROUP BY v.vec_id, pl.table_id),
           |n AS (
           |  SELECT vec_id, e,
           |         sqrt(list_reduce(list_prepend(0.0,
           |           list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
           |  FROM v),
           |cand AS (
           |  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS corpus_id
           |  FROM b cb JOIN b qb ON cb.table_id = qb.table_id AND cb.bucket = qb.bucket
           |  WHERE qb.vec_id < 10 AND cb.vec_id <> qb.vec_id),
           |p AS (
           |  SELECT query_id, corpus_id,
           |         list_reduce(list_prepend(0.0,
           |           list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
           |           (a, b) -> a + b) / (c.nrm * q.nrm) AS cos
           |  FROM cand JOIN n c ON c.vec_id = cand.corpus_id
           |            JOIN n q ON q.vec_id = cand.query_id),
           |r AS (
           |  SELECT query_id, corpus_id, cos,
           |         row_number() OVER (PARTITION BY query_id
           |           ORDER BY cos DESC, corpus_id) AS rank
           |  FROM p)
           |SELECT query_id, corpus_id, round(cos, 4) + 0 AS cosine, rank
           |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
      },
      "LSH-bucketed ANN (scale path; bucketing + ranking oracle-replayed)"
    ),

    // full oracle since round 4: the Lloyd recompute sums exact integer
    // micro-units, so BOTH refinement rounds replay in SQL (lloydCtes) —
    // the last rows-only queries became value-checked
    "emb_ivf_ann_top5" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", "vec_id", k = 5, nlist = 32, nprobe = 8,
            refineIters = 2)
          .select(col("query_id"), col("corpus_id"),
            round(col("cosine"), 4).as("cosine"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${IvfSql.lloydCtes(32, 2)},
              |qc AS (SELECT vec_id, cell FROM ranked WHERE r <= 8 AND vec_id < 10),
              |cc AS (SELECT vec_id, cell FROM ranked WHERE r = 1),
              |cand AS (
              |  SELECT DISTINCT qc.vec_id AS query_id, cc.vec_id AS corpus_id
              |  FROM qc JOIN cc USING (cell) WHERE cc.vec_id <> qc.vec_id),
              |p AS (
              |  SELECT query_id, corpus_id,
              |         list_reduce(list_prepend(0.0,
              |           list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
              |           (a, b) -> a + b) / (c.nrm * q.nrm) AS cos
              |  FROM cand JOIN n c ON c.vec_id = cand.corpus_id
              |            JOIN n q ON q.vec_id = cand.query_id),
              |r2 AS (
              |  SELECT query_id, corpus_id, cos,
              |         row_number() OVER (PARTITION BY query_id
              |           ORDER BY cos DESC, corpus_id) AS rank
              |  FROM p)
              |SELECT query_id, corpus_id, round(cos, 4) + 0 AS cosine, rank
              |FROM r2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      "IVF ANN with 2 Lloyd rounds — refinement fully SQL-replayed (integer-exact recompute)"
    ),

    // the seed-only IVF variant: refineIters=0 makes the centroids the
    // (deterministic) first-nlist corpus vectors — the simplest oracle and
    // a distinct configuration from the 2-round refined query above (which
    // has been fully value-checked too since the integer-exact recompute).
    "emb_ivf_ann_seeded_top5" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", "vec_id", k = 5, nlist = 32, nprobe = 8,
            refineIters = 0)
          .select(col("query_id"), col("corpus_id"),
            round(col("cosine"), 4).as("cosine"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${IvfSql.cellCtes(32)},
              |qc AS (SELECT vec_id, cell FROM ranked WHERE r <= 8 AND vec_id < 10),
              |cc AS (SELECT vec_id, cell FROM ranked WHERE r = 1),
              |cand AS (
              |  SELECT DISTINCT qc.vec_id AS query_id, cc.vec_id AS corpus_id
              |  FROM qc JOIN cc USING (cell) WHERE cc.vec_id <> qc.vec_id),
              |p AS (
              |  SELECT query_id, corpus_id,
              |         list_reduce(list_prepend(0.0,
              |           list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
              |           (a, b) -> a + b) / (c.nrm * q.nrm) AS cos
              |  FROM cand JOIN n c ON c.vec_id = cand.corpus_id
              |            JOIN n q ON q.vec_id = cand.query_id),
              |r2 AS (
              |  SELECT query_id, corpus_id, cos,
              |         row_number() OVER (PARTITION BY query_id
              |           ORDER BY cos DESC, corpus_id) AS rank
              |  FROM p)
              |SELECT query_id, corpus_id, round(cos, 4) + 0 AS cosine, rank
              |FROM r2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      "IVF ANN with deterministic seed centroids — cells + probe + rank oracle-checked"
    ),

    // the oracle-checkable SemDeDup variant: seed centroids (refineIters=0)
    // + SQL cell assignment + intra-cell pairs + the same recursive-CTE
    // transitive closure doc_dedup_groups uses. The threshold compare is
    // exact: both engines produce bit-identical cosines (identical
    // sequential float->double sums, same division shape).
    "emb_semdedup_seeded" -> Q(
      (s, dir) =>
        Similarity.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
            threshold = 0.95, nlist = 16, refineIters = 0)
          .orderBy("vec_id"),
      Some(s"""WITH RECURSIVE ${IvfSql.cellCtes(16)},
              |cc AS (SELECT vec_id, cell FROM ranked WHERE r = 1),
              |-- compact materialized (id, cell, vec, norm) self-join — the
              |-- inlined id-keyed n-joins let the planner materialize list
              |-- payloads per pair (~79 GB / timeout at sf3); see
              |-- emb_semdedup for the measurement (46 s after the cure)
              |cv AS MATERIALIZED (
              |  SELECT c.vec_id, c.cell, n.e, n.nrm
              |  FROM cc c JOIN n USING (vec_id)),
              |pr AS MATERIALIZED (
              |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
              |  FROM cv a JOIN cv b USING (cell)
              |  WHERE a.vec_id < b.vec_id
              |    -- native list_dot_product: bit-identical to the sequential
              |    -- lambda fold (0/300 bit-diffs measured) and ~32x faster
              |    AND list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.95),
              |ed AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pr
              |          UNION ALL SELECT id_b, id_a FROM pr),
              |-- components: 4 Shiloach-Vishkin hook+jump levels (bulk
              |-- shrink) + the exact quotient closure below; level count
              |-- is a cost knob only (see SvSql)
              |l0 AS MATERIALIZED (SELECT vec_id AS id, vec_id AS lab
              |                    FROM embeddings),
              |${SvSql.levels("ed", 4)},
              |-- The levels are a bulk shrink, NOT a convergence
              |-- guarantee (the sf3 sweep caught a hook wavefront crawling
              |-- ~one hop/level through a chain; fixpoint at level 54).
              |-- Exactness at any scale: contract to the quotient graph
              |-- over labels still joined by an edge and close THAT with
              |-- a recursive CTE — trivial after the shrink, and degrading
              |-- in cost, never in truth.
              |qedges AS MATERIALIZED (
              |  SELECT DISTINCT la.lab AS a, lb.lab AS b
              |  FROM ed JOIN l4 la ON la.id = ed.s
              |          JOIN l4 lb ON lb.id = ed.d
              |  WHERE la.lab <> lb.lab),
              |qreach(a, b) AS (
              |  SELECT a, a FROM (SELECT DISTINCT a FROM qedges) t(a)
              |  UNION
              |  SELECT q.a, e.b FROM qreach q JOIN qedges e ON e.a = q.b),
              |qmin AS MATERIALIZED (
              |  SELECT a, min(b) AS root FROM qreach GROUP BY a)
              |SELECT l.id AS vec_id, coalesce(q.root, l.lab) AS cluster_id
              |FROM l4 l LEFT JOIN qmin q ON q.a = l.lab
              |ORDER BY vec_id""".stripMargin),
      "SemDeDup with seed centroids: cells -> intra-cell pairs -> closure, oracle-checked"
    ),

    // the IVF twin of emb_ann_recall: recall@5 of the seeded IVF index
    // (refineIters=0 — deterministic cells) vs brute-force ground truth,
    // entire eval replayed in SQL from the shared cell CTEs
    "emb_ivf_recall" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 10)
        val truth = Similarity.bruteForceTopK(
          emb, qs, "vec_id", "embedding", "vec_id", k = 5)
        val approx = Similarity.ivfTopK(emb, qs, "vec_id", "embedding", "vec_id",
          k = 5, nlist = 32, nprobe = 8, refineIters = 0)
        Similarity.recallAtK(truth, approx, k = 5).orderBy("query_id")
      },
      Some(s"""WITH ${IvfSql.cellCtes(32)},
              |qc AS (SELECT vec_id, cell FROM ranked WHERE r <= 8 AND vec_id < 10),
              |cc AS (SELECT vec_id, cell FROM ranked WHERE r = 1),
              |cand AS (
              |  SELECT DISTINCT qc.vec_id AS query_id, cc.vec_id AS corpus_id
              |  FROM qc JOIN cc USING (cell) WHERE cc.vec_id <> qc.vec_id),
              |p AS (
              |  SELECT query_id, corpus_id,
              |         list_reduce(list_prepend(0.0,
              |           list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
              |           (a, b) -> a + b) / (c.nrm * q.nrm) AS cos
              |  FROM cand JOIN n c ON c.vec_id = cand.corpus_id
              |            JOIN n q ON q.vec_id = cand.query_id),
              |ra AS (
              |  SELECT query_id, corpus_id,
              |         row_number() OVER (PARTITION BY query_id
              |           ORDER BY cos DESC, corpus_id) AS rank
              |  FROM p),
              |appr AS (SELECT query_id, corpus_id FROM ra WHERE rank <= 5),
              |pt AS (
              |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
              |         list_reduce(list_prepend(0.0,
              |           list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
              |           (a, b) -> a + b) / (c.nrm * q.nrm) AS cos
              |  FROM n c, n q WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
              |rt AS (
              |  SELECT query_id, corpus_id,
              |         row_number() OVER (PARTITION BY query_id
              |           ORDER BY cos DESC, corpus_id) AS rank
              |  FROM pt),
              |tru AS (SELECT query_id, corpus_id FROM rt WHERE rank <= 5)
              |SELECT t.query_id,
              |       CAST(count(a.corpus_id) AS BIGINT) AS n_hits,
              |       CAST(count(*) AS BIGINT) AS n_truth,
              |       CAST(count(a.corpus_id) * 1000000 // count(*) AS BIGINT) AS recall_ppm
              |FROM tru t LEFT JOIN appr a
              |  ON a.query_id = t.query_id AND a.corpus_id = t.corpus_id
              |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin),
      "recall@5 of the seeded IVF index vs brute-force ground truth (fully SQL-replayed)"
    ),

    // the IVF tuning curve (the nprobe analogue of doc_lsh_band_sweep):
    // corpus-wide recall@5 at nprobe 1/2/4 over the same seeded index —
    // how much recall each extra probed cell buys, as checked numbers
    "emb_ivf_nprobe_sweep" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 10)
        val truth = Similarity.bruteForceTopK(
          emb, qs, "vec_id", "embedding", "vec_id", k = 5)
        // train the (deterministic) centroid table ONCE for the sweep —
        // each nprobe previously re-ran the identical seed collect
        val cents = Similarity.kmeansCentroids(
          emb, "vec_id", "embedding", nlist = 32, iters = 0)
        Seq(1, 2, 4).map { np =>
          val approx = Similarity.ivfTopK(emb, qs, "vec_id", "embedding",
            "vec_id", k = 5, nlist = 32, nprobe = np, refineIters = 0,
            precomputedCents = Some(cents))
          Similarity.recallAtK(truth, approx, k = 5)
            .agg(sum(col("n_hits")).as("n_hits"),
              sum(col("n_truth")).as("n_truth"))
            .select(lit(np).as("nprobe"), col("n_hits"), col("n_truth"),
              expr("n_hits * 1000000 div n_truth").as("recall_ppm"))
        }.reduce(_.unionByName(_)).orderBy("nprobe")
      },
      Some {
        val perNp = Seq(1, 2, 4).map { np =>
          s"""qc$np AS (SELECT vec_id, cell FROM ranked
             |          WHERE r <= $np AND vec_id < 10),
             |cand$np AS (
             |  SELECT DISTINCT qc$np.vec_id AS query_id, cc.vec_id AS corpus_id
             |  FROM qc$np JOIN cc USING (cell)
             |  WHERE cc.vec_id <> qc$np.vec_id),
             |p$np AS (
             |  SELECT query_id, corpus_id,
             |         list_reduce(list_prepend(0.0,
             |           list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
             |           (a, b) -> a + b) / (c.nrm * q.nrm) AS cos
             |  FROM cand$np JOIN n c ON c.vec_id = cand$np.corpus_id
             |            JOIN n q ON q.vec_id = cand$np.query_id),
             |appr$np AS (
             |  SELECT query_id, corpus_id FROM (
             |    SELECT query_id, corpus_id,
             |           row_number() OVER (PARTITION BY query_id
             |             ORDER BY cos DESC, corpus_id) AS rank
             |    FROM p$np) WHERE rank <= 5)""".stripMargin
        }.mkString(",\n")
        val tails = Seq(1, 2, 4).map { np =>
          s"""SELECT $np AS nprobe,
             |       CAST(count(a.corpus_id) AS BIGINT) AS n_hits,
             |       CAST(count(*) AS BIGINT) AS n_truth,
             |       CAST(count(a.corpus_id) * 1000000 // count(*) AS BIGINT)
             |         AS recall_ppm
             |FROM tru t LEFT JOIN appr$np a
             |  ON a.query_id = t.query_id AND a.corpus_id = t.corpus_id""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH ${IvfSql.cellCtes(32)},
           |cc AS (SELECT vec_id, cell FROM ranked WHERE r = 1),
           |pt AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
           |         list_reduce(list_prepend(0.0,
           |           list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
           |           (a, b) -> a + b) / (c.nrm * q.nrm) AS cos
           |  FROM n c, n q WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
           |tru AS (
           |  SELECT query_id, corpus_id FROM (
           |    SELECT query_id, corpus_id,
           |           row_number() OVER (PARTITION BY query_id
           |             ORDER BY cos DESC, corpus_id) AS rank
           |    FROM pt) WHERE rank <= 5),
           |$perNp
           |$tails
           |ORDER BY nprobe""".stripMargin
      },
      "IVF nprobe tuning curve: corpus-wide recall@5 at 1/2/4 probed cells"
    ),

    // the other IVF tuning axis: k-means elbow curve. Inertia = Σ per-vec
    // micro-snapped (1 − best cosine) after one Lloyd round at k=8/16/32 —
    // each k replays its full training + assignment in SQL (lloydCtes),
    // the snap makes the corpus total an exact order-free int64
    "emb_kmeans_elbow" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        // overlap the three INDEPENDENT Lloyd drivers (guide §2.6): each
        // k's construction runs bounded nlist-row collects sequentially;
        // submitting them from futures lets one k's reduce backfill the
        // scheduler while another waits on its collect. Results are
        // per-k deterministic and reassembled in Seq order — identical
        // output.
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration._
        implicit val ec: ExecutionContext = ExecutionContext.global
        Await.result(Future.sequence(Seq(8, 16, 32).map { k => Future {
          Similarity.kmeansInertiaMicro(emb, "vec_id", "embedding",
              nlist = k, iters = 1)
            .select(lit(k).as("k"), col("n_vecs"), col("inertia_micro"))
        }}), 10.minutes).reduce(_.unionByName(_)).orderBy("k")
      },
      Some {
        Seq(8, 16, 32).map { k =>
          s"""(WITH ${IvfSql.lloydCtes(k, 1)},
             |best AS (SELECT vec_id, max(cs) AS cs FROM scF GROUP BY vec_id)
             |SELECT CAST($k AS INT) AS k, CAST(count(*) AS BIGINT) AS n_vecs,
             |       CAST(sum(CAST(floor((1 - cs) * 1e6 + 0.5) AS BIGINT))
             |         AS BIGINT) AS inertia_micro
             |FROM best)""".stripMargin
        }.mkString("\nUNION ALL\n") + "\nORDER BY k"
      },
      "k-means elbow: exact micro-unit inertia at k=8/16/32 after one Lloyd round"
    ),

    // clustering-quality readout over the same trained cells: simplified
    // silhouette from the top-2 centroid cosines (a = own-cell distance,
    // b = best-other), micro-snapped so every per-cell aggregate is an
    // exact int64 and the ppm mean uses the shared truncating div
    "emb_silhouette" -> Q(
      (s, dir) =>
        Similarity.centroidSilhouette(t(s, dir, "embeddings"),
            "vec_id", "embedding", nlist = 16, iters = 1)
          .orderBy("cell"),
      Some(s"""WITH ${IvfSql.lloydCtes(16, 1)},
             |r2 AS (
             |  SELECT vec_id, cell, cs,
             |         row_number() OVER (PARTITION BY vec_id
             |           ORDER BY cs DESC, cell) AS r
             |  FROM scF),
             |ab AS (
             |  SELECT a.cell,
             |         CAST(floor((1 - a.cs) * 1e6 + 0.5) AS BIGINT) AS a_u,
             |         CAST(floor((1 - b.cs) * 1e6 + 0.5) AS BIGINT) AS b_u
             |  FROM r2 a JOIN r2 b ON b.vec_id = a.vec_id AND b.r = 2
             |  WHERE a.r = 1),
             |sv AS (
             |  SELECT cell, a_u, b_u,
             |         CASE WHEN greatest(a_u, b_u) = 0 THEN 0
             |              ELSE (b_u - a_u) * 1000000 // greatest(a_u, b_u)
             |         END AS s_ppm
             |  FROM ab)
             |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
             |       CAST(sum(a_u) AS BIGINT) AS sum_a_micro,
             |       CAST(sum(b_u) AS BIGINT) AS sum_b_micro,
             |       CAST(sum(s_ppm) AS BIGINT) AS sum_s_ppm,
             |       CAST(sum(s_ppm) AS BIGINT) // CAST(count(*) AS BIGINT)
             |         AS mean_s_ppm
             |FROM sv GROUP BY cell ORDER BY cell""".stripMargin),
      "centroid silhouette per k-means cell: exact micro-unit a/b + ppm score"
    ),

    // density clustering with noise on the spectral plane: x = kilo-unit
    // PC1 projection, y = floor(sqrt(residual²)) — both exact ints (sqrt
    // is IEEE-correctly-rounded, operands < 2^53), so grid cells, eps²
    // compares, core counts, the component closure, and the pinned
    // min-label border assignment all replay exactly in SQL
    "emb_dbscan" -> Q(
      (s, dir) => dbscanQuery(None)(s, dir),
      Some(dbscanOracleSql(None)),
      "grid-blocked DBSCAN on the PC1/residual plane: core/border/noise + clusters (EXACT form — fixed-eps pair work grows with plane density; emb_dbscan_capped is the production-bounded twin)"
    ),

    // the PRODUCTION-scale twin: the identical pipeline under dbscan2d's
    // deterministic maxCellSize=64 cap — each cell's JOIN-TARGET population
    // is bounded (row_number over id within the cell), probes stay
    // complete so every point is still classified, and pair work becomes
    // O(n·9·cap) = LINEAR in points, the form a 100 TB corpus actually
    // runs. The cap is pure rank algebra, so the FULL oracle replays it
    // (QUALIFY rn <= 64) — this query is hash-gated at every sweep scale,
    // where the exact twin's oracle is sf0.1-only.
    "emb_dbscan_capped" -> Q(
      (s, dir) => dbscanQuery(Some(64))(s, dir),
      Some(dbscanOracleSql(Some(64))),
      "grid-blocked DBSCAN with the deterministic per-cell cap: linear pair work, fully oracle-replayed"
    ),

    // coverage-first coreset: greedy farthest-point selection of 8
    // representatives (Gonzalez k-center). Every round's argmax runs on
    // exact int64 min-L2² distances, ties to the smaller id, so the whole
    // selection trajectory — ids, rounds, AND the maxmin radii — replays
    // in the unrolled SQL
    "emb_kcenter" -> Q(
      (s, dir) =>
        Similarity.kCenterGreedy(t(s, dir, "embeddings"),
            "vec_id", "embedding", k = 8)
          .orderBy("round"),
      Some {
        val k = 8
        def l2(p: String, c: String) =
          s"""list_reduce(list_prepend(0::BIGINT,
             |    list_transform(generate_series(1, 64),
             |      i -> ($p.q[i] - $c.q[i]) * ($p.q[i] - $c.q[i]))),
             |  (a, b) -> a + b)""".stripMargin
        val rounds = (1 until k).map { r =>
          s"""d$r AS MATERIALIZED (
             |  SELECT p.id, min(${l2("p", "c")}) AS d
             |  FROM q p, ch${r - 1} c GROUP BY p.id),
             |pick$r AS (SELECT id, d FROM d$r ORDER BY d DESC, id LIMIT 1),
             |ch$r AS MATERIALIZED (
             |  SELECT * FROM ch${r - 1}
             |  UNION ALL
             |  SELECT $r AS round, q.id, q.q, pick$r.d
             |  FROM q JOIN pick$r ON q.id = pick$r.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS MATERIALIZED (
           |  SELECT vec_id AS id, list_transform(embedding,
           |    x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS q
           |  FROM embeddings),
           |ch0 AS MATERIALIZED (
           |  SELECT 0 AS round, id, q, 0::BIGINT AS d
           |  FROM q ORDER BY id LIMIT 1),
           |$rounds
           |SELECT CAST(round AS INT) AS round, id AS vec_id, d AS dist_u
           |FROM ch${k - 1} ORDER BY round""".stripMargin
      },
      "greedy k-center coreset: 8 farthest-point reps, exact int64 maxmin radii"
    ),

    // vector-DB filtered search: top-5 cosine neighbors AMONG the query's
    // own label class — the predicate gates candidacy before ranking (an
    // attribute-bucketed corpus prunes to matching partitions first)
    "emb_filtered_ann" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.filteredTopK(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", "vec_id", "label", k = 5)
          .select(col("query_id"), col("corpus_id"),
            round(col("cosine"), 4).as("cosine"), col("rank"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH v AS (
             |  SELECT vec_id, label,
             |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings),
             |n AS (
             |  SELECT vec_id, label, e,
             |         sqrt(list_reduce(list_prepend(0.0,
             |           list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
             |  FROM v),
             |p AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             |         list_reduce(list_prepend(0.0,
             |           list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
             |           (a, b) -> a + b) / (c.nrm * q.nrm) AS cos
             |  FROM n c, n q
             |  WHERE q.vec_id < 10 AND c.label = q.label
             |    AND c.vec_id <> q.vec_id),
             |r AS (
             |  SELECT query_id, corpus_id, cos,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY cos DESC, corpus_id) AS rank
             |  FROM p)
             |SELECT query_id, corpus_id, round(cos, 4) + 0 AS cosine, rank
             |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      "label-filtered exact cosine top-5: predicate gates candidacy before ranking"
    ),

    // index-quality evaluation: recall@5 of the LSH index against the
    // brute-force ground truth. Both sides are deterministic (fixed-seed
    // hyperplanes, bit-identical cosines), so the oracle replays the WHOLE
    // eval — bucketing, both rankings, and the ppm recall — in SQL.
    "emb_ann_recall" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 10)
        val truth = Similarity.bruteForceTopK(
          emb, qs, "vec_id", "embedding", "vec_id", k = 5)
        val approx = Similarity.lshTopK(
          emb, qs, "vec_id", "embedding", "vec_id", k = 5, bits = 8, tables = 4)
        Similarity.recallAtK(truth, approx, k = 5).orderBy("query_id")
      },
      Some {
        val planeRows = (for {
          (planes, tb) <- (0 until 4).map(t => Similarity.hyperplanes(64, 8, 42L + t)).zipWithIndex
          (p, bit) <- planes.zipWithIndex
        } yield {
          val arr = p.map(v =>
            String.format(java.util.Locale.ROOT, "%.17g", Double.box(v))).mkString(", ")
          s"($tb, $bit, [$arr])"
        }).mkString(",\n    ")
        s"""WITH planes(table_id, bit, p) AS (VALUES
           |    $planeRows),
           |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           |      FROM embeddings),
           |b AS (
           |  SELECT v.vec_id, pl.table_id,
           |         CAST(sum(CASE WHEN list_reduce(list_prepend(0.0,
           |                list_transform(range(1, 65), i -> v.e[i] * pl.p[i])),
           |                (a, b) -> a + b) >= 0
           |              THEN (CAST(1 AS BIGINT) << pl.bit) ELSE 0 END) AS BIGINT) AS bucket
           |  FROM v, planes pl GROUP BY v.vec_id, pl.table_id),
           |n AS (
           |  SELECT vec_id, e,
           |         sqrt(list_reduce(list_prepend(0.0,
           |           list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
           |  FROM v),
           |cand AS (
           |  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS corpus_id
           |  FROM b cb JOIN b qb ON cb.table_id = qb.table_id AND cb.bucket = qb.bucket
           |  WHERE qb.vec_id < 10 AND cb.vec_id <> qb.vec_id),
           |pl2 AS (
           |  SELECT query_id, corpus_id,
           |         list_reduce(list_prepend(0.0,
           |           list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
           |           (a, b) -> a + b) / (c.nrm * q.nrm) AS cos
           |  FROM cand JOIN n c ON c.vec_id = cand.corpus_id
           |            JOIN n q ON q.vec_id = cand.query_id),
           |rl AS (
           |  SELECT query_id, corpus_id,
           |         row_number() OVER (PARTITION BY query_id
           |           ORDER BY cos DESC, corpus_id) AS rank
           |  FROM pl2),
           |appr AS (SELECT query_id, corpus_id FROM rl WHERE rank <= 5),
           |pt AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
           |         list_reduce(list_prepend(0.0,
           |           list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
           |           (a, b) -> a + b) / (c.nrm * q.nrm) AS cos
           |  FROM n c, n q WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
           |rt AS (
           |  SELECT query_id, corpus_id,
           |         row_number() OVER (PARTITION BY query_id
           |           ORDER BY cos DESC, corpus_id) AS rank
           |  FROM pt),
           |tru AS (SELECT query_id, corpus_id FROM rt WHERE rank <= 5)
           |SELECT t.query_id,
           |       CAST(count(a.corpus_id) AS BIGINT) AS n_hits,
           |       CAST(count(*) AS BIGINT) AS n_truth,
           |       CAST(count(a.corpus_id) * 1000000 // count(*) AS BIGINT) AS recall_ppm
           |FROM tru t LEFT JOIN appr a
           |  ON a.query_id = t.query_id AND a.corpus_id = t.corpus_id
           |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin
      },
      "recall@5 of the LSH index vs brute-force ground truth (fully oracle-replayed)"
    ),

    // the balanced-tree ANN family: RP-tree with per-node MEDIAN splits
    // (leaves stay ~n/16 however skewed the vectors); every split value
    // and leaf id replays in SQL, so candidates + top-5 hits are exact
    "emb_rptree_ann" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.rpTreeStats(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", "vec_id", k = 5, depth = 4)
          .orderBy("query_id")
      },
      Some {
        def arr(p: Array[Double]): String = "[" + p.map(v =>
          String.format(java.util.Locale.ROOT, "%.17g", Double.box(v)))
          .mkString(", ") + "]"
        val dirs = Similarity.hyperplanes(64, 4, 42L)
        val levels = (0 until 4).map { l =>
          s"""p$l AS (
             |  SELECT vec_id, e, leaf,
             |         list_reduce(list_prepend(0.0,
             |           list_transform(range(1, 65),
             |             i -> e[i] * (${arr(dirs(l))})[i])),
             |           (a, b) -> a + b) AS proj
             |  FROM a$l),
             |m$l AS (
             |  SELECT leaf, quantile_cont(proj, 0.5) AS med
             |  FROM p$l GROUP BY leaf),
             |a${l + 1} AS (
             |  SELECT vec_id, e,
             |         leaf * 2 + CASE WHEN proj > med THEN 1 ELSE 0 END AS leaf
             |  FROM p$l JOIN m$l USING (leaf))""".stripMargin
        }.mkString(",\n")
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           |  FROM embeddings),
           |a0 AS (SELECT vec_id, e, 0 AS leaf FROM v),
           |$levels,
           |leaves AS (SELECT vec_id, CAST(leaf AS INT) AS leaf FROM a4),
           |cand AS (
           |  SELECT q.vec_id AS query_id, q.leaf, c.vec_id AS corpus_id
           |  FROM leaves q JOIN leaves c USING (leaf)
           |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
           |n AS (
           |  SELECT vec_id, e,
           |         sqrt(list_reduce(list_prepend(0.0,
           |           list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
           |  FROM v),
           |pt AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
           |         list_reduce(list_prepend(0.0,
           |           list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
           |           (a, b) -> a + b) / (c.nrm * q.nrm) AS cos
           |  FROM n c, n q WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
           |tru AS (
           |  SELECT query_id, corpus_id, CAST(1 AS BIGINT) AS t
           |  FROM (SELECT query_id, corpus_id,
           |          row_number() OVER (PARTITION BY query_id
           |            ORDER BY cos DESC, corpus_id) AS rank FROM pt)
           |  WHERE rank <= 5)
           |SELECT cand.query_id, cand.leaf,
           |       CAST(count(*) AS BIGINT) AS n_cand,
           |       CAST(sum(coalesce(t, 0)) AS BIGINT) AS n_hits
           |FROM cand LEFT JOIN tru USING (query_id, corpus_id)
           |GROUP BY 1, 2 ORDER BY cand.query_id""".stripMargin
      },
      "balanced RP-tree ANN: median splits + leaf recall, fully replayed"
    ),

    // the multiprobe knob measured: candidates + exact-top-5 hits from the
    // query's own bucket (r0) vs + all 1-bit-flip buckets (r1), one table
    "emb_lsh_multiprobe" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.lshMultiprobeStats(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", "vec_id", k = 5, bits = 8)
          .orderBy("query_id")
      },
      Some {
        val planeRows = (for {
          (p, bit) <- Similarity.hyperplanes(64, 8, 42L).zipWithIndex
        } yield {
          val arr = p.map(v =>
            String.format(java.util.Locale.ROOT, "%.17g", Double.box(v))).mkString(", ")
          s"($bit, [$arr])"
        }).mkString(",\n    ")
        s"""WITH planes(bit, p) AS (VALUES
           |    $planeRows),
           |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           |      FROM embeddings),
           |b AS (
           |  SELECT v.vec_id,
           |         CAST(sum(CASE WHEN list_reduce(list_prepend(0.0,
           |                list_transform(range(1, 65), i -> v.e[i] * pl.p[i])),
           |                (a, b) -> a + b) >= 0
           |              THEN (CAST(1 AS BIGINT) << pl.bit) ELSE 0 END) AS BIGINT) AS bucket
           |  FROM v, planes pl GROUP BY v.vec_id),
           |pr AS (
           |  SELECT vec_id AS query_id, f.flip = 0 AS r0,
           |         xor(bucket, f.flip) AS bucket
           |  FROM b, (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS flip) f
           |  WHERE vec_id < 10),
           |cand AS (
           |  SELECT pr.query_id, cb.vec_id AS corpus_id,
           |         CAST(max(CASE WHEN pr.r0 THEN 1 ELSE 0 END) AS BIGINT)
           |           AS in_r0
           |  FROM pr JOIN b cb USING (bucket)
           |  WHERE cb.vec_id <> pr.query_id
           |  GROUP BY 1, 2),
           |n AS (
           |  SELECT vec_id, e,
           |         sqrt(list_reduce(list_prepend(0.0,
           |           list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
           |  FROM v),
           |pt AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
           |         list_reduce(list_prepend(0.0,
           |           list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
           |           (a, b) -> a + b) / (c.nrm * q.nrm) AS cos
           |  FROM n c, n q WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
           |tru AS (
           |  SELECT query_id, corpus_id, CAST(1 AS BIGINT) AS t
           |  FROM (SELECT query_id, corpus_id,
           |          row_number() OVER (PARTITION BY query_id
           |            ORDER BY cos DESC, corpus_id) AS rank FROM pt)
           |  WHERE rank <= 5)
           |SELECT cand.query_id,
           |       CAST(sum(in_r0) AS BIGINT) AS n_cand_r0,
           |       CAST(count(*) AS BIGINT) AS n_cand_r1,
           |       CAST(sum(in_r0 * coalesce(t, 0)) AS BIGINT) AS n_hits_r0,
           |       CAST(sum(coalesce(t, 0)) AS BIGINT) AS n_hits_r1
           |FROM cand LEFT JOIN tru USING (query_id, corpus_id)
           |GROUP BY cand.query_id ORDER BY cand.query_id""".stripMargin
      },
      "multiprobe LSH sweep: radius-0 vs radius-1 candidates and top-5 hits"
    ),

    // full oracle since round 4: subwordCount is plain alternation (the
    // lookaround form was rewritten to regexp_count in r4), the stopword
    // kernel equals list_filter/list_contains by construction, and every
    // ratio in the composite is an integer-count division — so the whole
    // expression tree is replayed operation-for-operation and the doubles
    // are bit-identical before the final round
    "doc_quality" -> Q(
      (s, dir) =>
        graft.ops.Spread.byKey(t(s, dir, "documents"), col("doc_id")).select(
          col("doc_id"),
          round(TextStats.punctRatio(col("text")), 4).as("punct_ratio"),
          round(TextStats.digitRatio(col("text")), 4).as("digit_ratio"),
          TextStats.subwordCount(col("text")).cast("long").as("n_subwords"),
          TextStats.qualityScore(col("text")).as("quality"))
          .orderBy("doc_id"),
      Some(s"""WITH t AS (
              |  SELECT doc_id, text,
              |         list_filter(string_split_regex(trim(text), '\\s+'),
              |                     x -> len(x) > 0) AS toks,
              |         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |                     x -> len(x) > 0) AS ltoks
              |  FROM documents),
              |sig AS (
              |  SELECT doc_id, text, len(toks) AS n,
              |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
              |      (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
              |        / length(text) END AS pr,
              |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
              |      (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
              |        / length(text) END AS dr,
              |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
              |      (length(text) - len(regexp_extract_all(text, '\\s')))::DOUBLE
              |        / len(toks) END AS mwl,
              |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
              |      len(list_filter(ltoks, w -> list_contains(
              |        [${TextStats.StopwordsEn.map("'" + _ + "'").mkString(",")}], w)))::DOUBLE
              |        / len(toks) END AS sr,
              |    len(regexp_extract_all(text,
              |      '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]')) AS n_subwords
              |  FROM t)
              |SELECT doc_id, round(pr, 4) + 0 AS punct_ratio, round(dr, 4) + 0 AS digit_ratio,
              |       n_subwords,
              |       round(least(length(text)::DOUBLE / 500.0, 1.0) * 0.3 +
              |             (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.3 END) * 0.3 +
              |             (1.0 - least(pr * 5.0, 1.0)) * 0.2 +
              |             least(sr * 4.0, 1.0) * 0.2, 6) + 0 AS quality
              |FROM sig ORDER BY doc_id""".stripMargin),
      "quality scoring signals per document (full composite oracle)"
    ),

    // the core slice of doc_quality, kept as the narrow three-signal check
    // (doc_quality now carries the full composite oracle as well)
    "doc_quality_core" -> Q(
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          round(TextStats.punctRatio(col("text")), 4).as("punct_ratio"),
          round(TextStats.digitRatio(col("text")), 4).as("digit_ratio"),
          round(TextStats.meanWordLength(col("text")), 4).as("mean_word_len"))
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |         list_filter(string_split_regex(trim(text), '\s+'),
             |                     x -> len(x) > 0) AS toks
             |  FROM documents)
             |SELECT doc_id,
             |  round(CASE WHEN length(text) = 0 THEN 0.0 ELSE
             |    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
             |      / length(text) END, 4) + 0 AS punct_ratio,
             |  round(CASE WHEN length(text) = 0 THEN 0.0 ELSE
             |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
             |      / length(text) END, 4) + 0 AS digit_ratio,
             |  round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             |    list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks)
             |    END, 4) + 0 AS mean_word_len
             |FROM t ORDER BY doc_id""".stripMargin),
      "oracle-checked quality signals: punctuation/digit ratio, mean word length"
    ),

    "doc_dedup_groups" -> Q(
      (s, dir) =>
        Dedup.nearDupClusters(t(s, dir, "documents"), "doc_id", "text",
            precomputedSigs = Some(docSignatures(s, dir)))
          .orderBy("doc_id"),
      // the oracle rebuilds the WHOLE pipeline: signatures -> bands ->
      // candidate pairs -> est-jaccard >= 0.8 -> transitive closure via
      // recursive CTE; the /32.0 division is a power-of-two, so the
      // threshold compare is exact in both engines. Spark's bounded
      // min-label propagation matches the exact closure because it only
      // exits early on CONVERGENCE (maxIter is a pathological-data guard).
      Some(s"""WITH RECURSIVE ${MinhashSql.sigCtes},
              |${MinhashSql.pairCtes},
              |strong AS (SELECT id_a, id_b FROM est WHERE ej >= 0.8),
              |edges AS (SELECT id_a AS s, id_b AS d FROM strong
              |          UNION ALL SELECT id_b, id_a FROM strong),
              |reach(id, r) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT p.id, e.d FROM reach p JOIN edges e ON p.r = e.s)
              |SELECT id AS doc_id, min(r) AS cluster_id
              |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),
      "near-dup clustering: LSH candidates -> connected components -> cluster ids"
    ),

    // the dedup REPORT a pipeline owner reads: how much mass sits in
    // how-big duplicate clusters (reuses the session signature memo, then
    // two O(#clusters) aggregations)
    "doc_dedup_cluster_sizes" -> Q(
      (s, dir) =>
        Dedup.nearDupClusters(t(s, dir, "documents"), "doc_id", "text",
            precomputedSigs = Some(docSignatures(s, dir)))
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("__sz"))
          .groupBy(col("__sz").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"), sum(col("__sz")).as("n_docs"))
          .orderBy("cluster_size"),
      Some(s"""WITH RECURSIVE ${MinhashSql.sigCtes},
              |${MinhashSql.pairCtes},
              |strong AS (SELECT id_a, id_b FROM est WHERE ej >= 0.8),
              |edges AS (SELECT id_a AS s, id_b AS d FROM strong
              |          UNION ALL SELECT id_b, id_a FROM strong),
              |reach(id, r) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT p.id, e.d FROM reach p JOIN edges e ON p.r = e.s),
              |cl AS (SELECT id AS doc_id, min(r) AS cluster_id
              |       FROM reach GROUP BY id),
              |sz AS (SELECT cluster_id, count(*) AS s FROM cl GROUP BY cluster_id)
              |SELECT CAST(s AS BIGINT) AS cluster_size,
              |       CAST(count(*) AS BIGINT) AS n_clusters,
              |       CAST(sum(s) AS BIGINT) AS n_docs
              |FROM sz GROUP BY s ORDER BY cluster_size""".stripMargin),
      "duplicate-cluster size histogram (dedup mass report)"
    ),

    "ts_upsample_per_series" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("value"))
        Resample.upsample(ev, "ts", java.time.Duration.ofHours(6),
            Resample.Method.Mean, Seq("value"), seriesCols = Seq("user_id"))
          .select(col("user_id"), col("ts").as("bucket"),
            round(col("value"), 4).as("avg_value"))
          .orderBy("user_id", "bucket")
      },
      Some("""SELECT user_id, time_bucket(INTERVAL 6 HOUR, ts) AS bucket,
             |       round(avg(value), 4) + 0 AS avg_value
             |FROM events GROUP BY 1, 2 ORDER BY user_id, bucket""".stripMargin),
      "A1 resample partitioned by series key"
    ),

    "media_stats" -> Q(
      (s, dir) => {
        val media = Multimodal.syntheticMediaTable(s, t(s, dir, "documents"), "doc_id")
        Multimodal.mediaStats(media)
          .select(col("modality"), col("n"), col("total_bytes"),
            round(col("avg_bytes"), 2).as("avg_bytes"))
          .orderBy("modality")
      },
      // payload byte sizes are pinned by the generator: images pad to
      // exactly 2048 B, videos to 4096 B, WAVs are 44 B header + 2 B/sample
      Some("""WITH m AS (
             |  SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
             |              WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
             |         CASE CAST(doc_id % 3 AS INT)
             |           WHEN 0 THEN 2048
             |           WHEN 1 THEN 44 + 1600 * (1 + CAST(doc_id % 4 AS INT))
             |           ELSE 4096 END AS bytes
             |  FROM documents)
             |SELECT modality, count(*) AS n,
             |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
             |       round(avg(bytes), 2) + 0 AS avg_bytes
             |FROM m GROUP BY 1 ORDER BY modality""".stripMargin),
      "multimodal audit: binary payload stats per modality (real payload sizes)"
    ),

    // REAL ImageIO decode of the generator's PNGs: decoded dims must equal
    // the generator's closed-form id formulas — the decode path itself is
    // what the oracle checks
    "media_image_features" -> Q(
      (s, dir) => {
        val media = Multimodal.syntheticMediaTable(s, t(s, dir, "documents"), "doc_id")
        Multimodal.extractImageFeatures(media).toDF()
          .select(col("media_id"), col("width"), col("height"), col("channels"))
          .orderBy("media_id")
      },
      Some("""SELECT CAST(doc_id AS BIGINT) AS media_id,
             |       CAST(8 + doc_id % 17 AS INT) AS width,
             |       CAST(8 + doc_id % 13 AS INT) AS height,
             |       CAST(3 AS INT) AS channels
             |FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id""".stripMargin),
      "real PNG decode + feature extraction, dims oracle-checked"
    ),

    // perceptual near-dup fingerprint over REAL decoded pixels: dHash on
    // an 8x8 area-averaged luma grid (8 rows x 7 column comparisons = 56
    // bits, integer cross-multiplied brightness compares — no float, no
    // sign-bit). The generator's images are per-column gradients with
    // identical rows, so the oracle replays the hash from the closed form
    // (row bands all produce the same 7 bits; h >= 8 keeps every row band
    // non-empty, so the per-band replication is exact)
    "media_dhash" -> Q(
      (s, dir) => {
        val media = Multimodal.syntheticMediaTable(s, t(s, dir, "documents"), "doc_id")
        Multimodal.imageDhash(media, rows = 8, cols = 7).toDF()
          .withColumn("n_same",
            count(lit(1)).over(Window.partitionBy(col("dhash"))))
          .orderBy("media_id")
      },
      Some("""WITH img AS (
             |  SELECT doc_id, 8 + doc_id % 17 AS w
             |  FROM documents WHERE doc_id % 3 = 0),
             |px AS (
             |  SELECT doc_id, w, unnest(range(w)) AS x FROM img),
             |cs AS (
             |  SELECT doc_id, CAST(x * 8 // w AS INT) AS bx,
             |         CAST(sum(1000 * ((x * 7 + doc_id) % 256)) AS BIGINT) AS s,
             |         CAST(count(*) AS BIGINT) AS n
             |  FROM px GROUP BY 1, 2),
             |grid AS (
             |  SELECT doc_id, CAST(c AS INT) AS c
             |  FROM img, (SELECT unnest(range(8)) AS c)),
             |f AS (
             |  SELECT g.doc_id, g.c, coalesce(cs.s, 0) AS s,
             |         coalesce(cs.n, 0) AS n
             |  FROM grid g LEFT JOIN cs ON cs.doc_id = g.doc_id AND cs.bx = g.c),
             |bits AS (
             |  SELECT a.doc_id,
             |         CAST(sum(CASE WHEN a.s * b.n > b.s * a.n
             |                  THEN 1 << a.c ELSE 0 END) AS BIGINT) AS rowbits
             |  FROM f a JOIN f b ON b.doc_id = a.doc_id AND b.c = a.c + 1
             |  WHERE a.c < 7 GROUP BY a.doc_id),
             |h AS (
             |  SELECT doc_id AS media_id,
             |         rowbits * 567382630219905 AS dhash
             |  FROM bits)
             |SELECT media_id, dhash,
             |       CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT) AS n_same
             |FROM h ORDER BY media_id""".stripMargin),
      "perceptual dHash from real decoded pixels, integer-exact, closed-form replay"
    ),

    // REAL byte-level container parsing: the probe walks a genuine ISO BMFF
    // box tree (even ids) / EBML element tree (odd ids) that the generator
    // emitted — brand, mvhd/Info duration, per-trak handler+stsd fourcc /
    // TrackEntry CodecID — and every probed property must equal the
    // generator's closed-form id formula. No decode, no codec dependency.
    "media_container_probe" -> Q(
      (s, dir) => {
        val media = Multimodal.syntheticContainerTable(
          s, t(s, dir, "documents"), "doc_id")
        Multimodal.containerProbe(media).toDF()
          .orderBy("media_id")
      },
      Some("""SELECT CAST(doc_id AS BIGINT) AS media_id,
             |       CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'webm' END
             |         AS container,
             |       CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'webm' END
             |         AS brand,
             |       CAST(500 * (1 + doc_id % 8) AS BIGINT) AS duration_ms,
             |       CAST(1 + (doc_id // 2) % 2 AS INT) AS n_tracks,
             |       CASE WHEN doc_id % 2 = 0
             |            THEN CASE WHEN (doc_id // 4) % 2 = 0
             |                 THEN 'avc1' ELSE 'hev1' END
             |            ELSE CASE WHEN (doc_id // 4) % 2 = 0
             |                 THEN 'V_VP9' ELSE 'V_VP8' END END AS video_codec,
             |       CASE WHEN (doc_id // 2) % 2 = 1
             |            THEN CASE WHEN doc_id % 2 = 0
             |                 THEN 'mp4a' ELSE 'A_OPUS' END END AS audio_codec,
             |       CAST(1024 AS INT) AS payload_bytes
             |FROM documents ORDER BY media_id""".stripMargin),
      "mp4/webm container header probe: box/EBML walk, zero-decode audit"
    ),

    // the probe's fourcc/CodecID wired into the corpus-profile audit:
    // mp4/webm payloads report real container + codec rows, everything
    // else (PNG/WAV/GIF) falls back to its declared mime with null codecs
    // — video payloads no longer count as `unknown` in the profile. The
    // container ids are shifted by 2^40 (divisible by 8, so every
    // closed-form id formula — %2, %8, //2%2, //4%2 — is preserved and the
    // oracle replays from the UNSHIFTED doc_id) to keep the two media
    // planes' id spaces disjoint in the union BY CONSTRUCTION: 2^40 ≈
    // 1.1e12 is far above any doc_id ScaleUp's max-key guard admits
    // (< replicas·1e7), where the previous +1e6 shift relied on the
    // unchecked assumption that per-replica local ids stay below 1e6
    // (round-7 advisor).
    "media_profile" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val m1 = Multimodal.syntheticMediaTable(s, docs, "doc_id")
        val m2 = Multimodal.syntheticContainerTable(
          s, docs.select((col("doc_id") + (1L << 40)).as("doc_id")), "doc_id")
        Multimodal.mediaProfile(m1.union(m2))
          .orderBy("modality", "format", "video_codec", "audio_codec")
      },
      Some("""WITH m AS (
             |  SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
             |              WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
             |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'
             |              WHEN 1 THEN 'audio/wav' ELSE 'image/gif' END AS format,
             |         CAST(NULL AS VARCHAR) AS video_codec,
             |         CAST(NULL AS VARCHAR) AS audio_codec,
             |         0 AS duration_ms,
             |         CASE CAST(doc_id % 3 AS INT)
             |           WHEN 0 THEN 2048
             |           WHEN 1 THEN 44 + 1600 * (1 + CAST(doc_id % 4 AS INT))
             |           ELSE 4096 END AS bytes
             |  FROM documents
             |  UNION ALL
             |  SELECT 'video' AS modality,
             |         CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'webm' END,
             |         CASE WHEN doc_id % 2 = 0
             |              THEN CASE WHEN (doc_id // 4) % 2 = 0
             |                   THEN 'avc1' ELSE 'hev1' END
             |              ELSE CASE WHEN (doc_id // 4) % 2 = 0
             |                   THEN 'V_VP9' ELSE 'V_VP8' END END,
             |         CASE WHEN (doc_id // 2) % 2 = 1
             |              THEN CASE WHEN doc_id % 2 = 0
             |                   THEN 'mp4a' ELSE 'A_OPUS' END END,
             |         500 * (1 + doc_id % 8),
             |         1024
             |  FROM documents)
             |SELECT modality, format, video_codec, audio_codec,
             |       count(*) AS n,
             |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
             |       CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms
             |FROM m GROUP BY 1, 2, 3, 4
             |ORDER BY 1, 2, 3, 4""".stripMargin),
      "corpus media profile: probe-enriched modality/format/codec accounting, every payload in exactly one row"
    ),

    // REAL bilinear resize round-trip: decode the generator's PNG, scale
    // with Graphics2D, re-encode as PNG, decode AGAIN — output dims must be
    // the requested target for every image row
    "media_resize" -> Q(
      (s, dir) => {
        val media = Multimodal.syntheticMediaTable(s, t(s, dir, "documents"), "doc_id")
        val resized = Multimodal.resizeImages(media, 16, 12)
        Multimodal.extractImageFeatures(resized).toDF()
          .select(col("media_id"), col("width"), col("height"), col("channels"))
          .orderBy("media_id")
      },
      Some("""SELECT CAST(doc_id AS BIGINT) AS media_id,
             |       CAST(16 AS INT) AS width, CAST(12 AS INT) AS height,
             |       CAST(3 AS INT) AS channels
             |FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id""".stripMargin),
      "real resize round-trip: resized payloads re-decode to the target dims"
    ),

    // REAL javax.sound decode of the generator's canonical WAVs: duration,
    // rate, channels and the square wave's exact rms (amplitude/32768 —
    // powers of two, no float rounding on either engine)
    "media_audio_features" -> Q(
      (s, dir) => {
        val media = Multimodal.syntheticMediaTable(s, t(s, dir, "documents"), "doc_id")
        Multimodal.extractAudioFeatures(media).toDF()
          .select(col("media_id"), col("duration_ms"), col("sample_rate"),
            col("channels"), col("rms_level").cast("double").as("rms"))
          .orderBy("media_id")
      },
      Some("""SELECT CAST(doc_id AS BIGINT) AS media_id,
             |       CAST(50 * (1 + doc_id % 4) AS BIGINT) AS duration_ms,
             |       CAST(16000 AS INT) AS sample_rate,
             |       CAST(1 AS INT) AS channels,
             |       CASE WHEN (doc_id // 3) % 2 = 0 THEN 0.5 ELSE 0.25 END AS rms
             |FROM documents WHERE doc_id % 3 = 1 ORDER BY media_id""".stripMargin),
      "real WAV decode: duration/rate/channels/rms oracle-checked"
    ),

    // REAL animated-GIF frame extraction: the generator writes 2 + (id/3)%3
    // frames at 250 cs (2500 ms) apart; with everyMs=2000 every frame is at
    // or past its sampling boundary, so exactly nFrames rows come back with
    // the metadata-derived timestamps
    "media_frame_sample" -> Q(
      (s, dir) => {
        val media = Multimodal.syntheticMediaTable(s, t(s, dir, "documents"), "doc_id")
        Multimodal.sampleFrames(media, everyMs = 2000L, maxFrames = 4).toDF()
          .select(col("media_id"), col("frame_index"), col("frame_ts_ms"))
          .orderBy("media_id", "frame_index")
      },
      Some("""WITH v AS (
             |  SELECT CAST(doc_id AS BIGINT) AS media_id,
             |         2 + CAST((doc_id // 3) % 3 AS INT) AS nf
             |  FROM documents WHERE doc_id % 3 = 2),
             |f AS (SELECT media_id, unnest(range(0, nf)) AS i FROM v)
             |SELECT media_id, CAST(i AS INT) AS frame_index,
             |       CAST(i * 2500 AS BIGINT) AS frame_ts_ms
             |FROM f ORDER BY media_id, frame_index""".stripMargin),
      "real GIF multi-frame decode, frame count + timestamps oracle-checked"
    ),

    // ========= smoothing / drift / downsampling analytics (ts extras) =========

    "ts_ewma" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        Smooth.ewma(ev, Seq("ts", "event_id"), "value", alpha = 0.1,
            window = 64, seriesCols = Seq("user_id"))
          .select(col("event_id"), round(col("ewma"), 4).as("ewma"))
          .orderBy("event_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id,
             |         array_agg(value) OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id
             |           ROWS BETWEEN 63 PRECEDING AND CURRENT ROW) AS l
             |  FROM events)
             |SELECT event_id,
             |       round((SELECT sum(u.x * pow(0.9, len(b.l) - u.rn)) /
             |                     sum(CASE WHEN u.x IS NULL THEN 0
             |                         ELSE pow(0.9, len(b.l) - u.rn) END)
             |              FROM (SELECT unnest(b.l) AS x,
             |                           generate_subscripts(b.l, 1) AS rn) u), 4) + 0
             |         AS ewma
             |FROM b ORDER BY event_id""".stripMargin),
      "span-limited EWMA (pandas ewm(alpha, adjust=True) semantics), one keyed window"
    ),

    "ts_cusum" -> Q(
      (s, dir) => {
        // integer cents input: the series sum is then order-independent and
        // exact, so the mean (and every deviation term) is engine-identical;
        // only running-sum fold order remains, ~1e-9 on these magnitudes
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
        // NO round(): the integer-exact cusum is a bit-identical double in
        // any engine (exact integer numerator, one rounded divide), while
        // round() itself diverges on exact .xxxx5 grid values (Spark rounds
        // the shortest-decimal repr, DuckDB the binary double)
        Smooth.cusum(ev, Seq("ts", "event_id"), "cents",
            seriesCols = Seq("user_id"))
          .select(col("event_id"), (col("cusum") / 100).as("cusum"))
          .orderBy("event_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id, user_id, ts,
             |         CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events),
             |m AS (
             |  SELECT event_id,
             |         sum(cents) OVER (PARTITION BY user_id) AS s,
             |         count(*) OVER (PARTITION BY user_id) AS n,
             |         sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs,
             |         count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rc
             |  FROM b)
             |SELECT event_id,
             |       CAST(n * rs - rc * s AS DOUBLE) / CAST(n AS DOUBLE) / 100
             |         AS cusum
             |FROM m ORDER BY event_id""".stripMargin),
      "CUSUM drift statistic: running sum of deviations from the series mean"
    ),

    "ts_rolling_autocorr" -> Q(
      (s, dir) => {
        // cents input (the ts_cusum convention): the six frame sums are then
        // exact integers, Pearson's closed form is engine-identical, and the
        // whole statistic is O(1) per row (difference of running sums)
        // instead of Spark's O(window) per-row frame re-aggregation.
        // The oracle's `round(...) + 0` normalizes IEEE signed zero: a tiny
        // negative autocorrelation rounds to -0.0 under DuckDB's binary round
        // but +0.0 under Spark's BigDecimal round (no signed zero), and the
        // driver hashes bits. `-0.0 + 0.0 == +0.0` exactly; NULL stays NULL.
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
        Smooth.rollingAutocorrExact(ev, Seq("ts", "event_id"), "cents",
            window = 32, seriesCols = Seq("user_id"))
          .select(col("event_id"), round(col("autocorr"), 4).as("autocorr"))
          .orderBy("event_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id, user_id, ts,
             |         CAST(round(value * 100) AS BIGINT) AS x,
             |         lag(CAST(round(value * 100) AS BIGINT)) OVER w1 AS u
             |  FROM events
             |  WINDOW w1 AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |c AS (
             |  SELECT event_id, user_id, ts,
             |         sum(CASE WHEN u IS NULL THEN 0 ELSE 1 END) OVER wr AS cn,
             |         sum(CASE WHEN u IS NULL THEN 0 ELSE x END) OVER wr AS cx,
             |         sum(CASE WHEN u IS NULL THEN 0 ELSE u END) OVER wr AS cu,
             |         sum(CASE WHEN u IS NULL THEN 0 ELSE x * u END) OVER wr AS cxu,
             |         sum(CASE WHEN u IS NULL THEN 0 ELSE x * x END) OVER wr AS cxx,
             |         sum(CASE WHEN u IS NULL THEN 0 ELSE u * u END) OVER wr AS cuu
             |  FROM b
             |  WINDOW wr AS (PARTITION BY user_id ORDER BY ts, event_id
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |d AS (
             |  SELECT event_id,
             |         CAST(cn - coalesce(lag(cn, 32) OVER w1, 0) AS BIGINT) AS n,
             |         CAST(cx - coalesce(lag(cx, 32) OVER w1, 0) AS BIGINT) AS sx,
             |         CAST(cu - coalesce(lag(cu, 32) OVER w1, 0) AS BIGINT) AS su,
             |         CAST(cxu - coalesce(lag(cxu, 32) OVER w1, 0) AS BIGINT) AS sxu,
             |         CAST(cxx - coalesce(lag(cxx, 32) OVER w1, 0) AS BIGINT) AS sxx,
             |         CAST(cuu - coalesce(lag(cuu, 32) OVER w1, 0) AS BIGINT) AS suu
             |  FROM c
             |  WINDOW w1 AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT event_id,
             |       round(CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
             |                   AND n * suu - su * su > 0
             |             THEN CAST(n * sxu - sx * su AS DOUBLE) /
             |                  sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
             |                       CAST(n * suu - su * su AS DOUBLE))
             |             END, 4) + 0 AS autocorr
             |FROM d ORDER BY event_id""".stripMargin),
      "rolling lag-1 autocorrelation, exact-integer closed form, O(1)/row"
    ),

    // rolling distribution shape: skewness + excess kurtosis from four
    // running power sums (the autocorr kernel, higher-moment edition).
    // Whole-unit integer input (skew/kurt are scale-invariant, and
    // (32·560)^4 clears the int64 M4 headroom where cents would not);
    // the doubles are a fixed IEEE sequence over exact integer numerators
    // so no terminal round is needed at all (the ts_cusum convention).
    "ts_rolling_moments" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value")).cast("long").as("units"))
        Smooth.rollingMomentsExact(ev, Seq("ts", "event_id"), "units",
            window = 32, seriesCols = Seq("user_id"))
          .select(col("event_id"), col("m2_num"), col("m3_num"),
            col("m4_num"), col("skew"), col("kurt"))
          .orderBy("event_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id, user_id, ts,
             |         CAST(round(value) AS BIGINT) AS x
             |  FROM events),
             |f AS (
             |  SELECT event_id,
             |         CAST(count(*) OVER wr AS BIGINT) AS n,
             |         CAST(sum(x) OVER wr AS BIGINT) AS s1,
             |         CAST(sum(x * x) OVER wr AS BIGINT) AS s2,
             |         CAST(sum(x * x * x) OVER wr AS BIGINT) AS s3,
             |         CAST(sum(x * x * x * x) OVER wr AS BIGINT) AS s4
             |  FROM b
             |  WINDOW wr AS (PARTITION BY user_id ORDER BY ts, event_id
             |                ROWS BETWEEN 31 PRECEDING AND CURRENT ROW)),
             |m AS (
             |  SELECT event_id,
             |         n,
             |         n * s2 - s1 * s1 AS m2_num,
             |         n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
             |           AS m3_num,
             |         n * n * n * s4 - 4 * n * n * s1 * s3
             |           + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
             |           AS m4_num
             |  FROM f)
             |SELECT event_id, m2_num, m3_num, m4_num,
             |       CASE WHEN n >= 2 AND m2_num > 0
             |            THEN CAST(m3_num AS DOUBLE) /
             |                 (CAST(m2_num AS DOUBLE) *
             |                  sqrt(CAST(m2_num AS DOUBLE))) END AS skew,
             |       CASE WHEN n >= 2 AND m2_num > 0
             |            THEN CAST(m4_num AS DOUBLE) /
             |                 (CAST(m2_num AS DOUBLE) * CAST(m2_num AS DOUBLE))
             |                 - 3.0 END AS kurt
             |FROM m ORDER BY event_id""".stripMargin),
      "rolling skewness/kurtosis: exact integer central-moment numerators, O(1)/row"
    ),

    // tokenizer-design eval: what share of all token occurrences a top-k
    // vocabulary covers. Global windows run over the vocab-bounded
    // frequency table only (the repo's standing exception); the corpus
    // pass is one map-side-combined groupBy.
    "doc_vocab_coverage" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wf = t(s, dir, "documents")
          .select(explode(Dedup.tokens(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cf"))
        val ord = Window.orderBy(desc("cf"), col("word"))
        wf.withColumn("rk", row_number().over(ord))
          .withColumn("cum",
            sum("cf").over(ord.rowsBetween(Window.unboundedPreceding, 0)))
          .crossJoin(broadcast(wf.agg(sum("cf").as("total_cf"))))
          .filter(col("rk").isin(1, 5, 10, 25))
          .select(col("rk").cast("long").as("vocab_k"),
            col("cum").as("cum_cf"), col("total_cf"),
            expr("(cum * 1000000) div total_cf").as("coverage_ppm"))
          .orderBy("vocab_k")
      },
      Some("""WITH toks AS (
             |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
             |                                               '\s+'),
             |                x -> len(x) > 0)) AS word
             |  FROM documents),
             |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS cf
             |       FROM toks GROUP BY word),
             |r AS (
             |  SELECT cf,
             |         row_number() OVER (ORDER BY cf DESC, word) AS rk,
             |         sum(cf) OVER (ORDER BY cf DESC, word
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |         sum(cf) OVER () AS total
             |  FROM wf)
             |SELECT CAST(rk AS BIGINT) AS vocab_k, CAST(cum AS BIGINT) AS cum_cf,
             |       CAST(total AS BIGINT) AS total_cf,
             |       CAST((cum * 1000000) // total AS BIGINT) AS coverage_ppm
             |FROM r WHERE rk IN (1, 5, 10, 25) ORDER BY vocab_k""".stripMargin),
      "top-k vocabulary coverage of token occurrences, exact ppm curve"
    ),

    // crawl-increment novelty: distinct 5-grams of the batch never seen in
    // the standing corpus (the additive complement of contamination)
    "doc_ngram_novelty" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Corpus.ngramNovelty(
            docs.filter(col("doc_id") % 5 =!= 0),
            docs.filter(col("doc_id") % 5 === 0),
            "doc_id", "text", n = 5)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> len(x) > 0) AS t
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(
             |    range(1, len(t) - 3),
             |    i -> array_to_string(t[i:i+4], ' ')))) AS s
             |  FROM toks WHERE len(t) >= 5),
             |h AS (
             |  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS hm
             |  FROM sh),
             |seen AS (SELECT DISTINCT hm FROM h WHERE doc_id % 5 <> 0),
             |b AS (SELECT doc_id, seen.hm AS sm
             |      FROM h LEFT JOIN seen ON h.hm = seen.hm
             |      WHERE doc_id % 5 = 0)
             |SELECT doc_id, count(*) AS n_ngrams,
             |       CAST(sum(CASE WHEN sm IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_novel,
             |       CAST((sum(CASE WHEN sm IS NULL THEN 1 ELSE 0 END) * 1000000)
             |         // count(*) AS BIGINT) AS novelty_ppm
             |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "batch-vs-corpus distinct 5-gram novelty, exact ppm per batch doc"
    ),

    // cross-source score calibration: raw quality scores aren't comparable
    // across sources (different length/style priors), so mixing decisions
    // use the within-source rank quantile instead — integer-exact ppm,
    // ties broken by doc_id (total order; the score itself is hash-green
    // engine-identical so the ordering is too)
    "doc_quality_calibrated" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source")
        graft.ops.Spread.byKey(t(s, dir, "documents"), col("doc_id"))
          .select(col("doc_id"), col("source"),
            TextStats.qualityScore(col("text")).as("quality"))
          .withColumn("rn",
            row_number().over(w.orderBy(col("quality"), col("doc_id"))))
          .withColumn("n", count(lit(1)).over(w))
          .select(col("doc_id"), col("source"), col("quality"),
            // row_number() is INT: (rn-1)*1e6 wraps 32-bit once a source
            // group passes ~2147 docs — green at sf0.1 (~1250/source),
            // ANSI-thrown at the sf1 sweep. Widen BEFORE the multiply.
            when(col("n") === 1, lit(500000L))
              .otherwise(expr(
                "((CAST(rn AS BIGINT) - 1) * 1000000) div (n - 1)"))
              .as("calib_ppm"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, source, text,
              |         list_filter(string_split_regex(trim(text), '\\s+'),
              |                     x -> len(x) > 0) AS toks,
              |         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              |                     x -> len(x) > 0) AS ltoks
              |  FROM documents),
              |sig AS (
              |  SELECT doc_id, source, text, len(toks) AS n,
              |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
              |      (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
              |        / length(text) END AS pr,
              |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
              |      (length(text) - len(regexp_extract_all(text, '\\s')))::DOUBLE
              |        / len(toks) END AS mwl,
              |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
              |      len(list_filter(ltoks, w -> list_contains(
              |        [${TextStats.StopwordsEn.map("'" + _ + "'").mkString(",")}], w)))::DOUBLE
              |        / len(toks) END AS sr
              |  FROM t),
              |qa AS (
              |  SELECT doc_id, source,
              |         round(least(length(text)::DOUBLE / 500.0, 1.0) * 0.3 +
              |               (CASE WHEN mwl BETWEEN 3.0 AND 10.0
              |                     THEN 1.0 ELSE 0.3 END) * 0.3 +
              |               (1.0 - least(pr * 5.0, 1.0)) * 0.2 +
              |               least(sr * 4.0, 1.0) * 0.2, 6) + 0 AS quality
              |  FROM sig),
              |r AS (
              |  SELECT doc_id, source, quality,
              |         row_number() OVER (PARTITION BY source
              |           ORDER BY quality, doc_id) AS rn,
              |         count(*) OVER (PARTITION BY source) AS n
              |  FROM qa)
              |SELECT doc_id, source, quality,
              |       CAST(CASE WHEN n = 1 THEN 500000
              |            ELSE ((rn - 1) * 1000000) // (n - 1) END AS BIGINT)
              |         AS calib_ppm
              |FROM r ORDER BY doc_id""".stripMargin),
      "within-source rank-quantile calibration of the quality score, exact ppm"
    ),

    // semi-structured path: schema'd from_json over the props column
    // (codegen'd JsonToStructs, no UDF), grouped stats per extracted
    // k-decade — the parse-then-aggregate shape event pipelines run
    "rel_events_props" -> Q(
      (s, dir) =>
        t(s, dir, "events")
          .select(
            from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
              .getItem("k").as("k"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy(expr("k div 10").as("k_decade"))
          .agg(count(lit(1)).as("n"), countDistinct(col("k")).as("n_k"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"),
            sum(col("cents")).as("sum_cents"))
          .orderBy("k_decade"),
      Some("""WITH b AS (
             |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             |         CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events)
             |SELECT k // 10 AS k_decade, CAST(count(*) AS BIGINT) AS n,
             |       CAST(count(DISTINCT k) AS BIGINT) AS n_k,
             |       min(k) AS min_k, max(k) AS max_k,
             |       CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM b GROUP BY 1 ORDER BY k_decade""".stripMargin),
      "JSON property extraction (schema'd from_json) + grouped aggregation"
    ),

    // matryoshka-style dimension-truncation eval: recall@5 of brute-force
    // search over the FIRST 16 of 64 dims vs the full-dim ground truth —
    // quantifies what a 4x cheaper truncated index costs, before anyone
    // ships it. Same exact-integer recall harness as emb_ann_recall.
    "emb_mrl_recall" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val short = emb.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("embedding"))
        val qs = emb.filter(col("vec_id") < 10)
        val qsShort = short.filter(col("vec_id") < 10)
        val truth = Similarity.bruteForceTopK(
          emb, qs, "vec_id", "embedding", "vec_id", k = 5)
        val approx = Similarity.bruteForceTopK(
          short, qsShort, "vec_id", "embedding", "vec_id", k = 5)
        Similarity.recallAtK(truth, approx, k = 5).orderBy("query_id")
      },
      Some("""WITH v AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings),
             |n AS (
             |  SELECT vec_id, e,
             |         sqrt(list_reduce(list_prepend(0.0,
             |           list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
             |  FROM v),
             |n16 AS (
             |  SELECT vec_id, e[1:16] AS e,
             |         sqrt(list_reduce(list_prepend(0.0,
             |           list_transform(e[1:16], x -> x * x)), (a, b) -> a + b))
             |           AS nrm
             |  FROM v),
             |pa AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             |         list_reduce(list_prepend(0.0,
             |           list_transform(range(1, 17), i -> c.e[i] * q.e[i])),
             |           (a, b) -> a + b) / (c.nrm * q.nrm) AS cos
             |  FROM n16 c, n16 q WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
             |ra AS (
             |  SELECT query_id, corpus_id,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY cos DESC, corpus_id) AS rank
             |  FROM pa),
             |appr AS (SELECT query_id, corpus_id FROM ra WHERE rank <= 5),
             |pt AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             |         list_reduce(list_prepend(0.0,
             |           list_transform(range(1, 65), i -> c.e[i] * q.e[i])),
             |           (a, b) -> a + b) / (c.nrm * q.nrm) AS cos
             |  FROM n c, n q WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
             |rt AS (
             |  SELECT query_id, corpus_id,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY cos DESC, corpus_id) AS rank
             |  FROM pt),
             |tru AS (SELECT query_id, corpus_id FROM rt WHERE rank <= 5)
             |SELECT t.query_id,
             |       CAST(count(a.corpus_id) AS BIGINT) AS n_hits,
             |       CAST(count(*) AS BIGINT) AS n_truth,
             |       CAST(count(a.corpus_id) * 1000000 // count(*) AS BIGINT)
             |         AS recall_ppm
             |FROM tru t LEFT JOIN appr a
             |  ON a.query_id = t.query_id AND a.corpus_id = t.corpus_id
             |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin),
      "dimension-truncation (16/64) top-5 recall vs full-dim ground truth"
    ),

    // split-leakage audit: near-dup candidate pairs (MinHash-LSH, est
    // jaccard >= 0.8) bucketed by the split assignments of their two docs —
    // cross-split rows are evaluation contamination the split hash can't
    // prevent (near-dups hash independently). Composes two hash-green
    // components; the oracle replays both and the join.
    "doc_split_leakage" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
            precomputedSigs = Some(docSignatures(s, dir)))
          .filter(col("est_jaccard") >= 0.8)
        val splits = docs.select(col("doc_id"),
          Corpus.splitAssign(col("text")).as("split"))
        pairs
          .join(splits.withColumnRenamed("split", "sa"),
            col("id_a") === col("doc_id")).drop("doc_id")
          .join(splits.withColumnRenamed("split", "sb"),
            col("id_b") === col("doc_id")).drop("doc_id")
          .select(least(col("sa"), col("sb")).as("split_lo"),
            greatest(col("sa"), col("sb")).as("split_hi"))
          .groupBy("split_lo", "split_hi")
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("leak", col("split_lo") =!= col("split_hi"))
          .orderBy("split_lo", "split_hi")
      },
      Some(s"""WITH ${MinhashSql.sigCtes},
              |${MinhashSql.pairCtes},
              |sp AS (
              |  SELECT doc_id,
              |         CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 90
              |              THEN 'train'
              |              WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 95
              |              THEN 'val' ELSE 'test' END AS split
              |  FROM documents),
              |lk AS (
              |  SELECT least(a.split, b.split) AS split_lo,
              |         greatest(a.split, b.split) AS split_hi
              |  FROM est JOIN sp a ON a.doc_id = est.id_a
              |           JOIN sp b ON b.doc_id = est.id_b
              |  WHERE ej >= 0.8)
              |SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
              |       split_lo <> split_hi AS leak
              |FROM lk GROUP BY 1, 2 ORDER BY split_lo, split_hi""".stripMargin),
      "near-dup pairs crossing the train/val/test split: the leakage audit"
    ),

    // top-50 inverted-index postings: cf/df + capped sorted doc-id lists;
    // the cap is enforced BEFORE collection so no stopword ever buffers
    // its full posting set
    "doc_inverted_postings" -> Q(
      (s, dir) =>
        graft.ops.TextStats.invertedPostings(
            t(s, dir, "documents"), "doc_id", "text", postingsCap = 5)
          .orderBy(desc("cf"), col("word"))
          .limit(50),
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |         unnest(list_filter(string_split_regex(lower(trim(text)),
             |                                               '\s+'),
             |                x -> len(x) > 0)) AS word
             |  FROM documents),
             |st AS (
             |  SELECT word, CAST(count(*) AS BIGINT) AS cf,
             |         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
             |  FROM toks GROUP BY word),
             |p AS (SELECT DISTINCT word, doc_id FROM toks),
             |c AS (
             |  SELECT word, doc_id,
             |         row_number() OVER (PARTITION BY word ORDER BY doc_id) AS rn
             |  FROM p),
             |po AS (
             |  SELECT word,
             |         array_to_string(list(doc_id ORDER BY doc_id), ',')
             |           AS postings
             |  FROM c WHERE rn <= 5 GROUP BY word)
             |SELECT st.word AS word, cf, df, postings
             |FROM st JOIN po USING (word)
             |ORDER BY cf DESC, word LIMIT 50""".stripMargin),
      "inverted-index build: top-50 terms with capped sorted posting lists"
    ),

    // pre-join cardinality estimation: CMS inner product over the join
    // keys of both relations vs the exact join size — the sketch check a
    // pipeline runs BEFORE committing to an expensive shuffle join
    "rel_join_size_estimate" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_orderkey"))
        val o = t(s, dir, "orders").select(col("o_orderkey"))
        // ONE per-key aggregation per side feeds BOTH the sketch build and
        // the exact join size (round 13, guide §2.3): the CMS bucket is a
        // function of the key alone, so hashing each DISTINCT key once and
        // summing the carried count gives bit-identical sketch rows at
        // 1/multiplicity of the md5 + explode volume (lineitem ~4 rows per
        // orderkey). The identical groupBy subtree under both consumers is
        // shared via exchange reuse — no second scan of the fact table.
        val lc = li.groupBy("l_orderkey").agg(count(lit(1)).as("__nl"))
        val oc = o.groupBy("o_orderkey").agg(count(lit(1)).as("__no"))
        val est = Sketch.cmsJoinSizeEstimate(
          Sketch.cmsBuildWeighted(lc, "l_orderkey", "__nl",
            depth = 4, width = 1024),
          Sketch.cmsBuildWeighted(oc, "o_orderkey", "__no",
            depth = 4, width = 1024))
        val exact = lc
          .join(oc, col("l_orderkey") === col("o_orderkey"))
          .agg(sum(col("__nl") * col("__no")).as("join_size_exact"))
        est.crossJoin(exact)
          .withColumn("overest_ppm",
            expr("((join_size_est - join_size_exact) * 1000000) div join_size_exact"))
      },
      Some("""WITH ska AS (
             |  SELECT r, ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)),
             |                            r * 8 + 1, 8))::BIGINT % 1024 AS bucket,
             |         count(*) AS cnt
             |  FROM lineitem CROSS JOIN range(4) t(r) GROUP BY 1, 2),
             |skb AS (
             |  SELECT r, ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
             |                            r * 8 + 1, 8))::BIGINT % 1024 AS bucket,
             |         count(*) AS cnt
             |  FROM orders CROSS JOIN range(4) t(r) GROUP BY 1, 2),
             |ip AS (
             |  SELECT a.r, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS ip
             |  FROM ska a JOIN skb b ON a.r = b.r AND a.bucket = b.bucket
             |  GROUP BY a.r),
             |e AS (SELECT CAST(min(ip) AS BIGINT) AS join_size_est FROM ip),
             |x AS (SELECT CAST(count(*) AS BIGINT) AS join_size_exact
             |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
             |SELECT join_size_est, join_size_exact,
             |       CAST(((join_size_est - join_size_exact) * 1000000)
             |            // join_size_exact AS BIGINT) AS overest_ppm
             |FROM e CROSS JOIN x""".stripMargin),
      "CMS inner-product join-size estimate vs exact, overestimate in ppm"
    ),

    // HLL set algebra: audience overlap of two event segments by
    // inclusion-exclusion over register merges, next to the exact answer —
    // the "shared users between cohorts" question at sketch cost
    "rel_hll_overlap" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        def seg(tp: String) = ev.filter(col("event_type") === tp)
          .select(col("user_id")).withColumn("g", lit("x"))
        val a = seg("view")
        val b = seg("purchase")
        def est(df: DataFrame) = Sketch.hllEstimate(
          Sketch.hllRegisters(df, "user_id", Seq("g")), Seq("g"))
        val estA = est(a).select(col("hll_est").as("est_a"))
        val estB = est(b).select(col("hll_est").as("est_b"))
        val estU = est(a.unionByName(b)).select(col("hll_est").as("est_union"))
        val exact = a.select("user_id").distinct()
          .join(b.select("user_id").distinct(), Seq("user_id"))
          .agg(count(lit(1)).as("n_overlap_exact"))
        val na = a.agg(countDistinct(col("user_id")).as("n_a_exact"))
        val nb = b.agg(countDistinct(col("user_id")).as("n_b_exact"))
        na.crossJoin(nb).crossJoin(exact)
          .crossJoin(estA).crossJoin(estB).crossJoin(estU)
          .withColumn("est_overlap", col("est_a") + col("est_b") - col("est_union"))
      },
      Some("""WITH a AS (SELECT DISTINCT user_id FROM events
             |           WHERE event_type = 'view'),
             |b AS (SELECT DISTINCT user_id FROM events
             |      WHERE event_type = 'purchase'),
             |u AS (SELECT user_id FROM a UNION SELECT user_id FROM b),
             |ha AS (SELECT 'a' AS s, user_id FROM a
             |       UNION ALL SELECT 'b', user_id FROM b
             |       UNION ALL SELECT 'u', user_id FROM u),
             |h AS (
             |  SELECT s,
             |         ('0x' || substr(md5('hll|' || user_id), 1, 15))::BIGINT AS h
             |  FROM ha),
             |r AS (
             |  SELECT s, h % 64 AS bucket,
             |         CASE WHEN h // 64 = 0 THEN 55
             |              ELSE 55 - length(bin(h // 64)) END AS rho
             |  FROM h),
             |regs AS (SELECT s, bucket, max(rho) AS m_j FROM r GROUP BY 1, 2),
             |g AS (
             |  SELECT s, count(*) AS present,
             |         sum((1::BIGINT) << (55 - m_j)) AS sp
             |  FROM regs GROUP BY 1),
             |e AS (
             |  SELECT s, CAST(64 - present AS INT) AS v_zero,
             |         CAST(sp + (64 - present) * ((1::BIGINT) << 55) AS BIGINT)
             |           AS hs
             |  FROM g),
             |f AS (
             |  SELECT s, v_zero, hs,
             |         CAST(floor(CAST(2905456640 AS DOUBLE)
             |           * CAST(36028797018963968 AS DOUBLE)
             |           / CAST(hs AS DOUBLE)) AS BIGINT) AS raw_u
             |  FROM e),
             |est AS (
             |  SELECT s,
             |         (CASE WHEN v_zero > 0 AND raw_u < 160000000
             |           THEN 64 * (4158883 - CAST(round(ln(v_zero) * 1e6, 0) AS BIGINT))
             |           ELSE raw_u END) // 1000000 AS hll_est
             |  FROM f)
             |SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a_exact,
             |       (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b_exact,
             |       (SELECT CAST(count(*) AS BIGINT)
             |        FROM a JOIN b USING (user_id)) AS n_overlap_exact,
             |       (SELECT hll_est FROM est WHERE s = 'a') AS est_a,
             |       (SELECT hll_est FROM est WHERE s = 'b') AS est_b,
             |       (SELECT hll_est FROM est WHERE s = 'u') AS est_union,
             |       (SELECT hll_est FROM est WHERE s = 'a')
             |         + (SELECT hll_est FROM est WHERE s = 'b')
             |         - (SELECT hll_est FROM est WHERE s = 'u') AS est_overlap""".stripMargin),
      "audience overlap: HLL inclusion-exclusion vs exact intersection"
    ),

    // per-shard content checksums (order-independent bit_xor of the
    // portable content hash): the cheap equality proof two replicas of a
    // shard layout can exchange without moving data
    "doc_shard_checksums" -> Q(
      (s, dir) =>
        Corpus.shardAssign(t(s, dir, "documents"), "doc_id", nShards = 8)
          .select(col("shard"),
            Dedup.portableHash64(col("text")).as("h"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("xor_h"),
            min(col("h")).as("min_h"), max(col("h")).as("max_h"))
          .orderBy("shard"),
      Some("""WITH h AS (
             |  SELECT ('0x' || substr(md5('shuf|' || CAST(doc_id AS VARCHAR)), 17, 8))::BIGINT % 8
             |           AS shard,
             |         ('0x' || substr(md5(text), 1, 15))::BIGINT AS th
             |  FROM documents)
             |SELECT CAST(shard AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n,
             |       CAST(bit_xor(th) AS BIGINT) AS xor_h,
             |       min(th) AS min_h, max(th) AS max_h
             |FROM h GROUP BY shard ORDER BY shard""".stripMargin),
      "order-independent per-shard content checksums for replica validation"
    ),

    // rollup pyramid: the DAILY aggregate is computed FROM the hourly
    // (sum, count) partials, never re-reading raw rows — the incremental
    // rollup chain a metrics store maintains; the oracle aggregates raw
    // directly, so the hash proves partial-rollup == recompute
    "ts_resample_pyramid" -> Q(
      (s, dir) => {
        val hourly = t(s, dir, "events")
          .select(col("ts"), round(col("value") * 100).cast("long").as("cents"))
          .groupBy(expr("unix_micros(ts) div 3600000000").as("hr"))
          .agg(sum(col("cents")).as("h_sum"), count(lit(1)).as("h_n"))
        hourly
          .groupBy(expr("hr div 24").as("day"))
          .agg(sum(col("h_sum")).as("d_sum"), sum(col("h_n")).as("d_n"),
            count(lit(1)).as("n_hours"))
          .select(col("day"), col("d_sum"), col("d_n"), col("n_hours"),
            (col("d_sum").cast("double") / col("d_n") / 100).as("d_mean"))
          .orderBy("day")
      },
      Some("""WITH b AS (
             |  SELECT epoch_us(ts) // 3600000000 AS hr,
             |         CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events)
             |SELECT hr // 24 AS day, CAST(sum(cents) AS BIGINT) AS d_sum,
             |       CAST(count(*) AS BIGINT) AS d_n,
             |       CAST(count(DISTINCT hr) AS BIGINT) AS n_hours,
             |       CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / count(*) / 100
             |         AS d_mean
             |FROM b GROUP BY 1 ORDER BY day""".stripMargin),
      "day rollup built from hourly partials == direct daily aggregate"
    ),

    // sequential-pattern mining, depth 3: contiguous event-type trigrams
    // across user journeys, global support counts (the n-gram idea lifted
    // from tokens to behavioral sequences)
    "rel_event_3grams" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("t1", lag(col("event_type"), 2).over(w))
          .withColumn("t2", lag(col("event_type"), 1).over(w))
          .filter(col("t1").isNotNull)
          .select(concat_ws(">", col("t1"), col("t2"), col("event_type"))
            .as("pattern"))
          .groupBy("pattern")
          .agg(count(lit(1)).as("support"))
          .orderBy(desc("support"), col("pattern"))
          .limit(25)
      },
      Some("""WITH l AS (
             |  SELECT user_id, event_type,
             |         lag(event_type, 2) OVER w AS t1,
             |         lag(event_type, 1) OVER w AS t2
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT t1 || '>' || t2 || '>' || event_type AS pattern,
             |       CAST(count(*) AS BIGINT) AS support
             |FROM l WHERE t1 IS NOT NULL
             |GROUP BY 1 ORDER BY support DESC, pattern LIMIT 25""".stripMargin),
      "top-25 contiguous behavioral trigrams with global support counts"
    ),

    // peak detection: strict local maxima with an integer prominence
    // floor over the trailing/leading neighborhood — alarm-worthy spikes,
    // one keyed window
    "ts_peaks" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
          .withColumn("prev", lag(col("cents"), 1).over(w))
          .withColumn("nxt", lead(col("cents"), 1).over(w))
          .withColumn("nbr_min", least(
            min(col("cents")).over(w.rowsBetween(-3, -1)),
            min(col("cents")).over(w.rowsBetween(1, 3))))
        ev.filter(col("prev").isNotNull && col("nxt").isNotNull &&
            col("cents") > col("prev") && col("cents") >= col("nxt") &&
            col("cents") - col("nbr_min") >= 5000)
          .select(col("user_id"), col("event_id"),
            (col("cents") - col("nbr_min")).as("prominence_cents"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id, user_id, ts,
             |         CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events),
             |l AS (
             |  SELECT event_id, user_id, cents,
             |         lag(cents) OVER w AS prev, lead(cents) OVER w AS nxt,
             |         least(min(cents) OVER (w ROWS BETWEEN 3 PRECEDING
             |                                  AND 1 PRECEDING),
             |               min(cents) OVER (w ROWS BETWEEN 1 FOLLOWING
             |                                  AND 3 FOLLOWING)) AS nbr_min
             |  FROM b
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT user_id, event_id,
             |       CAST(cents - nbr_min AS BIGINT) AS prominence_cents
             |FROM l
             |WHERE prev IS NOT NULL AND nxt IS NOT NULL
             |  AND cents > prev AND cents >= nxt AND cents - nbr_min >= 5000
             |ORDER BY user_id, event_id""".stripMargin),
      "strict local maxima with integer prominence floor, one keyed window"
    ),

    // behavioral transition matrix: (previous event_type -> event_type)
    // counts and row-normalized ppm per user journey step
    // where does the behavior chain settle? stationary distribution of
    // the event-type Markov chain by 3 integer power-iteration rounds:
    // transition probabilities in exact ppm, mass in micro-units with
    // per-term floor division — every round engine-identical (the
    // weighted cousin of the PageRank spine, over a states-sized matrix)
    "rel_markov_stationary" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val p = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy("prev_type", "event_type")
          .agg(count(lit(1)).as("__n"))
          .withColumn("p_ppm", expr(
            "(__n * 1000000) div sum(__n) OVER (PARTITION BY prev_type)"))
          .select(col("prev_type"), col("event_type"), col("p_ppm"))
          .localCheckpoint(true)
        val states = p.select(col("prev_type").as("state")).distinct()
        var pi = states
          .withColumn("__cnt",
            count(lit(1)).over(Window.partitionBy(lit(1))))
          .withColumn("pi_micro", expr("1000000000000 div __cnt"))
          .drop("__cnt")
        for (_ <- 1 to 3) {
          pi = p.join(pi, p("prev_type") === pi("state"))
            .select(col("event_type").as("state"),
              expr("(pi_micro * p_ppm) div 1000000").as("__c"))
            .groupBy("state")
            .agg(sum(col("__c")).as("pi_micro"))
        }
        pi.orderBy("state")
      },
      Some("""WITH l AS (
             |  SELECT user_id, event_type,
             |         lag(event_type) OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id) AS prev_type
             |  FROM events),
             |g AS (
             |  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
             |  FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2),
             |p AS (
             |  SELECT prev_type, event_type,
             |         (n * 1000000) // CAST(sum(n)
             |           OVER (PARTITION BY prev_type) AS BIGINT) AS p_ppm
             |  FROM g),
             |r0 AS (
             |  SELECT prev_type AS state,
             |         1000000000000 // (SELECT count(DISTINCT prev_type)
             |                          FROM p) AS pi_micro
             |  FROM (SELECT DISTINCT prev_type FROM p)),
             |r1 AS (
             |  SELECT p.event_type AS state,
             |         CAST(sum((r0.pi_micro * p.p_ppm) // 1000000) AS BIGINT)
             |           AS pi_micro
             |  FROM p JOIN r0 ON r0.state = p.prev_type GROUP BY 1),
             |r2 AS (
             |  SELECT p.event_type AS state,
             |         CAST(sum((r1.pi_micro * p.p_ppm) // 1000000) AS BIGINT)
             |           AS pi_micro
             |  FROM p JOIN r1 ON r1.state = p.prev_type GROUP BY 1),
             |r3 AS (
             |  SELECT p.event_type AS state,
             |         CAST(sum((r2.pi_micro * p.p_ppm) // 1000000) AS BIGINT)
             |           AS pi_micro
             |  FROM p JOIN r2 ON r2.state = p.prev_type GROUP BY 1)
             |SELECT state, pi_micro FROM r3 ORDER BY state""".stripMargin),
      "Markov stationary mass: 3 integer power-iteration rounds in exact ppm"
    ),

    "rel_event_transitions" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy("prev_type", "event_type")
          .agg(count(lit(1)).as("n"))
          .withColumn("row_total",
            sum(col("n")).over(Window.partitionBy("prev_type")))
          .withColumn("p_ppm", expr("(n * 1000000) div row_total"))
          .drop("row_total")
          .orderBy("prev_type", "event_type")
      },
      Some("""WITH l AS (
             |  SELECT user_id, event_type,
             |         lag(event_type) OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id) AS prev_type
             |  FROM events),
             |g AS (
             |  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
             |  FROM l WHERE prev_type IS NOT NULL
             |  GROUP BY 1, 2)
             |SELECT prev_type, event_type, n,
             |       CAST((n * 1000000) // sum(n) OVER (PARTITION BY prev_type)
             |         AS BIGINT) AS p_ppm
             |FROM g ORDER BY prev_type, event_type""".stripMargin),
      "first-order event-type transition matrix with exact ppm probabilities"
    ),

    // latest-version-wins dedup: one row per (user, event_type), the CDC
    // compaction shape (TakeOrdered per key, deterministic tie-break)
    "rel_latest_event" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("ts"), round(col("value") * 100).cast("long").as("cents"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("user_id", "event_type")
              .orderBy(desc("ts"), desc("event_id"))))
          .filter(col("rn") === 1).drop("rn")
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT event_id, user_id, event_type, ts,
             |       CAST(round(value * 100) AS BIGINT) AS cents
             |FROM events
             |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
             |                           ORDER BY ts DESC, event_id DESC) = 1
             |ORDER BY user_id, event_type""".stripMargin),
      "latest-wins compaction per (user, event_type) — the CDC upsert shape"
    ),

    // hour-of-day seasonal envelope: p10/p50/p90 bands per hour (exact
    // interpolated percentiles, the rel_quantiles convention)
    "ts_seasonal_envelope" -> Q(
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(hour(col("ts")).as("hod"))
          .agg(count(lit(1)).as("n"),
            round(expr("percentile(value, 0.1)"), 4).as("p10"),
            round(expr("percentile(value, 0.5)"), 4).as("p50"),
            round(expr("percentile(value, 0.9)"), 4).as("p90"))
          .orderBy("hod"),
      Some("""SELECT hour(ts) AS hod, CAST(count(*) AS BIGINT) AS n,
             |       round(quantile_cont(value, 0.1), 4) + 0 AS p10,
             |       round(quantile_cont(value, 0.5), 4) + 0 AS p50,
             |       round(quantile_cont(value, 0.9), 4) + 0 AS p90
             |FROM events GROUP BY 1 ORDER BY hod""".stripMargin),
      "hour-of-day seasonal percentile envelope for anomaly banding"
    ),

    // per-series OLS trend slope over the observation index (the zipf-OLS
    // integer discipline, per user): exact int64 numerator/denominator,
    // one bit-identical divide
    "ts_trend_slope" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            round(col("value") * 100).cast("long").as("y"))
          .withColumn("x", row_number().over(w).cast("long"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(col("user_id"), col("n"),
            (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
            (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
            when(col("n") * col("sxx") - col("sx") * col("sx") === 0,
              lit(null).cast("double"))
              .otherwise(
                (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                  (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") / 100)
              .as("slope_units_per_step"))
          .orderBy("user_id")
      },
      Some("""WITH b AS (
             |  SELECT user_id,
             |         CAST(row_number() OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id) AS BIGINT) AS x,
             |         CAST(round(value * 100) AS BIGINT) AS y
             |  FROM events),
             |g AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |         CAST(sum(x * y) AS BIGINT) AS sxy,
             |         CAST(sum(x * x) AS BIGINT) AS sxx
             |  FROM b GROUP BY user_id)
             |SELECT user_id, n,
             |       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
             |       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
             |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
             |            ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
             |                 CAST(n * sxx - sx * sx AS DOUBLE) / 100 END
             |         AS slope_units_per_step
             |FROM g ORDER BY user_id""".stripMargin),
      "per-series OLS trend slope, exact-integer normal equations"
    ),

    // robust companion to ts_trend_slope: Theil–Sen median-of-pair-slopes
    // over the bounded 64-point prefix. Each pair slope is ONE IEEE divide
    // of exact integer deltas; the median is the exact interpolated
    // percentile (the rel_quantiles parity pattern) — hash-replayable
    "ts_theilsen_slope" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
        Smooth.theilSen(ev, Seq("ts", "event_id"), "cents",
            seriesCols = Seq("user_id"), maxPoints = 64)
          .select(col("user_id"), col("n_pairs"),
            round(col("slope") / 100, 6).as("slope_units_per_step"))
          // one-partition presentation sort of the 150-row summary: a
          // global orderBy's RANGE exchange SAMPLES its child first,
          // re-executing the whole single-exchange spine (measured ~2x
          // this query); the summary is driver-sized, so sort it there
          .repartition(1).sortWithinPartitions("user_id")
      },
      Some("""WITH b AS (
             |  SELECT user_id,
             |         CAST(row_number() OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id) AS BIGINT) AS x,
             |         CAST(round(value * 100) AS BIGINT) AS y
             |  FROM events),
             |p AS (SELECT user_id, x, y FROM b WHERE x <= 64),
             |pr AS (
             |  SELECT i.user_id,
             |         CAST(j.y - i.y AS DOUBLE) / CAST(j.x - i.x AS DOUBLE) AS s
             |  FROM p i JOIN p j ON i.user_id = j.user_id AND j.x > i.x)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
             |       round(quantile_cont(s, 0.5) / 100, 6) + 0
             |         AS slope_units_per_step
             |FROM pr GROUP BY user_id ORDER BY user_id""".stripMargin),
      "Theil–Sen robust slope: median of pairwise slopes over a bounded prefix"
    ),

    // whole-series ACF at lags 1..5 per user: the periodicity diagnostic
    // run before picking a seasonal window; exact-integer Pearson sums
    "ts_acf" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
        val a = Smooth.acf(ev, Seq("ts", "event_id"), "cents",
          maxLag = 5, seriesCols = Seq("user_id"))
        a.select(col("user_id") +: col("n") +:
            (1 to 5).map(k => round(col(s"acf_$k"), 4).as(s"acf_$k")): _*)
          .orderBy("user_id")
      },
      Some {
        val lagCols = (1 to 5)
          .map(k => s"lag(x, $k) OVER w1 AS u$k").mkString(",\n       ")
        val sums = (1 to 5).map { k =>
          s"""sum(CASE WHEN u$k IS NULL THEN 0 ELSE 1 END) AS n$k,
             |       sum(CASE WHEN u$k IS NULL THEN 0 ELSE x END) AS sx$k,
             |       sum(CASE WHEN u$k IS NULL THEN 0 ELSE u$k END) AS su$k,
             |       sum(CASE WHEN u$k IS NULL THEN 0 ELSE x * u$k END) AS sxu$k,
             |       sum(CASE WHEN u$k IS NULL THEN 0 ELSE x * x END) AS sxx$k,
             |       sum(CASE WHEN u$k IS NULL THEN 0 ELSE u$k * u$k END) AS suu$k""".stripMargin
        }.mkString(",\n       ")
        val acfs = (1 to 5).map { k =>
          // shared exact-decimal Pearson text (Smooth.pearsonExactSql) —
          // no 2^63 cliff in the n·Σ products
          "round(" + Smooth.pearsonExactSql(
            s"n$k", s"sx$k", s"su$k", s"sxu$k", s"sxx$k", s"suu$k")
            .replace("\n", " ") + s", 4) + 0 AS acf_$k"
        }.mkString(",\n       ")
        s"""WITH b AS (
           |  SELECT event_id, user_id, ts,
           |         CAST(round(value * 100) AS BIGINT) AS x
           |  FROM events),
           |l AS (
           |  SELECT user_id, x,
           |       $lagCols
           |  FROM b
           |  WINDOW w1 AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |g AS (
           |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           |       $sums
           |  FROM l GROUP BY user_id)
           |SELECT user_id, n,
           |       $acfs
           |FROM g ORDER BY user_id""".stripMargin
      },
      "per-series ACF at lags 1..5, exact-integer Pearson closed form"
    ),

    // UNKEYED global rolling stats over the whole event timeline: the
    // single-series shape that naively plans as WindowExec "No Partition
    // Defined" (one task for 100 TB). RangeSeries.withGlobalBounded keeps
    // it chunk-parallel: deterministic quantile chunks + ghost replication
    // of each chunk's last W-1 rows; plan-pinned single-partition-free.
    "ts_global_rolling" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
        ts.RangeSeries.withGlobalBounded(ev,
            key = struct(col("ts"), col("event_id")), window = 32,
            aggs = Seq(
              ts.RangeSeries.Bounded("w_sum", sum(col("cents"))),
              ts.RangeSeries.Bounded("w_n", count(lit(1))),
              ts.RangeSeries.Bounded("w_min", min(col("cents"))),
              ts.RangeSeries.Bounded("w_max", max(col("cents")))),
            bucketKey = Some(expr("unix_micros(ts)")))
          .select(col("event_id"), col("w_sum"), col("w_n"), col("w_min"),
            col("w_max"),
            (col("w_sum").cast("double") / col("w_n") / 100).as("w_mean"))
          .orderBy("event_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id, ts, CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events),
             |w AS (
             |  SELECT event_id,
             |         sum(x) OVER wr AS w_sum, count(*) OVER wr AS w_n,
             |         min(x) OVER wr AS w_min, max(x) OVER wr AS w_max
             |  FROM b
             |  WINDOW wr AS (ORDER BY ts, event_id
             |                ROWS BETWEEN 31 PRECEDING AND CURRENT ROW))
             |SELECT event_id, CAST(w_sum AS BIGINT) AS w_sum,
             |       CAST(w_n AS BIGINT) AS w_n, w_min, w_max,
             |       CAST(CAST(w_sum AS BIGINT) AS DOUBLE) / w_n / 100 AS w_mean
             |FROM w ORDER BY event_id""".stripMargin),
      "global (unkeyed) 32-row rolling stats, chunk-parallel via ghost overlap"
    ),

    // per-user winsorization report: discrete p05/p95 cuts, tail clip
    // counts, raw vs clamped means — all integer-exact
    "ts_winsorize" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"))
        // NO round() on the means: the quotient of exact integers is a
        // bit-identical double in any engine, while round() diverges on
        // .xxxx5 grid values (the ts_cusum convention)
        ts.Winsorize.stats(ev, "cents", Seq("user_id"))
          .select(col("user_id"), col("n"), col("lo_cut"), col("hi_cut"),
            col("n_clip_lo"), col("n_clip_hi"),
            (col("sum_raw").cast("double") / col("n") / 100).as("mean_raw"),
            (col("sum_winsor").cast("double") / col("n") / 100)
              .as("mean_winsor"))
          .orderBy("user_id")
      },
      Some("""WITH b AS (
             |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events),
             |r AS (
             |  SELECT user_id, x,
             |         row_number() OVER (PARTITION BY user_id ORDER BY x) AS rn,
             |         count(*) OVER (PARTITION BY user_id) AS n
             |  FROM b),
             |cuts AS (
             |  SELECT user_id,
             |         max(CASE WHEN rn = (5 * n + 99) // 100 THEN x END) AS lo_cut,
             |         max(CASE WHEN rn = (95 * n + 99) // 100 THEN x END) AS hi_cut
             |  FROM r GROUP BY user_id)
             |SELECT r.user_id, CAST(max(n) AS BIGINT) AS n,
             |       max(lo_cut) AS lo_cut, max(hi_cut) AS hi_cut,
             |       CAST(sum(CASE WHEN x < lo_cut THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_clip_lo,
             |       CAST(sum(CASE WHEN x > hi_cut THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_clip_hi,
             |       CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) / max(n) / 100
             |         AS mean_raw,
             |       CAST(CAST(sum(greatest(least(x, hi_cut), lo_cut))
             |               AS BIGINT) AS DOUBLE) / max(n) / 100
             |         AS mean_winsor
             |FROM r JOIN cuts USING (user_id)
             |GROUP BY r.user_id ORDER BY r.user_id""".stripMargin),
      "per-series discrete-percentile winsorization: cuts, clips, robust mean"
    ),

    // rolling-origin backtest over the last ~6 days: one-step-ahead naive
    // vs trailing floor-mean(4), MAE + integer-ppm sMAPE, winner per user
    "ts_backtest_naive" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
        ts.Backtest.oneStepAhead(ev, Seq("ts", "event_id"), "cents",
            evalMask = col("ts") >= to_timestamp(lit("2024-01-25")),
            maWindow = 4, seriesCols = Seq("user_id"))
          .select(col("user_id"), col("n_eval"),
            // exact half-up rounding in int64, ONE double division after:
            // round(double,4) is an engine dialect at exact .xxxx5
            // half-points (Spark rounds the decimal string, DuckDB rounds
            // in float space) — integer cent sums over power-of-two eval
            // counts land on half-points ~1/30k rows, caught at the sf1
            // sweep. mae = round(sum_ae/(100*n), 4) == (200*sum_ae + n)
            // div (2*n) scaled 1e-4, exact in both engines.
            (expr("(200 * sum_ae_naive + n_eval) div (2 * n_eval)")
              .cast("double") / 10000).as("mae_naive"),
            (expr("(200 * sum_ae_ma + n_eval) div (2 * n_eval)")
              .cast("double") / 10000).as("mae_ma4"),
            expr("sum_smape_naive_ppm div n_eval").as("smape_naive_ppm"),
            expr("sum_smape_ma_ppm div n_eval").as("smape_ma4_ppm"),
            when(col("sum_ae_naive") <= col("sum_ae_ma"), lit("naive"))
              .otherwise(lit("ma4")).as("best_model"))
          .orderBy("user_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id, user_id, ts,
             |         CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events),
             |f AS (
             |  SELECT *,
             |         lag(x) OVER w1 AS fn,
             |         sum(x) OVER wm AS ps,
             |         count(*) OVER wm AS pc
             |  FROM b
             |  WINDOW w1 AS (PARTITION BY user_id ORDER BY ts, event_id),
             |         wm AS (PARTITION BY user_id ORDER BY ts, event_id
             |                ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)),
             |e AS (
             |  SELECT user_id, x, fn, CAST(ps // pc AS BIGINT) AS fm
             |  FROM f
             |  WHERE ts >= TIMESTAMP '2024-01-25' AND fn IS NOT NULL),
             |g AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_eval,
             |         CAST(sum(abs(x - fn)) AS BIGINT) AS san,
             |         CAST(sum(abs(x - fm)) AS BIGINT) AS sam,
             |         CAST(sum(CASE WHEN abs(fn) + abs(x) = 0 THEN 0
             |                  ELSE (2 * abs(fn - x) * 1000000)
             |                       // (abs(fn) + abs(x)) END) AS BIGINT) AS ssn,
             |         CAST(sum(CASE WHEN abs(fm) + abs(x) = 0 THEN 0
             |                  ELSE (2 * abs(fm - x) * 1000000)
             |                       // (abs(fm) + abs(x)) END) AS BIGINT) AS ssm
             |  FROM e GROUP BY user_id)
             |SELECT user_id, n_eval,
             |       CAST((200 * san + n_eval) // (2 * n_eval) AS DOUBLE) / 10000 AS mae_naive,
             |       CAST((200 * sam + n_eval) // (2 * n_eval) AS DOUBLE) / 10000 AS mae_ma4,
             |       ssn // n_eval AS smape_naive_ppm,
             |       ssm // n_eval AS smape_ma4_ppm,
             |       CASE WHEN san <= sam THEN 'naive' ELSE 'ma4' END AS best_model
             |FROM g ORDER BY user_id""".stripMargin),
      "rolling-origin 1-step backtest: naive vs ma(4), exact integer scoring"
    ),

    // third backtest model: simple exponential smoothing. The forecast is
    // the bit-identical EWMA kernel over the frame ending at -1 PRECEDING,
    // snapped to integer cents — so the error metrics are exact int64 sums
    // and the whole model comparison replays in SQL
    // Holt level+trend in pure int64 (truncating div identical in both
    // engines); the oracle replays the recursion with DuckDB list_reduce
    // over the identically-ordered cents list
    "ts_holt_forecast" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
        ts.Backtest.holtForecast(ev, Seq("ts", "event_id"), "cents",
            Seq("user_id"), aTenths = 2, bTenths = 3, horizon = 3)
          .orderBy("user_id")
      },
      Some("""WITH b AS (
             |  SELECT user_id,
             |         list(CAST(round(value * 100) AS BIGINT)
             |              ORDER BY ts, event_id) AS xs
             |  FROM events GROUP BY user_id),
             |f AS (
             |  SELECT user_id, len(xs) AS n_obs,
             |         list_reduce(
             |           list_prepend([xs[1], 0::BIGINT],
             |             list_transform(xs[2:], x -> [x, 0::BIGINT])),
             |           (acc, e) -> [
             |             (2 * e[1] + 8 * (acc[1] + acc[2])) // 10,
             |             (3 * (((2 * e[1] + 8 * (acc[1] + acc[2])) // 10)
             |                   - acc[1]) + 7 * acc[2]) // 10]) AS st
             |  FROM b)
             |SELECT user_id, n_obs, st[1] AS level, st[2] AS trend,
             |       st[1] + st[2] AS forecast_1,
             |       st[1] + 2 * st[2] AS forecast_2,
             |       st[1] + 3 * st[2] AS forecast_3
             |FROM f ORDER BY user_id""".stripMargin),
      "Holt double-exponential level/trend + 3-step forecasts, exact int64"
    ),

    // the seasonal member of the forecast family: additive Holt-Winters
    // with a rotating 6-slot seasonal queue riding the same int64 fold
    "ts_holt_winters" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
        ts.Backtest.holtWinters(ev, Seq("ts", "event_id"), "cents",
            Seq("user_id"), period = 6, aTenths = 3, bTenths = 1,
            gTenths = 2, horizon = 3)
          .orderBy("user_id")
      },
      Some {
        val m = 6
        val l0 = s"(list_reduce(list_prepend(0::BIGINT, xs[1:$m]), " +
          "(p, q) -> p + q) // 6)"
        val lN = "((3 * (e[1] - st[3]) + 7 * (st[1] + st[2])) // 10)"
        s"""WITH b AS (
           |  SELECT user_id,
           |         list(CAST(round(value * 100) AS BIGINT)
           |              ORDER BY ts, event_id) AS xs
           |  FROM events GROUP BY user_id),
           |f AS (
           |  SELECT user_id, len(xs) AS n_obs,
           |         list_reduce(
           |           list_prepend(
           |             list_concat([$l0, 0::BIGINT],
           |               list_transform(xs[1:$m], x -> x - $l0)),
           |             list_transform(xs[${m + 1}:], x -> [x])),
           |           (st, e) -> list_concat(list_concat(
           |             [$lN,
           |              ((1 * ($lN - st[1]) + 9 * st[2]) // 10)],
           |             st[4:${m + 2}]),
           |             [((2 * (e[1] - $lN) + 8 * st[3]) // 10)])) AS st
           |  FROM b WHERE len(xs) >= $m)
           |SELECT user_id, n_obs, st[1] AS level, st[2] AS trend,
           |       st[1] + 1 * st[2] + st[${3 + 0 % m}] AS forecast_1,
           |       st[1] + 2 * st[2] + st[${3 + 1 % m}] AS forecast_2,
           |       st[1] + 3 * st[2] + st[${3 + 2 % m}] AS forecast_3
           |FROM f ORDER BY user_id""".stripMargin
      },
      "additive Holt-Winters: level/trend/seasonal queue, exact int64 recursion"
    ),

    // query-by-shape similarity: DTW over 16-bucket cent vectors for a
    // 16-series candidate block (120 pairs — the per-block verify join of
    // a blocked pipeline). Every DP cell is exact int64, so the distance
    // matrix replays via the same nested list-fold family as Holt; the
    // aligned L1 upper bound ships alongside as the warping-gain readout
    "ts_dtw" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("user_id") < 16)
          .select(col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
        val vecs = Dtw.seriesVectors(ev, "user_id", "ts", "cents", m = 16)
        Dtw.dtwPairs(vecs, "user_id", "vec", m = 16).orderBy("id_a", "id_b")
      },
      Some("""WITH e AS (
             |  SELECT user_id AS s, epoch_us(ts) AS t,
             |         CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events WHERE user_id < 16),
             |bounds AS (SELECT min(t) AS lo, max(t) AS hi FROM e),
             |bk AS (
             |  SELECT s, CAST((t - lo) * 16 // (hi - lo + 1) AS INT) AS b,
             |         CAST(sum(x) AS BIGINT) AS v
             |  FROM e, bounds GROUP BY s, b),
             |sg AS (SELECT DISTINCT s FROM e),
             |grid AS (SELECT unnest(generate_series(0, 15)) AS gi),
             |vec AS (
             |  SELECT sg.s, list(coalesce(bk.v, 0) ORDER BY grid.gi) AS vec
             |  FROM sg CROSS JOIN grid
             |  LEFT JOIN bk ON bk.s = sg.s AND bk.b = grid.gi
             |  GROUP BY sg.s),
             |p AS (SELECT a.s AS id_a, b.s AS id_b, a.vec AS va, b.vec AS vb
             |      FROM vec a JOIN vec b ON a.s < b.s)
             |SELECT id_a, id_b,
             |  list_reduce(
             |    list_prepend(
             |      list_prepend(0::BIGINT,
             |        list_transform(generate_series(1, 16),
             |          j -> 4611686018427387903::BIGINT)),
             |      list_transform(va, x -> [x])),
             |    (prev, e2) -> list_reduce(
             |        list_prepend([4611686018427387903::BIGINT],
             |          list_transform(generate_series(1, 16), j -> [j])),
             |        (c, jl) -> list_append(c,
             |            abs(e2[1] - vb[jl[1]]) +
             |            least(prev[jl[1] + 1], prev[jl[1]], c[jl[1]]))))[17]
             |    AS dtw,
             |  list_reduce(list_prepend(0::BIGINT,
             |      list_transform(generate_series(1, 16),
             |        j -> abs(va[j] - vb[j]))),
             |    (a2, b2) -> a2 + b2) AS l1
             |FROM p ORDER BY id_a, id_b""".stripMargin),
      "DTW distance matrix over bucket vectors: exact int64 DP + aligned L1 bound"
    ),

    // long-range-dependence readout: aggregated-variance Hurst exponent
    // over the global event-mass timeline. Block-variance numerators are
    // exact DECIMAL(38,0)/HUGEINT (no 2^63 cliff — the int64 form crossed
    // it near total mass 1.9e8 units, about the sf10 decade), the lns snap
    // to kilo-nats, the OLS is integer — H is one IEEE div+mul+add
    "ts_hurst" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("ts"), round(col("value")).cast("long").as("usd"))
        ts.Hurst.aggVar(ev, "ts", "usd", m = 256, ks = Seq(1, 2, 4, 8, 16))
      },
      Some {
        val m = 256
        val ks = Seq(1, 2, 4, 8, 16)
        def red(l: String) = s"list_reduce(list_prepend(0::BIGINT, $l), (a, b) -> a + b)"
        val bsCols = ks.map { k =>
          val nb = m / k
          s"""list_transform(generate_series(0, ${nb - 1}),
             |    j -> ${red(s"vec[j * $k + 1 : j * $k + $k]")}) AS bs_$k""".stripMargin
        }.mkString(",\n")
        def redH(l: String) =
          s"list_reduce(list_prepend(0::HUGEINT, $l), (a, b) -> a + b)"
        val sumCols = ks.map { k =>
          s"""${red(s"bs_$k")} AS s_$k,
             |  ${redH(s"list_transform(bs_$k, x -> CAST(x AS HUGEINT) * x)")} AS s2_$k""".stripMargin
        }.mkString(",\n")
        // HUGEINT numerator (exact past the int64 cliff), non-negative by
        // Cauchy-Schwarz -> one correctly-rounded double cast, like the
        // Spark side's DECIMAL(38,0)
        val vnumCols = ks.map { k =>
          s"CAST(${m / k}::HUGEINT * s2_$k - CAST(s_$k AS HUGEINT) * s_$k AS DOUBLE) AS vnum_$k"
        }.mkString(",\n")
        def y(k: Int) =
          s"""(CAST(round(ln(vnum_$k) * 1e3, 0) AS BIGINT)
             |    - ${2L * ts.Hurst.lnKilo((m / k).toLong)}
             |    - ${2L * ts.Hurst.lnKilo(k.toLong)})""".stripMargin
        val xs = ks.map(k => ts.Hurst.lnKilo(k.toLong))
        val n = ks.size.toLong
        val sx = xs.sum
        val den = n * xs.map(x => x * x).sum - sx * sx
        val sxy = ks.zip(xs).map { case (k, x) => s"$x * ${y(k)}" }.mkString(" + ")
        val sy = ks.map(y).mkString(" + ")
        val guard = ks.map(k => s"vnum_$k <= 0").mkString(" OR ")
        s"""WITH e AS (
           |  SELECT epoch_us(ts) AS t, CAST(round(value) AS BIGINT) AS x
           |  FROM events),
           |bounds AS (SELECT min(t) AS lo, max(t) AS hi FROM e),
           |bk AS (
           |  SELECT CAST((t - lo) * $m // (hi - lo + 1) AS INT) AS b,
           |         CAST(sum(x) AS BIGINT) AS s
           |  FROM e, bounds GROUP BY b),
           |grid AS (SELECT unnest(generate_series(0, ${m - 1})) AS gi),
           |vt AS (
           |  SELECT list(coalesce(bk.s, 0) ORDER BY grid.gi) AS vec
           |  FROM grid LEFT JOIN bk ON bk.b = grid.gi),
           |bs AS (SELECT vec,
           |$bsCols
           |FROM vt),
           |sums AS (SELECT vec,
           |$sumCols
           |FROM bs),
           |vv AS (SELECT $m::BIGINT AS n_buckets,
           |  ${red("vec")} AS total_units,
           |$vnumCols
           |FROM sums)
           |SELECT n_buckets, total_units,
           |       ${ks.map(k => s"vnum_$k").mkString(", ")},
           |       CASE WHEN $guard THEN NULL
           |            ELSE 1.0 + 0.5 *
           |              (CAST($n * ($sxy) - $sx * ($sy) AS DOUBLE) / $den.0)
           |       END AS hurst
           |FROM vv""".stripMargin
      },
      "aggregated-variance Hurst exponent: exact int64 block variances, kilo-nat OLS"
    ),

    "ts_backtest_ses" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
        ts.Backtest.oneStepAheadSes(ev, Seq("ts", "event_id"), "cents",
            evalMask = col("ts") >= to_timestamp(lit("2024-01-25")),
            alpha = 0.1, window = 32, seriesCols = Seq("user_id"))
          .select(col("user_id"), col("n_eval"),
            // exact int64 half-up rounding — see ts_backtest_naive
            (expr("(200 * sum_ae_naive + n_eval) div (2 * n_eval)")
              .cast("double") / 10000).as("mae_naive"),
            (expr("(200 * sum_ae_ses + n_eval) div (2 * n_eval)")
              .cast("double") / 10000).as("mae_ses"),
            expr("sum_smape_ses_ppm div n_eval").as("smape_ses_ppm"),
            when(col("sum_ae_naive") <= col("sum_ae_ses"), lit("naive"))
              .otherwise(lit("ses")).as("best_model"))
          .orderBy("user_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id, user_id, ts,
             |         CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events),
             |f AS (
             |  SELECT *,
             |         lag(x) OVER w1 AS fn,
             |         array_agg(x) OVER ws AS l
             |  FROM b
             |  WINDOW w1 AS (PARTITION BY user_id ORDER BY ts, event_id),
             |         ws AS (PARTITION BY user_id ORDER BY ts, event_id
             |                ROWS BETWEEN 32 PRECEDING AND 1 PRECEDING)),
             |e AS (
             |  SELECT user_id, x, fn,
             |         CAST(floor((SELECT sum(u.x * pow(0.9, len(f.l) - u.rn)) /
             |                            sum(pow(0.9, len(f.l) - u.rn))
             |                     FROM (SELECT unnest(f.l) AS x,
             |                                  generate_subscripts(f.l, 1) AS rn) u)
             |                + 0.5) AS BIGINT) AS fs
             |  FROM f
             |  WHERE ts >= TIMESTAMP '2024-01-25' AND fn IS NOT NULL),
             |g AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_eval,
             |         CAST(sum(abs(x - fn)) AS BIGINT) AS san,
             |         CAST(sum(abs(x - fs)) AS BIGINT) AS sas,
             |         CAST(sum(CASE WHEN abs(fs) + abs(x) = 0 THEN 0
             |                  ELSE (2 * abs(fs - x) * 1000000)
             |                       // (abs(fs) + abs(x)) END) AS BIGINT) AS sss
             |  FROM e GROUP BY user_id)
             |SELECT user_id, n_eval,
             |       CAST((200 * san + n_eval) // (2 * n_eval) AS DOUBLE) / 10000 AS mae_naive,
             |       CAST((200 * sas + n_eval) // (2 * n_eval) AS DOUBLE) / 10000 AS mae_ses,
             |       sss // n_eval AS smape_ses_ppm,
             |       CASE WHEN san <= sas THEN 'naive' ELSE 'ses' END AS best_model
             |FROM g ORDER BY user_id""".stripMargin),
      "rolling-origin 1-step backtest: naive vs SES(0.1), snapped EWMA forecast, exact scoring"
    ),

    // trailing-24h distinct actives per hour, exact (contribution
    // expansion) AND HLL-register-merged, side by side — the sketch path's
    // shuffled volume is 64·24 rows/bucket regardless of cardinality
    "ts_sliding_distinct" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
        val hourUs = 3600L * 1000000L
        val ex = ts.SlidingDistinct.exact(ev, "ts", "user_id", hourUs, 24)
        val est = ts.SlidingDistinct.hllSliding(ev, "ts", "user_id", hourUs, 24)
        ex.join(est, Seq("bkt"))
          .select(col("bkt").as("hr"), col("n_exact"), col("v_zero"),
            col("harmonic_s"), col("est_u"), col("hll_est"))
          .orderBy("hr")
      },
      Some("""WITH p AS (
             |  SELECT DISTINCT epoch_us(ts) // 3600000000 AS bkt, user_id
             |  FROM events),
             |obs AS (SELECT DISTINCT bkt FROM p),
             |c AS (
             |  SELECT DISTINCT o.bkt AS bkt, p.user_id
             |  FROM p JOIN obs o ON o.bkt BETWEEN p.bkt AND p.bkt + 23),
             |ex AS (SELECT bkt, CAST(count(*) AS BIGINT) AS n_exact
             |       FROM c GROUP BY bkt),
             |h AS (
             |  SELECT DISTINCT bkt,
             |         ('0x' || substr(md5('hll|' || user_id), 1, 15))::BIGINT AS h
             |  FROM p),
             |r AS (
             |  SELECT bkt, h % 64 AS bucket,
             |         CASE WHEN h // 64 = 0 THEN 55
             |              ELSE 55 - length(bin(h // 64)) END AS rho
             |  FROM h),
             |regs AS (
             |  SELECT o.bkt AS bkt, bucket, max(rho) AS m_j
             |  FROM r JOIN obs o ON o.bkt BETWEEN r.bkt AND r.bkt + 23
             |  GROUP BY 1, 2),
             |g AS (
             |  SELECT bkt, count(*) AS present,
             |         sum((1::BIGINT) << (55 - m_j)) AS sp
             |  FROM regs GROUP BY 1),
             |e AS (
             |  SELECT bkt, CAST(64 - present AS INT) AS v_zero,
             |         CAST(sp + (64 - present) * ((1::BIGINT) << 55) AS BIGINT)
             |           AS harmonic_s
             |  FROM g),
             |f AS (
             |  SELECT bkt, v_zero, harmonic_s,
             |         CAST(floor(CAST(2905456640 AS DOUBLE)
             |           * CAST(36028797018963968 AS DOUBLE)
             |           / CAST(harmonic_s AS DOUBLE)) AS BIGINT) AS raw_u
             |  FROM e),
             |est AS (
             |  SELECT bkt, v_zero, harmonic_s,
             |         CASE WHEN v_zero > 0 AND raw_u < 160000000
             |           THEN 64 * (4158883 - CAST(round(ln(v_zero) * 1e6, 0) AS BIGINT))
             |           ELSE raw_u END AS est_u
             |  FROM f)
             |SELECT ex.bkt AS hr, n_exact, v_zero, harmonic_s, est_u,
             |       est_u // 1000000 AS hll_est
             |FROM ex JOIN est ON est.bkt = ex.bkt
             |ORDER BY hr""".stripMargin),
      "trailing-24h distinct actives: exact expansion vs HLL register merge"
    ),

    // multi-changepoint: 2-level binary segmentation — split at the
    // strongest point, re-localize inside each half; identical exact
    // integer statistic at every level, segment membership by the
    // lexicographic order-key compare both engines define
    "ts_changepoint_binseg" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
        ts.Changepoint.binseg2(ev, Seq("ts", "event_id"), "cents",
            Seq("user_id"))
          .select(col("user_id"), col("level"), col("segment"),
            col("event_id").as("cp_event_id"), col("n"), col("n_pre"),
            col("cusum_num"))
          // same rationale as ts_theilsen_slope: avoid the range
          // exchange's sampling re-execution of the one-exchange spine
          .repartition(1).sortWithinPartitions("user_id", "level", "segment")
      },
      Some("""WITH b AS (
             |  SELECT event_id, user_id, ts,
             |         CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events),
             |c AS (
             |  SELECT event_id, user_id, ts,
             |         sum(x) OVER wp AS s, count(*) OVER wp AS n,
             |         sum(x) OVER wr AS rs, count(*) OVER wr AS rc
             |  FROM b
             |  WINDOW wp AS (PARTITION BY user_id),
             |         wr AS (PARTITION BY user_id ORDER BY ts, event_id
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |p1 AS (
             |  SELECT * FROM c
             |  QUALIFY row_number() OVER (PARTITION BY user_id
             |    ORDER BY abs(CAST(n * rs - rc * s AS BIGINT)) DESC,
             |             ts, event_id) = 1),
             |sg AS (
             |  SELECT b.*, CASE WHEN (b.ts, b.event_id) <= (p.ts, p.event_id)
             |              THEN 0 ELSE 1 END AS seg
             |  FROM b JOIN p1 p USING (user_id)),
             |c2 AS (
             |  SELECT event_id, user_id, ts, seg,
             |         sum(x) OVER wp AS s, count(*) OVER wp AS n,
             |         sum(x) OVER wr AS rs, count(*) OVER wr AS rc
             |  FROM sg
             |  WINDOW wp AS (PARTITION BY user_id, seg),
             |         wr AS (PARTITION BY user_id, seg ORDER BY ts, event_id
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |p2 AS (
             |  SELECT * FROM c2
             |  QUALIFY row_number() OVER (PARTITION BY user_id, seg
             |    ORDER BY abs(CAST(n * rs - rc * s AS BIGINT)) DESC,
             |             ts, event_id) = 1)
             |SELECT user_id, 1 AS level, -1 AS segment,
             |       event_id AS cp_event_id,
             |       CAST(n AS BIGINT) AS n, CAST(rc AS BIGINT) AS n_pre,
             |       CAST(n * rs - rc * s AS BIGINT) AS cusum_num
             |FROM p1
             |UNION ALL
             |SELECT user_id, 2, seg, event_id,
             |       CAST(n AS BIGINT), CAST(rc AS BIGINT),
             |       CAST(n * rs - rc * s AS BIGINT)
             |FROM p2
             |ORDER BY user_id, level, segment""".stripMargin),
      "2-level binary segmentation: exact-integer CUSUM argmax per split"
    ),

    "ts_changepoint" -> Q(
      (s, dir) => {
        // cents input (the ts_cusum convention): argmax |CUSUM| is decided
        // on an exact integer numerator, so the localized row is engine-
        // identical; the reported means are single exact-integer divides.
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
        ts.Changepoint.cusumArgmax(ev, Seq("ts", "event_id"), "cents",
            seriesCols = Seq("user_id"))
          .select(col("user_id"), col("event_id").as("cp_event_id"),
            col("n_pre"), col("n_post"),
            // exact int64 half-up (away-from-zero for signed sums), ONE
            // double division after — round(double,4) half-point dialect,
            // see ts_backtest_naive (caught at the sf1 sweep)
            (expr("""CASE WHEN sum_pre >= 0
                     THEN (200 * sum_pre + n_pre) div (2 * n_pre)
                     ELSE -((200 * -sum_pre + n_pre) div (2 * n_pre)) END""")
              .cast("double") / 10000).as("mean_pre"),
            when(col("n_post") === 0, lit(null).cast("double"))
              .otherwise(
                expr("""CASE WHEN sum_post >= 0
                        THEN (200 * sum_post + n_post) div (2 * n_post)
                        ELSE -((200 * -sum_post + n_post) div (2 * n_post)) END""")
                  .cast("double") / 10000)
              .as("mean_post"),
            (expr("(200 * abs(cusum_num) + n) div (2 * n)")
              .cast("double") / 10000).as("cusum_stat"))
          .orderBy("user_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id, user_id, ts,
             |         CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events),
             |c AS (
             |  SELECT event_id, user_id, ts,
             |         sum(x) OVER wp AS s, count(*) OVER wp AS n,
             |         sum(x) OVER wr AS rs, count(*) OVER wr AS rc
             |  FROM b
             |  WINDOW wp AS (PARTITION BY user_id),
             |         wr AS (PARTITION BY user_id ORDER BY ts, event_id
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |p AS (
             |  SELECT *, CAST(n * rs - rc * s AS BIGINT) AS num FROM c
             |  QUALIFY row_number() OVER (PARTITION BY user_id
             |    ORDER BY abs(CAST(n * rs - rc * s AS BIGINT)) DESC,
             |             ts, event_id) = 1)
             |SELECT user_id, event_id AS cp_event_id,
             |       CAST(rc AS BIGINT) AS n_pre,
             |       CAST(n - rc AS BIGINT) AS n_post,
             |       CAST(CASE WHEN rs >= 0 THEN (200 * rs + rc) // (2 * rc)
             |            ELSE -((200 * -rs + rc) // (2 * rc)) END AS DOUBLE) / 10000
             |         AS mean_pre,
             |       CASE WHEN n - rc = 0 THEN NULL
             |            ELSE CAST(CASE WHEN s - rs >= 0
             |                 THEN (200 * (s - rs) + (n - rc)) // (2 * (n - rc))
             |                 ELSE -((200 * (rs - s) + (n - rc)) // (2 * (n - rc)))
             |                 END AS DOUBLE) / 10000
             |       END AS mean_post,
             |       CAST((200 * abs(num) + n) // (2 * n) AS DOUBLE) / 10000
             |         AS cusum_stat
             |FROM p ORDER BY user_id""".stripMargin),
      "argmax-|CUSUM| mean-shift localization per series, exact integer argmax"
    ),

    "ts_seasonal_decompose" -> Q(
      (s, dir) => {
        // cents input: all three components are exact-integer numerators
        // over exact-integer denominators (see Decompose.additive), so the
        // doubles divide identically in any engine; /100 back to units LAST
        // and in the same order on both sides
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
        ts.Decompose.additive(ev, Seq("ts", "event_id"), "cents",
            hour(col("ts")), window = 25, seriesCols = Seq("user_id"))
          // full precision, NO round: each component is one exact-int64
          // numerator over one exact-int64 denominator, so the raw double
          // divisions are bit-identical in any engine — while round(_,4)
          // is an engine dialect at exact half-points (sf1 sweep class;
          // see ts_backtest_naive)
          .select(col("event_id"),
            (col("trend") / 100).as("trend"),
            (col("seasonal") / 100).as("seasonal"),
            (col("residual") / 100).as("residual"))
          .orderBy("event_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id, user_id, ts, hour(ts) AS ph,
             |         CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events),
             |f AS (
             |  SELECT event_id, user_id, ph, x,
             |         CASE WHEN count(*) OVER wf = 25
             |           THEN x * 25 - sum(x) OVER wf END AS detw
             |  FROM b
             |  WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
             |                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
             |p AS (
             |  SELECT event_id, x, detw,
             |         count(detw) OVER wp AS np,
             |         sum(detw) OVER wp AS sp
             |  FROM f
             |  WINDOW wp AS (PARTITION BY user_id, ph))
             |SELECT event_id,
             |       CASE WHEN detw IS NOT NULL
             |         THEN CAST(x * 25 - detw AS DOUBLE) / 25 / 100 END
             |         AS trend,
             |       CASE WHEN np > 0
             |         THEN CAST(sp AS DOUBLE) / (np * 25) / 100 END
             |         AS seasonal,
             |       CASE WHEN detw IS NOT NULL AND np > 0
             |         THEN CAST(detw * np - sp AS DOUBLE) / (np * 25) / 100
             |         END AS residual
             |FROM p ORDER BY event_id""".stripMargin),
      "classical additive seasonal decomposition (hour-of-day), exact-integer numerators throughout"
    ),

    // anomaly = |residual| > k x mean(|residual|) per user, compared in
    // pure integer micro-units — the whole detector is one exchange
    "ts_anomaly_seasonal" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
        ts.Decompose.seasonalAnomalies(ev, Seq("ts", "event_id"), "cents",
            hour(col("ts")), window = 25, seriesCols = Seq("user_id"), k = 3)
          .select("event_id", "user_id", "residual_u")
          .orderBy("event_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id, user_id, ts, hour(ts) AS ph,
             |         CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events),
             |f AS (
             |  SELECT event_id, user_id, ph, x,
             |         CASE WHEN count(*) OVER wf = 25
             |           THEN x * 25 - sum(x) OVER wf END AS detw
             |  FROM b
             |  WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
             |                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
             |p AS (
             |  SELECT event_id, user_id, detw,
             |         count(detw) OVER wp AS np,
             |         sum(detw) OVER wp AS sp
             |  FROM f
             |  WINDOW wp AS (PARTITION BY user_id, ph)),
             |r AS (
             |  SELECT event_id, user_id,
             |         CASE WHEN detw IS NOT NULL AND np > 0
             |           THEN CAST(floor(CAST(detw * np - sp AS DOUBLE)
             |             / CAST(np * 25 AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
             |         END AS ru
             |  FROM p),
             |u AS (
             |  SELECT event_id, user_id, ru,
             |         count(ru) OVER wu AS n,
             |         sum(abs(ru)) OVER wu AS sabs
             |  FROM r
             |  WINDOW wu AS (PARTITION BY user_id))
             |SELECT event_id, user_id, ru AS residual_u
             |FROM u
             |WHERE ru IS NOT NULL AND abs(ru) * n > 3 * sabs
             |ORDER BY event_id""".stripMargin),
      "seasonal-adjusted anomaly flags: integer micro-unit residual vs k x mean-|residual| threshold"
    ),

    // the sequential-decision downsampler: every selection step (prev
    // point -> candidate -> next-bucket centroid) replays in a recursive
    // CTE on exact integer doubled-areas
    "ts_lttb_downsample" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").filter(col("user_id") < 20)
          .select(col("user_id"),
            (expr("unix_micros(ts) div 1000000") - 1700000000L).as("x"),
            round(col("value") * 100).cast("long").as("y"))
        ts.Downsample.lttb(ev, "user_id", "x", "y", threshold = 24)
          .withColumnRenamed("series", "user_id")
          .orderBy("user_id", "x", "y")
      },
      Some("""WITH RECURSIVE base AS (
             |  SELECT user_id,
             |         epoch_us(ts) // 1000000 - 1700000000 AS x,
             |         CAST(round(value * 100) AS BIGINT) AS y
             |  FROM events WHERE user_id < 20),
             |ord AS (
             |  SELECT user_id, x, y,
             |         row_number() OVER (PARTITION BY user_id ORDER BY x, y) AS rn,
             |         count(*) OVER (PARTITION BY user_id) AS n
             |  FROM base),
             |small AS (SELECT user_id, x, y FROM ord WHERE n <= 24),
             |mid AS (
             |  SELECT user_id, x, y, ((rn - 2) * 22) // (n - 2) AS b
             |  FROM ord WHERE n > 24 AND rn BETWEEN 2 AND n - 1),
             |firsts AS (SELECT user_id, x, y FROM ord WHERE n > 24 AND rn = 1),
             |lasts  AS (SELECT user_id, x, y FROM ord WHERE n > 24 AND rn = n),
             |cent AS (
             |  SELECT user_id, b, count(*)::BIGINT AS cnt,
             |         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy
             |  FROM mid GROUP BY 1, 2),
             |nxt AS (
             |  SELECT user_id, b - 1 AS b, cnt, sx, sy FROM cent WHERE b >= 1
             |  UNION ALL
             |  SELECT user_id, 21, 1::BIGINT, x, y FROM lasts),
             |sel AS (
             |  SELECT user_id, -1 AS b, x, y FROM firsts
             |  UNION ALL
             |  SELECT user_id, b + 1,
             |         -(best.xn) AS x, -(best.yn) AS y
             |  FROM (
             |    SELECT s.user_id, s.b,
             |           (SELECT max({'a': abs((s.x * nx.cnt - nx.sx) * (c.y - s.y)
             |                          - (s.x - c.x) * (nx.sy - nx.cnt * s.y)),
             |                        'xn': -c.x, 'yn': -c.y})
             |            FROM mid c, nxt nx
             |            WHERE c.user_id = s.user_id AND c.b = s.b + 1
             |              AND nx.user_id = s.user_id AND nx.b = s.b + 1) AS best
             |    FROM sel s WHERE s.b < 21) q),
             |picked AS (
             |  SELECT user_id, x, y FROM sel
             |  UNION ALL SELECT user_id, x, y FROM lasts
             |  UNION ALL SELECT user_id, x, y FROM small)
             |SELECT user_id, x, y FROM picked
             |ORDER BY user_id, x, y""".stripMargin),
      "LTTB downsampling: recursive triangle-area selection, exact integer areas"
    ),

    "ts_m4_downsample" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        Downsample.m4(ev, "ts", "value", buckets = 50,
            seriesCols = Seq("user_id"), tieCol = Some("event_id"))
          .select(col("user_id"), col("bucket"),
            col("t_first"), round(col("v_first"), 4).as("v_first"),
            col("t_last"), round(col("v_last"), 4).as("v_last"),
            round(col("v_min"), 4).as("v_min"),
            round(col("v_max"), 4).as("v_max"), col("n_rows"))
          .orderBy("user_id", "bucket")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, ts, value, epoch_us(ts) AS eu
             |  FROM events),
             |b AS (
             |  SELECT user_id, min(eu) AS tmin, max(eu) AS tmax
             |  FROM e GROUP BY user_id),
             |x AS (
             |  SELECT e.user_id, e.event_id, e.ts, e.value,
             |         CAST(floor((e.eu - b.tmin) * 50 / (b.tmax - b.tmin + 1))
             |           AS BIGINT) AS bucket
             |  FROM e JOIN b USING (user_id)),
             |r AS (
             |  SELECT user_id, bucket, ts, event_id, value,
             |         row_number() OVER (PARTITION BY user_id, bucket
             |           ORDER BY ts, event_id) AS rf,
             |         row_number() OVER (PARTITION BY user_id, bucket
             |           ORDER BY ts DESC, event_id DESC) AS rl
             |  FROM x)
             |SELECT user_id, bucket,
             |       min(CASE WHEN rf = 1 THEN ts END) AS t_first,
             |       round(max(CASE WHEN rf = 1 THEN value END), 4) + 0 AS v_first,
             |       min(CASE WHEN rl = 1 THEN ts END) AS t_last,
             |       round(max(CASE WHEN rl = 1 THEN value END), 4) + 0 AS v_last,
             |       round(min(value), 4) + 0 AS v_min,
             |       round(max(value), 4) + 0 AS v_max,
             |       count(*) AS n_rows
             |FROM r GROUP BY user_id, bucket
             |ORDER BY user_id, bucket""".stripMargin),
      "M4 visualization downsampling (VLDB'14): first/last/min/max per pixel bucket"
    ),

    // symbolic downsampling: PAA frame means in exact milli-cents, then an
    // equi-depth 8-letter alphabet by exact global rank (rank DIV, not
    // Gaussian breakpoints — no distribution assumption, no doubles).
    // Non-negative input keeps Spark's truncating DIV and DuckDB's
    // flooring // identical.
    "ts_sax_symbols" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
        Downsample.sax(ev, Seq("ts", "event_id"), "cents",
            frame = 16, alphabet = 8, seriesCols = Seq("user_id"))
          .select(col("user_id"), col("widx"), col("n"), col("paa_u"),
            col("sym"))
          .orderBy("user_id", "widx")
      },
      Some("""WITH b AS (
             |  SELECT user_id, ts, event_id,
             |         CAST(round(value * 100) AS BIGINT) AS cents,
             |         row_number() OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id) AS rn
             |  FROM events),
             |f AS (
             |  SELECT user_id, (rn - 1) // 16 AS widx,
             |         CAST(count(*) AS BIGINT) AS n,
             |         CAST(1000 * sum(cents) // count(*) AS BIGINT) AS paa_u
             |  FROM b GROUP BY 1, 2),
             |r AS (
             |  SELECT user_id, widx, n, paa_u,
             |         row_number() OVER (ORDER BY paa_u, user_id, widx) AS rk,
             |         count(*) OVER () AS nf
             |  FROM f)
             |SELECT user_id, widx, n, paa_u,
             |       CAST((rk - 1) * 8 // nf AS BIGINT) AS sym
             |FROM r ORDER BY user_id, widx""".stripMargin),
      "SAX symbolic downsampling: exact-integer PAA + equi-depth rank alphabet"
    ),

    // motif mining on the symbolic plane: 3-frame SAX words per series,
    // global top-10 recurring words — the downstream consumer SAX exists
    // for, at frame-table (not event) cardinality
    "ts_sax_motifs" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
        val frames = Downsample.sax(ev, Seq("ts", "event_id"), "cents",
          frame = 8, alphabet = 4, seriesCols = Seq("user_id"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("widx"))
        frames
          .withColumn("__s1", lead(col("sym"), 1).over(w))
          .withColumn("__s2", lead(col("sym"), 2).over(w))
          .filter(col("__s2").isNotNull)
          .select(concat_ws("-", col("sym"), col("__s1"), col("__s2"))
            .as("motif"))
          .groupBy("motif")
          .agg(count(lit(1)).as("n_occurrences"))
          .orderBy(desc("n_occurrences"), col("motif"))
          .limit(10)
      },
      Some("""WITH b AS (
             |  SELECT user_id, ts, event_id,
             |         CAST(round(value * 100) AS BIGINT) AS cents,
             |         row_number() OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id) AS rn
             |  FROM events),
             |f AS (
             |  SELECT user_id, (rn - 1) // 8 AS widx,
             |         CAST(1000 * sum(cents) // count(*) AS BIGINT) AS paa_u
             |  FROM b GROUP BY 1, 2),
             |r AS (
             |  SELECT user_id, widx,
             |         row_number() OVER (ORDER BY paa_u, user_id, widx) AS rk,
             |         count(*) OVER () AS nf
             |  FROM f),
             |sym AS (
             |  SELECT user_id, widx, (rk - 1) * 4 // nf AS sym FROM r),
             |wrd AS (
             |  SELECT sym || '-' || lead(sym, 1) OVER w
             |             || '-' || lead(sym, 2) OVER w AS motif,
             |         lead(sym, 2) OVER w AS s2
             |  FROM sym
             |  WINDOW w AS (PARTITION BY user_id ORDER BY widx))
             |SELECT motif, CAST(count(*) AS BIGINT) AS n_occurrences
             |FROM wrd WHERE s2 IS NOT NULL
             |GROUP BY motif ORDER BY n_occurrences DESC, motif
             |LIMIT 10""".stripMargin),
      "SAX motif mining: top recurring 3-frame symbolic words"
    ),

    // the decision form of CUSUM: Page's test with reference k and
    // decision interval h — alarms, reset, max statistic, all int64 fold
    "ts_page_cusum" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
        Smooth.pageCusum(ev, Seq("ts", "event_id"), "cents",
            k = 20000L, h = 100000L, seriesCols = Seq("user_id"))
          .orderBy("user_id")
      },
      Some("""WITH b AS (
             |  SELECT user_id,
             |         list(CAST(round(value * 100) AS BIGINT)
             |              ORDER BY ts, event_id) AS xs
             |  FROM events GROUP BY user_id),
             |f AS (
             |  SELECT user_id, len(xs) AS n,
             |         list_reduce(
             |           list_prepend([0::BIGINT, 0::BIGINT, 0::BIGINT],
             |             list_transform(xs, x -> [x, 0::BIGINT, 0::BIGINT])),
             |           (st, e) -> CASE
             |             WHEN greatest(0, st[1] + e[1] - 20000) > 100000
             |             THEN [0::BIGINT, st[2] + 1,
             |                   greatest(st[3], greatest(0, st[1] + e[1] - 20000))]
             |             ELSE [greatest(0, st[1] + e[1] - 20000), st[2],
             |                   greatest(st[3], greatest(0, st[1] + e[1] - 20000))]
             |           END) AS st
             |  FROM b)
             |SELECT user_id, CAST(n AS BIGINT) AS n,
             |       st[2] AS n_alarms, st[1] AS final_s, st[3] AS max_s
             |FROM f ORDER BY user_id""".stripMargin),
      "Page CUSUM drift detector: alarms + reset + max statistic, exact fold"
    ),

    // self-excitation burst detection: Hawkes conditional intensity with
    // per-step micro-snapped decay factors — the whole fold is int64
    "ts_hawkes_burst" -> Q(
      (s, dir) =>
        ts.PointProcess.hawkesSummary(t(s, dir, "events"), "ts",
            Seq("ts", "event_id"), Seq("user_id"))
          .orderBy("user_id"),
      Some("""WITH b AS (
             |  SELECT user_id,
             |         list(epoch_us(ts) ORDER BY ts, event_id) AS xs
             |  FROM events GROUP BY user_id),
             |f AS (
             |  SELECT user_id, len(xs) AS n,
             |         list_reduce(
             |           list_prepend([0::BIGINT, 0::BIGINT, 0::BIGINT,
             |                         -1::BIGINT],
             |             list_transform(xs, x -> [x, 0::BIGINT, 0::BIGINT,
             |                                      0::BIGINT])),
             |           (st, e) -> [
             |             (CASE WHEN st[4] < 0 THEN 0
             |               ELSE (st[1] * CAST(round(exp(
             |                 -((e[1] - st[4]) / 1000000.0) / 3600.0)
             |                 * 1000000.0) AS BIGINT)) // 1000000 END)
             |               + 500000,
             |             greatest(st[2], 100000 +
             |               (CASE WHEN st[4] < 0 THEN 0
             |                ELSE (st[1] * CAST(round(exp(
             |                  -((e[1] - st[4]) / 1000000.0) / 3600.0)
             |                  * 1000000.0) AS BIGINT)) // 1000000 END)),
             |             st[3] + (CASE WHEN 100000 +
             |               (CASE WHEN st[4] < 0 THEN 0
             |                ELSE (st[1] * CAST(round(exp(
             |                  -((e[1] - st[4]) / 1000000.0) / 3600.0)
             |                  * 1000000.0) AS BIGINT)) // 1000000 END)
             |               > 700000 THEN 1 ELSE 0 END),
             |             e[1]]) AS st
             |  FROM b)
             |SELECT user_id, CAST(n AS BIGINT) AS n,
             |       st[1] AS final_a_u, st[2] AS max_lambda_u,
             |       st[3] AS n_hot
             |FROM f ORDER BY user_id""".stripMargin),
      "Hawkes burst intensity: micro-snapped decay fold, exact int64 state"
    ),

    // censoring-aware retention: Kaplan-Meier life table over per-user
    // lifetimes; the survival product rides exact micro-nat log units
    "ts_kaplan_meier" -> Q(
      (s, dir) =>
        ts.Survival.kaplanMeier(
            t(s, dir, "events").withColumn("subject",
              concat_ws(":", col("user_id"), col("event_type"))),
            "subject", "ts", to_timestamp(lit("2024-01-27")))
          .orderBy("t_days"),
      Some("""WITH sp AS (
             |  SELECT user_id, event_type, min(ts) AS f, max(ts) AS l
             |  FROM events GROUP BY user_id, event_type),
             |d AS (
             |  SELECT (epoch_us(l) - epoch_us(f)) // 86400000000 AS t_days,
             |         CASE WHEN l >= TIMESTAMP '2024-01-27' THEN 1 ELSE 0 END
             |           AS cens
             |  FROM sp),
             |lt AS (
             |  SELECT t_days,
             |         CAST(sum(1 - cens) AS BIGINT) AS n_events,
             |         CAST(sum(cens) AS BIGINT) AS n_censored
             |  FROM d GROUP BY t_days),
             |rk AS (
             |  SELECT t_days, n_events, n_censored,
             |         CAST(sum(n_events + n_censored) OVER ()
             |           - coalesce(sum(n_events + n_censored)
             |               OVER (ORDER BY t_days
             |                     ROWS BETWEEN UNBOUNDED PRECEDING
             |                     AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
             |  FROM lt),
             |st AS (
             |  SELECT *,
             |         max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END)
             |           OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING)
             |           AS dead,
             |         sum(CASE WHEN n_events > 0 AND n_events < n_risk
             |              THEN CAST(round(ln(CAST(n_risk - n_events AS DOUBLE))
             |                     * 1e6) AS BIGINT)
             |                 - CAST(round(ln(CAST(n_risk AS DOUBLE)) * 1e6)
             |                     AS BIGINT)
             |              ELSE 0 END)
             |           OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING)
             |           AS logu
             |  FROM rk)
             |SELECT t_days, n_risk, n_events, n_censored,
             |       CAST(CASE WHEN dead = 0 THEN logu END AS BIGINT)
             |         AS surv_logu,
             |       CASE WHEN dead = 1 THEN 0.0
             |            ELSE round(exp(CAST(logu AS DOUBLE) / 1e6), 6) + 0
             |       END AS survival
             |FROM st WHERE n_events > 0 ORDER BY t_days""".stripMargin),
      "Kaplan-Meier survival: censored life table, micro-nat-exact product"
    ),

    // =============== corpus analytics extras ===============

    "doc_pmi_bigrams" -> Q(
      (s, dir) =>
        TextStats.pmiBigrams(t(s, dir, "documents"), "text", minCount = 5L)
          .select(col("w1"), col("w2"), col("c_xy"), col("pmi"))
          .orderBy("w1", "w2"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> len(x) > 0) AS l
             |  FROM documents),
             |u AS (
             |  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos
             |  FROM toks),
             |bg AS (
             |  SELECT a.w AS w1, b.w AS w2, count(*) AS c_xy
             |  FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |  GROUP BY 1, 2 HAVING count(*) >= 5),
             |uni AS (SELECT w, count(*) AS c_w FROM u GROUP BY w),
             |tot AS (SELECT sum(c_w) AS n FROM uni),
             |mm AS (SELECT sum(CASE WHEN len(l) > 1 THEN len(l) - 1 ELSE 0 END)
             |         AS m FROM toks)
             |SELECT w1, w2, c_xy,
             |       round(round(ln(CAST(c_xy * n * n AS DOUBLE) /
             |                      CAST(m * c_x * c_y AS DOUBLE)) * 1e6) / 1e6, 6) + 0
             |         AS pmi
             |FROM bg
             |JOIN (SELECT w AS w1, c_w AS c_x FROM uni) USING (w1)
             |JOIN (SELECT w AS w2, c_w AS c_y FROM uni) USING (w2)
             |CROSS JOIN tot CROSS JOIN mm
             |ORDER BY w1, w2""".stripMargin),
      "PMI-scored bigram collocations (phrase mining), micro-unit-snapped logs"
    ),

    // the significance-aware collocation ranking: Dunning G² over the full
    // 2x2 bigram contingency — each cell's ln decomposes into micro-nat-
    // snapped integer lns, so g2_u is an exact int64 and the top-20 can't
    // be reordered by float fold-order
    "doc_collocations_g2" -> Q(
      (s, dir) =>
        TextStats.collocationsG2(t(s, dir, "documents"), "text",
          minCount = 5L, topK = 20),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> len(x) > 0) AS l
             |  FROM documents),
             |u AS (
             |  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos
             |  FROM toks),
             |bg AS (
             |  SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS c_xy
             |  FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |  GROUP BY 1, 2),
             |rt AS (SELECT w1, CAST(sum(c_xy) AS BIGINT) AS r_tot
             |       FROM bg GROUP BY w1),
             |ct AS (SELECT w2, CAST(sum(c_xy) AS BIGINT) AS c_tot
             |       FROM bg GROUP BY w2),
             |mt AS (SELECT CAST(sum(c_xy) AS BIGINT) AS m FROM bg),
             |g AS (
             |  SELECT w1, w2, c_xy,
             |    2 * (
             |      (CASE WHEN c_xy > 0 THEN c_xy * (
             |         CAST(round(ln(CAST(c_xy AS DOUBLE)) * 1e6) AS BIGINT)
             |       + CAST(round(ln(CAST(m AS DOUBLE)) * 1e6) AS BIGINT)
             |       - CAST(round(ln(CAST(r_tot AS DOUBLE)) * 1e6) AS BIGINT)
             |       - CAST(round(ln(CAST(c_tot AS DOUBLE)) * 1e6) AS BIGINT))
             |       ELSE 0 END)
             |    + (CASE WHEN r_tot - c_xy > 0 THEN (r_tot - c_xy) * (
             |         CAST(round(ln(CAST(r_tot - c_xy AS DOUBLE)) * 1e6) AS BIGINT)
             |       + CAST(round(ln(CAST(m AS DOUBLE)) * 1e6) AS BIGINT)
             |       - CAST(round(ln(CAST(r_tot AS DOUBLE)) * 1e6) AS BIGINT)
             |       - CAST(round(ln(CAST(m - c_tot AS DOUBLE)) * 1e6) AS BIGINT))
             |       ELSE 0 END)
             |    + (CASE WHEN c_tot - c_xy > 0 THEN (c_tot - c_xy) * (
             |         CAST(round(ln(CAST(c_tot - c_xy AS DOUBLE)) * 1e6) AS BIGINT)
             |       + CAST(round(ln(CAST(m AS DOUBLE)) * 1e6) AS BIGINT)
             |       - CAST(round(ln(CAST(m - r_tot AS DOUBLE)) * 1e6) AS BIGINT)
             |       - CAST(round(ln(CAST(c_tot AS DOUBLE)) * 1e6) AS BIGINT))
             |       ELSE 0 END)
             |    + (CASE WHEN m - r_tot - c_tot + c_xy > 0
             |       THEN (m - r_tot - c_tot + c_xy) * (
             |         CAST(round(ln(CAST(m - r_tot - c_tot + c_xy AS DOUBLE))
             |           * 1e6) AS BIGINT)
             |       + CAST(round(ln(CAST(m AS DOUBLE)) * 1e6) AS BIGINT)
             |       - CAST(round(ln(CAST(m - r_tot AS DOUBLE)) * 1e6) AS BIGINT)
             |       - CAST(round(ln(CAST(m - c_tot AS DOUBLE)) * 1e6) AS BIGINT))
             |       ELSE 0 END)) AS g2_u
             |  FROM bg JOIN rt USING (w1) JOIN ct USING (w2) CROSS JOIN mt
             |  WHERE c_xy >= 5)
             |SELECT w1, w2, c_xy, g2_u
             |FROM g ORDER BY g2_u DESC, w1, w2 LIMIT 20""".stripMargin),
      "Dunning G² collocations: exact-integer 2x2 log-likelihood ranking"
    ),

    // domain-shift detection: which terms' document frequencies diverge
    // most between two source halves — smoothed log-odds in exact
    // micro-nats, the distribution-drift monitor for corpus refreshes
    "doc_df_drift" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("__grp",
            when(length(col("source")) === 4, lit("a")).otherwise(lit("b")))
        val termDoc = docs
          .select(col("__grp"), col("doc_id"),
            explode(array_distinct(graft.ops.Dedup.tokens(col("text"))))
              .as("term"))
        val df2 = termDoc.groupBy("term")
          .agg(
            sum(when(col("__grp") === "a", 1L).otherwise(0L)).as("df_a"),
            sum(when(col("__grp") === "b", 1L).otherwise(0L)).as("df_b"))
          .filter(col("df_a") + col("df_b") >= 10)
        val totals = broadcast(docs.agg(
          sum(when(col("__grp") === "a", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("__grp") === "b", 1L).otherwise(0L)).as("n_b")))
        def lnU(c: Column): Column =
          round(log(c.cast("double")) * 1e6, 0).cast("long")
        df2.crossJoin(totals)
          .withColumn("drift_u",
            lnU(col("df_a") + 1) - lnU(col("n_a") + 2) -
              lnU(col("df_b") + 1) + lnU(col("n_b") + 2))
          .select(col("term"), col("df_a"), col("df_b"), col("drift_u"))
          .orderBy(abs(col("drift_u")).desc, col("term"))
          .limit(20)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, text,
             |         CASE WHEN len(source) = 4 THEN 'a' ELSE 'b' END AS grp
             |  FROM documents),
             |td AS (
             |  SELECT DISTINCT grp, doc_id, unnest(list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> len(x) > 0)) AS term
             |  FROM d),
             |f AS (
             |  SELECT term,
             |         CAST(sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END)
             |           AS BIGINT) AS df_a,
             |         CAST(sum(CASE WHEN grp = 'b' THEN 1 ELSE 0 END)
             |           AS BIGINT) AS df_b
             |  FROM td GROUP BY term HAVING count(*) >= 10),
             |t AS (
             |  SELECT CAST(sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END)
             |           AS BIGINT) AS n_a,
             |         CAST(sum(CASE WHEN grp = 'b' THEN 1 ELSE 0 END)
             |           AS BIGINT) AS n_b
             |  FROM d)
             |SELECT term, df_a, df_b,
             |       CAST(round(ln(CAST(df_a + 1 AS DOUBLE)) * 1e6) AS BIGINT)
             |     - CAST(round(ln(CAST(n_a + 2 AS DOUBLE)) * 1e6) AS BIGINT)
             |     - CAST(round(ln(CAST(df_b + 1 AS DOUBLE)) * 1e6) AS BIGINT)
             |     + CAST(round(ln(CAST(n_b + 2 AS DOUBLE)) * 1e6) AS BIGINT)
             |         AS drift_u
             |FROM f CROSS JOIN t
             |ORDER BY abs(drift_u) DESC, term LIMIT 20""".stripMargin),
      "document-frequency drift between source halves: smoothed log-odds, exact"
    ),

    // graph-centrality keywords: PageRank over the distinct undirected
    // word-adjacency graph — the corpus plane composed with the Pregel
    // plane, every round integer-exact and SQL-unrolled
    "doc_textrank" -> Q(
      (s, dir) =>
        TextStats.textrank(t(s, dir, "documents"), "text", iters = 3,
          topK = 20),
      Some(GraphSql.pageRankSql(
        """toks AS (
          |  SELECT doc_id, list_filter(
          |    string_split_regex(lower(trim(text)), '\s+'),
          |    x -> len(x) > 0) AS l
          |  FROM documents),
          |u AS (
          |  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos
          |  FROM toks),
          |bgd AS (
          |  SELECT DISTINCT a.w AS w1, b.w AS w2
          |  FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
          |vocab AS (
          |  SELECT w, ('0x' || substr(md5(w), 1, 15))::BIGINT AS nid
          |  FROM (SELECT DISTINCT w FROM u)),
          |e AS MATERIALIZED (
          |  SELECT DISTINCT src, dst FROM (
          |    SELECT ('0x' || substr(md5(w1), 1, 15))::BIGINT AS src,
          |           ('0x' || substr(md5(w2), 1, 15))::BIGINT AS dst
          |    FROM bgd
          |    UNION ALL
          |    SELECT ('0x' || substr(md5(w2), 1, 15))::BIGINT,
          |           ('0x' || substr(md5(w1), 1, 15))::BIGINT
          |    FROM bgd))""".stripMargin,
        iters = 3, topK = 20,
        finalSelect = Some(
          """SELECT v.w AS word, r.pr_micro
            |FROM r3 r JOIN vocab v ON v.nid = r.node
            |ORDER BY pr_micro DESC, word LIMIT 20""".stripMargin))),
      "TextRank keywords: integer PageRank over the word-adjacency graph"
    ),

    // the no-model phrase extractor: RAKE over stopword-free runs, scores
    // in exact integer micro-units (deg·1e6 div freq summed per phrase)
    "doc_rake" -> Q(
      (s, dir) =>
        TextStats.rakeKeywords(t(s, dir, "documents"), "doc_id", "text",
          TextStats.StopwordsEn, topK = 20),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> len(x) > 0) AS l
             |  FROM documents),
             |u AS (
             |  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos
             |  FROM toks),
             |sg AS (
             |  SELECT doc_id, pos, w,
             |         w IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in',
             |               'is', 'it', 'that', 'for', 'on', 'with', 'as',
             |               'at', 'by', 'this') AS stop,
             |         sum(CASE WHEN w IN ('the', 'a', 'an', 'and', 'or', 'of',
             |               'to', 'in', 'is', 'it', 'that', 'for', 'on',
             |               'with', 'as', 'at', 'by', 'this')
             |             THEN 1 ELSE 0 END)
             |           OVER (PARTITION BY doc_id ORDER BY pos
             |                 ROWS UNBOUNDED PRECEDING) AS seg
             |  FROM u),
             |cw AS (SELECT doc_id, pos, w, seg FROM sg WHERE NOT stop),
             |ph AS (
             |  SELECT doc_id, seg,
             |         string_agg(w, ' ' ORDER BY pos) AS phrase,
             |         CAST(count(*) AS BIGINT) AS len
             |  FROM cw GROUP BY 1, 2),
             |occ AS (SELECT cw.w, ph.len FROM cw
             |        JOIN ph USING (doc_id, seg)),
             |ws AS (
             |  SELECT w, CAST(sum(len) AS BIGINT) AS deg,
             |         CAST(count(*) AS BIGINT) AS freq
             |  FROM occ GROUP BY w),
             |wsu AS (SELECT w, deg * 1000000 // freq AS su FROM ws),
             |ps AS (
             |  SELECT cw.doc_id, cw.seg, ph.phrase,
             |         CAST(sum(wsu.su) AS BIGINT) AS pscore
             |  FROM cw JOIN ph USING (doc_id, seg) JOIN wsu USING (w)
             |  GROUP BY 1, 2, 3)
             |SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
             |       CAST(max(pscore) AS BIGINT) AS score_u
             |FROM ps GROUP BY phrase
             |ORDER BY score_u DESC, phrase LIMIT 20""".stripMargin),
      "RAKE phrase extraction: stopword-run segmentation, integer deg/freq scores"
    ),

    "doc_lm_score" -> Q(
      (s, dir) =>
        TextStats.lmScore(t(s, dir, "documents"), "doc_id", "text")
          .select(col("doc_id"), col("n_bigrams"), col("nll_u"), col("avg_nll_u"))
          .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> len(x) > 0) AS l
             |  FROM documents),
             |u AS (
             |  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos
             |  FROM toks),
             |db AS (
             |  SELECT a.doc_id, a.w AS w1, b.w AS w2, count(*) AS k
             |  FROM u a JOIN u b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |  GROUP BY 1, 2, 3),
             |bg AS (SELECT w1, w2, sum(k) AS c_xy FROM db GROUP BY 1, 2),
             |pre AS (SELECT w1, sum(c_xy) AS c_x FROM bg GROUP BY 1),
             |vv AS (SELECT count(DISTINCT w) AS v FROM u),
             |sc AS (
             |  SELECT doc_id,
             |         CAST(sum(k) AS BIGINT) AS n_bigrams,
             |         CAST(-sum(k * (
             |             CAST(round(ln(CAST(c_xy + 1 AS DOUBLE)) * 1e6) AS BIGINT)
             |           - CAST(round(ln(CAST(c_x + v AS DOUBLE)) * 1e6) AS BIGINT)))
             |           AS BIGINT) AS nll_u
             |  FROM db JOIN bg USING (w1, w2) JOIN pre USING (w1) CROSS JOIN vv
             |  GROUP BY doc_id)
             |SELECT doc_id, n_bigrams, nll_u,
             |       CAST(nll_u // n_bigrams AS BIGINT) AS avg_nll_u
             |FROM sc ORDER BY doc_id""".stripMargin),
      "corpus-trained bigram-LM NLL per document (perplexity-filter signal), integer-exact"
    ),

    // train on the train split, score the held-out test split: exercises
    // the unseen-bigram/unseen-prefix smoothing paths under a full oracle
    "doc_lm_holdout" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val train = docs.filter(Corpus.splitAssign(col("text")) === "train")
        val test = docs.filter(Corpus.splitAssign(col("text")) === "test")
        TextStats.lmScoreAgainst(test, "doc_id", "text",
            TextStats.lmModel(train, "text"), TextStats.lmVocabSize(train, "text"))
          .select(col("doc_id"), col("n_bigrams"), col("nll_u"), col("avg_nll_u"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, text,
             |         ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS pct
             |  FROM documents),
             |ttr AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                             x -> len(x) > 0) AS l
             |  FROM d WHERE pct < 90),
             |tte AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                             x -> len(x) > 0) AS l
             |  FROM d WHERE pct >= 95),
             |utr AS (SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos FROM ttr),
             |ute AS (SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos FROM tte),
             |bg AS (
             |  SELECT a.w AS w1, b.w AS w2, count(*) AS c_xy
             |  FROM utr a JOIN utr b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |  GROUP BY 1, 2),
             |pre AS (SELECT w1, sum(c_xy) AS c_x FROM bg GROUP BY 1),
             |vv AS (SELECT count(DISTINCT w) AS v FROM utr),
             |db AS (
             |  SELECT a.doc_id, a.w AS w1, b.w AS w2, count(*) AS k
             |  FROM ute a JOIN ute b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |  GROUP BY 1, 2, 3),
             |sc AS (
             |  SELECT doc_id,
             |         CAST(sum(k) AS BIGINT) AS n_bigrams,
             |         CAST(-sum(k * (
             |             CAST(round(ln(CAST(coalesce(c_xy, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
             |           - CAST(round(ln(CAST(coalesce(c_x, 0) + v AS DOUBLE)) * 1e6) AS BIGINT)))
             |           AS BIGINT) AS nll_u
             |  FROM db LEFT JOIN bg USING (w1, w2) LEFT JOIN pre USING (w1) CROSS JOIN vv
             |  GROUP BY doc_id)
             |SELECT doc_id, n_bigrams, nll_u,
             |       CAST(nll_u // n_bigrams AS BIGINT) AS avg_nll_u
             |FROM sc ORDER BY doc_id""".stripMargin),
      "held-out LM scoring: model from the train split, NLL over the test split"
    ),

    "doc_mixture_sample" -> Q(
      (s, dir) =>
        Corpus.mixtureSample(
            t(s, dir, "documents").select("doc_id", "source", "text"),
            "source", "text", alpha = 0.5, targetFraction = 0.5)
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id"),
      Some("""WITH c AS (
             |  SELECT source, count(*) AS n_s FROM documents GROUP BY source),
             |r AS (
             |  SELECT source, n_s, pow(n_s, 0.5) AS w,
             |         sum(pow(n_s, 0.5)) OVER (ORDER BY source
             |           ROWS BETWEEN UNBOUNDED PRECEDING
             |           AND UNBOUNDED FOLLOWING) AS wsum,
             |         sum(n_s) OVER () AS nsum
             |  FROM c),
             |k AS (
             |  SELECT source,
             |         least(1.0, 0.5 * nsum * w / (wsum * n_s)) AS keep
             |  FROM r)
             |SELECT d.doc_id, d.source
             |FROM documents d JOIN k USING (source)
             |WHERE ('0x' || substr(md5(d.text), 1, 8))::BIGINT % 10000
             |      < keep * 10000
             |ORDER BY d.doc_id""".stripMargin),
      "temperature-rebalanced source mixture sampling (content-hash deterministic)"
    ),

    "doc_gopher_rules" -> Q(
      (s, dir) =>
        // minWords lowered to the synthetic corpus scale so the rule set
        // actually splits the data (sf docs run ~20-80 words)
        // required-word lexicon adapted to the synthetic corpus (its only
        // English function words are 'the' and 'a'); rule semantics
        // (>= 2 distinct hits) stay Gopher's
        TextStats.gopherRules(t(s, dir, "documents"), "doc_id", "text",
            minWords = 30, maxWords = 100000,
            requiredWords = Seq("the", "a", "and", "of", "to", "be", "that", "with"))
          .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                     x -> len(x) > 0) AS ltoks,
             |         len(regexp_extract_all(trim(text), '\S+')) AS n_words,
             |         length(text) - len(regexp_extract_all(text, '\s'))
             |           AS sum_chars,
             |         len(regexp_extract_all(text, '#'))
             |           + len(regexp_extract_all(text, '\.\.\.')) AS n_sym,
             |         len(string_split(text, chr(10))) AS n_lines,
             |         len(regexp_extract_all(text, '(?m)^\s*[-*•]')) AS n_bul,
             |         len(regexp_extract_all(text, '(?m)\.\.\.$')) AS n_ell
             |  FROM documents),
             |f AS (
             |  SELECT doc_id, n_words, sum_chars, n_sym, n_lines, n_bul, n_ell,
             |         len(list_filter(ltoks,
             |           w -> regexp_matches(w, '\p{L}'))) AS n_alpha,
             |         len(list_intersect(list_distinct(ltoks),
             |           ['the','a','and','of','to','be','that','with']))
             |           AS n_req
             |  FROM t)
             |SELECT doc_id,
             |       CAST(n_words AS BIGINT) AS n_words,
             |       (n_words >= 30 AND n_words <= 100000) AS ok_word_count,
             |       (n_words > 0 AND sum_chars >= n_words * 3
             |        AND sum_chars <= n_words * 10) AS ok_mean_word_len,
             |       (n_sym * 10 <= n_words) AS ok_symbol_ratio,
             |       (n_bul * 10 <= n_lines * 9) AS ok_bullets,
             |       (n_ell * 10 <= n_lines * 3) AS ok_ellipsis,
             |       (n_alpha * 10 >= n_words * 8) AS ok_alpha_words,
             |       (n_req >= 2) AS ok_stopwords,
             |       ((n_words >= 30 AND n_words <= 100000)
             |        AND (n_words > 0 AND sum_chars >= n_words * 3
             |             AND sum_chars <= n_words * 10)
             |        AND (n_sym * 10 <= n_words)
             |        AND (n_bul * 10 <= n_lines * 9)
             |        AND (n_ell * 10 <= n_lines * 3)
             |        AND (n_alpha * 10 >= n_words * 8)
             |        AND (n_req >= 2)) AS gopher_pass
             |FROM f ORDER BY doc_id""".stripMargin),
      "Gopher rule battery (Rae et al. A1): integer cross-multiplied thresholds, engine-exact verdicts"
    ),

    "doc_dsir_weights" -> Q(
      (s, dir) => {
        // target domain = the German slice; weight every raw doc by how
        // target-like its hashed-bigram distribution is (DSIR, NeurIPS'23).
        // Micro-nat integer weights -> the whole pipeline replays in SQL.
        dsirDocWeights(s, dir).orderBy("doc_id")
      },
      Some("""WITH lt AS (
             |  SELECT doc_id, lang,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                     x -> len(x) > 0) AS t
             |  FROM documents),
             |occ AS (
             |  SELECT doc_id, lang,
             |         unnest(list_transform(range(1, len(t)),
             |           i -> array_to_string(t[i:i+1], ' '))) AS g
             |  FROM lt WHERE len(t) >= 2),
             |b AS (
             |  SELECT doc_id, lang,
             |         ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS bucket
             |  FROM occ),
             |rc AS (SELECT bucket, count(*) AS c_r FROM b GROUP BY bucket),
             |tc AS (SELECT bucket, count(*) AS c_t FROM b
             |       WHERE lang = 'de' GROUP BY bucket),
             |tot AS (SELECT (SELECT sum(c_r) FROM rc) AS nr,
             |               (SELECT sum(c_t) FROM tc) AS nt),
             |lr AS (
             |  SELECT bucket,
             |         (CAST(round(ln(coalesce(c_t, 0) + 1) * 1e6, 0) AS BIGINT)
             |            - CAST(round(ln(nt + 4096) * 1e6, 0) AS BIGINT))
             |         - (CAST(round(ln(coalesce(c_r, 0) + 1) * 1e6, 0) AS BIGINT)
             |            - CAST(round(ln(nr + 4096) * 1e6, 0) AS BIGINT)) AS lr_u
             |  FROM rc FULL JOIN tc USING (bucket), tot),
             |w AS (
             |  SELECT b.doc_id, count(*) AS n_grams, sum(lr_u) AS weight_u
             |  FROM b JOIN lr USING (bucket) GROUP BY b.doc_id)
             |SELECT d.doc_id,
             |       CAST(coalesce(w.n_grams, 0) AS BIGINT) AS n_grams,
             |       CAST(coalesce(w.weight_u, 0) AS BIGINT) AS weight_u
             |FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      "DSIR importance weights: hashed-bigram target-vs-raw log-likelihood ratios, integer micro-nats"
    ),

    "doc_dsir_sample" -> Q(
      (s, dir) => {
        // Gumbel-top-k importance resampling toward the German slice:
        // top-100 of per-gram weight + deterministic md5-derived Gumbel
        // noise. The whole draw — weights, noise, ranking — replays in SQL.
        val docs = t(s, dir, "documents")
        Corpus.dsirResample(
            docs.select("doc_id", "text"),
            docs.filter(col("lang") === "de").select("doc_id", "text"),
            "doc_id", "text", k = 100, temperature = 1.0,
            nBuckets = 4096, n = 2,
            precomputedWeights = Some(dsirDocWeights(s, dir)))
          .orderBy("doc_id")
      },
      Some("""WITH lt AS (
             |  SELECT doc_id, lang,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                     x -> len(x) > 0) AS t
             |  FROM documents),
             |occ AS (
             |  SELECT doc_id, lang,
             |         unnest(list_transform(range(1, len(t)),
             |           i -> array_to_string(t[i:i+1], ' '))) AS g
             |  FROM lt WHERE len(t) >= 2),
             |b AS (
             |  SELECT doc_id, lang,
             |         ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS bucket
             |  FROM occ),
             |rc AS (SELECT bucket, count(*) AS c_r FROM b GROUP BY bucket),
             |tc AS (SELECT bucket, count(*) AS c_t FROM b
             |       WHERE lang = 'de' GROUP BY bucket),
             |tot AS (SELECT (SELECT sum(c_r) FROM rc) AS nr,
             |               (SELECT sum(c_t) FROM tc) AS nt),
             |lr AS (
             |  SELECT bucket,
             |         (CAST(round(ln(coalesce(c_t, 0) + 1) * 1e6, 0) AS BIGINT)
             |            - CAST(round(ln(nt + 4096) * 1e6, 0) AS BIGINT))
             |         - (CAST(round(ln(coalesce(c_r, 0) + 1) * 1e6, 0) AS BIGINT)
             |            - CAST(round(ln(nr + 4096) * 1e6, 0) AS BIGINT)) AS lr_u
             |  FROM rc FULL JOIN tc USING (bucket), tot),
             |w AS (
             |  SELECT b.doc_id, count(*) AS n_grams, sum(lr_u) AS weight_u
             |  FROM b JOIN lr USING (bucket) GROUP BY b.doc_id),
             |fw AS (
             |  SELECT d.doc_id,
             |         CAST(coalesce(w.n_grams, 0) AS BIGINT) AS n_grams,
             |         CAST(coalesce(w.weight_u, 0) AS BIGINT) AS weight_u
             |  FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id),
             |keyed AS (
             |  SELECT doc_id, n_grams, weight_u,
             |         (CASE WHEN n_grams > 0
             |           THEN CAST(round(CAST(weight_u AS DOUBLE) / n_grams, 0)
             |                  AS BIGINT)
             |           ELSE -2305843009213693952 END)
             |         + CAST(round(-ln(-ln(
             |             (('0x' || substr(md5('dsir|' || CAST(doc_id AS VARCHAR)),
             |               1, 12))::BIGINT + 0.5) / 281474976710656.0))
             |             * 1e6, 0) AS BIGINT) AS key_u
             |  FROM fw),
             |r AS (SELECT keyed.*,
             |             row_number() OVER (ORDER BY key_u DESC, doc_id) AS rn
             |      FROM keyed)
             |SELECT doc_id, n_grams, weight_u, key_u
             |FROM r WHERE rn <= 100 ORDER BY doc_id""".stripMargin),
      "DSIR Gumbel-top-k resampling: deterministic md5 Gumbel noise + per-gram weight, fully SQL-replayed draw"
    ),

    "doc_dsir_precision" -> Q(
      (s, dir) => {
        // selection-quality eval (the estimator-vs-truth pattern from
        // doc_lsh_recall): what fraction of a COLD draw (T=0.02 — near-pure
        // exploitation; the per-gram signal here spans ~2e5 micro-nats vs
        // Gumbel stddev 1.28e6, so T=1 would measure the noise, not the
        // estimator) is actually German vs the corpus base rate —
        // quantifies whether the hashed-bigram proxy retrieves the latent
        // label it never saw. Exact integer ppm. Measured at sf0.01:
        // 660000 ppm vs 140000 base (4.7x lift; noise-free ceiling 68/100,
        // T=1 diverse draw sits at 160000 — temperature trades diversity
        // for fidelity exactly as designed).
        val docs = t(s, dir, "documents")
        val sample = Corpus.dsirResample(
          docs.select("doc_id", "text"),
          docs.filter(col("lang") === "de").select("doc_id", "text"),
          "doc_id", "text", k = 100, temperature = 0.02,
          nBuckets = 4096, n = 2,
          precomputedWeights = Some(dsirDocWeights(s, dir)))
        val base = docs.agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("lang") === "de", 1L).otherwise(0L)).as("n_de"))
        sample.join(docs.select("doc_id", "lang"), Seq("doc_id"))
          .agg(count(lit(1)).as("k"),
            sum(when(col("lang") === "de", 1L).otherwise(0L)).as("n_target"))
          .crossJoin(broadcast(base))
          .select(col("k"),
            col("n_target"),
            expr("n_target * 1000000 div k").as("precision_ppm"),
            expr("n_de * 1000000 div n_docs").as("base_ppm"))
      },
      Some("""WITH lt AS (
             |  SELECT doc_id, lang,
             |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
             |                     x -> len(x) > 0) AS t
             |  FROM documents),
             |occ AS (
             |  SELECT doc_id, lang,
             |         unnest(list_transform(range(1, len(t)),
             |           i -> array_to_string(t[i:i+1], ' '))) AS g
             |  FROM lt WHERE len(t) >= 2),
             |b AS (
             |  SELECT doc_id, lang,
             |         ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS bucket
             |  FROM occ),
             |rc AS (SELECT bucket, count(*) AS c_r FROM b GROUP BY bucket),
             |tc AS (SELECT bucket, count(*) AS c_t FROM b
             |       WHERE lang = 'de' GROUP BY bucket),
             |tot AS (SELECT (SELECT sum(c_r) FROM rc) AS nr,
             |               (SELECT sum(c_t) FROM tc) AS nt),
             |lr AS (
             |  SELECT bucket,
             |         (CAST(round(ln(coalesce(c_t, 0) + 1) * 1e6, 0) AS BIGINT)
             |            - CAST(round(ln(nt + 4096) * 1e6, 0) AS BIGINT))
             |         - (CAST(round(ln(coalesce(c_r, 0) + 1) * 1e6, 0) AS BIGINT)
             |            - CAST(round(ln(nr + 4096) * 1e6, 0) AS BIGINT)) AS lr_u
             |  FROM rc FULL JOIN tc USING (bucket), tot),
             |w AS (
             |  SELECT b.doc_id, count(*) AS n_grams, sum(lr_u) AS weight_u
             |  FROM b JOIN lr USING (bucket) GROUP BY b.doc_id),
             |fw AS (
             |  SELECT d.doc_id,
             |         CAST(coalesce(w.n_grams, 0) AS BIGINT) AS n_grams,
             |         CAST(coalesce(w.weight_u, 0) AS BIGINT) AS weight_u
             |  FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id),
             |keyed AS (
             |  SELECT doc_id, n_grams, weight_u,
             |         (CASE WHEN n_grams > 0
             |           THEN CAST(round(CAST(weight_u AS DOUBLE) / (n_grams * 0.02), 0)
             |                  AS BIGINT)
             |           ELSE -2305843009213693952 END)
             |         + CAST(round(-ln(-ln(
             |             (('0x' || substr(md5('dsir|' || CAST(doc_id AS VARCHAR)),
             |               1, 12))::BIGINT + 0.5) / 281474976710656.0))
             |             * 1e6, 0) AS BIGINT) AS key_u
             |  FROM fw),
             |r AS (SELECT keyed.*,
             |             row_number() OVER (ORDER BY key_u DESC, doc_id) AS rn
             |      FROM keyed),
             |base AS (
             |  SELECT count(*) AS n_docs,
             |         sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS n_de
             |  FROM documents)
             |SELECT CAST(count(*) AS BIGINT) AS k,
             |       CAST(sum(CASE WHEN d.lang = 'de' THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_target,
             |       CAST(sum(CASE WHEN d.lang = 'de' THEN 1 ELSE 0 END)
             |         * 1000000 // count(*) AS BIGINT) AS precision_ppm,
             |       CAST(base.n_de * 1000000 // base.n_docs AS BIGINT)
             |         AS base_ppm
             |FROM r JOIN documents d USING (doc_id), base
             |WHERE r.rn <= 100
             |GROUP BY base.n_de, base.n_docs""".stripMargin),
      "DSIR selection-quality eval: precision of the latent target label in the draw vs base rate (exact ppm)"
    ),

    "emb_centroid_outliers" -> Q(
      (s, dir) =>
        Similarity.centroidOutliers(t(s, dir, "embeddings"),
            "vec_id", "embedding", "label", threshold = 0.0)
          .select(col("vec_id"), col("label"),
            round(col("cos_centroid"), 6).as("cos_centroid"),
            col("is_outlier"))
          .orderBy("vec_id"),
      Some("""WITH u AS (
             |  SELECT vec_id, label,
             |         list_transform(embedding,
             |           x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
             |           AS uv
             |  FROM embeddings),
             |e AS (
             |  SELECT label, unnest(uv) AS x, generate_subscripts(uv, 1) AS idx
             |  FROM u),
             |s AS (SELECT label, idx, sum(x) AS sx FROM e GROUP BY label, idx),
             |c AS (SELECT label, list(sx ORDER BY idx) AS cv FROM s GROUP BY label),
             |j AS (
             |  SELECT u.vec_id, u.label,
             |         list_reduce(list_prepend(0, list_transform(range(1, 65),
             |           i -> u.uv[i] * c.cv[i])), (a, b) -> a + b) AS dot,
             |         list_reduce(list_prepend(0, list_transform(u.uv,
             |           a -> a * a)), (a, b) -> a + b) AS uu,
             |         list_reduce(list_prepend(0, list_transform(c.cv,
             |           a -> a * a)), (a, b) -> a + b) AS cc
             |  FROM u JOIN c USING (label)),
             |k AS (
             |  SELECT vec_id, label,
             |         CASE WHEN uu > 0 AND cc > 0
             |           THEN CAST(dot AS DOUBLE) /
             |                sqrt(CAST(uu AS DOUBLE) * CAST(cc AS DOUBLE))
             |         END AS cosd
             |  FROM j)
             |SELECT vec_id, label, round(cosd, 6) + 0 AS cos_centroid,
             |       coalesce(cosd < 0.0, TRUE) AS is_outlier
             |FROM k ORDER BY vec_id""".stripMargin),
      "centroid-distance outlier filter: exact-integer cosine to the group mean (scale-invariant, division-free)"
    ),

    // top principal direction by power iteration over the integer-exact
    // Gram matrix: 4 mat-vec rounds, each an order-free integer sum plus
    // ONE fixed renormalize op-pair — the whole spectral trajectory
    // replays bit-for-bit in SQL (PcaSql.iterCtes, the lloydCtes family)
    "emb_pca_vector" -> Q(
      (s, dir) => {
        val v = Similarity.powerIterationTopPc(
          t(s, dir, "embeddings"), "embedding", iters = 4)
        import s.implicits._
        v.zipWithIndex.map { case (x, i) => (i, x) }.toSeq
          .toDF("idx", "v_micro")
          .orderBy("idx")
      },
      Some(s"""WITH ${PcaSql.iterCtes(4)}
             |SELECT CAST(idx AS INT) AS idx, v AS v_micro
             |FROM v4 ORDER BY idx""".stripMargin),
      "top principal direction: power iteration, exact-integer mat-vec, engine-replayable"
    ),

    // projection of every vector onto the learned direction, aggregated by
    // ground-truth label: exact integer dot products, so the per-label
    // separation readout (does PC1 split the clusters?) is hash-exact
    "emb_pca_scores" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val v = Similarity.powerIterationTopPc(emb, "embedding", iters = 4)
        emb.select(col("label"),
            Similarity.projectionMicro(col("embedding"), v).as("__p"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(col("__p")).as("sum_proj"),
            sum(abs(col("__p"))).as("sum_abs_proj"))
          .orderBy("label")
      },
      Some(s"""WITH ${PcaSql.iterCtes(4)},
             |p AS (
             |  SELECT e.vec_id, CAST(sum(e.qa * v4.v) AS BIGINT) AS proj
             |  FROM e JOIN v4 ON v4.idx = e.a GROUP BY e.vec_id)
             |SELECT l.label, CAST(count(*) AS BIGINT) AS n_vecs,
             |       CAST(sum(p.proj) AS BIGINT) AS sum_proj,
             |       CAST(sum(abs(p.proj)) AS BIGINT) AS sum_abs_proj
             |FROM p JOIN embeddings l USING (vec_id)
             |GROUP BY l.label ORDER BY l.label""".stripMargin),
      "per-label projection stats onto the top principal direction, exact integers"
    ),

    "emb_pq_codes" -> Q(
      (s, dir) =>
        Similarity.pqCodes(t(s, dir, "embeddings"), "vec_id", "embedding",
            dim = 64, m = 4, k = 16)
          .select(col("id").as("vec_id"), col("sub"), col("code"),
            round(col("dist"), 6).as("dist"))
          .orderBy("vec_id", "sub"),
      Some(s"""$PqCodesCtes
             |SELECT vec_id, CAST(sub AS INT) AS sub, cid AS code,
             |       round(dist, 6) + 0 AS dist
             |FROM r WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin),
      "product-quantization code assignment (seeded codebook, engine-exact distances)"
    ),

    // quantization-loss readout per subspace: mean squared distance to the
    // assigned centroid. Each per-(vec,sub) distance is a fold-order-pinned
    // double, so the micro-unit snap matches on both engines and the
    // corpus-level sums are exact int64 (no float fold-order on the agg)
    "emb_pq_distortion" -> Q(
      (s, dir) =>
        Similarity.pqCodes(t(s, dir, "embeddings"), "vec_id", "embedding",
            dim = 64, m = 4, k = 16)
          .select(col("sub"),
            expr("CAST(floor(dist * 1e6 + 0.5) AS BIGINT)").as("dist_u"))
          .groupBy(col("sub"))
          .agg(count(lit(1)).as("n"), sum(col("dist_u")).as("sum_dist_u"))
          .withColumn("mean_dist",
            round(col("sum_dist_u").cast("double") / 1e6 / col("n"), 6))
          .orderBy("sub"),
      Some(s"""$PqCodesCtes,
             |best AS (SELECT sub, dist FROM r WHERE rn = 1),
             |u AS (SELECT sub,
             |             CAST(floor(dist * 1e6 + 0.5) AS BIGINT) AS dist_u
             |      FROM best),
             |a AS (
             |  SELECT CAST(sub AS INT) AS sub,
             |         CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(dist_u) AS BIGINT) AS sum_dist_u
             |  FROM u GROUP BY sub)
             |SELECT sub, n, sum_dist_u,
             |       round(CAST(sum_dist_u AS DOUBLE) / 1e6 / n, 6) + 0
             |         AS mean_dist
             |FROM a ORDER BY sub""".stripMargin),
      "PQ quantization distortion per subspace: micro-snapped exact integer sums"
    ),

    // ADC: the corpus side of the search touches only (id, sub, code) int
    // triples; every float lives in the broadcast query-side lookup table,
    // snapped to micro-units so the per-vector score is an exact long sum
    "emb_pq_ann_top5" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.pqAnnTopK(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", "vec_id",
            dim = 64, m = 4, k = 16, topK = 5)
          .orderBy("query_id", "rank")
      },
      Some(s"""$PqCodesCtes,
             |q AS (SELECT vec_id AS query_id, sub, sv AS qv
             |      FROM s WHERE vec_id < 10),
             |lut AS (
             |  SELECT q.query_id, q.sub, c.cid AS code,
             |         CAST(floor(list_reduce(list_prepend(0.0,
             |           list_transform(range(1, 17),
             |             i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))),
             |           (a, b) -> a + b) * 1e6 + 0.5) AS BIGINT) AS d_u
             |  FROM q JOIN c USING (sub)),
             |adc AS (
             |  SELECT l.query_id, cd.vec_id AS corpus_id,
             |         CAST(sum(l.d_u) AS BIGINT) AS adc_u
             |  FROM codes cd JOIN lut l ON cd.sub = l.sub AND cd.code = l.code
             |  WHERE cd.vec_id <> l.query_id
             |  GROUP BY 1, 2),
             |rk AS (
             |  SELECT query_id, corpus_id, adc_u,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY adc_u, corpus_id) AS rank
             |  FROM adc)
             |SELECT query_id, corpus_id, adc_u, rank
             |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      "PQ asymmetric-distance top-k: broadcast LUT, int-only corpus scan"
    ),

    // the composed billion-scale layout: IVF cells gate the candidate set,
    // PQ-ADC scores only the probed candidates — every cell, code, LUT
    // entry, and integer ADC sum replays in SQL
    "emb_ivfpq_ann_top5" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", "vec_id",
            dim = 64, m = 4, k = 16, nlist = 32, nprobe = 8, topK = 5)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH ${IvfSql.cellCtes(32)},
             |sb AS (
             |  SELECT vec_id, g.sub,
             |         e[g.sub * 16 + 1 : g.sub * 16 + 16] AS sv
             |  FROM v, (SELECT unnest(range(0, 4)) AS sub) g),
             |cbk AS (
             |  SELECT sub, CAST(vec_id AS INT) AS cid, sv AS cv
             |  FROM sb WHERE vec_id IN (SELECT vec_id FROM v ORDER BY vec_id LIMIT 16)),
             |dpq AS (
             |  SELECT sb.vec_id, sb.sub, cbk.cid,
             |         list_reduce(list_prepend(0.0, list_transform(range(1, 17),
             |           i -> (sb.sv[i] - cbk.cv[i]) * (sb.sv[i] - cbk.cv[i]))),
             |           (a, b) -> a + b) AS dist
             |  FROM sb JOIN cbk USING (sub)),
             |rpq AS (
             |  SELECT vec_id, sub, cid, dist,
             |         row_number() OVER (PARTITION BY vec_id, sub
             |           ORDER BY dist, cid) AS rn
             |  FROM dpq),
             |codes AS (SELECT vec_id, sub, cid AS code FROM rpq WHERE rn = 1),
             |qc AS (SELECT vec_id, cell FROM ranked WHERE r <= 8 AND vec_id < 10),
             |cc AS (SELECT vec_id, cell FROM ranked WHERE r = 1),
             |cand AS (
             |  SELECT DISTINCT qc.vec_id AS query_id, cc.vec_id AS corpus_id
             |  FROM qc JOIN cc USING (cell) WHERE cc.vec_id <> qc.vec_id),
             |q AS (SELECT vec_id AS query_id, sub, sv AS qv
             |      FROM sb WHERE vec_id < 10),
             |lut AS (
             |  SELECT q.query_id, q.sub, cbk.cid AS code,
             |         CAST(floor(list_reduce(list_prepend(0.0,
             |           list_transform(range(1, 17),
             |             i -> (q.qv[i] - cbk.cv[i]) * (q.qv[i] - cbk.cv[i]))),
             |           (a, b) -> a + b) * 1e6 + 0.5) AS BIGINT) AS d_u
             |  FROM q JOIN cbk USING (sub)),
             |adc AS (
             |  SELECT cand.query_id, cand.corpus_id,
             |         CAST(sum(l.d_u) AS BIGINT) AS adc_u
             |  FROM cand
             |  JOIN codes cd ON cd.vec_id = cand.corpus_id
             |  JOIN lut l ON l.query_id = cand.query_id
             |            AND l.sub = cd.sub AND l.code = cd.code
             |  GROUP BY 1, 2),
             |rk AS (
             |  SELECT query_id, corpus_id, adc_u,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY adc_u, corpus_id) AS rank
             |  FROM adc)
             |SELECT query_id, corpus_id, adc_u, rank
             |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      "IVF-PQ composed ANN: coarse cells gate candidates, integer ADC scores them"
    ),

    // recall@5 of ADC vs exact L2 in the SAME micro-units: the eval
    // isolates quantization loss (m=4 x 16 centroids), not metric mismatch
    "emb_pq_recall" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") < 10)
        val truth = Similarity.l2TopK(emb, qs,
          "vec_id", "embedding", "vec_id", topK = 5)
        val approx = Similarity.pqAnnTopK(emb, qs,
          "vec_id", "embedding", "vec_id",
          dim = 64, m = 4, k = 16, topK = 5)
        Similarity.recallAtK(truth, approx, k = 5).orderBy("query_id")
      },
      Some(s"""$PqCodesCtes,
             |q AS (SELECT vec_id AS query_id, sub, sv AS qv
             |      FROM s WHERE vec_id < 10),
             |lut AS (
             |  SELECT q.query_id, q.sub, c.cid AS code,
             |         CAST(floor(list_reduce(list_prepend(0.0,
             |           list_transform(range(1, 17),
             |             i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))),
             |           (a, b) -> a + b) * 1e6 + 0.5) AS BIGINT) AS d_u
             |  FROM q JOIN c USING (sub)),
             |adc AS (
             |  SELECT l.query_id, cd.vec_id AS corpus_id,
             |         CAST(sum(l.d_u) AS BIGINT) AS adc_u
             |  FROM codes cd JOIN lut l ON cd.sub = l.sub AND cd.code = l.code
             |  WHERE cd.vec_id <> l.query_id
             |  GROUP BY 1, 2),
             |appr AS (
             |  SELECT query_id, corpus_id,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY adc_u, corpus_id) AS rank
             |  FROM adc QUALIFY rank <= 5),
             |pt AS (
             |  SELECT qv.vec_id AS query_id, cv.vec_id AS corpus_id,
             |         CAST(floor(list_reduce(list_prepend(0.0,
             |           list_transform(range(1, 65),
             |             i -> (cv.e[i] - qv.e[i]) * (cv.e[i] - qv.e[i]))),
             |           (a, b) -> a + b) * 1e6 + 0.5) AS BIGINT) AS l2_u
             |  FROM v cv, v qv
             |  WHERE qv.vec_id < 10 AND cv.vec_id <> qv.vec_id),
             |tru AS (
             |  SELECT query_id, corpus_id,
             |         row_number() OVER (PARTITION BY query_id
             |           ORDER BY l2_u, corpus_id) AS rank
             |  FROM pt QUALIFY rank <= 5)
             |SELECT t.query_id,
             |       CAST(count(a.corpus_id) AS BIGINT) AS n_hits,
             |       CAST(count(*) AS BIGINT) AS n_truth,
             |       CAST(count(a.corpus_id) * 1000000 // count(*) AS BIGINT)
             |         AS recall_ppm
             |FROM tru t LEFT JOIN appr a
             |  ON a.query_id = t.query_id AND a.corpus_id = t.corpus_id
             |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin),
      "recall@5 of PQ-ADC vs exact-L2 ground truth (quantization loss, oracle-replayed)"
    ),

    "doc_token_entropy" -> Q(
      (s, dir) =>
        TextStats.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      Some("""WITH u AS (
             |  SELECT doc_id, unnest(list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> len(x) > 0)) AS w
             |  FROM documents),
             |tf AS (SELECT doc_id, w, count(*) AS c FROM u GROUP BY 1, 2),
             |a AS (
             |  SELECT doc_id, sum(c) AS n,
             |         sum(c * CAST(round(ln(c) * 1e6) AS BIGINT)) AS clnc_u
             |  FROM tf GROUP BY doc_id)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
             |       CAST(n * CAST(round(ln(n) * 1e6) AS BIGINT) - clnc_u AS DOUBLE)
             |         / CAST(n * 1000000 AS DOUBLE) AS entropy
             |FROM a ORDER BY doc_id""".stripMargin),
      "per-doc Shannon token entropy (repetition signal), micro-nat-exact"
    ),

    "doc_dup_ngrams" -> Q(
      (s, dir) =>
        Corpus.dupNgramStats(t(s, dir, "documents"), "doc_id", "text", n = 5)
          .select(col("doc_id"), col("n_ngrams"), col("n_dup"), col("dup_ppm"))
          .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> len(x) > 0) AS t
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(
             |    range(1, len(t) - 3),
             |    i -> array_to_string(t[i:i+4], ' ')))) AS s
             |  FROM toks WHERE len(t) >= 5),
             |h AS (
             |  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS hm
             |  FROM sh),
             |dfreq AS (SELECT hm, count(*) AS df FROM h GROUP BY hm),
             |j AS (SELECT doc_id, df FROM h JOIN dfreq USING (hm))
             |SELECT doc_id, count(*) AS n_ngrams,
             |       CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_dup,
             |       CAST((sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) * 1000000)
             |         // count(*) AS BIGINT) AS dup_ppm
             |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "RefinedWeb cross-doc duplicate 5-gram ratio per doc (exact ppm)"
    ),

    "doc_substring_pairs" -> Q(
      (s, dir) =>
        Dedup.sharedSpanPairs(t(s, dir, "documents"), "doc_id", "text",
            k = 8, minSpan = 12, maxBucketSize = 200)
          .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> len(x) > 0) AS t
             |  FROM documents),
             |pos AS (
             |  SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
             |  FROM toks WHERE len(t) >= 8),
             |g AS (
             |  SELECT doc_id, i AS pa,
             |         ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT
             |           AS h
             |  FROM pos),
             |cap AS (SELECT h FROM g GROUP BY h HAVING count(*) <= 200),
             |a AS (SELECT g.* FROM g JOIN cap USING (h)),
             |p AS (
             |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, x.pa AS pa, y.pa AS pb
             |  FROM a x JOIN a y USING (h) WHERE x.doc_id < y.doc_id),
             |r AS (
             |  SELECT id_a, id_b, pa, pb,
             |         row_number() OVER (PARTITION BY id_a, id_b, pa - pb
             |           ORDER BY pa) AS rn
             |  FROM p),
             |runs AS (
             |  SELECT id_a, id_b, count(*) AS run_len
             |  FROM r GROUP BY id_a, id_b, pa - pb, pa - rn)
             |SELECT id_a, id_b,
             |       CAST(sum(run_len) AS BIGINT) AS n_anchors,
             |       CAST(max(run_len) + 7 AS BIGINT) AS longest_span
             |FROM runs GROUP BY id_a, id_b
             |HAVING max(run_len) + 7 >= 12
             |ORDER BY id_a, id_b""".stripMargin),
      "exact-substring near-dup pairs: longest shared k-token span per pair (Lee et al. signal)"
    ),

    // the removal half of Lee et al.: cut every >= minSpan shared span
    // from the LATER doc (keep-first), merge overlapping cuts, rebuild the
    // surviving token stream; md5 of the rebuilt text value-checks the
    // whole cut/merge/rebuild pipeline in one column
    "doc_substring_scrub" -> Q(
      (s, dir) =>
        Dedup.scrubSharedSpans(t(s, dir, "documents"), "doc_id", "text",
            k = 8, minSpan = 12, maxBucketSize = 200)
          .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
            col("n_removed"), md5(col("scrubbed_text")).as("scrub_md5"))
          .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> len(x) > 0) AS t
             |  FROM documents),
             |pos AS (
             |  SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
             |  FROM toks WHERE len(t) >= 8),
             |g AS (
             |  SELECT doc_id, i AS pa,
             |         ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT
             |           AS h
             |  FROM pos),
             |cap AS (SELECT h FROM g GROUP BY h HAVING count(*) <= 200),
             |a AS (SELECT g.* FROM g JOIN cap USING (h)),
             |p AS (
             |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, x.pa AS pa, y.pa AS pb
             |  FROM a x JOIN a y USING (h) WHERE x.doc_id < y.doc_id),
             |r AS (
             |  SELECT id_a, id_b, pa, pb,
             |         row_number() OVER (PARTITION BY id_a, id_b, pa - pb
             |           ORDER BY pa) AS rn
             |  FROM p),
             |isl AS (
             |  SELECT id_b, min(pb) AS s0, min(pb) + count(*) + 6 AS s1
             |  FROM r GROUP BY id_a, id_b, pa - pb, pa - rn
             |  HAVING count(*) + 7 >= 12),
             |mrg AS (
             |  SELECT id_b, s0, s1,
             |         max(s1) OVER (PARTITION BY id_b ORDER BY s0, s1
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |           AS mp
             |  FROM isl),
             |grp AS (
             |  SELECT id_b, s0, s1,
             |         sum(CASE WHEN mp IS NULL OR s0 > mp THEN 1 ELSE 0 END)
             |           OVER (PARTITION BY id_b ORDER BY s0, s1
             |                 ROWS UNBOUNDED PRECEDING) AS grp_id
             |  FROM mrg),
             |spans AS (
             |  SELECT id_b, min(s0) AS s0, max(s1) AS s1
             |  FROM grp GROUP BY id_b, grp_id),
             |tp AS (
             |  SELECT doc_id, i, t[i] AS tok FROM (
             |    SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
             |    FROM toks)),
             |kept AS (
             |  SELECT tp.doc_id, tp.i, tp.tok
             |  FROM tp LEFT JOIN spans
             |    ON spans.id_b = tp.doc_id AND tp.i BETWEEN spans.s0 AND spans.s1
             |  WHERE spans.id_b IS NULL),
             |reb AS (
             |  SELECT doc_id, count(*) AS n_kept,
             |         md5(string_agg(tok, ' ' ORDER BY i)) AS scrub_md5
             |  FROM kept GROUP BY doc_id)
             |SELECT toks.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             |       CAST(len(t) - coalesce(reb.n_kept, 0) AS BIGINT)
             |         AS n_removed,
             |       coalesce(reb.scrub_md5, md5('')) AS scrub_md5
             |FROM toks LEFT JOIN reb USING (doc_id)
             |ORDER BY toks.doc_id""".stripMargin),
      "exact-substring scrub: cut shared spans from later docs, keep-first; md5-checked rebuild"
    ),

    "doc_zipf_slope" -> Q(
      (s, dir) =>
        TextStats.zipfSlope(t(s, dir, "documents"), "text",
          topK = 200, minCount = 2L),
      Some("""WITH u AS (
             |  SELECT unnest(list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    x -> len(x) > 0)) AS w
             |  FROM documents),
             |c AS (SELECT w, count(*) AS c FROM u GROUP BY w
             |      HAVING count(*) >= 2),
             |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rank
             |      FROM c),
             |xy AS (SELECT CAST(round(ln(rank) * 1000) AS BIGINT) AS x,
             |              CAST(round(ln(c) * 1000) AS BIGINT) AS y
             |       FROM r WHERE rank <= 200),
             |a AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |             sum(x * y) AS sxy, sum(x * x) AS sxx
             |      FROM xy)
             |SELECT CAST(n AS BIGINT) AS n_words,
             |       CAST(n * sxy - sx * sy AS DOUBLE) /
             |       CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope
             |FROM a""".stripMargin),
      "Zipf exponent of the corpus word distribution, integer-exact OLS"
    ),

    // =============== relational extras ===============

    "rel_revenue_share" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_orderkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("rev_cents_row"))
        val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        val cst = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        val n = t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
        val r = t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cst), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(col("rev_cents_row")).as("rev_cents"))
          .withColumn("region_cents",
            sum(col("rev_cents")).over(Window.partitionBy(col("r_name"))))
          // integer ppm share through DECIMAL(38,0): a region's cents sum
          // reaches ~4e13 at sf10 (100x), so cents * 1e6 crosses 2^63 —
          // scale finding #18, caught by the first full sf10 sweep. The
          // 38-digit decimal keeps the product exact to 1e38 (cluster-scale
          // headroom: an exabyte of revenue); DuckDB's twin rides HUGEINT.
          .withColumn("share_ppm",
            expr("CAST((CAST(rev_cents AS DECIMAL(38,0)) * 1000000) " +
              "div region_cents AS BIGINT)"))
          .select(col("r_name"), col("n_name"), col("rev_cents"), col("share_ppm"))
          .orderBy("r_name", "n_name")
      },
      Some("""WITH rn AS (
             |  SELECT r_name, n_name,
             |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             |           AS BIGINT)) AS BIGINT) AS rev_cents
             |  FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |  GROUP BY r_name, n_name)
             |SELECT r_name, n_name, rev_cents,
             |       CAST(CAST(rev_cents AS HUGEINT) * 1000000 // sum(rev_cents)
             |         OVER (PARTITION BY r_name) AS BIGINT) AS share_ppm
             |FROM rn ORDER BY r_name, n_name""".stripMargin),
      "ratio-to-report window: nation revenue share within region, integer-exact ppm"
    ),

    // ABC/Pareto inventory classification WITHIN each brand: parts ranked
    // by revenue, cumulative share in integer ppm, A/B/C at 70/90%. The
    // window is keyed by brand (bounded per-key frame at any scale); the
    // cumulative-ppm boundary is exact integer division so the class of
    // every part is engine-identical even at ties (rank ties broken by
    // partkey)
    "rel_pareto_abc" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_partkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("rev_cents_row"))
        val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
        val perPart = li
          .groupBy(col("l_partkey"))
          .agg(sum(col("rev_cents_row")).as("rev_cents"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        val wCum = Window.partitionBy(col("p_brand"))
          .orderBy(desc("rev_cents"), col("p_partkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wTot = Window.partitionBy(col("p_brand"))
        perPart
          .withColumn("__cum", sum(col("rev_cents")).over(wCum))
          .withColumn("__tot", sum(col("rev_cents")).over(wTot))
          // DECIMAL(38,0) ppm — same finding-#18 headroom fix as
          // rel_revenue_share: a brand's cumulative cents * 1e6 crosses
          // 2^63 at 100x
          .withColumn("cls",
            when(expr("CAST(__cum AS DECIMAL(38,0)) * 1000000 div __tot") <= 700000L, lit("A"))
              .when(expr("CAST(__cum AS DECIMAL(38,0)) * 1000000 div __tot") <= 900000L, lit("B"))
              .otherwise(lit("C")))
          .groupBy(col("p_brand"), col("cls"))
          .agg(count(lit(1)).as("n_parts"),
            sum(col("rev_cents")).as("rev_cents"))
          .orderBy("p_brand", "cls")
      },
      Some("""WITH pp AS (
             |  SELECT l_partkey,
             |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
             |           * 100) AS BIGINT)) AS BIGINT) AS rev_cents
             |  FROM lineitem GROUP BY l_partkey),
             |c AS (
             |  SELECT p_brand, rev_cents,
             |         sum(rev_cents) OVER (PARTITION BY p_brand
             |           ORDER BY rev_cents DESC, p_partkey
             |           ROWS UNBOUNDED PRECEDING) AS cum,
             |         sum(rev_cents) OVER (PARTITION BY p_brand) AS tot
             |  FROM pp JOIN part ON l_partkey = p_partkey),
             |k AS (
             |  SELECT p_brand, rev_cents,
             |         CASE WHEN CAST(cum AS HUGEINT) * 1000000 // tot <= 700000 THEN 'A'
             |              WHEN CAST(cum AS HUGEINT) * 1000000 // tot <= 900000 THEN 'B'
             |              ELSE 'C' END AS cls
             |  FROM c)
             |SELECT p_brand, cls, CAST(count(*) AS BIGINT) AS n_parts,
             |       CAST(sum(rev_cents) AS BIGINT) AS rev_cents
             |FROM k GROUP BY p_brand, cls
             |ORDER BY p_brand, cls""".stripMargin),
      "Pareto/ABC classification per brand: integer-ppm cumulative shares"
    ),

    // data-quality expectation suite over the TPC-H + corpus tables:
    // range/null/unique/FK/cross-table invariants, one audit row per rule
    "rel_expectations" -> Q(
      (s, dir) => {
        val E = graft.ops.Expectations
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val docs = t(s, dir, "documents")
        val ev = t(s, dir, "events")
        val shipJoined = li.select("l_orderkey", "l_shipdate")
          .join(o.select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
        E.suite(Seq(
            E.expectForeignKey("lineitem.orderkey_fk_orders",
              li, "l_orderkey", o, "o_orderkey"),
            E.expectForeignKey("orders.custkey_fk_customer",
              o, "o_custkey", c, "c_custkey"),
            E.expect("lineitem.quantity_in_1_50", li,
              col("l_quantity").between(1, 50)),
            E.expect("lineitem.discount_in_0_10pct", li,
              col("l_discount").between(0, 0.1)),
            E.expect("lineitem.ship_on_or_after_order", shipJoined,
              col("l_shipdate") >= col("o_orderdate")),
            E.expect("orders.totalprice_positive", o,
              col("o_totalprice") > 0),
            E.expectUnique("customer.custkey_unique", c, Seq("c_custkey")),
            E.expect("documents.text_nonempty", docs,
              length(trim(col("text"))) > 0),
            E.expect("events.value_notnull", ev, col("value").isNotNull)))
          .orderBy("rule")
      },
      Some("""WITH fk1 AS (
             |  SELECT 'lineitem.orderkey_fk_orders' AS rule,
             |         CAST(count(*) AS BIGINT) AS n_checked,
             |         CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
             |           AS BIGINT) AS n_violations
             |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
             |    ON l.l_orderkey = o.o_orderkey),
             |fk2 AS (
             |  SELECT 'orders.custkey_fk_customer',
             |         CAST(count(*) AS BIGINT),
             |         CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
             |           AS BIGINT)
             |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             |    ON o.o_custkey = c.c_custkey),
             |r1 AS (
             |  SELECT 'lineitem.quantity_in_1_50', CAST(count(*) AS BIGINT),
             |         CAST(sum(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 50,
             |                                         FALSE)
             |                       THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM lineitem),
             |r2 AS (
             |  SELECT 'lineitem.discount_in_0_10pct', CAST(count(*) AS BIGINT),
             |         CAST(sum(CASE WHEN NOT coalesce(l_discount BETWEEN 0 AND 0.1,
             |                                         FALSE)
             |                       THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM lineitem),
             |r3 AS (
             |  SELECT 'lineitem.ship_on_or_after_order', CAST(count(*) AS BIGINT),
             |         CAST(sum(CASE WHEN NOT coalesce(l_shipdate >= o_orderdate,
             |                                         FALSE)
             |                       THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |r4 AS (
             |  SELECT 'orders.totalprice_positive', CAST(count(*) AS BIGINT),
             |         CAST(sum(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE)
             |                       THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM orders),
             |r5 AS (
             |  SELECT 'customer.custkey_unique', CAST(count(*) AS BIGINT),
             |         CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
             |  FROM customer),
             |r6 AS (
             |  SELECT 'documents.text_nonempty', CAST(count(*) AS BIGINT),
             |         CAST(sum(CASE WHEN NOT coalesce(length(trim(text)) > 0,
             |                                         FALSE)
             |                       THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM documents),
             |r7 AS (
             |  SELECT 'events.value_notnull', CAST(count(*) AS BIGINT),
             |         CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
             |           AS BIGINT)
             |  FROM events),
             |u AS (
             |  SELECT * FROM fk1 UNION ALL SELECT * FROM fk2
             |  UNION ALL SELECT * FROM r1 UNION ALL SELECT * FROM r2
             |  UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
             |  UNION ALL SELECT * FROM r5 UNION ALL SELECT * FROM r6
             |  UNION ALL SELECT * FROM r7)
             |SELECT rule, n_checked, n_violations, n_violations = 0 AS pass
             |FROM u ORDER BY rule""".stripMargin),
      "expectation-suite audit: FK/range/unique/cross-table rules, one row each"
    ),

    // incremental aggregate maintenance: fold a new batch into a standing
    // per-group state by merging partial aggregates — the oracle is the
    // from-scratch GROUP BY, i.e. the semantics "merge == recompute"
    // is itself what the hash check proves
    "rel_incremental_agg" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          col("o_orderpriority").as("prio"), col("o_orderdate"),
          round(col("o_totalprice")).cast("long").as("usd"))
        val cutoff = to_timestamp(lit("1997-01-01"))
        val base = o.filter(col("o_orderdate") < cutoff)
        val batch = o.filter(col("o_orderdate") >= cutoff)
        val merged = graft.ops.Incremental.mergeState(
          graft.ops.Incremental.aggState(base, Seq("prio"), "usd"),
          graft.ops.Incremental.aggState(batch, Seq("prio"), "usd"),
          Seq("prio"))
        graft.ops.Incremental.finalize(merged, Seq("prio"))
          .select(col("prio"), col("n"), col("sum_v"), col("min_v"),
            col("max_v"), col("sum_sq"),
            round(col("mean"), 4).as("mean_usd"),
            round(col("variance"), 4).as("var_usd"))
          .orderBy("prio")
      },
      Some("""WITH b AS (
             |  SELECT o_orderpriority AS prio,
             |         CAST(round(o_totalprice) AS BIGINT) AS usd
             |  FROM orders)
             |SELECT prio, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(usd) AS BIGINT) AS sum_v,
             |       min(usd) AS min_v, max(usd) AS max_v,
             |       CAST(sum(usd * usd) AS BIGINT) AS sum_sq,
             |       round(CAST(CAST(sum(usd) AS BIGINT) AS DOUBLE) / count(*), 4)
             |         + 0 AS mean_usd,
             |       round(CAST(CAST(sum(usd * usd) AS BIGINT) AS DOUBLE) / count(*)
             |             - (CAST(CAST(sum(usd) AS BIGINT) AS DOUBLE) / count(*))
             |               * (CAST(CAST(sum(usd) AS BIGINT) AS DOUBLE) / count(*)),
             |             4) + 0 AS var_usd
             |FROM b GROUP BY prio ORDER BY prio""".stripMargin),
      "incremental state merge finalized == from-scratch aggregate (the oracle)"
    ),

    // HDR-histogram quantiles vs exact rank: the mergeable bounded-size
    // sketch path for percentiles at scale, and the eval quantifying its
    // <=1/32 relative error — both integer-exact and fully SQL-replayed
    "rel_hdr_quantiles" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import s.implicits._
        val b = t(s, dir, "lineitem").select(
          col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        val hist = graft.ops.HdrHist.histogram(b, "cents", Seq("flag"))
        // Size dispatch (round 14, VERDICT item 2 — the r13 bucket-confined
        // shape DOUBLED on the driver box, 0.852 → 1.683 s). Two regimes:
        //
        // SMALL input (the r12 shape, measured 1.10 s vs 2.08 s for the
        // bucket-confined form at sf0.1/local[32]): one corpus window pass
        // row_numbers each flag and reads the 9 rank rows directly. Its
        // per-flag windows have #flags-bounded parallelism — fine under
        // the gate, catastrophic at 100 TB.
        //
        // LARGE input (the bucket-confined shape, slimmed): the bucket
        // index is monotone in cents, so the global rank-r* value is the
        // (r* − rows-below-bucket)-th smallest cents INSIDE the bucket the
        // quantile pick found. ONE cum/n window pass over the ≤2048-row-
        // per-flag histogram feeds the estimate AND the pick, and the
        // 9-row broadcast pick carries q, n, est and rloc through the
        // probe join, so probe rows hold every output column — the r13
        // form re-executed the whole est subtree for a final est⋈ex join
        // and paid a third corpus scan. Values identical in both regimes:
        // same rank formula, same min-idx pick (idx is unique per flag, so
        // the struct min IS the min-idx row), tie-free bucket boundary
        // (equal cents ⇒ equal idx), and est⋈ex was a no-op join (one row
        // per (flag, q), rloc ∈ [1, cnt] by construction). HdrHistSpec
        // pins small-vs-large parity; the plan snapshot pins the LARGE
        // plan (windowExactMaxBytes=0), mirroring the RangeSeries
        // fast-path treatment.
        val maxBytes = s.conf.get("spark.graft.hdr.windowExactMaxBytes",
          (1L << 30).toString).toLong
        val smallIn = t(s, dir, "lineitem")
          .queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes
        if (smallIn) {
          val est = graft.ops.HdrHist.quantiles(hist, Seq("flag"),
            Seq(50, 90, 99))
          val r = b
            .withColumn("rn", row_number().over(
              Window.partitionBy("flag").orderBy("cents")))
            .withColumn("nn", count(lit(1)).over(Window.partitionBy("flag")))
          val ex = r
            .crossJoin(broadcast(Seq(50, 90, 99).toDF("q")))
            .filter(col("rn") === expr("(q * nn + 99) div 100"))
            .select(col("flag"), col("q"), col("cents").as("exact_cents"))
          est.join(ex, Seq("flag", "q"))
            .select(col("flag").as("l_returnflag"), col("q"), col("n"),
              col("est").as("est_cents"), col("exact_cents"),
              expr("CAST(((exact_cents - est) * 1000000) div exact_cents" +
                " AS BIGINT)").as("err_ppm"))
            .orderBy("l_returnflag", "q")
        } else {
          val wCum = Window.partitionBy("flag").orderBy("idx")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val cum = hist
            .withColumn("cum", sum("cnt").over(wCum))
            .withColumn("n", sum("cnt").over(Window.partitionBy("flag")))
          val pick = cum
            .crossJoin(broadcast(Seq(50, 90, 99).toDF("q")))
            .filter(col("cum") >= expr("(q * n + 99) div 100"))
            .groupBy("flag", "q")
            .agg(max("n").as("n"),
              min(struct(col("idx"), col("cum"), col("cnt"))).as("__p"))
            .select(col("flag"), col("q"), col("n"), col("__p.idx").as("idx"),
              (expr("(q * n + 99) div 100") -
                (col("__p.cum") - col("__p.cnt"))).as("rloc"))
            .withColumn("est",
              expr(graft.ops.HdrHist.loSql("idx", "div")).cast("long"))
          b.withColumn("idx",
              expr(graft.ops.HdrHist.idxSql("cents", "div")).cast("long"))
            .join(broadcast(pick), Seq("flag", "idx"))
            .withColumn("rn", row_number().over(
              Window.partitionBy("flag", "q").orderBy("cents")))
            .filter(col("rn") === col("rloc"))
            .select(col("flag").as("l_returnflag"), col("q"), col("n"),
              col("est").as("est_cents"), col("cents").as("exact_cents"),
              expr("CAST(((cents - est) * 1000000) div cents AS BIGINT)")
                .as("err_ppm"))
            .orderBy("l_returnflag", "q")
        }
      },
      Some(s"""WITH b AS (
              |  SELECT l_returnflag AS flag,
              |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
              |  FROM lineitem),
              |h AS (
              |  SELECT flag, ${graft.ops.HdrHist.idxSql("cents", "//")} AS idx,
              |         count(*) AS cnt
              |  FROM b GROUP BY 1, 2),
              |c AS (
              |  SELECT flag, idx, cnt,
              |         sum(cnt) OVER (PARTITION BY flag ORDER BY idx
              |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
              |         sum(cnt) OVER (PARTITION BY flag) AS n
              |  FROM h),
              |qs AS (SELECT unnest([50, 90, 99]) AS q),
              |pick AS (
              |  SELECT flag, q, max(n) AS n, min(idx) AS qidx
              |  FROM c CROSS JOIN qs WHERE cum >= (q * n + 99) // 100
              |  GROUP BY 1, 2),
              |est AS (
              |  SELECT flag, q, n,
              |         CAST(${graft.ops.HdrHist.loSql("qidx", "//")} AS BIGINT)
              |           AS est_cents
              |  FROM pick),
              |r AS (
              |  SELECT flag, cents,
              |         row_number() OVER (PARTITION BY flag ORDER BY cents) AS rn,
              |         count(*) OVER (PARTITION BY flag) AS nn
              |  FROM b),
              |ex AS (
              |  SELECT flag, q, cents AS exact_cents
              |  FROM r CROSS JOIN qs WHERE rn = (q * nn + 99) // 100)
              |SELECT e.flag AS l_returnflag, e.q AS q, CAST(e.n AS BIGINT) AS n,
              |       est_cents, exact_cents,
              |       CAST(((exact_cents - est_cents) * 1000000) // exact_cents
              |         AS BIGINT) AS err_ppm
              |FROM est e JOIN ex ON ex.flag = e.flag AND ex.q = e.q
              |ORDER BY l_returnflag, q""".stripMargin),
      "HDR-histogram p50/p90/p99 vs exact rank per return flag, error in ppm"
    ),

    // z-order layout evaluation: Morton-interleave (l_partkey, l_suppkey),
    // split the z-sorted sequence into 64 files, report each file's
    // per-dimension min/max span — the data-skipping stats a format index
    // would hold. Integer bit algebra end to end; ntile replayed exactly.
    "rel_zorder_layout" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber")
        graft.sources.ZOrder.layoutStats(li, "l_partkey", "l_suppkey",
            bits = 20, buckets = 64,
            tieCols = Seq("l_orderkey", "l_linenumber"))
          .select(col("bucket").cast("long").as("bucket"), col("n"),
            col("min_a"), col("max_a"), col("min_b"), col("max_b"),
            col("span_a"), col("span_b"))
          .orderBy("bucket")
      },
      Some(s"""WITH z AS (
              |  SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
              |         ${graft.sources.ZOrderSql.interleave("l_partkey", "l_suppkey", 20)} AS zv
              |  FROM lineitem),
              |b AS (
              |  SELECT *, ntile(64) OVER (ORDER BY zv, l_orderkey, l_linenumber)
              |         AS bucket
              |  FROM z)
              |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
              |       min(l_partkey) AS min_a, max(l_partkey) AS max_a,
              |       min(l_suppkey) AS min_b, max(l_suppkey) AS max_b,
              |       max(l_partkey) - min(l_partkey) + 1 AS span_a,
              |       max(l_suppkey) - min(l_suppkey) + 1 AS span_b
              |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),
      "z-order file layout quality: per-file min/max spans on both cluster keys"
    ),

    // 3-round PageRank over the supplier->part supply graph (parts offset
    // into their own id space, so the graph is bipartite and every part is
    // a dangling sink — the redistribution path is exercised on real data).
    // Integer micro-unit floor arithmetic makes each round order-independent
    // and exactly replayable; the oracle unrolls the rounds into CTEs.
    "rel_pagerank" -> Q(
      (s, dir) => {
        val edges = t(s, dir, "lineitem")
          .select(col("l_suppkey").as("src"),
            (col("l_partkey") + lit(1000000L)).as("dst"))
        Graph.pageRank(edges, "src", "dst", iters = 3, dedup = true)
          .orderBy(desc("pr_micro"), col("node"))
          .limit(100)
      },
      Some(GraphSql.pageRankSql(
        """e AS MATERIALIZED (
          |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
          |         CAST(l_partkey + 1000000 AS BIGINT) AS dst
          |  FROM lineitem)""".stripMargin,
        iters = 3, topK = 100)),
      "integer-exact PageRank, 3 unrolled rounds, dangling mass redistributed"
    ),

    // how far does supply reach? BFS hop levels from 3 seed suppliers over
    // the undirected supplier-part graph, 4 synchronous frontier rounds
    "rel_bfs_reach" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_suppkey").as("src"),
            (col("l_partkey") + lit(1000000L)).as("dst"))
        val edges = li.unionAll(li.select(col("dst").as("src"),
          col("src").as("dst")))
        val seeds = t(s, dir, "supplier")
          .filter(col("s_suppkey") <= 3).select(col("s_suppkey"))
        Graph.bfsLevels(edges, "src", "dst", seeds, "s_suppkey", maxHops = 4)
          .groupBy("hop")
          .agg(count(lit(1)).as("n_nodes"),
            min(col("node")).as("min_node"), max(col("node")).as("max_node"))
          .orderBy("hop")
      },
      Some(GraphSql.bfsSql(
        """e AS MATERIALIZED (
          |  SELECT DISTINCT src, dst FROM (
          |    SELECT CAST(l_suppkey AS BIGINT) AS src,
          |           CAST(l_partkey + 1000000 AS BIGINT) AS dst FROM lineitem
          |    UNION ALL
          |    SELECT CAST(l_partkey + 1000000 AS BIGINT),
          |           CAST(l_suppkey AS BIGINT) FROM lineitem))""".stripMargin,
        """seeds AS (SELECT s_suppkey AS node FROM supplier
          |          WHERE s_suppkey <= 3)""".stripMargin,
        maxHops = 4)),
      "BFS shortest-hop levels from a seed set, 4 frontier rounds, exact histogram"
    ),

    "rel_triangle_count" -> Q(
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        // co-purchase graph: parts appearing in the same order. Pair
        // formation is a same-key quadratic — ONE groupBy(orderkey) +
        // in-row suffix explode over the sorted per-order part set (the
        // theilSen shape) instead of a lineitem⋈lineitem self-join:
        // baskets are ~4 items, so the fan-out is tiny and only partkeys
        // ever shuffle (measured ~2x the edge-build cost as a self-join)
        val e = li
          .groupBy(col("l_orderkey"))
          .agg(array_sort(collect_set(col("l_partkey"))).as("__ps"))
          .select(posexplode(col("__ps")).as(Seq("__i", "a")), col("__ps"))
          .select(col("a"),
            explode(slice(col("__ps"), col("__i") + lit(2),
              size(col("__ps")))).as("b"))
        Graph.triangleStats(e, "a", "b")
      },
      Some("""WITH e AS MATERIALIZED (
             |  SELECT DISTINCT CAST(x.l_partkey AS BIGINT) AS a,
             |         CAST(y.l_partkey AS BIGINT) AS b
             |  FROM lineitem x JOIN lineitem y
             |    ON x.l_orderkey = y.l_orderkey
             |   AND x.l_partkey < y.l_partkey),
             |deg AS MATERIALIZED (
             |  SELECT node, CAST(count(*) AS BIGINT) AS deg
             |  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
             |  GROUP BY node),
             |-- DEGREE-ORIENTED wedge enumeration (scale-feasible form of
             |-- the definitional id-pivot join, which is quadratic through
             |-- high-degree hubs): orient every edge from its (deg, id)-
             |-- smaller endpoint; each triangle then has exactly ONE vertex
             |-- with two out-edges, and out-degrees are O(sqrt(m)), so the
             |-- wedge fan-out is O(m^1.5) total. Same exact count.
             |eo AS MATERIALIZED (
             |  SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b)
             |              THEN e.a ELSE e.b END AS u,
             |         CASE WHEN (da.deg, e.a) < (db.deg, e.b)
             |              THEN e.b ELSE e.a END AS v
             |  FROM e JOIN deg da ON da.node = e.a
             |         JOIN deg db ON db.node = e.b),
             |-- sorted-adjacency INTERSECTION instead of wedge-enumerate-
             |-- then-probe: per oriented edge (u,v), |N+(u) ∩ N+(v)| counts
             |-- exactly the w with u→w AND v→w, and orientation by the
             |-- (deg,id) total order gives every triangle exactly ONE such
             |-- edge (its two-out-edge apex u) — same exact count, but the
             |-- 1.2e9-row wedge stream never materializes through a hash
             |-- join: the intersect is in-row list algebra over O(sqrt m)-
             |-- bounded neighbor lists (sf3 measured: 664 s wedge form →
             |-- 168 s, inside the sweep cap). adj is deliberately NOT
             |-- MATERIALIZED: DuckDB 1.0 materializes a LIST-typed CTE
             |-- single-threaded (measured >700 s for this 36M-list table
             |-- at ~200% CPU); inlining rebuilds the group-by per
             |-- reference but keeps every stage parallel
             |adj AS (
             |  SELECT u, list_sort(list(v)) AS nb FROM eo GROUP BY u),
             |tri AS (
             |  SELECT CAST(coalesce(sum(len(
             |           list_intersect(a1.nb, a2.nb))), 0) AS BIGINT) AS t
             |  FROM eo JOIN adj a1 ON a1.u = eo.u
             |          JOIN adj a2 ON a2.u = eo.v),
             |ns AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             |         CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
             |  FROM deg)
             |SELECT n_nodes,
             |       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
             |       t AS n_triangles, n_wedges,
             |       3 * t * 1000000 // n_wedges AS clustering_ppm
             |FROM ns, tri""".stripMargin),
      "degree-oriented exact triangle count + global clustering coefficient"
    ),

    "rel_skyline" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
        Skyline.skyline2d(o, "o_orderdate", "cents")
          .orderBy("o_orderdate", "o_orderkey")
      },
      // 2-D Pareto front in LINEAR form: per-date maxima, strict prefix
      // max over earlier dates, survivors = strictly above it. Equal to
      // the definitional NOT-EXISTS-dominator form (which is quadratic
      // and was oracle-infeasible past sf0.1, round-7 sweep); the
      // definitional form itself stays enforced engine-side at any scale
      // by ScaleSelfCheck's soundness+completeness invariants.
      Some("""WITH o AS (
             |  SELECT o_orderkey, o_orderdate,
             |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |px AS (SELECT o_orderdate, max(cents) AS ymax FROM o GROUP BY 1),
             |fr AS (
             |  SELECT o_orderdate, ymax,
             |         max(ymax) OVER (ORDER BY o_orderdate
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
             |  FROM px),
             |keep AS (SELECT o_orderdate, ymax FROM fr
             |         WHERE prior IS NULL OR ymax > prior)
             |SELECT o.o_orderkey, o.o_orderdate, o.cents
             |FROM o JOIN keep ON o.o_orderdate = keep.o_orderdate
             |                AND o.cents = keep.ymax
             |ORDER BY o.o_orderdate, o.o_orderkey""".stripMargin),
      "2-D skyline (earliest-date / highest-price Pareto front) via per-x maxima"
    ),

    // market-basket rules over order->part baskets: pair stats from the
    // capped per-basket self-join, support/confidence/lift in exact ppm,
    // top-50 by lift via TakeOrderedAndProject
    "rel_assoc_rules" -> Q(
      (s, dir) =>
        Behavior.associationRules(t(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minPairCount = 3L, topK = 50),
      // bi/pr are MATERIALIZED: DuckDB inlines a CTE per reference, and
      // bi feeds four consumers (nn, ci, pr twice) while pr feeds the
      // UNION ALL twice — the re-inlined pair join replanned so badly at
      // 10x that the oracle measured 511 s where the two hints leave the
      // SAME definitional query at 3.6 s (sweep-scale feasible; the last
      // of the five 30x oracle timeouts)
      Some("""WITH bi AS MATERIALIZED (
             |  SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS bk,
             |         CAST(l_partkey AS BIGINT) AS it
             |  FROM lineitem),
             |nn AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n FROM bi),
             |ci AS (SELECT it, CAST(count(*) AS BIGINT) AS c
             |       FROM bi GROUP BY it),
             |pr AS MATERIALIZED (
             |  SELECT x.it AS a, y.it AS b, CAST(count(*) AS BIGINT) AS cab
             |  FROM bi x JOIN bi y ON x.bk = y.bk AND x.it < y.it
             |  GROUP BY x.it, y.it HAVING count(*) >= 3),
             |d AS (SELECT a AS ant, b AS cons, cab FROM pr
             |      UNION ALL SELECT b, a, cab FROM pr)
             |SELECT d.ant, d.cons, d.cab AS pair_count,
             |       d.cab * 1000000 // nn.n AS support_ppm,
             |       d.cab * 1000000 // ca.c AS conf_ppm,
             |       -- HUGEINT products + div/mod split: exact past the
             |       -- int64 cliff cab*n*1e6 > 2^63 (hugeint // floors;
             |       -- decimal // would ROUND)
             |       CAST((CAST(d.cab AS HUGEINT) * nn.n)
             |              // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) * 1000000
             |         + CAST(((CAST(d.cab AS HUGEINT) * nn.n)
             |                  % (CAST(ca.c AS HUGEINT) * cb.c)) * 1000000
             |                // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT)
             |         AS lift_ppm
             |FROM d JOIN ci ca ON ca.it = d.ant
             |       JOIN ci cb ON cb.it = d.cons, nn
             |ORDER BY lift_ppm DESC, ant, cons LIMIT 50""".stripMargin),
      "association rules: exact-ppm support/confidence/lift, top-50 by lift"
    ),

    // incremental VIEW maintenance for a join: the standing orders⋈customer
    // view absorbs an insert batch on EACH side via the delta algebra
    // (ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR — base⋈base never recomputed); the oracle is
    // the plain full join, so the green hash PROVES the algebra lossless
    "rel_incremental_join" -> Q(
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          col("o_custkey").as("custkey"), col("o_orderdate"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        val cut = to_timestamp(lit("1997-01-01"))
        val ol = o.filter(col("o_orderdate") < cut).drop("o_orderdate")
        val dl = o.filter(col("o_orderdate") >= cut).drop("o_orderdate")
        val c = t(s, dir, "customer").select(
          col("c_custkey").as("custkey"), col("c_nationkey"))
        val or_ = c.filter(pmod(col("custkey"), lit(10)) < 7)
        val dr = c.filter(pmod(col("custkey"), lit(10)) >= 7)
        graft.ops.Incremental.incrementalJoin(ol, dl, or_, dr, Seq("custkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
          .orderBy("c_nationkey")
      },
      Some("""SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
             |         AS BIGINT) AS sum_cents
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),
      "join-view delta maintenance: three delta terms equal the full recompute"
    )
  )

  /** Shared engine body for emb_dbscan / emb_dbscan_capped: PC1 projection
    * via power iteration, exact-integer (x, y) = (projection, residual
    * norm) plane, then [[ops.Density.dbscan2d]] with the given cell cap.
    */
  private def dbscanQuery(cap: Option[Int])(
      s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val v = Similarity.powerIterationTopPc(emb, "embedding", iters = 4)
    val vs = v.map(_ / 1000L)
    val vv = vs.map(x => x * x).sum
    val pts = emb
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
    // exact form only: `graft.dbscan.blocks` > 1 routes through the
    // out-of-core blocked-pass path (bit-identical labels, pair space
    // never materialized) — the knob the sf10 probe sets; the capped twin
    // is already linear and keeps the one-pass plan
    val blocks =
      if (cap.isEmpty)
        s.conf.getOption("graft.dbscan.blocks").map(_.toInt).getOrElse(1)
      else 1
    Density.dbscan2d(pts, "id", "x", "y", eps = 20000L, minPts = 8,
      maxCellSize = cap, blocks = blocks).orderBy("id")
  }

  /** The DuckDB replay of [[dbscanQuery]], parameterized by the cell cap:
    * `homeall` is the complete population (probe side), `home` the
    * (optionally capped) join-target side, core-core edges canonicalized
    * orientation-insensitively (under a cap nbr is ASYMMETRIC — the
    * Density.scala least/greatest+distinct convention) and components by
    * 4 Shiloach-Vishkin hook+jump levels plus the exact quotient-graph
    * closure (see the inline comment and [[SvSql]]).
    */
  private def dbscanOracleSql(cap: Option[Int]): String = {
    val capQ = cap.map(c =>
      s"\n         QUALIFY row_number() OVER (PARTITION BY cx, cy ORDER BY id) <= $c")
      .getOrElse("")
    s"""WITH RECURSIVE ${PcaSql.iterCtes(4)},
       |vsq AS (SELECT idx, v // 1000 AS vs FROM v4),
       |vvc AS (SELECT CAST(sum(vs * vs) AS BIGINT) AS vv FROM vsq),
       |qsx AS (SELECT vec_id, a, qa // 1000 AS qs FROM e),
       |pp AS (
       |  SELECT q2.vec_id AS id,
       |         CAST(sum(q2.qs * vsq.vs) AS BIGINT) AS proj,
       |         CAST(sum(q2.qs * q2.qs) AS BIGINT) AS qq
       |  FROM qsx q2 JOIN vsq ON vsq.idx = q2.a GROUP BY q2.vec_id),
       |pt AS MATERIALIZED (
       |  SELECT id, proj AS x,
       |         CAST(floor(sqrt(CAST(qq * vv - proj * proj AS DOUBLE)))
       |           AS BIGINT) AS y
       |  FROM pp, vvc),
       |mn AS (SELECT min(x) AS mx, min(y) AS my FROM pt),
       |sp AS MATERIALIZED (SELECT id, x - mx AS x, y - my AS y FROM pt, mn),
       |homeall AS MATERIALIZED (
       |  SELECT id, x, y, x // 20000 AS cx, y // 20000 AS cy FROM sp),
       |home AS MATERIALIZED (
       |  SELECT id, x, y, cx, cy FROM homeall$capQ),
       |probe AS (
       |  SELECT id AS pid, x AS px, y AS py,
       |         cx + dx.d AS ccx, cy + dy.d AS ccy
       |  FROM homeall, (VALUES (-1), (0), (1)) dx(d),
       |       (VALUES (-1), (0), (1)) dy(d)),
       |nbr AS MATERIALIZED (
       |  SELECT p.pid, h.id
       |  FROM probe p JOIN home h ON h.cx = p.ccx AND h.cy = p.ccy
       |  WHERE (p.px - h.x) * (p.px - h.x)
       |      + (p.py - h.y) * (p.py - h.y) <= 400000000),
       |nc AS MATERIALIZED (SELECT pid, count(*) AS n FROM nbr GROUP BY pid),
       |core AS MATERIALIZED (SELECT pid AS id FROM nc WHERE n >= 8),
       |-- orientation-insensitive canonical core-core edges, doubled for
       |-- the hook step (under a cap nbr is asymmetric: a pair between a
       |-- capped-out core and a retained core may survive in only ONE
       |-- orientation — Density.scala's least/greatest convention)
       |ceu AS MATERIALIZED (
       |  SELECT DISTINCT least(n.pid, n.id) AS a, greatest(n.pid, n.id) AS b
       |  FROM nbr n JOIN core ca ON ca.id = n.pid
       |       JOIN core cb ON cb.id = n.id
       |  WHERE n.pid <> n.id),
       |ce AS MATERIALIZED (
       |  SELECT a AS s, b AS d FROM ceu UNION ALL SELECT b, a FROM ceu),
       |-- scale-feasible components, two phases. Phase 1: 4 unrolled
       |-- Shiloach-Vishkin hook+jump levels (per level: hook onto the
       |-- min neighbor label AND pointer-jump lab <- lab[lab]) — the
       |-- BULK SHRINK. The level count is a COST knob, not a
       |-- convergence guarantee (the sf3 sweep caught a wavefront CRAWL
       |-- with a fixpoint at level 54; round 11 then measured 32 levels
       |-- owning 415 of 444 s on the 47M-edge sf3 core graph while TWO
       |-- levels already shrink 60k labels to 131).
       |-- Phase 2 makes the result EXACT at any scale: contract to the
       |-- quotient graph over the ~few surviving labels (5 at sf3) and
       |-- close it with a recursive CTE — the O(Σ component²) closure
       |-- that was infeasible on 1.8M cores is trivial on the quotient,
       |-- and a recursive CTE terminates exactly regardless of shape,
       |-- so a pathological graph degrades in COST, never in truth
       |-- (the engine's contraction loop keeps its own converged flag).
       |l0 AS MATERIALIZED (SELECT id, id AS lab FROM core),
${(0 until 4).map { k =>
  s"""       |l${k + 1} AS MATERIALIZED (
       |  SELECT l.id, least(l.lab, coalesce(nb.m, l.lab),
       |                     coalesce(pj.lab, l.lab)) AS lab
       |  FROM l$k l
       |  LEFT JOIN (SELECT ce.s AS id, min(lp.lab) AS m
       |             FROM ce JOIN l$k lp ON lp.id = ce.d
       |             GROUP BY ce.s) nb USING (id)
       |  LEFT JOIN l$k pj ON pj.id = l.lab)"""
}.mkString(",\n")},
       |-- phase 2: quotient edges between distinct surviving labels (ce
       |-- is already direction-doubled), recursive reachability closure,
       |-- min label per reachable set, composed back onto every core
       |qedges AS MATERIALIZED (
       |  SELECT DISTINCT la.lab AS a, lb.lab AS b
       |  FROM ce JOIN l4 la ON la.id = ce.s JOIN l4 lb ON lb.id = ce.d
       |  WHERE la.lab <> lb.lab),
       |qreach(a, b) AS (
       |  SELECT lab, lab FROM (SELECT DISTINCT lab FROM l4) t(lab)
       |  UNION
       |  SELECT q.a, e.b FROM qreach q JOIN qedges e ON e.a = q.b),
       |qmin AS MATERIALIZED (SELECT a, min(b) AS root FROM qreach GROUP BY a),
       |clab AS MATERIALIZED (
       |  SELECT l.id, q.root AS cluster
       |  FROM l4 l JOIN qmin q ON q.a = l.lab),
       |blab AS MATERIALIZED (
       |  SELECT n.pid AS id, min(c.cluster) AS cluster
       |  FROM nbr n JOIN clab c ON c.id = n.id
       |  WHERE n.pid NOT IN (SELECT id FROM core)
       |  GROUP BY n.pid)
       |SELECT id, 'core' AS role, cluster FROM clab
       |UNION ALL
       |SELECT id, 'border' AS role, cluster FROM blab
       |UNION ALL
       |SELECT id, 'noise' AS role, CAST(NULL AS BIGINT) AS cluster
       |FROM sp
       |WHERE id NOT IN (SELECT id FROM clab)
       |  AND id NOT IN (SELECT id FROM blab)
       |ORDER BY id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, q) => k -> q.fn }

  /** Rewrite every two-arg `round(x, k)` in a DuckDB oracle to
    * `CAST(round(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,20)), k) AS DOUBLE)`.
    *
    * DuckDB's `round(DOUBLE, k)` rounds in float space; Spark's rounds the
    * double's SHORTEST DECIMAL STRING with BigDecimal HALF_UP. For a value
    * that is exactly a decimal half-point (`32.19875` — the inevitable
    * output of integer-cent sums over row counts), the nearest double sits
    * BELOW the boundary, so DuckDB emits `.1987` where Spark emits
    * `.1988`: a genuine last-digit hash mismatch that only materializes
    * when some row's ratio lands on a half-point (~1/30k rows at sf1 —
    * five queries caught by the round-7 sweep).
    *
    * The rewrite replicates Spark EXACTLY by going through the shortest
    * repr itself: `CAST(double AS VARCHAR)` is shortest-round-trip in
    * DuckDB (same decimal VALUE Java's Double.toString renders), and
    * DECIMAL(38,20) holds every digit of a 17-significant-digit repr for
    * |x| < 10^18, so `round(decimal, k)` is then BigDecimal-style half-up
    * on the same digits Spark sees. A fixed-scale cast of the DOUBLE
    * (DECIMAL(38,10)) is NOT equivalent: it quantizes at 1e-10 and
    * snapped continuous values (an int-exact cosine after sqrt) UP onto
    * half-points their shortest repr sits below — caught by
    * emb_centroid_outliers in the same sweep. Verified on both captured
    * collision values. One-arg `round(x)` (the cents snap) is left alone:
    * its inputs are cents-exact by fixture contract, and its result feeds
    * integer casts, not the hash.
    */
  private[graft] def duckRound(sql: String): String = {
    val lower = sql.toLowerCase // match ROUND(/Round( too (round-7 advisor)
    // end index (exclusive) of the '...'-literal starting at q ('' = escape)
    def literalEnd(q: Int): Int = {
      var j = q + 1
      while (j < sql.length) {
        if (sql.charAt(j) == '\'') {
          if (j + 1 < sql.length && sql.charAt(j + 1) == '\'') j += 2
          else return j + 1
        } else j += 1
      }
      sql.length
    }
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val at = lower.indexOf("round(", i)
      val q = sql.indexOf('\'', i)
      val bounded = at >= 0 &&
        (at == 0 || !Character.isLetterOrDigit(sql.charAt(at - 1)) &&
          sql.charAt(at - 1) != '_')
      if (at < 0) { out.append(sql.substring(i)); i = sql.length }
      else if (q >= 0 && q < at) {
        // copy the string literal verbatim: `round(x, 4)` INSIDE quotes is
        // data, not SQL — rewriting it would corrupt the literal
        val e = literalEnd(q)
        out.append(sql.substring(i, e)); i = e
      }
      else if (!bounded) { out.append(sql.substring(i, at + 6)); i = at + 6 }
      else {
        out.append(sql.substring(i, at))
        // match the argument list (quote-aware: parens/commas inside
        // string literals don't count)
        var depth = 1
        var j = at + 6
        var lastComma = -1 // top-level comma
        while (depth > 0 && j < sql.length) {
          sql.charAt(j) match {
            case '(' => depth += 1; j += 1
            case ')' => depth -= 1; j += 1
            case ',' if depth == 1 => lastComma = j; j += 1
            case '\'' => j = literalEnd(j)
            case _ => j += 1
          }
        }
        val close = j - 1 // index of matching ')'
        if (depth != 0) { // unbalanced: leave untouched
          out.append(sql.substring(at)); i = sql.length
        } else if (lastComma < 0 ||
          !sql.substring(lastComma + 1, close).trim.matches("-?\\d+")) {
          // one-arg round (cents snap) or non-literal scale: untouched,
          // but still rewrite any round( nested inside the argument
          out.append(sql.substring(at, at + 6))
            .append(duckRound(sql.substring(at + 6, close)))
            .append(')')
          i = close + 1
        } else {
          val arg = duckRound(sql.substring(at + 6, lastComma))
          val k = sql.substring(lastComma + 1, close).trim
          out.append("CAST(round(CAST(CAST(").append(arg)
            .append(" AS VARCHAR) AS DECIMAL(38,20)), ").append(k)
            .append(") AS DOUBLE)")
          i = close + 1
        }
      }
    }
    out.toString
  }

  def oracleSql: Map[String, String] =
    all.collect { case (k, q) if q.oracle.isDefined => k -> duckRound(q.oracle.get) }
}
