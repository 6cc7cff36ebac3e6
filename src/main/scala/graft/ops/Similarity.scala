package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query set
  * against a single linear scan of the corpus; correct and embarrassingly
  * parallel, O(corpus * queries).
  *
  * Scale path: random-hyperplane LSH — per-row signature (no shuffle), probe
  * only matching buckets; multi-probe via several independent tables keeps
  * recall up without widening any single bucket. At 100 TB the bucketed join
  * touches a ~1/2^bits fraction of the corpus per query.
  */
object Similarity {

  /** Dot / norm / cosine over float or double array columns, via native
    * codegen'd Catalyst expressions (graft.functions.vector): one primitive
    * Java loop per row — the HOF formulation (aggregate+zip_with) evaluates
    * interpreted per ELEMENT, and cosine would scan each array three times.
    */
  def dot(a: Column, b: Column): Column = graft.functions.vector.array_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = graft.functions.vector.array_cosine(a, b)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Brute-force cosine top-k: every (query, corpus) pair scored in one scan;
    * queries must be broadcast-sized. Deterministic tie-break on corpus id.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("__qv"))
    val scored = c
      .join(broadcast(q))
      .withColumn("cosine", cosine(col("__cv"), col("__qv")))
      .filter(col("corpus_id") =!= col("query_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  /** Metadata-filtered exact top-k: neighbors are ranked only among corpus
    * rows sharing the query's `filterCol` value (the vector-DB "filtered
    * search" contract — the predicate gates candidacy BEFORE ranking, so a
    * query can never lose a same-attribute neighbor to a higher-cosine
    * stranger).
    *
    * Scale shape: the filter attribute is the JOIN KEY, so a corpus laid
    * out partitioned/bucketed by it is pruned to matching partitions
    * before any distance math — selectivity multiplies throughput instead
    * of wasting it on post-filtering an over-fetched top-k.
    */
  def filteredTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      filterCol: String,
      k: Int
  ): DataFrame = {
    val c = corpus.select(col(filterCol).as("__f"),
      col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
    val q = queries.select(col(filterCol).as("__f"),
      col(queryIdCol).as("query_id"), col(vecCol).as("__qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    c.join(broadcast(q), Seq("__f"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("__cv"), col("__qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  /** Recall@k of an approximate top-k result against exact ground truth:
    * per query, |approx ∩ truth| / |truth| (ppm, integer-exact). Both inputs
    * carry (query_id, corpus_id, rank) as produced by [[bruteForceTopK]] /
    * [[lshTopK]] / [[ivfTopK]]; rows ranked past k are ignored, and queries
    * the approximate index missed entirely still score (0 hits).
    *
    * Scale: the probe join keys on exact (query_id, corpus_id) ids — at most
    * k rows per query per side — so the shuffle is O(#queries x k) no matter
    * how large the corpus the indexes were built over.
    */
  def recallAtK(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val tr = truth.filter(col("rank") <= k).select("query_id", "corpus_id")
    val ap = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), lit(1L).as("__hit"))
    tr.join(ap, Seq("query_id", "corpus_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"),
        count(lit(1)).as("n_truth"))
      // ppm as integer division: operands are non-negative, so Spark's
      // truncating `div` and DuckDB's flooring `//` agree
      .withColumn("recall_ppm", expr("n_hits * 1000000 div n_truth"))
  }

  /** Deterministic random hyperplanes (fixed seed — signatures must be
    * reproducible across runs and executors).
    */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** LSH bucket id: sign bits of `bits` hyperplane projections, packed into
    * a long. Pure per-row projection — computed inside the scan.
    */
  def lshBucket(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (p, i)) =>
      val planeLit = array(p.toIndexedSeq.map(lit): _*)
      val bit = when(dot(vec, planeLit) >= 0, lit(1L)).otherwise(lit(0L))
      acc.bitwiseOR(shiftleft(bit, i))
    }

  /** LSH-bucketed ANN: candidates = same bucket in ANY of `tables`
    * independent hash tables, then exact cosine + top-k among candidates.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int,
      bits: Int = 12,
      tables: Int = 4,
      dim: Int = 64,
      seed: Long = 42L
  ): DataFrame = {
    val planesPerTable = (0 until tables).map(t => hyperplanes(dim, bits, seed + t))
    def withBuckets(df: DataFrame, id: String, idAs: String, vecAs: String): DataFrame =
      df.select(
        col(id).as(idAs),
        col(vecCol).as(vecAs),
        posexplode(array(planesPerTable.map(p => lshBucket(col(vecCol), p)): _*))
          .as(Seq("table_id", "bucket"))
      )
    val c = withBuckets(corpus, idCol, "corpus_id", "__cv")
    val q = withBuckets(queries, queryIdCol, "query_id", "__qv")
    val cand = c.join(q, Seq("table_id", "bucket"))
      .filter(col("corpus_id") =!= col("query_id"))
      .dropDuplicates("query_id", "corpus_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    cand
      .withColumn("cosine", cosine(col("__cv"), col("__qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  /** Multiprobe LSH instrumentation: how many candidates (and how much of
    * the exact top-k) does probing the query's own bucket (radius 0)
    * versus additionally every 1-bit-flipped bucket (radius 1) buy, per
    * query — the standard knob for trading probes against tables (Lv et
    * al.'s multi-probe observation: neighboring buckets hold most of the
    * mass a missing table would).
    *
    * One hash table of `bits` hyperplanes; probes are the bucket plus its
    * `bits` Hamming-1 neighbors. Output per query:
    * `(query_id, n_cand_r0, n_cand_r1, n_hits_r0, n_hits_r1)` with hits
    * counted against the exact cosine top-`k` (ties broken by id, the
    * [[bruteForceTopK]] ranking). All counts exact integers.
    *
    * Scale shape: the probe table is #queries × (bits+1) rows of (id,
    * bucket) — embeddings never ride the probe join (the candidate join
    * carries ids and buckets only; the truth join carries id pairs, the
    * [[recallAtK]] property).
    */
  def lshMultiprobeStats(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int,
      bits: Int = 8,
      dim: Int = 64,
      seed: Long = 42L
  ): DataFrame = {
    val planes = hyperplanes(dim, bits, seed)
    val c = corpus.select(col(idCol).as("corpus_id"),
      lshBucket(col(vecCol), planes).as("bucket"))
    val probeArr = array(
      (lit(0L) +: (0 until bits).map(i => lit(1L << i))): _*)
    val probes = queries
      .select(col(queryIdCol).as("query_id"),
        lshBucket(col(vecCol), planes).as("__qb"))
      .select(col("query_id"), col("__qb"),
        posexplode(probeArr).as(Seq("__pi", "__flip")))
      .select(col("query_id"), (col("__pi") === 0).as("__r0"),
        col("__qb").bitwiseXOR(col("__flip")).as("bucket"))
    val cand = c.join(probes, Seq("bucket"))
      .filter(col("corpus_id") =!= col("query_id"))
      .groupBy("query_id", "corpus_id")
      .agg(max(when(col("__r0"), 1L).otherwise(0L)).as("__in_r0"))
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, queryIdCol, k)
      .select(col("query_id"), col("corpus_id"), lit(1L).as("__t"))
    cand.join(truth, Seq("query_id", "corpus_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(col("__in_r0")).as("n_cand_r0"),
        count(lit(1)).as("n_cand_r1"),
        sum(col("__in_r0") * coalesce(col("__t"), lit(0L))).as("n_hits_r0"),
        sum(coalesce(col("__t"), lit(0L))).as("n_hits_r1"))
  }

  /** Balanced random-projection tree (the Annoy/RP-tree family): `depth`
    * levels, one seeded random direction per level; at each node the
    * points split at the MEDIAN projection of that node's own points —
    * data-dependent balance that plain LSH bucketing (fixed sign
    * thresholds) cannot give, and the property that keeps every leaf at
    * ~n/2^depth no matter how skewed the embedding distribution is.
    *
    * Determinism: directions are fixed-seed; the median is the exact
    * interpolated percentile over IEEE-identical projection doubles, and
    * a point exactly AT the median goes right (strict `>`), so the whole
    * tree — every split value, every leaf id — replays in SQL.
    *
    * Returns (idCol, leaf) with leaf ∈ [0, 2^depth).
    *
    * Scale shape: per level, one map-side-combined percentile per node
    * (≤ 2^level groups) broadcast back — `depth` passes over the
    * (cached) projections, never a shuffle of vectors; at corpus scale
    * swap the exact percentile for `approx_percentile` exactly like the
    * winsorize cut path.
    */
  def rpTreeLeaves(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      depth: Int = 4,
      dim: Int = 64,
      seed: Long = 42L
  ): DataFrame =
    rpTreeAssign(corpus, None, idCol, vecCol, depth, dim, seed)
      .filter(!col("__isq"))
      .select(col("__rid").as(idCol), col("leaf"))

  /** Shared RP-tree routing: splits are FIT on the corpus only (medians
    * over non-query rows), then BOTH corpus rows and the optional query
    * rows are routed through those fitted splits. A query that wanders
    * into a corpus-empty branch (possible below a 1-point node, whose
    * single occupant always goes left) has no median to compare against
    * and deterministically keeps going left — its leaf is well-defined
    * and simply contains zero candidates.
    */
  private def rpTreeAssign(
      corpus: DataFrame,
      queries: Option[DataFrame],
      idCol: String,
      vecCol: String,
      depth: Int,
      dim: Int,
      seed: Long
  ): DataFrame = {
    require(depth >= 1 && depth <= 12, s"depth must be in [1,12], got $depth")
    val dirs = hyperplanes(dim, depth, seed)
    val base = corpus.select(
      col(idCol).as("__rid"), col(vecCol).as("__v"), lit(false).as("__isq"))
    var cur = queries
      .fold(base)(q => base.unionByName(
        q.select(col(idCol).as("__rid"), col(vecCol).as("__v"),
          lit(true).as("__isq"))))
      .withColumn("leaf", lit(0))
    for (l <- 0 until depth) {
      val planeLit = array(dirs(l).toIndexedSeq.map(lit): _*)
      val projected = cur.withColumn("__proj", dot(col("__v"), planeLit))
      val meds = projected.filter(!col("__isq")).groupBy(col("leaf"))
        .agg(expr("percentile(__proj, 0.5)").as("__med"))
      cur = projected
        .join(org.apache.spark.sql.functions.broadcast(meds), Seq("leaf"), "left")
        .withColumn("leaf",
          col("leaf") * 2 + when(
            col("__proj") > coalesce(col("__med"),
              lit(Double.PositiveInfinity)), 1).otherwise(0))
        .drop("__proj", "__med")
    }
    cur
  }

  /** RP-tree ANN instrumentation: per query, the leaf it lands in, the
    * candidate count (same-leaf corpus points), and how many of the exact
    * cosine top-`k` the leaf contains. The id-pairs-only join discipline
    * of [[recallAtK]] applies: vectors ride only the leaf assignment and
    * the exact-truth ranking, never the candidate join.
    *
    * `queries` is an INDEPENDENT vector set: each query vector is routed
    * through the corpus-fitted splits ([[rpTreeAssign]]) rather than
    * looked up by id, so queries need not appear in the corpus, and a
    * query whose leaf holds no corpus point still emits its row with
    * `n_cand = 0` (a query that IS a corpus row lands in its own leaf and
    * excludes itself from the candidates, as before).
    */
  def rpTreeStats(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int,
      depth: Int = 4,
      dim: Int = 64,
      seed: Long = 42L
  ): DataFrame = {
    val assigned = rpTreeAssign(corpus,
      Some(queries.select(col(queryIdCol).as(idCol), col(vecCol))),
      idCol, vecCol, depth, dim, seed)
    val leaves = assigned.filter(!col("__isq"))
      .select(col("__rid").as("corpus_id"), col("leaf").as("__cleaf"))
    val qLeaves = assigned.filter(col("__isq"))
      .select(col("__rid").as("query_id"), col("leaf"))
    val cand = qLeaves.join(leaves,
      col("__cleaf") === col("leaf") && col("corpus_id") =!= col("query_id"),
      "left")
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, queryIdCol, k)
      .select(col("query_id"), col("corpus_id"), lit(1L).as("__t"))
    cand.join(truth, Seq("query_id", "corpus_id"), "left")
      .groupBy(col("query_id"), col("leaf"))
      .agg(count(col("corpus_id")).as("n_cand"),
        sum(coalesce(col("__t"), lit(0L))).as("n_hits"))
  }

  /** Lloyd-iteration k-means refinement of IVF centroids.
    *
    * Assignment pass is shuffle-free: all `nlist` centroids ride along as ONE
    * broadcast row (array of structs — literals would bloat the plan/codegen
    * with nlist x dim constants) and each corpus row argmaxes over that array
    * with an `aggregate` HOF. Recompute pass explodes (cell, idx, x) and
    * means per (cell, idx) — partial aggregation reduces each task's
    * contribution to nlist x dim rows before the (tiny) shuffle, the same
    * communication shape as MLlib's treeAggregate. Per iteration the driver
    * holds only the nlist centroid rows.
    *
    * Deterministic — including ACROSS ENGINES: seed centroids are the first
    * `nlist` corpus ids, ties keep the lower cell, empty cells keep their
    * previous centroid, and the recompute sums exact integer micro-units
    * (order-independent), so every Lloyd round is replayable in SQL and the
    * refined queries carry full value oracles.
    */
  def kmeansCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      iters: Int
  ): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def toDf(cs: Seq[(Int, Seq[Double])]): DataFrame = cs.toDF("cell", "__cent")
    var cents: Seq[(Int, Seq[Double])] = corpus
      .select(col(idCol), asDouble(col(vecCol)).as("__cent"))
      .orderBy(col(idCol)).limit(nlist)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1)) }
      .toSeq
    var it = 0
    while (it < iters) {
      val packed = broadcast(
        toDf(cents).agg(
          array_sort(collect_list(struct(col("cell"), col("__cent")))).as("__cents")))
      val assigned = corpus
        .select(asDouble(col(vecCol)).as("__v"))
        .crossJoin(packed)
        .withColumn("cell", bestCellOf(col("__v"), col("__cents")))
        .select(col("cell"), posexplode(col("__v")).as(Seq("idx", "x")))
      // centroid component = Σ micro-int / (n · 1e6): summing EXACT integer
      // micro-units (floor(x·1e6 + 0.5), identical in any engine) makes the
      // mean independent of partition/accumulation order — a float avg()
      // here was the ONE nondeterminism that kept Lloyd refinement out of
      // the cross-engine oracle. Quantization bias ≤ 5e-7 per component.
      val means = assigned
        .groupBy(col("cell"), col("idx"))
        .agg(sum(floor(col("x") * 1e6 + 0.5)).as("__s"), count(lit(1)).as("__n"))
        .withColumn("m",
          col("__s").cast("double") / (col("__n") * 1000000L).cast("double"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("idx"), col("m")))),
          s => s("m")).as("__cent"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .toMap
      // empty cells keep their previous centroid
      cents = cents.map { case (cell, old) => (cell, means.getOrElse(cell, old)) }
      it += 1
    }
    toDf(cents)
  }

  /** Centroid table → ONE packed row (`__cents`: cell-sorted
    * array<struct<cell, __cent>>) for fold-based assignment — the shape
    * both the Lloyd refinement pass and the STREAMING ingest path attach
    * via a broadcast crossJoin (one row, so the "cross" join is really a
    * constant attach).
    */
  def packCentroids(cents: DataFrame): DataFrame =
    cents.agg(
      array_sort(collect_list(struct(col("cell"), col("__cent")))).as("__cents"))

  /** Nearest-centroid assignment against a packed one-row centroid table:
    * in-row argmax fold, no window, no shuffle — legal on a STREAMING
    * DataFrame (stream-static join + per-row expression), and the exact
    * kernel the batch Lloyd pass uses, so micro-batch and batch
    * assignments agree to the bit (spec-pinned in StreamingSpec). At
    * 100 TB this is the IVF maintenance path: freeze the centroids,
    * assign arrivals per micro-batch, append to the cell-bucketed table.
    */
  def assignCellsPacked(df: DataFrame, packedCents: DataFrame, vecCol: String): DataFrame =
    df.crossJoin(broadcast(packedCents))
      .withColumn("cell", bestCellOf(asDouble(col(vecCol)), col("__cents")))
      .drop("__cents")

  /** Argmax-by-cosine over a packed centroid array (struct(cell, __cent)),
    * evaluated per row with no join fan-out: fold keeps (best score, cell).
    * Ties resolve to the lower cell because the array is cell-sorted and
    * only a strictly-greater score replaces the accumulator. A zero-norm
    * vector has null cosine against every centroid (the fold never updates),
    * so the finish maps the -1 sentinel to a deterministic cell 0 — no
    * phantom cells, no silently dropped mass in the recompute pass.
    */
  private def bestCellOf(vec: Column, cents: Column): Column =
    aggregate(
      cents,
      struct(lit(Double.MinValue).as("cs"), lit(-1).as("cell")),
      (acc, c) => {
        val cs = cosine(vec, c("__cent"))
        when(cs > acc("cs"), struct(cs.as("cs"), c("cell").as("cell"))).otherwise(acc)
      },
      acc => when(acc("cell") < 0, lit(0)).otherwise(acc("cell")))

  /** IVF (inverted-file) ANN: partition the corpus into `nlist` cells by
    * nearest centroid, search only the `nprobe` cells closest to each query.
    *
    * Centroids seed from a deterministic sample of the corpus (first `nlist`
    * ids), optionally refined with `refineIters` Lloyd rounds
    * ([[kmeansCentroids]]) — the query path is identical either way.
    * Scale shape: cell assignment is one broadcast-centroid pass over the
    * corpus (computed once, reusable across queries — at 100 TB you persist
    * the assigned table bucketed by cell); each query then joins against
    * ~nprobe/nlist of the corpus instead of all of it.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      refineIters: Int = 0,
      precomputedCents: Option[DataFrame] = None
  ): DataFrame = {
    // centroid table, not centroid LITERALS: nlist x dim literals would bloat
    // the expression tree (plan size / codegen compile grow with nlist); a
    // broadcast join keeps the plan O(1) and scales to any nlist
    // (`precomputedCents` lets a parameter sweep train once — the training
    // is deterministic, so passing the shared table is value-identical)
    val cents = precomputedCents.getOrElse(
      kmeansCentroids(corpus, idCol, vecCol, nlist, refineIters))

    def assignCells(df: DataFrame, id: String, idAs: String, vecAs: String, n: Int): DataFrame = {
      val scored = df
        .select(col(id).as(idAs), col(vecCol).as(vecAs))
        .crossJoin(broadcast(cents))
        .withColumn("__cs", cosine(col(vecAs), col("__cent")))
      val w = Window.partitionBy(col(idAs)).orderBy(col("__cs").desc, col("cell").asc)
      scored
        .withColumn("__cr", row_number().over(w))
        .filter(col("__cr") <= n)
        .drop("__cent", "__cs", "__cr")
    }
    val c = assignCells(corpus, idCol, "corpus_id", "__cv", 1)
    val q = assignCells(queries, queryIdCol, "query_id", "__qv", nprobe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    c.join(q, Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .dropDuplicates("query_id", "corpus_id")
      .withColumn("cosine", cosine(col("__cv"), col("__qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "corpus_id", "cosine", "rank")
  }

  // ===== int8 scalar quantization ==========================================

  /** Per-vector max-abs scale for int8 quantization. */
  def quantScale(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double")))) / 127.0

  /** Symmetric int8 quantization: code_i = round(x_i / scale), scale =
    * max|x| / 127. A 4x memory cut for ANN candidate stages (float32 ->
    * int8) at <1% cosine error; pure per-row column algebra, computed in
    * the scan, no shuffle. The all-zero vector quantizes to all-zero codes.
    */
  def quantizeInt8(vec: Column): Column = quantizeInt8(vec, quantScale(vec))

  /** Overload taking a MATERIALIZED scale column: a lambda re-evaluates a
    * captured expression subtree per element, so passing `quantScale(vec)`
    * inline costs O(dim^2) per row once projection collapse inlines it —
    * compute the scale as a real column first (see the emb_quantize query).
    */
  def quantizeInt8(vec: Column, scale: Column): Column =
    when(scale === 0.0, transform(vec, _ => lit(0L)))
      .otherwise(transform(vec, x => round(x.cast("double") / scale, 0).cast("long")))

  /** Reconstruction: x_i ~ code_i * scale. */
  def dequantizeInt8(codes: Column, scale: Column): Column =
    transform(codes, c => c.cast("double") * scale)

  // ===== product quantization ==============================================

  /** Product-quantization codebook: split the `dim`-dimensional space into
    * `m` contiguous subspaces and take, per subspace, the subvectors of the
    * first `k` ids (ordered by `idCol`) as centroids — the seeded,
    * replayable initialization (same determinism contract as the
    * `refineIters = 0` IVF variant; Lloyd refinement can reuse
    * [[kmeansCentroids]] per subspace when recall matters more than
    * oracle-exactness).
    *
    * Output: (sub, cid, cv: array<double>) — m*k rows, broadcast-sized for
    * any practical (m, k).
    */
  def pqCodebook(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int
  ): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sd = dim / m
    df.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("int").as("cid"),
        explode(transform(sequence(lit(0), lit(m - 1)),
          s => struct(s.cast("int").as("sub"),
            transform(slice(col(vecCol), s * lit(sd) + 1, lit(sd)),
              x => x.cast("double")).as("cv")))).as("p"))
      .select(col("p.sub").as("sub"), col("cid"), col("p.cv").as("cv"))
  }

  /** Product-quantization code assignment: for every vector and subspace,
    * the id of the L2-nearest codebook centroid (ties break to the lowest
    * centroid id). PQ compresses dim x float32 to m x log2(k) bits — the
    * standard memory layout for billion-scale ANN (IVF-PQ).
    *
    * Scale design: the corpus explodes to m rows per vector (subvector
    * slices — in-row algebra, no shuffle), broadcast-joins the m*k-row
    * codebook, and argmins with a map-side-combined groupBy on (id, sub).
    * Distances are left-fold sums over the subvector, engine-exact for
    * oracle replay.
    *
    * Output: (id, sub, code, dist) — one row per (vector, subspace).
    */
  def pqCodes(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int
  ): DataFrame = {
    val sd = dim / m
    val cb = pqCodebook(df, idCol, vecCol, dim, m, k)
    val subs = df.select(col(idCol).as("id"),
      explode(transform(sequence(lit(0), lit(m - 1)),
        s => struct(s.cast("int").as("sub"),
          transform(slice(col(vecCol), s * lit(sd) + 1, lit(sd)),
            x => x.cast("double")).as("sv")))).as("p"))
      .select(col("id"), col("p.sub").as("sub"), col("p.sv").as("sv"))
    // native codegen'd left fold — same IEEE op order as the HOF
    // aggregate(zip_with((a−b)²)), which evaluated interpreted per element
    // (round 14; the array_dot lesson applied to squared-L2)
    val dist = graft.functions.vector.array_l2sq(col("sv"), col("cv"))
    subs.join(broadcast(cb), Seq("sub"))
      .withColumn("__dist", dist)
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(col("__dist"), col("cid"))).as("__best"))
      .select(col("id"), col("sub"),
        col("__best.cid").as("code"), col("__best.__dist").as("dist"))
  }

  /** PQ-ADC top-k: asymmetric-distance ANN search over [[pqCodes]]
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011). Per query, precompute a lookup table of squared-L2
    * distances from each query SUBVECTOR to each codebook centroid, snap
    * each entry to integer micro-units, and score a corpus vector as the
    * SUM of its m table entries — the corpus side never touches floats,
    * its vectors, or anything wider than (id, sub, code).
    *
    * Scale shape: the codes table (m rows of 3 ints per vector) is the only
    * corpus-sized frame; the LUT (queries x m x k rows) broadcasts; the ADC
    * groupBy on (query_id, corpus_id) partial-aggregates the m subspace
    * rows map-side before the one exchange. The final top-k window is
    * parallel across queries (batch queries to keep partitions bounded).
    *
    * Integer exactness: each LUT entry is floor(d*1e6 + 0.5) of a
    * fold-order-pinned double, so the ADC sum is exact long arithmetic and
    * replayable — ties break to the lowest corpus id.
    *
    * Output: (query_id, corpus_id, adc_u, rank), rank 1..topK per query.
    */
  def pqAnnTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      dim: Int,
      m: Int,
      k: Int,
      topK: Int
  ): DataFrame = {
    val sd = dim / m
    val cb = pqCodebook(corpus, idCol, vecCol, dim, m, k)
    val codes = pqCodes(corpus, idCol, vecCol, dim, m, k)
      .select(col("id").as("corpus_id"), col("sub"), col("code"))
    val qsubs = queries.select(col(queryIdCol).as("query_id"),
      explode(transform(sequence(lit(0), lit(m - 1)),
        sc => struct(sc.cast("int").as("sub"),
          transform(slice(col(vecCol), sc * lit(sd) + 1, lit(sd)),
            x => x.cast("double")).as("qv")))).as("p"))
      .select(col("query_id"), col("p.sub").as("sub"), col("p.qv").as("qv"))
    val d = graft.functions.vector.array_l2sq(col("qv"), col("cv"))
    val lut = qsubs.join(cb, Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid").as("code"),
        floor(d * lit(1e6) + lit(0.5)).cast("long").as("d_u"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_u").asc, col("corpus_id").asc)
    codes.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("corpus_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(sum(col("d_u")).as("adc_u"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "corpus_id", "adc_u", "rank")
  }

  /** IVF-PQ top-k — the billion-scale ANN layout (Jégou et al. TPAMI'11,
    * the FAISS `IVFx,PQy` index): a coarse inverted file restricts each
    * query to its `nprobe` nearest cells, and PQ asymmetric distance
    * scores ONLY those candidates. Combines [[ivfTopK]]'s cell machinery
    * with [[pqAnnTopK]]'s integer-exact ADC.
    *
    * Codebook variant: PQ encodes RAW vectors under one global codebook
    * (not per-cell residuals). Residual encoding is a precision
    * refinement, not a structural change; the global codebook keeps codes
    * valid across cells (re-probing never re-encodes) and the oracle
    * replay composable.
    *
    * Scale shape: candidates materialize as (query_id, corpus_id) pairs —
    * ~nprobe/nlist of the corpus per query, never all of it; the corpus-
    * sized frames are the cell assignment (one broadcast-centroid pass)
    * and the codes table (m int-triples per vector). The ADC join ships
    * only those ints, the LUT broadcasts, and the per-pair sum partial-
    * aggregates map-side.
    *
    * Output: (query_id, corpus_id, adc_u, rank), rank 1..topK per query.
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      dim: Int,
      m: Int,
      k: Int,
      nlist: Int,
      nprobe: Int,
      topK: Int,
      refineIters: Int = 0
  ): DataFrame = {
    val sd = dim / m
    val cents = kmeansCentroids(corpus, idCol, vecCol, nlist, refineIters)
    def cellsOf(df: DataFrame, id: String, idAs: String, n: Int): DataFrame = {
      val scored = df
        .select(col(id).as(idAs), asDouble(col(vecCol)).as("__v"))
        .crossJoin(broadcast(cents))
        .withColumn("__cs", cosine(col("__v"), col("__cent")))
      val w = Window.partitionBy(col(idAs)).orderBy(col("__cs").desc, col("cell").asc)
      scored
        .withColumn("__cr", row_number().over(w))
        .filter(col("__cr") <= n)
        .select(col(idAs), col("cell"))
    }
    val cand = cellsOf(corpus, idCol, "corpus_id", 1)
      .join(cellsOf(queries, queryIdCol, "query_id", nprobe), Seq("cell"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select("query_id", "corpus_id")
      .distinct()
    val cb = pqCodebook(corpus, idCol, vecCol, dim, m, k)
    val codes = pqCodes(corpus, idCol, vecCol, dim, m, k)
      .select(col("id").as("corpus_id"), col("sub"), col("code"))
    val qsubs = queries.select(col(queryIdCol).as("query_id"),
      explode(transform(sequence(lit(0), lit(m - 1)),
        sc => struct(sc.cast("int").as("sub"),
          transform(slice(col(vecCol), sc * lit(sd) + 1, lit(sd)),
            x => x.cast("double")).as("qv")))).as("p"))
      .select(col("query_id"), col("p.sub").as("sub"), col("p.qv").as("qv"))
    val d = graft.functions.vector.array_l2sq(col("qv"), col("cv"))
    val lut = qsubs.join(cb, Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid").as("code"),
        floor(d * lit(1e6) + lit(0.5)).cast("long").as("d_u"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_u").asc, col("corpus_id").asc)
    cand
      .join(codes, Seq("corpus_id"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(sum(col("d_u")).as("adc_u"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "corpus_id", "adc_u", "rank")
  }

  /** Exact squared-L2 top-k in the same integer micro-units as
    * [[pqAnnTopK]] — the ground truth its recall is measured against, so
    * the eval isolates QUANTIZATION loss (not metric mismatch vs cosine).
    * Same broadcast-queries single-scan shape as [[bruteForceTopK]].
    */
  def l2TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      topK: Int
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), asDouble(col(vecCol)).as("__cv"))
    val q = queries.select(col(queryIdCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
    val d = graft.functions.vector.array_l2sq(col("__cv"), col("__qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("l2_u").asc, col("corpus_id").asc)
    c.join(broadcast(q))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        floor(d * lit(1e6) + lit(0.5)).cast("long").as("l2_u"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "corpus_id", "l2_u", "rank")
  }

  // ===== semantic dedup (SemDeDup-style) ===================================

  /** SemDeDup-style semantic deduplication (public method: Abbas et al.,
    * arXiv:2303.09540): k-means-cluster the embeddings, compare pairs ONLY
    * within a cluster, connect pairs above the cosine threshold, and label
    * each document with its component's min id — keep one doc per
    * `cluster_id` downstream.
    *
    * Scale shape: cell assignment is one broadcast-centroid scan; the
    * pairwise stage is quadratic only within a cell (corpus/nlist rows), so
    * nlist grows with the corpus to bound cell size; components reuse the
    * bounded-iteration label propagation from [[Dedup.components]]. Nothing
    * all-pairs, nothing driver-sized except the nlist centroid rows.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nlist: Int = 16,
      refineIters: Int = 2
  ): DataFrame = {
    val cents = kmeansCentroids(df, idCol, vecCol, nlist, refineIters)
    val packed = broadcast(
      cents.agg(array_sort(collect_list(struct(col("cell"), col("__cent")))).as("__cents")))
    val assigned = df
      .select(col(idCol).as("vid"), asDouble(col(vecCol)).as("__v"))
      .crossJoin(packed)
      .withColumn("cell", bestCellOf(col("__v"), col("__cents")))
      .select("vid", "__v", "cell")
    val a = assigned.select(col("cell"), col("vid").as("id_a"), col("__v").as("va"))
    val b = assigned.select(col("cell"), col("vid").as("id_b"), col("__v").as("vb"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"))
    val labels = Dedup.components(pairs)
    df.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("label"), col("id")).as("cluster_id"))
  }

  /** Centroid-distance outlier filter (the CLIP-score-filtering analog for
    * labeled/clustered embedding corpora): each vector's cosine to its
    * group's mean embedding; rows far from their centroid are mislabeled,
    * noisy, or off-distribution — the standard embedding-space curation
    * signal.
    *
    * EXACT end to end: vectors snap to integer micro-units (the
    * [[kmeansCentroids]] convention) and cosine is computed against the
    * per-group integer SUM vector — cos(v, Σ) == cos(v, Σ/n) by scale
    * invariance, so no division ever happens and every accumulation is an
    * order-free integer sum; only the final normalize runs in doubles
    * (exact ints in, engine-identical out). Headroom: |x| ≤ 1, dim ≤ 64,
    * n ≤ 1e5 rows/group keeps every sum within int64.
    *
    * Scale shape: one (group, idx) partial-agg shuffle of integer pairs;
    * the packed centroid-sum table is #groups rows and joins by broadcast;
    * the scoring pass is per-row fold algebra. Zero-norm vectors score
    * null and flag as outliers.
    */
  def centroidOutliers(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      groupCol: String,
      threshold: Double
  ): DataFrame = {
    val uCol = transform(col(vecCol),
      x => floor(x.cast("double") * 1e6 + 0.5).cast("long"))
    val base = df.select(col(idCol), col(groupCol), uCol.as("__u"))
    val sums = base
      .select(col(groupCol), posexplode(col("__u")).as(Seq("idx", "x")))
      .groupBy(col(groupCol), col("idx"))
      .agg(sum(col("x")).as("s"))
      .groupBy(col(groupCol))
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("s")))),
        p => p("s")).as("__c"))
    base.join(broadcast(sums), Seq(groupCol))
      .withColumn("__dot",
        aggregate(zip_with(col("__u"), col("__c"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
      .withColumn("__uu",
        aggregate(transform(col("__u"), a => a * a), lit(0L), (acc, x) => acc + x))
      .withColumn("__cc",
        aggregate(transform(col("__c"), a => a * a), lit(0L), (acc, x) => acc + x))
      .withColumn("cos_centroid",
        when(col("__uu") > 0 && col("__cc") > 0,
          col("__dot").cast("double") /
            sqrt(col("__uu").cast("double") * col("__cc").cast("double"))))
      .withColumn("is_outlier",
        col("cos_centroid").isNull || col("cos_centroid") < threshold)
      .select(col(idCol), col(groupCol), col("cos_centroid"), col("is_outlier"))
  }

  /** Max cosine against a packed centroid array — the score companion to
    * [[bestCellOf]] (model-selection readouts want the distance, not the
    * argmax). Order-free (pure max fold); zero-norm vectors yield null.
    */
  private def bestCosineOf(vec: Column, cents: Column): Column =
    aggregate(
      cents,
      lit(Double.MinValue),
      (acc, c) => {
        val cs = cosine(vec, c("__cent"))
        when(cs > acc, cs).otherwise(acc)
      },
      acc => when(acc === lit(Double.MinValue), lit(null).cast("double"))
        .otherwise(acc))

  /** Inertia readout for a k-means elbow sweep: train `nlist` centroids
    * ([[kmeansCentroids]] — seeded + `iters` Lloyd rounds), then sum each
    * vector's (1 − best cosine) snapped to integer micro-units. The snap
    * makes the corpus total an exact, order-free int64 sum, so the whole
    * model-selection curve replays in SQL (the Lloyd determinism
    * contract, extended one readout further).
    *
    * Scale shape: one broadcast-centroid pass over the corpus per k —
    * identical to the IVF assignment pass; nothing quadratic, nothing
    * collected but the k centroids.
    */
  def kmeansInertiaMicro(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      iters: Int
  ): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, nlist, iters)
    val packed = broadcast(cents.agg(
      array_sort(collect_list(struct(col("cell"), col("__cent")))).as("__cents")))
    corpus
      .select(asDouble(col(vecCol)).as("__v"))
      .crossJoin(packed)
      .withColumn("__cs", bestCosineOf(col("__v"), col("__cents")))
      .agg(count(lit(1)).as("n_vecs"),
        sum(floor((lit(1.0) - col("__cs")) * 1e6 + 0.5).cast("long"))
          .as("inertia_micro"))
  }

  /** Simplified (centroid-based) silhouette per cluster: for each vector,
    * a = cosine distance to its OWN (nearest) centroid and b = distance to
    * the best OTHER centroid — the argmax assignment makes a the top-1 and
    * b the top-2 of one fold, so both come from a single broadcast-centroid
    * pass (no pairwise distances, unlike the classic silhouette). Distances
    * snap to integer micro-units and s = (b−a)·1e6 div max(a,b) is an exact
    * integer ppm (both engines truncate integer division toward zero, so
    * the statistic replays in SQL even where b < a is impossible here but
    * the division form still matters for max(a,b)=0 → s=0).
    *
    * Returns per-cell rows: cell, n_vecs, sum_a_micro, sum_b_micro,
    * sum_s_ppm, mean_s_ppm (integer div) — all exact int64, order-free.
    * Scale shape: identical to the IVF assignment pass — one broadcast of
    * nlist centroids, one map-side-combined groupBy(cell).
    */
  def centroidSilhouette(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      iters: Int
  ): DataFrame = {
    require(nlist >= 2, s"silhouette needs >= 2 clusters, got $nlist")
    val cents = kmeansCentroids(corpus, idCol, vecCol, nlist, iters)
    val packed = broadcast(cents.agg(
      array_sort(collect_list(struct(col("cell"), col("__cent")))).as("__cents")))
    // one fold keeps (best cs, best cell, second-best cs); ties keep the
    // earlier (lower) cell like bestCellOf; null cosines never update
    val top2 = aggregate(
      col("__cents"),
      struct(lit(Double.MinValue).as("b1"), lit(-1).as("c1"),
        lit(Double.MinValue).as("b2")),
      (acc, c) => {
        val cs = cosine(col("__v"), c("__cent"))
        when(cs > acc("b1"),
          struct(cs.as("b1"), c("cell").as("c1"), acc("b1").as("b2")))
          .when(cs > acc("b2"),
            struct(acc("b1").as("b1"), acc("c1").as("c1"), cs.as("b2")))
          .otherwise(acc)
      })
    val perVec = corpus
      .select(asDouble(col(vecCol)).as("__v"))
      .crossJoin(packed)
      .withColumn("__t", top2)
      // zero-norm sentinel -> deterministic cell 0 with a = b = 0 (s = 0)
      .select(
        when(col("__t.c1") < 0, lit(0)).otherwise(col("__t.c1")).as("cell"),
        when(col("__t.c1") < 0, lit(0L))
          .otherwise(floor((lit(1.0) - col("__t.b1")) * 1e6 + 0.5).cast("long"))
          .as("a_u"),
        when(col("__t.c1") < 0, lit(0L))
          .otherwise(floor((lit(1.0) - col("__t.b2")) * 1e6 + 0.5).cast("long"))
          .as("b_u"))
      .withColumn("s_ppm",
        when(greatest(col("a_u"), col("b_u")) === 0L, lit(0L))
          .otherwise(expr("(b_u - a_u) * 1000000 div greatest(a_u, b_u)")))
    perVec.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("a_u")).as("sum_a_micro"),
        sum(col("b_u")).as("sum_b_micro"),
        sum(col("s_ppm")).as("sum_s_ppm"))
      .withColumn("mean_s_ppm", expr("sum_s_ppm div n_vecs"))
  }

  /** Greedy k-center (farthest-point-first) coreset selection — the
    * data-pruning pass that picks k maximally-spread representatives
    * (Gonzalez's 2-approximation to the k-center cover; the seed rule
    * behind k-means++ and the coverage-first flavor of coreset
    * distillation for training-data curation).
    *
    * Selection order is fully pinned: seed = smallest id, each round adds
    * the point with the MAXIMUM min-L2² distance to the chosen set (ties
    * to the smaller id). Distances are exact int64 over micro-quantized
    * coordinates, so every round's pick — and the whole selection
    * trajectory — replays identically in SQL.
    *
    * Scale shape: one corpus scan per round with the ≤k chosen vectors
    * riding as a broadcast literal (the argmax is TakeOrderedAndProject);
    * k scans of a bucketed corpus, nothing quadratic, nothing collected
    * but the k winners.
    */
  def kCenterGreedy(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = corpus
      .select(col(idCol).cast("long").as("id"), microQuant(col(vecCol)).as("__q"))
      .localCheckpoint(true)
    val seed = q.orderBy(col("id")).limit(1).collect()(0)
    var chosen = Vector((seed.getLong(0), seed.getSeq[Long](1).toArray, 0L))
    for (_ <- 1 until k) {
      val cLit = typedLit(chosen.map(_._2.toSeq))
      // inner squared-L2 per centroid via the native long kernel (same
      // int64 left fold); the outer min stays a HOF over ≤ k elements
      val dmin = aggregate(
        transform(cLit, c => graft.functions.vector.array_l2sq(col("__q"), c)),
        lit(Long.MaxValue), (m, d) => least(m, d))
      val next = q.withColumn("__d", dmin)
        .orderBy(desc("__d"), col("id")).limit(1).collect()(0)
      chosen = chosen :+ ((next.getLong(0), next.getSeq[Long](1).toArray,
        next.getLong(2)))
    }
    chosen.zipWithIndex
      .map { case ((id, _, d), i) => (i, id, d) }
      .toDF("round", "vec_id", "dist_u")
  }

  /** Integer micro-unit quantization of a float vector column — the
    * shared first step of every exact-replay spectral/centroid op.
    */
  private def microQuant(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * 1e6 + 0.5).cast("long"))

  /** Gram (second-moment) matrix of the quantized corpus as (a, b, g)
    * rows: g = Σ_corpus q_a·q_b over micro-unit integers — exact,
    * order-free sums.
    *
    * Scale shape: the posexplode² fan-out (dim² terms per vector) is
    * consumed by the SAME stage's hash-agg partial combine, so at most
    * dim² partial rows leave each partition regardless of corpus size —
    * the classic treeAggregate shape, one bounded shuffle. int64
    * headroom: |q| ≤ 1e6·|x| keeps Σ|q_a·q_b| exact to ~9e6 unit-norm
    * rows; quantize coarser (1e3) for 1e9-row corpora.
    */
  def gramMicro(corpus: DataFrame, vecCol: String): DataFrame =
    corpus
      .select(microQuant(col(vecCol)).as("__q"))
      .select(posexplode(col("__q")).as(Seq("a", "qa")), col("__q"))
      .select(col("a"), col("qa"), posexplode(col("__q")).as(Seq("b", "qb")))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("qa") * col("qb")).as("g"))

  /** Top principal direction of the corpus second-moment matrix by power
    * iteration — the spectral summary an embedding pipeline runs before
    * whitening / dimensionality triage.
    *
    * Determinism contract (the Lloyd convention, one step further): the
    * Gram entries are exact integer sums ([[gramMicro]]); they normalize
    * to ≤1e6 integer units through ONE fixed float op-pair
    * (`floor(g·1e6/max|g| + 0.5)`); every iteration is then an exact
    * integer mat-vec (order-free) followed by the same fixed renormalize
    * op-pair. Any engine replays the whole trajectory bit-for-bit —
    * there is no accumulated float state to drift.
    *
    * The iteration itself runs on the driver over the bounded dim×dim
    * matrix (same class as the Lloyd centroid collect: dim² rows, never
    * data-sized). Returns the direction in integer micro-units of a
    * unit-infinity-norm vector (sign as the iteration from the all-ones
    * start determines).
    */
  def powerIterationTopPc(
      corpus: DataFrame,
      vecCol: String,
      iters: Int
  ): Array[Long] = {
    val rows = gramMicro(corpus, vecCol).collect()
    val dim = rows.iterator.map(_.getInt(0)).max + 1
    val maxG = rows.iterator.map(r => math.abs(r.getLong(2))).max
    val gn = Array.ofDim[Long](dim, dim)
    rows.foreach { r =>
      gn(r.getInt(0))(r.getInt(1)) =
        math.floor(r.getLong(2).toDouble * 1e6 / maxG + 0.5).toLong
    }
    var v = Array.fill(dim)(1000000L)
    var it = 0
    while (it < iters) {
      val w = Array.tabulate(dim) { a =>
        var s = 0L; var b = 0
        while (b < dim) { s += gn(a)(b) * v(b); b += 1 }
        s
      }
      val maxW = w.iterator.map(math.abs).max
      v = w.map(x => math.floor(x.toDouble * 1e6 / maxW + 0.5).toLong)
      it += 1
    }
    v
  }

  /** Projection of each vector onto a micro-unit direction, as an exact
    * integer (Σ q_i·v_i): the scoring pass after [[powerIterationTopPc]].
    * The direction rides into the plan as a literal — per-row fold
    * algebra, no join, no shuffle.
    */
  def projectionMicro(vec: Column, direction: Array[Long]): Column =
    aggregate(
      zip_with(microQuant(vec), typedLit(direction.toSeq), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)

  /** Embedding-cosine near-duplicate pairs: LSH buckets as blocking, exact
    * cosine verify, threshold filter (the embedding flavor of Dedup).
    */
  def cosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 8,
      tables: Int = 2,
      dim: Int = 64,
      seed: Long = 42L
  ): DataFrame = {
    val planesPerTable = (0 until tables).map(t => hyperplanes(dim, bits, seed + t))
    val bucketed = df.select(
      col(idCol).as("vid"),
      col(vecCol).as("v"),
      posexplode(array(planesPerTable.map(p => lshBucket(col(vecCol), p)): _*))
        .as(Seq("table_id", "bucket"))
    )
    val a = bucketed.select(col("table_id"), col("bucket"), col("vid").as("id_a"), col("v").as("va"))
    val b = bucketed.select(col("table_id"), col("bucket"), col("vid").as("id_b"), col("v").as("vb"))
    a.join(b, Seq("table_id", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
