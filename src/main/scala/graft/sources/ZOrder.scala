package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout: interleave the bits of two clustering
  * keys so that sorting by the single z-value co-clusters BOTH dimensions,
  * and per-file min/max statistics prune scans filtered on either key.
  * The multi-dimensional analogue of [[Bucketing]]'s one-key layout; same
  * one-time-cost argument at 100 TB (Delta/Iceberg `OPTIMIZE ZORDER BY`
  * is this exact transform).
  *
  * Everything is integer bit algebra (shift/and/or) — whole-stage
  * codegen'd, engine-exact, and replayable in ANSI SQL via
  * [[ZOrderSql.interleave]], which emits the identical term-by-term
  * expression.
  */
object ZOrder {

  /** Morton-interleave the low `bits` bits of two non-negative integral
    * columns: bit i of `a` lands at position 2i, bit i of `b` at 2i+1.
    * Requires `bits <= 31` (z fits int64). Values must fit in `bits` bits
    * or high bits are silently dropped — size `bits` to the key domain.
    */
  def interleave2(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val al = a.cast("long")
    val bl = b.cast("long")
    (0 until bits)
      .map { i =>
        shiftleft(shiftrightunsigned(al, i).bitwiseAND(lit(1L)), 2 * i)
          .bitwiseOR(
            shiftleft(shiftrightunsigned(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
      }
      .reduce(_ bitwiseOR _)
  }

  /** Write `df` physically clustered by the z-value of (`colA`, `colB`):
    * range-partition into `files` output files, sort within each. This is
    * the scale path — one range exchange, no global sort barrier.
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      bits: Int,
      files: Int
  ): Unit =
    df.withColumn("__z", interleave2(col(colA), col(colB), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write
      .mode("overwrite")
      .parquet(path)

  /** Layout-quality evaluation: split the z-sorted row sequence into
    * `buckets` equal files (exact ntile semantics so the decision is
    * engine-replayable; `tieCols` must complete a total order) and report
    * each file's row count and per-dimension min/max span — the stats a
    * format's data-skipping index would hold. Narrow spans on BOTH
    * dimensions are the whole point of z-order.
    *
    * Scale shape: a plain `ntile()` here would global-sort the whole
    * corpus in ONE task; instead the global rank rides the
    * [[graft.ts.RangeSeries.withRunning]] chunked spine (quantile
    * chunks on the z-value, per-chunk row_number + driver offsets) and
    * ntile's bucket function is replayed EXACTLY from (rank, N, buckets)
    * as literals: with q = N div b and rem = N mod b, the first `rem`
    * buckets hold q+1 rows. Output stays `buckets` rows.
    */
  def layoutStats(
      df: DataFrame,
      colA: String,
      colB: String,
      bits: Int,
      buckets: Int,
      tieCols: Seq[String]
  ): DataFrame = {
    val zed = df.withColumn("__z", interleave2(col(colA), col(colB), bits))
      .localCheckpoint(true)
    val n = zed.count()
    val ranked = graft.ts.RangeSeries.withRunning(zed,
      key = struct((col("__z") +: tieCols.map(col)): _*),
      runnings = Nil,
      rnCol = Some("__rn"),
      bucketKey = Some(col("__z")),
      // zed is already checkpointed + counted for the bucket arithmetic;
      // passing N lets the spine's fast-path gate decide with zero jobs
      knownRows = Some(n),
      // the sort key is a 3-field STRUCT, whose per-comparison cost moves
      // the one-task-window crossover well below the session default gate:
      // interleaved A/B at sf0.1 (600k rows) had the chunked spine at
      // 2.7-3.5 s vs 3.2-3.9 s one-task, values identical (round 13,
      // guide §1.1) — cap the fast path at 200k rows for this key shape
      fastRowsCap = Some(200000L))
    val q = n / buckets
    val rem = n % buckets
    ranked
      .withColumn("bucket", expr(
        s"CASE WHEN __rn <= ${rem * (q + 1)} " +
          s"THEN CAST((__rn - 1) DIV ${q + 1} AS INT) + 1 " +
          s"ELSE $rem + CAST((__rn - 1 - ${rem * (q + 1)}) " +
          s"DIV ${math.max(q, 1L)} AS INT) + 1 END"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n"),
        min(col(colA)).as(s"min_a"),
        max(col(colA)).as(s"max_a"),
        min(col(colB)).as(s"min_b"),
        max(col(colB)).as(s"max_b"))
      .withColumn("span_a", col("max_a") - col("min_a") + 1)
      .withColumn("span_b", col("max_b") - col("min_b") + 1)
  }
}

/** DuckDB replay of [[ZOrder]]: the interleave emitted as the same
  * bit-by-bit integer expression.
  */
object ZOrderSql {

  def interleave(a: String, b: String, bits: Int): String =
    (0 until bits)
      .map(i =>
        s"(((CAST($a AS BIGINT) >> $i) & 1) << ${2 * i}) | " +
          s"(((CAST($b AS BIGINT) >> $i) & 1) << ${2 * i + 1})")
      .mkString("(", " | ", ")")
}
