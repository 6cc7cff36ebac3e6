package graft.streaming

import graft.core.Offsets
import graft.ops.TextStats
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import java.time.Duration

/** End-to-end streaming corpus curation — the streaming twin of the batch
  * `doc_curate` pipeline, closing the loop on survey §2.10: documents arrive
  * as files, are quality-scored and filtered per-row, exact-deduplicated
  * within a watermark horizon, assigned a deterministic shard, and land as
  * shard-partitioned files a training dataloader can read sequentially.
  *
  * Every stage is chosen for unbounded input:
  *   - quality scoring/filtering is a pure per-row projection (no state);
  *   - dedup state is one 256-bit content key per distinct document inside
  *     the watermark horizon, evicted by event time — O(distinct-in-horizon),
  *     never O(stream);
  *   - the shard label is a pure hash of the content key (no row_number —
  *     a global position is meaningless on an unbounded stream; within-shard
  *     order is arrival order, already pseudo-random under hash sharding);
  *   - the sink partitions by shard, so each micro-batch appends one file
  *     per shard it touched.
  *
  * The same `curate` call runs unchanged on a batch frame (watermark dedup
  * degrades to plain content dedup), which is the batch/streaming parity
  * contract the rest of this module follows.
  */
object StreamingCuration {

  /** Normalized content identity — MUST stay in lockstep with
    * [[graft.ops.Dedup.exact]] (whitespace-normalized lowercase sha2-256).
    */
  def contentKey(text: Column): Column =
    sha2(regexp_replace(lower(trim(text)), "\\s+", " "), 256)

  /** Deterministic hash shard of an arbitrary key — the per-row half of
    * [[graft.ops.Corpus.shardAssign]]'s (shard, pos) address (same digest,
    * same hex range), usable on a stream because it needs no window.
    */
  def shardOf(key: Column, nShards: Int, seed: String = "shuf"): Column = {
    require(nShards > 0, "nShards must be positive")
    conv(substring(md5(concat_ws("|", lit(seed), key.cast("string"))), 17, 8),
      16, 10).cast("long") % nShards
  }

  /** quality filter → watermark dedup → shard label. Adds `quality`,
    * `content_hash`, `shard`; drops rows below `minQuality` and duplicate
    * content arriving within `watermark` of the first occurrence (first
    * arrival is emitted immediately — append-mode friendly).
    */
  def curate(
      df: DataFrame,
      tsCol: String,
      textCol: String,
      minQuality: Double,
      nShards: Int,
      watermark: Duration = Duration.ofMinutes(10),
      seed: String = "shuf"
  ): DataFrame = {
    val scored = df
      .withColumn("quality", TextStats.qualityScore(col(textCol)))
      .filter(col("quality") >= minQuality)
      .withColumn("content_hash", contentKey(col(textCol)))
    val deduped =
      if (df.isStreaming)
        scored
          .withWatermark(tsCol, Offsets.toSparkInterval(watermark))
          .dropDuplicatesWithinWatermark("content_hash")
      else scored.dropDuplicates("content_hash")
    deduped.withColumn("shard", shardOf(col("content_hash"), nShards, seed))
  }

  /** Materialize a curated stream as shard-partitioned parquet (the
    * streaming twin of [[graft.ops.Corpus.writeShards]]).
    */
  def shardSink(
      curated: DataFrame,
      path: String,
      checkpointDir: String
  ): StreamingQuery =
    curated.writeStream
      .format("parquet")
      .option("checkpointLocation", checkpointDir)
      .partitionBy("shard")
      .outputMode("append")
      .start(path)
}
