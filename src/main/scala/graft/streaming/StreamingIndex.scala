package graft.streaming

import java.time.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Offsets
import graft.ops.Similarity

/** Streaming index-maintenance plumbing on top of the batch ANN kernels.
  *
  * The batch side of the IVF contract lives in [[graft.ops.Similarity]]:
  * freeze centroids on a training corpus, then index maintenance is pure
  * per-row assignment (`assignCellsPacked`, bit-identical micro-batch vs
  * batch — StreamingSpec pins it). This object adds the DELIVERY-layer
  * concern a real ingest has: upstream systems re-send (at-least-once
  * delivery, producer retries), and a vector indexed twice double-counts
  * in every downstream cell statistic and candidate list.
  */
object StreamingIndex {

  /** Watermark-deduplicated IVF cell assignment for a streaming vector
    * feed: drop re-deliveries of the same `idCol` within the watermark
    * horizon, then assign each surviving vector to its frozen-centroid
    * cell (`Similarity.assignCellsPacked`).
    *
    * Horizon contract (the [[StreamingResample.dedupStream]] semantics,
    * applied to index ingest): duplicate suppression state is keyed by
    * `idCol` and EVICTED once the event-time watermark passes the first
    * sighting by `horizon` — a re-delivery inside the horizon is dropped;
    * the same id arriving after eviction is indexed AGAIN (the horizon is
    * the at-least-once re-delivery bound the deployment chose, not a
    * forever-unique guarantee — forever-unique state grows with corpus
    * size, which a 100 TB ingest cannot hold per-executor). Eviction is
    * driven by the WATERMARK, never the wall clock, so the same batch
    * sequence produces the same output on every run (spec-pinned,
    * 10-repeat deterministic, StreamingSpec).
    *
    * Scale shape: dedup state is (id-hash) per in-horizon vector; the
    * assignment itself is stateless per-row argmax against one broadcast
    * centroid row — the micro-batch cost is O(batch × nlist), zero
    * shuffles.
    */
  def ivfIngestStream(
      vectors: DataFrame,
      packedCents: DataFrame,
      idCol: String,
      vecCol: String,
      tsCol: String,
      horizon: Duration = Duration.ofHours(1)
  ): DataFrame =
    Similarity.assignCellsPacked(
      vectors
        .withWatermark(tsCol, Offsets.toSparkInterval(horizon))
        .dropDuplicatesWithinWatermark(idCol),
      packedCents, vecCol)
      .select(col(idCol), col(tsCol), col("cell"))
}
