package graft.ts

import java.time.Duration

import graft.core.Offsets
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval (range) join: match points to the intervals containing them —
  * `start <= ts < end`, optionally under additional equality keys.
  * The reference's nearest/as-of join (AsOf) answers "closest row";
  * this answers "containing window" (incident windows, maintenance
  * periods, promotion ranges).
  *
  * Scale design: Spark plans a raw inequality join as a broadcast-nested-
  * loop / cartesian — O(points × intervals) and a non-starter at scale.
  * Here each interval explodes into the epoch buckets it covers
  * (≤ width/bucket + 1 rows) and points equi-join on their single bucket:
  * the shuffle hash-partitions on TIME, the exact predicate filters
  * inside the partition, and a point meets each interval in exactly one
  * bucket (its own), so no dedup pass is needed. Pick `bucket` near the
  * typical interval width: fan-out stays O(1) per interval and the join
  * stays balanced unless a single bucket is hot (then salt the bucket).
  */
object IntervalJoin {

  def intervalJoin(
      points: DataFrame,
      intervals: DataFrame,
      ptTsCol: String,
      startCol: String,
      endCol: String,
      bucket: Duration,
      equalKeys: Seq[String] = Nil
  ): DataFrame = {
    val bMicros = Offsets.frequencyMicros(bucket)
    val pb = points.withColumn("__b",
      expr(s"unix_micros($ptTsCol) div $bMicros"))
    // half-open [start, end): the last covered bucket holds end − 1µs;
    // empty/negative intervals cover nothing
    val ib = intervals
      .filter(col(startCol) < col(endCol))
      .withColumn("__b", explode(sequence(
        expr(s"unix_micros($startCol) div $bMicros"),
        expr(s"(unix_micros($endCol) - 1) div $bMicros"))))
    pb.join(ib, equalKeys :+ "__b")
      .filter(col(ptTsCol) >= col(startCol) && col(ptTsCol) < col(endCol))
      .drop("__b")
  }
}
