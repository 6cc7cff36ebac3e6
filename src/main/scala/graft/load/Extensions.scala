package graft.load

import graft.core.LoadingConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Extension points (reference ts_extensions.py:14-75 + registry
  * load_file.py:2362-2418). These are whole-DataFrame strategy hooks, not
  * Catalyst expressions — per the survey (§2.11) nothing in the reference
  * needs a custom Catalyst node; hooks stay declarative so Catalyst still
  * optimizes through them.
  *
  * `DataTransformer` is the load step between the raw read and the
  * timestamp parse (reference ts_extensions.py:14-49). It is called ONCE per
  * load, for files and uploads alike, on the whole unioned frame: every CSV
  * column is still a string, and `TimeSeriesLoader.FileMetadataColumns` are
  * already attached, so per-file values are columns, not arguments. A
  * timestamp column the transformer leaves as a string is parsed
  * afterwards; one it turns into a timestamp is kept as is.
  */
trait DataTransformer extends Serializable {
  def transform(df: DataFrame, timestampColumn: Option[String], loading: LoadingConfig): DataFrame
}

/** Default transform (reference ts_extensions.py:32-49 / P4), the only
  * copy of the numeric coercion: every column but the timestamp and the
  * metadata columns becomes a double, with pd.to_numeric errors="coerce"
  * semantics: garbage -> null (a plain cast THROWS under Spark 4 ANSI
  * mode). A non-"." `loading.decimal` (e.g. European "21,5")
  * normalises to "." first (survey §7.4 #8).
  */
class DefaultDataTransformer extends DataTransformer {
  override def transform(
      df: DataFrame,
      timestampColumn: Option[String],
      loading: LoadingConfig
  ): DataFrame = {
    def numeric(c: org.apache.spark.sql.Column) =
      (if (loading.decimal == ".") c
       else regexp_replace(c, java.util.regex.Pattern.quote(loading.decimal), "."))
        .try_cast("double")
    df.columns.foldLeft(df) { (acc, c) =>
      if (timestampColumn.contains(c) || TimeSeriesLoader.FileMetadataColumns.contains(c)) acc
      else acc.withColumn(c, numeric(col(c)))
    }
  }
}

/** Post-concat hook chain (reference ts_extensions.py:52-75; invocation
  * loop load_file.py:1853-1861 — hook failures are caught and logged, the
  * pipeline continues with the pre-hook frame).
  */
trait PostProcessingHook extends Serializable {
  def process(df: DataFrame, context: scala.collection.mutable.Map[String, Any]): DataFrame
}

/** Z-score outlier removal (reference ts_extensions.py:165-210 / P6):
  * two-pass — one distributed agg for (mean, stddev) per configured column,
  * then a codegen'd filter. pandas std is SAMPLE std (ddof=1) =
  * stddev_samp.
  */
class OutlierRemovalHook(columns: Seq[String], threshold: Double = 3.0)
    extends PostProcessingHook {
  override def process(
      df: DataFrame,
      context: scala.collection.mutable.Map[String, Any]
  ): DataFrame = {
    // reference (ts_extensions.py:181-183) leaves context untouched only for
    // an EMPTY frame; for any non-empty frame it OVERWRITES
    // processing_stats["outliers_removed"] with THIS run's count — 0 included,
    // even when no configured column is present/usable (:205-208)
    def recordRemoved(removed: Long): Unit = {
      val stats = context.getOrElseUpdate("processing_stats",
        scala.collection.mutable.Map.empty[String, Any])
        .asInstanceOf[scala.collection.mutable.Map[String, Any]]
      stats("outliers_removed") = removed
    }
    val present = columns.filter(df.columns.contains)
    if (present.isEmpty) {
      if (!df.isEmpty) recordRemoved(0L)
      return df
    }
    val statsAggs = present.flatMap(c =>
      Seq(avg(col(c)).as(s"mean_$c"), stddev_samp(col(c)).as(s"std_$c"))) :+
      count(lit(1)).as("__n")
    val statsRow = df.agg(statsAggs.head, statsAggs.tail: _*).head()
    if (statsRow.getAs[Long]("__n") == 0L) return df
    // columns with a usable (finite, nonzero) sample std
    val applicable = present.flatMap { c =>
      val mean = statsRow.getAs[Double](s"mean_$c")
      statsRow.getAs[Any](s"std_$c") match {
        case s: java.lang.Double if s != 0.0 && !s.isNaN => Some((c, mean, s.doubleValue()))
        case _ => None
      }
    }
    // per-column outlier counts over the ORIGINAL frame (reference counts
    // each column's z-mask before intersecting, ts_extensions.py:195-207);
    // one extra distributed agg — the reference is eager here too
    val removed =
      if (applicable.isEmpty) 0L
      else {
        val aggs = applicable.map { case (c, m, s) =>
          count(when(abs((col(c) - m) / s) > threshold, lit(1))).as(s"out_$c")
        }
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        applicable.map { case (c, _, _) => row.getAs[Long](s"out_$c") }.sum
      }
    recordRemoved(removed)
    applicable.foldLeft(df) { case (acc, (c, mean, s)) =>
      acc.filter(col(c).isNull || abs((col(c) - mean) / s) <= threshold)
    }
  }
}

/** Timestamp normalization example transformer (reference
  * ts_extensions.py:128-161): parse a string column to timestamp with a
  * strict format. Replaces the default transformer, so no numeric
  * coercion runs.
  */
class TimestampNormalizer(column: String, format: String) extends DataTransformer {
  override def transform(
      df: DataFrame,
      timestampColumn: Option[String],
      loading: LoadingConfig
  ): DataFrame =
    if (df.columns.contains(column))
      df.withColumn(column, to_timestamp(col(column), format))
    else df
}
