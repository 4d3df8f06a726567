package graft.etl

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K1 — the sink side (reference main.py:130-181: append-only streaming
  * inserts into a BigQuery table). Spark-native form: append-mode
  * parquet partitioned by activity date, so
  *
  *  - the per-user watermark scan (S3) prunes partitions instead of
  *    scanning history (the BigQuery table relied on its 5-year
  *    partition-age clamp for the same reason), and
  *  - incremental loads are idempotent per partition at 100 TB
  *    (replace a date partition to repair, never rewrite the table).
  */
object ActivitySink {

  /** Append nested activity rows (ActivityPipeline.process output). */
  def append(rows: DataFrame, path: String): Unit =
    rows.withColumn("activity_date", to_date(from_unixtime(col("epoch"))))
      .write.mode("append").partitionBy("activity_date").parquet(path)

  /** The loaded sink, or None when nothing has been loaded yet: a
    * missing path or a directory holding no data files. Every other
    * read failure (a corrupt file, a permission error) propagates —
    * reading it as "no watermark" would silently re-ingest the user's
    * whole history. */
  def loaded(spark: SparkSession, path: String): Option[DataFrame] =
    try Some(spark.read.parquet(path))
    catch {
      case e: AnalysisException
          if Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")(e.getCondition) => None
    }

  /** S3: latest loaded epoch for one user, 0 when absent
    * (main.py:187-197). The user filter + any date bound prune at scan. */
  def latestEpoch(spark: SparkSession, path: String, userId: Long): Long =
    loaded(spark, path).fold(0L)(
      _.filter(col("user_id") === userId)
        .agg(coalesce(max(col("epoch")), lit(0L)))
        .collect()(0).getLong(0))
}
