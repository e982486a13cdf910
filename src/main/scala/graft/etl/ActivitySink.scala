package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
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

  /** The sink's rows, or None while it holds none: the path is absent,
    * or no data file exists under it yet (a zero-row first append
    * leaves only `_SUCCESS`). Emptiness is checked explicitly, never
    * inferred from a failed read: a transient or corrupt read must fail
    * the caller, not read as "no history" — that would reset every
    * watermark to 0 and re-append each user's whole history, or turn
    * off the streaming sink's dedup during a failure replay. */
  def read(spark: SparkSession, path: String): Option[DataFrame] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the names Spark's file index skips (`_SUCCESS`, `_temporary`, ...)
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    // stops at the first data file, so it lists one partition, not all
    def hasData(p: Path): Boolean = fs.listStatus(p).iterator
      .filterNot(f => hidden(f.getPath.getName))
      .exists(f => !f.isDirectory || hasData(f.getPath))
    if (fs.exists(dir) && hasData(dir)) Some(spark.read.parquet(path)) else None
  }

  /** S3: latest loaded epoch for one user, 0 when the sink holds no rows
    * (main.py:187-197). The user filter + any date bound prune at scan. */
  def latestEpoch(spark: SparkSession, path: String, userId: Long): Long =
    read(spark, path).fold(0L) {
      _.filter(col("user_id") === userId)
        .agg(coalesce(max(col("epoch")), lit(0L)))
        .collect()(0).getLong(0)
    }
}
