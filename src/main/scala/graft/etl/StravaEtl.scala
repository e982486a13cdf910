package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.StravaJsonSource

/** The reference's top-level entry points (main.py:19-205), one-to-one:
  *
  *  - `add_history_data()` -> [[addHistoryData]]: sync every user's new
  *    activities past their watermark into the sink;
  *  - `sync_activities(username, activity_id=..)` -> [[syncActivity]]:
  *    point re-sync of one activity, skipping the watermark scan (E2).
  *
  * Where the reference loops one user -> one activity -> 13 HTTP calls
  * at a time, this is ONE declarative job: per-user watermarks come
  * from a single aggregate over the (date-partitioned) sink, the
  * incremental predicate is a join + filter that Catalyst pushes to the
  * sources, and every downstream stage is partitioned by activity. The
  * OAuth/token surface (C3) stays driver-side in [[UserStore]] — auth
  * is not dataflow.
  */
object StravaEtl {

  /** E1. Returns the rows appended to the sink. */
  def addHistoryData(spark: SparkSession, activitiesPath: String,
                     streamsPath: String, sinkPath: String, nowEpoch: Long,
                     legacyCompat: Boolean = false): DataFrame = {
    // S3: per-user watermark over the existing sink (0 while it holds
    // no rows; a failed read fails the load — see ActivitySink.read).
    // Keyed by username, as the reference is (main.py:190): username is
    // stamped at ingest and survives legacyCompat, where the sink's
    // user_id is nulled (main.py:171) and a user_id watermark would
    // never match — re-ingesting everything on every run.
    val watermarks = ActivitySink.read(spark, sinkPath) match {
      case Some(sink) => sink.groupBy("username").agg(max(col("epoch")).as("__wm"))
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("username", StringType), StructField("__wm", LongType))))
    }

    // S4: incremental scan — only activities past each user's watermark
    val acts = StravaJsonSource.activities(spark, activitiesPath, nowEpoch.toDouble)
      .join(broadcast(watermarks), Seq("username"), "left")
      .filter(col("epoch") > coalesce(col("__wm"), lit(0L)))
      .drop("__wm")

    appendForActivities(spark, acts, streamsPath, sinkPath, nowEpoch, legacyCompat)
  }

  /** E2: point re-sync by activity id (watermark scan short-circuited,
    * main.py:25-35). */
  def syncActivity(spark: SparkSession, activityId: Long,
                   activitiesPath: String, streamsPath: String,
                   sinkPath: String, nowEpoch: Long,
                   legacyCompat: Boolean = false): DataFrame = {
    val acts = StravaJsonSource.activity(spark, activitiesPath, nowEpoch.toDouble, activityId)
    appendForActivities(spark, acts, streamsPath, sinkPath, nowEpoch, legacyCompat)
  }

  private def appendForActivities(spark: SparkSession, acts: DataFrame,
                                  streamsPath: String, sinkPath: String,
                                  nowEpoch: Long, legacyCompat: Boolean): DataFrame = {
    val streams = StravaJsonSource.streams(spark, streamsPath)
      .join(acts.select("activity_id"), Seq("activity_id")) // only new activities
    val rows = ActivityPipeline.process(
      acts.filter(col("_valid")).drop("_valid"), streams, nowEpoch, legacyCompat)
    ActivitySink.append(rows, sinkPath)
    rows
  }
}
