package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming surface over the events table. The reference has no
  * streaming tier (SURVEY.md §2.9) — this is the training-pipeline
  * extension: a windowed aggregation that runs identically in batch (the
  * oracle-checked path) and as a stream (watermark + tumbling window,
  * memory-sink tested).
  *
  * Sums are kept in integer cents so batch, streaming, and the DuckDB oracle
  * agree bit-for-bit regardless of partial-aggregation order.
  */
object EventsStream {

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The shared aggregation: 5-minute tumbling windows per event_type.
    * Window key is epoch seconds (bigint) for engine-neutral comparison. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withColumn("window_start",
        expr("(unix_timestamp(ts) div 300) * 300"))
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
      .groupBy("window_start", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum("cents").as("value_cents"),
        countDistinct(col("user_id")).as("n_users"))

  /** Batch form (oracle-checked). */
  def batch(spark: SparkSession, sfDir: String): DataFrame =
    windowedAgg(spark.read.parquet(s"$sfDir/events.parquet"))

  /** Streaming form: same aggregation as a file-source stream with a
    * watermark + event-time tumbling window, complete-mode memory sink.
    * Returns the running query; callers processAllAvailable() then read the
    * `queryName` table. */
  def stream(spark: SparkSession, sfDir: String, queryName: String): StreamingQuery = {
    // the streaming file source wants a directory; select the one table
    // via glob filter
    val events = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    val agg = events
      .withWatermark("ts", "10 minutes")
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum("cents").as("value_cents"),
        approx_count_distinct("user_id").as("n_users_approx"))
      .select(unix_timestamp(col("window.start")).cast("long").as("window_start"),
        col("event_type"), col("n_events"), col("value_cents"), col("n_users_approx"))
    agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Stateful sessionization: per-user sessions split on > `gapMinutes`
    * idle gaps — flatMapGroupsWithState territory in continuous mode; batch
    * form uses the session-window built-in shape via lag/cumsum. */
  def sessions(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapMinutes * 60L,
          1L).otherwise(0L))
      .withColumn("session_idx", sum("new_session").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        unix_timestamp(min("ts")).cast("long").as("session_start"),
        unix_timestamp(max("ts")).cast("long").as("session_end"))
  }
}
