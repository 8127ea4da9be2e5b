package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types._

/**
 * Structured Streaming ingest into the series store. The reference has no
 * streaming surface at all (SURVEY §2.9) — queries are batch over
 * [from,until) and ingestion happens in external daemons (go-carbon etc.).
 * This module is that missing daemon, Spark-native: a micro-batch pipeline
 * from an event stream to the canonical Parquet series layout, so /render
 * queries see fresh data without any change to the query path.
 *
 * Scale design: the rollup is a streaming window aggregation — state is
 * bounded by (#distinct names × windows inside the watermark), late events
 * beyond the watermark are dropped exactly like carbon's out-of-order
 * handling, and the sink writes one Parquet partition per time window so
 * the batch reader's partition pruning (SeriesStore) keeps working.
 */
object Ingest {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based event stream (new Parquet files appear under `path`). */
  def eventStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(path)

  /**
   * Hourly per-type rollup with a watermark: one output row per
   * (metric name, hour bucket) once the watermark passes the bucket.
   * Mirrors the batch fixture derivation (EventSeriesStore.build) so
   * streamed and batch-derived series are bit-identical.
   */
  def hourlyRollup(events: DataFrame, stepSeconds: Long = 3600L,
                   watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(
        window(col("ts"), s"$stepSeconds seconds").as("w"),
        col("event_type"))
      .agg(sum(col("value")).as("value"))
      .select(
        concat(lit("events."), col("event_type")).as("name"),
        unix_timestamp(col("w.start")).as("ts"),
        lit(stepSeconds).as("step"),
        col("value"))

  /**
   * Write the rolled-up points as Parquet, partitioned by day so the batch
   * store prunes scans by time. Append mode: a (name, bucket) row is final
   * when emitted (watermark semantics), so no upserts are needed.
   */
  def writer(points: DataFrame, outPath: String, checkpoint: String,
             trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    points
      .withColumn("day", to_date(timestamp_seconds(col("ts"))))
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("day")
      .outputMode(OutputMode.Append())
      .trigger(trigger)

  /**
   * Streaming gap-based sessionization via the native `session_window`:
   * per-user event-time sessions that close after `gap` idle time, each
   * emitted exactly once when the watermark passes its close (append mode).
   * The engine MERGES overlapping per-event windows in state — the
   * streaming analogue of batch q07's lag/cumsum derivation, with state
   * bounded by (users × open sessions), not history.
   *
   * Contract matches batch q07 minus `sess_seq` (an inherently batch
   * ordinal — it needs the user's total history; derivable downstream by
   * ordering session_start_us). Boundary note: the batch rule starts a new
   * session when idle > gap, `session_window` when idle >= gap — the two
   * differ only for an idle time of exactly `gap` (µs-exact), never hit by
   * real event data.
   */
  def sessionize(events: DataFrame, gap: String = "6 hours",
                 watermark: String = "12 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .select(col("user_id"),
        // cast absorbs TIMESTAMP_NTZ sources (instant-preserving: session tz
        // is pinned UTC in GraftSession) — unix_micros requires TIMESTAMP
        unix_micros(col("first_ts").cast("timestamp")).as("session_start_us"),
        col("n_events"),
        (unix_micros(col("last_ts").cast("timestamp")) -
          unix_micros(col("first_ts").cast("timestamp"))).as("duration_us"),
        col("total_value"))
}
