package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming variant of the incremental protocol (SURVEY.md
  * §2.9 optional extension): the same daily summary the batch runner
  * materializes, expressed as readStream → watermark → windowed agg →
  * writeStream.
  *
  * The reference's high-watermark batch protocol maps onto:
  *  - file source picking up new event files per micro-batch (the
  *    append-only ingestion table),
  *  - `withWatermark` bounding state for late events (the reference
  *    handles lateness with the repair path instead; a watermark is the
  *    streaming-native equivalent),
  *  - 1-day tumbling `window` ≡ `date_trunc('day', …)` grouping,
  *  - append output mode ≡ incremental insert of closed periods only
  *    (a window emits once the watermark passes it — the "complete days
  *    only" gate).
  *
  * Scale: state is bounded by (watermark horizon × distinct types); the
  * shuffle per micro-batch is the windowed hash agg, same shape as batch.
  */
object StreamingSummary {

  /** events.parquet file-source schema (ts already microseconds here —
    * streaming reads files written by our own jobs, not the raw nanos
    * fixture).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The streaming daily per-type summary plan (unstarted). */
  def dailySummaryStream(spark: SparkSession, inputDir: String): DataFrame = {
    import spark.implicits._
    spark.readStream
      .schema(eventSchema)
      .parquet(inputDir)
      .filter($"event_type" =!= "error")
      .withWatermark("ts", "1 day")
      .groupBy(window($"ts", "1 day").as("day_window"), $"event_type")
      .agg(count(lit(1)).as("txn_count"),
        sum($"value".cast(DecimalType(18, 2))).cast(DecimalType(38, 2))
          .as("total_amount"))
      .select($"day_window.start".cast(DateType).as("date_key"),
        $"event_type".as("txn_type"), $"txn_count", $"total_amount")
  }

  /** Run to completion over the files currently present (Trigger.AvailableNow
    * — the batch-incremental execution mode), appending closed windows to
    * `outDir`.
    */
  def runAvailableNow(spark: SparkSession, inputDir: String,
      checkpointDir: String, outDir: String): StreamingQuery = {
    StreamingModelRunner.appendAvailableNow(
      dailySummaryStream(spark, inputDir),
      checkpointDir, outDir)
  }
}
