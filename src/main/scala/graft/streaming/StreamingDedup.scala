package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming exact deduplication — the streaming-native form of the
  * fact layer's `dropDuplicates("event_id")` cleanup (q01/d01's batch
  * semantics; `fact_kin_transaction.sql:2-5`'s upstream-duplicate
  * guard): readStream → `dropDuplicatesWithinWatermark` → append sink.
  *
  * `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`) is the
  * 100 TB-viable choice: the dedup state store keeps only keys whose
  * event time is inside the watermark horizon, so state is bounded by
  * (arrival rate × horizon) instead of growing with the full history —
  * the same trade the batch runner makes by trusting closed periods.
  * Duplicates arriving later than the horizon are the repair path's
  * job, exactly like late rows in the batch protocol.
  */
object StreamingDedup {

  /** The streaming deduped-events plan (unstarted): one row per
    * event_id among rows whose duplicates arrive within the horizon. */
  def dedupStream(spark: SparkSession, inputDir: String): DataFrame = {
    import spark.implicits._
    spark.readStream
      .schema(StreamingSummary.eventSchema)
      .parquet(inputDir)
      .filter($"event_type" =!= "error")
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")
  }

  /** Run to completion over the files currently present, appending the
    * deduped stream to `outDir`. */
  def runAvailableNow(spark: SparkSession, inputDir: String,
      checkpointDir: String, outDir: String): StreamingQuery = {
    StreamingModelRunner.appendAvailableNow(
      dedupStream(spark, inputDir),
      checkpointDir, outDir)
  }
}
