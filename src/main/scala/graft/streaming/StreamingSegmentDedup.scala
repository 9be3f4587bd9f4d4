package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming twin of the curation pipeline's incremental SEGMENT stage
  * (`runner.CurationPipeline.runIncremental` step 4 / d08's sub-document
  * dedup): appended documents arrive as a file stream, are cut into
  * 10-token segments, and a segment survives as a NEW KEEPER only if
  *
  *   1. its hash is absent from the MATERIALIZED keeper table
  *      (`curation_segments`) — a stream-static left join, the
  *      streaming seat of the batch path's bloom-guarded keeper probe;
  *   2. it is the first occurrence of its hash WITHIN the stream —
  *      `dropDuplicatesWithinWatermark`, whose state store keeps only
  *      hashes inside the watermark horizon, so streaming state is
  *      bounded by (arrival rate × horizon) instead of the corpus.
  *
  * Together the two stages reproduce the batch verdict: historical
  * duplicates die on the static join, in-flight duplicates die in the
  * bounded state store, and a duplicate arriving later than the horizon
  * is the periodic batch catch-up's job (which also folds the appended
  * keepers back into the bloom sidecar) — the same division of labor
  * the warehouse tier uses between streaming twins and closed-period
  * batch models.
  *
  * Event time: documents carry no timestamp; the corpus contract is
  * append-only with monotonically increasing doc_ids, so ingest time is
  * derived as `EpochBase + doc_id` seconds — the monotone arrival clock
  * a real feed would carry as an ingestion column. Keeper REPRESENTATIVE
  * choice (which (doc_id, g) holds a hash first seen twice in one
  * batch) is arrival-order in the streaming world; the KEEPER HASH SET —
  * the thing dedup semantics are defined by — matches the batch
  * incremental exactly (StreamingSegmentDedupSpec).
  */
object StreamingSegmentDedup {

  /** The documents table's physical schema (file streams must declare
    * schemas — no inference race on a growing directory). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** 2024-01-01T00:00:00Z — the synthetic ingest clock's origin. */
  val EpochBase = 1704067200L

  /** The unstarted streaming plan: new-keeper segments of the document
    * stream under `inputDir`, deduplicated against the static `keepers`
    * frame (seg_hash column) and within the stream. */
  def newKeeperStream(spark: SparkSession, inputDir: String,
      keepers: DataFrame, horizon: String = "7 days"): DataFrame = {
    import spark.implicits._
    val docs = spark.readStream.schema(docSchema).parquet(inputDir)
    // segmentsOf is stateless (explode + slice + md5), so it lifts to
    // the stream unchanged; the ingest clock is a pure function of
    // doc_id and re-derives after the projection
    val segs = graft.models.DedupModels.segmentsOf(docs)
      .withColumn("ingest_ts",
        timestamp_seconds(lit(EpochBase) + $"doc_id"))
      .withWatermark("ingest_ts", horizon)
    segs
      // stream-static LEFT join + null filter (the supported outer-join
      // shape): known hashes — the bloom/keeper stage — drop here
      .join(keepers.select($"seg_hash", lit(true).as("known")),
        Seq("seg_hash"), "left")
      .filter($"known".isNull)
      // in-flight first-occurrence pick, state bounded by the horizon
      .dropDuplicatesWithinWatermark("seg_hash")
      .select($"seg_hash", $"doc_id", $"g")
  }

  /** Run to completion over the files currently present, appending the
    * new keepers to `outDir` (the streamed analog of the batch
    * incremental's `curation_segments` append). */
  def runAvailableNow(spark: SparkSession, inputDir: String,
      keepers: DataFrame, checkpointDir: String, outDir: String)
      : StreamingQuery = {
    StreamingModelRunner.appendAvailableNow(
      newKeeperStream(spark, inputDir, keepers),
      checkpointDir, outDir)
  }
}
