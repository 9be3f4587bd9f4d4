package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.multimodal.MultimodalOps

/** Streaming twin of m07's perceptual-hash image dedup — the ingest
  * seat of the content-level image tier: newly crawled media arrive as
  * a file stream of (doc_id, media, format) rows, each raster is
  * decoded and aHashed IN the stream (the single-pass
  * [[MultimodalOps.ahash16]] — identical exact-integer arithmetic to
  * the batch query, spec-pinned), and a hash survives as a NEW image
  * identity only if
  *
  *   1. it is absent from the MATERIALIZED known-hash table (the batch
  *      side's distinct-hash index) — a stream-static left join, the
  *      same division of labor [[StreamingSegmentDedup]] uses against
  *      `curation_segments`;
  *   2. it is the first occurrence WITHIN the stream —
  *      `dropDuplicatesWithinWatermark` over the 16-bit hash, whose
  *      state store holds only hashes inside the watermark horizon
  *      (and at most 2¹⁶ live keys by construction — image-hash dedup
  *      state is CONSTANT-bounded, the property that makes this tier
  *      trivially cheap to stream).
  *
  * Binary payloads never enter a shuffle or the state store: the
  * mapPartitions decode drops them to an 8-byte hash before any wide
  * operation — the same rule every batch multimodal stage follows.
  *
  * Event time: media rows carry no timestamp; the corpus contract is
  * append-only monotone doc_ids, so ingest time derives as
  * `EpochBase + doc_id` seconds (StreamingSegmentDedup's clock).
  */
object StreamingPhashDedup {

  /** The media stream's physical schema (file streams must declare
    * schemas — no inference race on a growing directory). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("media", BinaryType),
    StructField("format", StringType)))

  /** 2024-01-01T00:00:00Z — the synthetic ingest clock's origin. */
  val EpochBase = 1704067200L

  /** The unstarted streaming plan: first-seen perceptual hashes of the
    * media stream under `inputDir`, deduplicated against the static
    * `known` frame (ahash column) and within the stream. Undecodable
    * payloads drop (a production pipeline quarantines them). */
  def newHashStream(spark: SparkSession, inputDir: String,
      known: DataFrame, horizon: String = "7 days"): DataFrame = {
    import spark.implicits._
    val hashed = spark.readStream.schema(mediaSchema).parquet(inputDir)
      .as[MultimodalOps.MediaRecord]
      .mapPartitions { it =>
        // per-partition reader-registry amortization, as in the batch
        // decode path
        it.flatMap(r => MultimodalOps.ahash16(r.media)
          .map(h => (r.doc_id, h)))
      }.toDF("doc_id", "ahash")
      .withColumn("ingest_ts",
        timestamp_seconds(lit(EpochBase) + $"doc_id"))
      .withWatermark("ingest_ts", horizon)
    hashed
      .join(known.select($"ahash", lit(true).as("known_hash")),
        Seq("ahash"), "left")
      .filter($"known_hash".isNull)
      .dropDuplicatesWithinWatermark("ahash")
      .select($"ahash", $"doc_id")
  }

  /** Run to completion over the files currently present, appending the
    * first-seen (ahash, holder doc) rows to `outDir` — the streamed
    * analog of appending new groups to m07's distinct-hash index. */
  def runAvailableNow(spark: SparkSession, inputDir: String,
      known: DataFrame, checkpointDir: String, outDir: String)
      : StreamingQuery = {
    StreamingModelRunner.appendAvailableNow(
      newHashStream(spark, inputDir, known),
      checkpointDir, outDir)
  }
}
