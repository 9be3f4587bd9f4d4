package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.multimodal.MultimodalOps

/** Streaming twin of m10's audio fingerprint dedup — the ingest seat
  * of the content-level audio tier, completing the streaming story for
  * every modality's content dedup (segments, image phash, span trim,
  * ANN encode, and now audio): newly crawled recordings arrive as a
  * file stream of (doc_id, media, format) rows, each one's
  * energy-delta fingerprint is computed IN the stream (the single-pass
  * [[MultimodalOps.audioFingerprint]] — the whole
  * decode→energies→bits→blocks→md5 chain in-row, spec-pinned identical
  * to the batch DataFrame path), and a signature survives as a NEW
  * recording identity only if
  *
  *   1. it is absent from the MATERIALIZED known-signature table (the
  *      batch side's distinct-signature index) — a stream-static left
  *      join, the [[StreamingPhashDedup]] division of labor;
  *   2. it is the first occurrence WITHIN the stream —
  *      `dropDuplicatesWithinWatermark` over the signature, state
  *      bounded by the horizon and by CONTENT cardinality (signatures,
  *      not recordings).
  *
  * Binary payloads never enter a shuffle or the state store: the
  * mapPartitions decode drops them to one 32-char signature before any
  * wide operation. Event time derives as `EpochBase + doc_id` seconds
  * (the append-only monotone doc_id clock every streaming twin uses).
  */
object StreamingAudioFpDedup {

  /** The unstarted streaming plan: first-seen audio signatures of the
    * media stream under `inputDir`, deduplicated against the static
    * `known` frame (sig column) and within the stream. Undecodable or
    * sub-two-window payloads drop (a production pipeline quarantines
    * them). */
  def newSigStream(spark: SparkSession, inputDir: String,
      known: DataFrame, horizon: String = "7 days"): DataFrame = {
    import spark.implicits._
    val sigs = spark.readStream
      .schema(StreamingPhashDedup.mediaSchema).parquet(inputDir)
      .as[MultimodalOps.MediaRecord]
      .mapPartitions { it =>
        it.flatMap(r => MultimodalOps.audioFingerprint(r.media)
          .map(s => (r.doc_id, s)))
      }.toDF("doc_id", "sig")
      .withColumn("ingest_ts",
        timestamp_seconds(lit(StreamingPhashDedup.EpochBase) + $"doc_id"))
      .withWatermark("ingest_ts", horizon)
    sigs
      .join(known.select($"sig", lit(true).as("known_sig")),
        Seq("sig"), "left")
      .filter($"known_sig".isNull)
      .dropDuplicatesWithinWatermark("sig")
      .select($"sig", $"doc_id")
  }

  /** Run to completion over the files currently present, appending the
    * first-seen (sig, holder doc) rows to `outDir` — the streamed
    * analog of appending new groups to m10's distinct-signature
    * index. */
  def runAvailableNow(spark: SparkSession, inputDir: String,
      known: DataFrame, checkpointDir: String, outDir: String)
      : StreamingQuery = {
    StreamingModelRunner.appendAvailableNow(
      newSigStream(spark, inputDir, known),
      checkpointDir, outDir)
  }
}
