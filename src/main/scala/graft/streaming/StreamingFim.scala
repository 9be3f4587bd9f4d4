package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming twin of [[graft.models.CurationModels.fimTransform]]
  * (c16): newly arrived documents get their fill-in-middle verdict and
  * PSM hash on ingest. The batch transform is a PURE stateless
  * projection (coin and cuts from the doc's own md5 — no corpus state
  * at all), so the twin IS the batch function applied to `readStream`:
  * no re-implementation, no arithmetic to keep in sync, row-identical
  * by construction (StreamingFimSpec still pins it end-to-end through
  * a real file stream). No shuffle, no state store, append-mode
  * trivially.
  */
object StreamingFim {

  /** documents physical schema (file streams declare schemas). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The unstarted streaming plan: c16's output schema for every
    * arrived document. */
  def fimStream(spark: SparkSession, inputDir: String): DataFrame =
    graft.models.CurationModels.fimTransformFrom(
      spark.readStream.schema(docSchema).parquet(inputDir))

  /** Run to completion over the files currently present, appending the
    * transformed index to `outDir`. */
  def runAvailableNow(spark: SparkSession, inputDir: String,
      checkpointDir: String, outDir: String): StreamingQuery = {
    StreamingModelRunner.appendAvailableNow(
      fimStream(spark, inputDir),
      checkpointDir, outDir)
  }
}
