package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming twin of [[graft.models.SimilarityModels.domainMixture]]
  * (c14): newly arrived vectors are assigned to the FROZEN discovered
  * domains and stamped with the FROZEN epoch's mixture verdict — the
  * ingest seat of domain reweighting, where a new document entering the
  * corpus gets its replication index immediately instead of waiting for
  * the next batch mix job. Weight drift (shares changing as the corpus
  * grows) remains the batch recompute's job — the exact split
  * StreamingAnnEncode draws for codebook drift.
  *
  * Stateless by the same construction: the k-row cell codebook and the
  * k-row weight table collapse to PLAN LITERALS (argmax over literal
  * structs for the cell, `element_at` maps for the weights), and the
  * replication coin is the vector's own md5 — so a streamed vector's
  * row is bit-identical to the batch row for the same frozen tables
  * (StreamingDomainMixSpec pins row-for-row equality). No shuffle, no
  * state store; the append is partition-local.
  */
object StreamingDomainMix {

  /** embeddings physical schema (file streams declare schemas). */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private def dotLit(v: Column, cv: Array[Double]): Column =
    aggregate(zip_with(v, typedLit(cv.toSeq), (x, y) => x * y),
      lit(0.0d), (acc, x) => acc + x)

  /** The unstarted streaming plan: c14's output schema for every
    * arrived vector, against the frozen `mix_cells` (cid, cv, cnorm)
    * and `mix_weights` (cell, share_micros, mix_weight, repeat_factor)
    * tables under `warehouseDir`. */
  def mixStream(spark: SparkSession, inputDir: String,
      warehouseDir: String): DataFrame = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$warehouseDir/mix_cells")
      .select($"cid", $"cv", $"cnorm")
      .as[(Long, Seq[Double], Double)].collect()
      .map { case (cid, cv, n) => (cid, cv.toArray, n) }
      .sortBy(_._1)
    val weights = spark.read.parquet(s"$warehouseDir/mix_weights")
      .select($"cell", $"share_micros", $"mix_weight", $"repeat_factor")
      .as[(Long, Long, Double, Double)].collect()
    val shareMap = typedLit(weights.map(w => w._1 -> w._2).toMap)
    val mixMap = typedLit(weights.map(w => w._1 -> w._3).toMap)
    val repMap = typedLit(weights.map(w => w._1 -> w._4).toMap)

    val hexVal: Column => Column =
      c => (instr(lit("0123456789abcdef"), c) - 1).cast(LongType)

    val stream = spark.readStream.schema(embSchema).parquet(inputDir)
      .select($"vec_id",
        transform($"embedding", x => x.cast(DoubleType)).as("v"))
      .withColumn("norm", sqrt(aggregate(
        zip_with($"v", $"v", (x, y) => x * y), lit(0.0d), (a, x) => a + x)))

    // cell assignment: argmax of rounded cosine, ties by LOWEST cid —
    // identical to cellTop2's (sim DESC, cid ASC) rank (the
    // StreamingAnnEncode construction, spec-pinned there)
    val cellStructs = cents.map { case (cid, cv, cnorm) =>
      struct(
        round(dotLit($"v", cv) / ($"norm" * lit(cnorm)), 6).as("sim"),
        lit(-cid).as("negcid"))
    }
    stream
      .withColumn("cell", -array_max(array(cellStructs.toIndexedSeq: _*))
        .getField("negcid"))
      // a streamed vector can argmax into a cell that had ZERO members
      // in the frozen batch epoch, so the weight maps have no entry —
      // default those to the explicit neutral verdict (share 0, weight
      // 1, keep exactly one copy) instead of propagating nulls into
      // n_copies, a row shape batch c14 can never emit (round-12
      // review). The batch recompute re-weights the cell next epoch.
      .withColumn("share_micros",
        coalesce(element_at(shareMap, $"cell"), lit(0L)))
      .withColumn("mix_weight",
        coalesce(element_at(mixMap, $"cell"), lit(1.0d)))
      .withColumn("repeat_factor",
        coalesce(element_at(repMap, $"cell"), lit(1.0d)))
      // the batch coin verbatim: md5 bucket vs the repeat fraction
      .withColumn("h", md5($"vec_id".cast(StringType)))
      .withColumn("bucket",
        hexVal(substring($"h", 1, 1)) * 4096 +
          hexVal(substring($"h", 2, 1)) * 256 +
          hexVal(substring($"h", 3, 1)) * 16 + hexVal(substring($"h", 4, 1)))
      .withColumn("frac_micros",
        round(($"repeat_factor" - floor($"repeat_factor")) * 1e6)
          .cast(LongType))
      .withColumn("n_copies",
        floor($"repeat_factor") +
          when($"bucket" * 1000000L < $"frac_micros" * 65536L, 1L)
            .otherwise(0L))
      .select($"vec_id", $"cell", $"share_micros", $"mix_weight",
        $"repeat_factor", $"n_copies")
  }

  /** Run to completion over the files currently present, appending the
    * stamped rows to `outDir`. */
  def runAvailableNow(spark: SparkSession, inputDir: String,
      warehouseDir: String, checkpointDir: String, outDir: String)
      : StreamingQuery = {
    StreamingModelRunner.appendAvailableNow(
      mixStream(spark, inputDir, warehouseDir),
      checkpointDir, outDir)
  }
}
