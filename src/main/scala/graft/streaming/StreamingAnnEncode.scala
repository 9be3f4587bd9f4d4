package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming twin of [[graft.runner.AnnIndexPipeline.runIncremental]]:
  * newly arrived vectors are IVF-PQ encoded against the FROZEN
  * materialized codebooks and appended to the code table — FAISS's
  * add-after-train as a structured stream.
  *
  * The whole encode is STATELESS, which is what makes it append-mode
  * streamable at all: the batch path ranks cells with a window
  * (`cellTop2`'s row_number), but windows don't lift to streams —
  * instead the constant-size codebooks (16 coarse + 128 residual rows)
  * are collected once at PLAN TIME and folded in as array/map
  * literals, so cell assignment and residual coding become pure
  * per-row expressions (argmax/argmin via `array_max`/`array_min`
  * over literal struct arrays — the streaming seat of a broadcast).
  * Arithmetic is kept IDENTICAL to the batch encoder — same rounded
  * 6dp metrics, same tie rules (lowest cid on equal similarity via a
  * negated-id struct field; lowest pcid on equal distance) — so
  * streamed codes equal batch codes ROW-FOR-ROW
  * (StreamingAnnEncodeSpec pins set equality against
  * `runIncremental`).
  *
  * Scale: one map-shaped pass per arrived file batch, no shuffle, no
  * state store; the code table append is partition-local. Codebook
  * drift (recall decay on new data) remains the batch retrain's job,
  * exactly as in the batch pipeline's contract.
  */
object StreamingAnnEncode {

  /** embeddings physical schema (file streams declare schemas). */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private def dotLit(v: Column, cv: Array[Double]): Column =
    aggregate(zip_with(v, typedLit(cv.toSeq), (x, y) => x * y),
      lit(0.0d), (acc, x) => acc + x)
  private def l2Lit(v: Column, cv: Array[Double]): Column =
    aggregate(zip_with(v, typedLit(cv.toSeq), (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, x) => acc + x)

  /** The unstarted streaming plan: one packed (vec_id, cell, codes)
    * row per arrived vector, encoded against the codebooks read from
    * `warehouseDir` (must hold `ann_coarse_codebook` /
    * `ann_pq_codebook` as written by AnnIndexPipeline.run). */
  def encodeStream(spark: SparkSession, inputDir: String,
      warehouseDir: String): DataFrame = {
    import spark.implicits._
    // constant-size codebooks → plan literals (collected ONCE when the
    // plan is built; 16 + 128 rows — the s04-codebook convention)
    val cents = spark.read.parquet(s"$warehouseDir/ann_coarse_codebook")
      .select($"cid", $"cv", $"cnorm")
      .as[(Long, Seq[Double], Double)].collect()
      .map { case (cid, cv, n) => (cid, cv.toArray, n) }
      .sortBy(_._1)
    val pq = spark.read.parquet(s"$warehouseDir/ann_pq_codebook")
      .select($"m", $"pcid", $"pcent")
      .as[(Int, Long, Seq[Double])].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap

    val stream = spark.readStream.schema(embSchema).parquet(inputDir)
      .select($"vec_id",
        transform($"embedding", x => x.cast(DoubleType)).as("v"))
      .withColumn("norm", sqrt(aggregate(
        zip_with($"v", $"v", (x, y) => x * y), lit(0.0d), (a, x) => a + x)))

    // cell assignment: argmax of rounded cosine, ties by LOWEST cid —
    // array_max over struct(sim, -cid) picks (max sim, then max -cid
    // = min cid), matching cellTop2's (sim DESC, cid ASC) rank
    val cellStructs = cents.map { case (cid, cv, cnorm) =>
      struct(
        round(dotLit($"v", cv) / ($"norm" * lit(cnorm)), 6).as("sim"),
        lit(-cid).as("negcid"))
    }
    val withCell = stream
      .withColumn("cell", -array_max(array(cellStructs.toIndexedSeq: _*))
        .getField("negcid"))
    // residual against the chosen centroid via a literal cid→cv map
    val cvMap = typedLit(cents.map { case (cid, cv, _) => cid -> cv.toSeq }.toMap)
    val withResidual = withCell
      .withColumn("r", zip_with($"v", element_at(cvMap, $"cell"),
        (x, y) => x - y))
    // per-subspace coding: argmin of rounded L2, ties by LOWEST pcid —
    // array_min over struct(dist, pcid), matching encodeAgainst. Codes
    // land PACKED (codes(m) = subspace m's code, the batch encoder's
    // one-row-per-vector FAISS layout) — the m-loop is already ordered,
    // so the array literal is the pack.
    val codeCols = (0 until graft.models.SimilarityModels.IvfPqM).map { m =>
      val sub = graft.models.SimilarityModels.IvfPqSub
      val rsub = slice($"r", m * sub + 1, sub)
      val dists = pq(m).map { case (_, pcid, pcent) =>
        struct(round(l2Lit(rsub, pcent.toArray), 6).as("dist"),
          lit(pcid).as("pcid"))
      }
      array_min(array(dists.toIndexedSeq: _*)).getField("pcid")
    }
    withResidual
      .select($"vec_id", $"cell", array(codeCols: _*).as("codes"))
  }

  /** Run to completion over the files currently present, appending the
    * encoded rows to `outDir` (typically the warehouse `ann_codes`
    * directory itself — the add-after-train append). */
  def runAvailableNow(spark: SparkSession, inputDir: String,
      warehouseDir: String, checkpointDir: String, outDir: String)
      : StreamingQuery = {
    StreamingModelRunner.appendAvailableNow(
      encodeStream(spark, inputDir, warehouseDir),
      checkpointDir, outDir)
  }
}
