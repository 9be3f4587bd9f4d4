package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.models.{CurationModels, DedupModels, SimilarityModels}

/** Streaming twin of the c06 CURATION FUNNEL VERDICT — the keep/drop
  * decision a crawler wants AT INGEST: every newly arrived document is
  * stamped with the full funnel row (duplicate / repetitive /
  * contaminated / sem_contaminated / sampled_out / kept) against the
  * FROZEN snapshot references, exactly the verdict the batch
  * incremental catch-up (`CurationPipeline.runIncremental` step 1)
  * would assign it later. Division of labor as for the segment/span
  * twins: the stream stamps verdicts against history; folding kept
  * docs into the warehouse tables (corpus, trim, packing, sidecars)
  * remains the batch catch-up's job.
  *
  * Every leg is STATELESS — no state store, no aggregation:
  *
  *  - exact-dup: the doc's content fingerprint against the
  *    materialized `curation_groups` table (a stream-static left
  *    join — the corpus-sized reference stays a table). A known fp
  *    means an older canonical exists → duplicate; an unseen fp
  *    founds its group → not duplicate. In-stream mutual duplicates
  *    are the batch catch-up's tie to break (the no-new-vs-new
  *    contract the segment twin states; StreamingCurationVerdictSpec
  *    pins equality on batches without internal dups);
  *  - repetition (c03): per-row token algebra, lifted verbatim;
  *  - decontamination (c01): the doc's distinct 5-gram digests probed
  *    against the eval gram set carried as ONE aggregated map row on a
  *    BROADCAST stream-static join (round-13 review: the previous
  *    plan-literal map serialized the whole gram set into every task
  *    binary — a real eval suite at 10⁵–10⁶ grams is a task-size /
  *    latency hazard; a broadcast ships once per executor, the idiom
  *    the batch leg already uses). The probe itself stays in-row — a
  *    per-doc hit COUNT can't be a streaming re-aggregation in append
  *    mode without a watermark;
  *  - semantic decontamination (c11): the doc's vector (a
  *    stream-static join against the embeddings table) is argmax-
  *    assigned to its frozen IVF cell (literal-struct construction
  *    over the 16-row codebook — bounded by construction, spec-pinned
  *    in StreamingAnnEncode/StreamingDomainMix) and compared against
  *    the frozen eval vectors via a stream-static LEFT join keyed on
  *    the cell (eval vectors are benchmark-sized like the grams — same
  *    broadcast treatment, and the cell key makes it a natural equi-
  *    join), at the batch rounding and threshold;
  *  - sampling (c02): the doc's own md5 coin, the shared
  *    `CurationModels.sampleKept` column.
  *
  * Scale: stream-static hash joins on fp / doc_id / cell plus one
  * single-row broadcast (the gram map); the only plan LITERALS left
  * are the 16-row coarse codebook structs — StreamingCurationVerdictSpec
  * asserts no map literal of any cardinality rides the plan. No
  * shuffle of the stream, no state.
  */
object StreamingCurationVerdict {

  /** documents physical schema (file streams declare schemas). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def dotLit(v: Column, cv: Array[Double]): Column =
    aggregate(zip_with(v, typedLit(cv.toSeq), (x, y) => x * y),
      lit(0.0d), (acc, x) => acc + x)

  /** The unstarted streaming plan: the funnel verdict row for every
    * arrived document, against the frozen references under
    * `warehouseDir` (`curation_groups`, `curation_eval_grams`,
    * `curation_ivf_cents`, `curation_eval_vecs`) and the static
    * `embeddings` frame (vec_id, embedding). */
  def verdictStream(spark: SparkSession, inputDir: String,
      warehouseDir: String, embeddings: DataFrame): DataFrame = {
    import spark.implicits._

    // ---- frozen references → static join sides (gram set and eval
    // vectors ride BROADCAST joins, never task-serialized literals;
    // only the 16-row codebook stays a plan literal)
    val groups = spark.read.parquet(s"$warehouseDir/curation_groups")
      .select($"fp", lit(true).as("known_fp"))
    // the whole eval gram set folded into ONE map row: the stream
    // cross-broadcasts it on a constant key, so every row probes the
    // same executor-resident map — the stream-static analog of the
    // batch leg's broadcast semi-join
    val evalGramRef = spark.read
      .parquet(s"$warehouseDir/curation_eval_grams")
      .select($"gram").distinct()
      .agg(map_from_entries(collect_list(struct($"gram", lit(true))))
        .as("eval_gram_map"))
      .withColumn("one", lit(1))
    val cents = spark.read.parquet(s"$warehouseDir/curation_ivf_cents")
      .select($"cid", $"cv", $"cnorm")
      .as[(Long, Seq[Double], Double)].collect()
      .map { case (cid, cv, n) => (cid, cv.toArray, n) }
      .sortBy(_._1)
    // eval vectors grouped per cell — the cell assignment gives the
    // stream a natural equi-key, so this is a plain stream-static
    // LEFT join (docs in cells with no eval vector stay unflagged)
    val evalVecsByCell = spark.read
      .parquet(s"$warehouseDir/curation_eval_vecs")
      .groupBy($"cell")
      .agg(collect_list(struct($"evv", $"en")).as("evs"))

    val stream = spark.readStream.schema(docSchema).parquet(inputDir)
      .withColumn("toks", DedupModels.normTokens($"text"))
      .withColumn("fp", CurationModels.fpCol($"text"))

    // ---- c03 repetition, in-row (the batch expressions verbatim;
    // docs under 2 tokens carry no signal → false, the batch coalesce)
    val withRep = stream
      .withColumn("total_tokens", size($"toks").cast(LongType))
      .withColumn("top_token_count", expr(
        """aggregate(sort_array(toks),
          |  named_struct('prev', cast(null as string), 'run', 0L, 'mx', 0L),
          |  (s, t) -> named_struct(
          |    'prev', t,
          |    'run', if(s.prev <=> t, s.run + 1L, 1L),
          |    'mx', greatest(s.mx, if(s.prev <=> t, s.run + 1L, 1L))),
          |  s -> s.mx)""".stripMargin))
      .withColumn("rep_flagged",
        $"total_tokens" >= 2 &&
          (size(array_distinct($"toks")).cast(LongType) * 2
            < $"total_tokens" ||
            $"top_token_count" * 5 > $"total_tokens"))

    // ---- c01 contamination, in-row: distinct 5-gram digests probed
    // against the literal eval-gram hash map (batch rule: flagged iff
    // hits*5 >= total; <5-token docs have no grams → false)
    val gramArr = when(size($"toks") >= 5,
      array_distinct(transform(sequence(lit(1), size($"toks") - 4),
        i => md5(concat_ws(" ",
          element_at($"toks", i), element_at($"toks", i + 1),
          element_at($"toks", i + 2), element_at($"toks", i + 3),
          element_at($"toks", i + 4))))))
      .otherwise(array().cast(ArrayType(StringType)))
    val withCont = withRep
      .withColumn("one", lit(1))
      .join(broadcast(evalGramRef), Seq("one"))
      .drop("one")
      .withColumn("grams", gramArr)
      .withColumn("total_ngrams", size($"grams").cast(LongType))
      .withColumn("hit_ngrams",
        size(filter($"grams", g =>
          coalesce(element_at($"eval_gram_map", g), lit(false))))
          .cast(LongType))
      .withColumn("contaminated",
        $"total_ngrams" > 0 && $"hit_ngrams" * 5 >= $"total_ngrams")
      .drop("eval_gram_map")

    // ---- c11 semantic leg: frozen-cell argmax (rounded cosine, ties
    // by LOWEST cid — cellTop2's rank, the StreamingDomainMix
    // construction) then the per-cell eval compare at the batch
    // rounding/threshold; docs without a vector are unflagged (batch
    // left-join semantics)
    val withVec = withCont
      .join(embeddings.select($"vec_id".as("doc_id"),
        transform($"embedding", x => x.cast(DoubleType)).as("v")),
        Seq("doc_id"), "left")
      .withColumn("vnorm", sqrt(aggregate(
        zip_with($"v", $"v", (x, y) => x * y), lit(0.0d), (a, x) => a + x)))
    val cellStructs = cents.map { case (cid, cv, cnorm) =>
      struct(
        round(dotLit($"v", cv) / ($"vnorm" * lit(cnorm)), 6).as("sim"),
        lit(-cid).as("negcid"))
    }
    val withSem = withVec
      .withColumn("cell",
        when($"v".isNull, lit(null).cast(LongType))
          .otherwise(-array_max(array(cellStructs.toIndexedSeq: _*))
            .getField("negcid")))
      .join(broadcast(evalVecsByCell), Seq("cell"), "left")
      .withColumn("sem_contaminated",
        $"v".isNotNull && $"evs".isNotNull &&
          exists($"evs", e =>
            round(aggregate(zip_with($"v", e.getField("evv"),
              (x, y) => x * y), lit(0.0d), (a, x) => a + x)
              / ($"vnorm" * e.getField("en")), 6)
              >= SimilarityModels.SemContamTau))
      .drop("evs")

    // ---- dup + sampling + the funnel CASE, batch order
    withSem
      .join(groups, Seq("fp"), "left")
      .withColumn("is_duplicate", coalesce($"known_fp", lit(false)))
      .withColumn("sample_kept",
        CurationModels.sampleKept($"doc_id", $"lang"))
      .withColumn("verdict",
        when($"source" === CurationModels.EvalSource, "eval")
          .when($"is_duplicate", "duplicate")
          .when($"rep_flagged", "repetitive")
          .when($"contaminated", "contaminated")
          .when($"sem_contaminated", "sem_contaminated")
          .when(!$"sample_kept", "sampled_out")
          .otherwise("kept"))
      .select($"doc_id", $"lang", $"source", $"is_duplicate",
        $"rep_flagged", $"contaminated", $"sem_contaminated",
        $"sample_kept", $"verdict")
  }

  /** Run to completion over the files currently present, appending the
    * stamped verdict rows to `outDir`. */
  def runAvailableNow(spark: SparkSession, inputDir: String,
      warehouseDir: String, embeddings: DataFrame, checkpointDir: String,
      outDir: String): StreamingQuery = {
    StreamingModelRunner.appendAvailableNow(
      verdictStream(spark, inputDir, warehouseDir, embeddings),
      checkpointDir, outDir)
  }
}
