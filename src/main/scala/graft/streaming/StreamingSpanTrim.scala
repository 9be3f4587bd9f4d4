package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  GroupStateTimeout, OutputMode, StreamingQuery}

import graft.models.DedupModels

/** Streaming twin of the curation pipeline's incremental SPAN-TRIM
  * stage (`runner.CurationPipeline.runIncremental` step 2c / d11's
  * exact-substring trim): newly crawled documents arrive as a file
  * stream and each one's REMOVAL POSITIONS — the 10-token window
  * starts whose spans a trimmer would cut — emit immediately. A window
  * occurrence is removed if
  *
  *   1. its gram already exists in the MATERIALIZED corpus gram table
  *      (`curation_span_grams`) — its first holder is historical, so
  *      the new occurrence is non-first by the doc_id-watermark
  *      argument (a stream-static left join, the streaming seat of the
  *      batch path's bloom-guarded keeper probe);
  *   2. it repeats WITHIN its own document beyond the document's first
  *      occurrence — computed entirely IN-ROW over the gram array
  *      (tokens → window grams → an exists() scan of the earlier
  *      array prefix), so no state store and no shuffle exist anywhere
  *      in the removal plan.
  *
  * [[trimmedStream]] goes one step further and emits the TRIMMED
  * DOCUMENT itself (documents schema — what the pipeline appends to
  * `span_trimmed_corpus`): the known-gram verdicts are gram-grain
  * after the stream-static join, so the doc-grain reassembly rides
  * `flatMapGroupsWithState` — one doc-keyed shuffle of (long, int)
  * removal pairs plus one payload row per doc, groups are doc-bounded,
  * and no state is retained across batches (a document's rows all land
  * in its own microbatch, so the group emits immediately and the state
  * store holds nothing).
  *
  * Cross-document duplicates WITHIN one in-flight batch are the
  * periodic batch catch-up's job (which also appends the unseen grams
  * and folds the bloom sidecar) — the same division of labor the
  * segment twin documents: the stream answers "what would the trimmer
  * cut against everything the warehouse has seen", the closed-period
  * batch run owns batch-internal tie-breaks. On any batch without
  * new-vs-new duplicate grams the streamed removal set is EXACTLY the
  * batch incremental's (`removalPositionsOf(grams, Some(known))`) and
  * the streamed trimmed docs equal `trimmedCorpusFrame` row for row —
  * StreamingSpanTrimSpec pins both.
  *
  * Scale: stateless map + one stream-static equi-join (+ for the
  * trimmed stream, one doc-keyed shuffle of removal pairs); the in-row
  * repeat scan is O(tokens²) worst case but doc-bounded (it never
  * touches the shuffle); removal rows are (long, int) pairs — the
  * document text crosses the trim shuffle exactly once, as the
  * single payload row of its group.
  */
object StreamingSpanTrim {

  /** Union-leg row of the trimmed stream: `kind` 0 = the one payload
    * row per doc (token array + passthrough columns), 1 = a removal
    * position. */
  private[streaming] final case class TrimLegRow(
      doc_id: Long, kind: Int, i: Int,
      ts: Seq[String], lang: String, source: String)

  /** Output row — the `documents` schema the pipeline's
    * span_trimmed_corpus table holds. */
  final case class TrimmedDoc(
      doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)

  /** Removal positions `(doc_id, i)` of a (possibly streaming) doc
    * frame, verdicted against the static `knownGrams` frame. */
  private def removalsOf(docs: DataFrame,
      knownGrams: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val ts: Column = DedupModels.normTokens($"text")
    val garr = DedupModels.spanGramArr(ts)
    // mark within-doc repeats in-row: occurrence j repeats iff an
    // earlier array slot holds the same gram (the batch min(struct)
    // first-occurrence rule restricted to one document)
    val marked = docs.select($"doc_id",
      explode(transform(garr, (e, j) => struct(
        e.getField("i").as("i"), e.getField("g").as("g"),
        exists(slice(garr, lit(1), j),
          p => p.getField("g") === e.getField("g")).as("rep"))))
        .as("e"))
      .select($"doc_id", $"e.i".as("i"), $"e.g".as("g"), $"e.rep".as("rep"))
    marked
      .join(knownGrams.select($"g", lit(true).as("known")), Seq("g"), "left")
      .filter(coalesce($"rep", lit(false)) ||
        coalesce($"known", lit(false)))
      .select($"doc_id", $"i")
  }

  /** The unstarted streaming plan: removal positions `(doc_id, i)` of
    * the document stream under `inputDir`, verdicted against the
    * static `knownGrams` frame (column `g` — typically the pipeline's
    * `curation_span_grams` table). */
  def removalStream(spark: SparkSession, inputDir: String,
      knownGrams: DataFrame): DataFrame = {
    val docs = spark.readStream
      .schema(StreamingSegmentDedup.docSchema).parquet(inputDir)
    removalsOf(docs, knownGrams)
  }

  /** The unstarted streaming plan of the TRIMMED corpus: one
    * documents-schema row per input doc with every removed span cut
    * out — row-for-row what the batch incremental's
    * `trimmedCorpusFrame` would append. Both legs (payload + removals)
    * derive from ONE file source, so a document and its removal rows
    * always share a microbatch and the group state stays empty. */
  def trimmedStream(spark: SparkSession, inputDir: String,
      knownGrams: DataFrame): Dataset[TrimmedDoc] = {
    import spark.implicits._
    val docs = spark.readStream
      .schema(StreamingSegmentDedup.docSchema).parquet(inputDir)
    val payload = docs.select($"doc_id", lit(0).as("kind"),
      lit(-1).as("i"), DedupModels.normTokens($"text").as("ts"),
      $"lang", $"source")
    val removals = removalsOf(docs, knownGrams)
      .select($"doc_id", lit(1).as("kind"), $"i",
        lit(null).cast("array<string>").as("ts"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("string").as("source"))
    val spanL = DedupModels.SpanL
    payload.unionByName(removals)
      .as[TrimLegRow]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[Int, TrimmedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (docId, rows, _) =>
          val rs = rows.toArray
          rs.find(_.kind == 0) match {
            // a removal row with no payload row cannot happen (both
            // legs read the same source batch); guard anyway
            case None => Iterator.empty
            case Some(p) =>
              val starts = rs.collect { case r if r.kind == 1 => r.i }
              val ts = Option(p.ts).getOrElse(Seq.empty[String])
              // same coverage rule as the batch trimFrame: token j
              // drops iff some removal start s has s <= j < s + SpanL
              // (O(tokens × removals), doc-bounded, in one task)
              val kept = ts.iterator.zipWithIndex.collect {
                case (t, j)
                    if !starts.exists(s => j >= s && j < s + spanL) =>
                  t
              }
              val text = kept.mkString(" ")
              Iterator.single(TrimmedDoc(
                docId, text, p.lang, p.source, text.length.toLong))
          }
      }
  }

  /** Run to completion over the files currently present, appending the
    * removal rows to `outDir` (the streamed analog of the spans the
    * batch incremental trims by). */
  def runAvailableNow(spark: SparkSession, inputDir: String,
      knownGrams: DataFrame, checkpointDir: String, outDir: String)
      : StreamingQuery = {
    StreamingModelRunner.appendAvailableNow(
      removalStream(spark, inputDir, knownGrams),
      checkpointDir, outDir)
  }

  /** Run the TRIMMED-corpus stream to completion over the files
    * currently present, appending documents-schema rows to `outDir`. */
  def runTrimAvailableNow(spark: SparkSession, inputDir: String,
      knownGrams: DataFrame, checkpointDir: String, outDir: String)
      : StreamingQuery = {
    StreamingModelRunner.appendAvailableNow(
      trimmedStream(spark, inputDir, knownGrams).toDF(),
      checkpointDir, outDir)
  }
}
