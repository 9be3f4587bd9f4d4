package graft.models

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * language-ID heuristics, quality scoring, token counting, and document
  * fingerprinting (BASELINE.json north star).
  *
  * Scale: every op is a single narrow projection/aggregate over the text
  * column — codegen'd builtins only, no UDFs, so the scan parallelizes
  * and the only shuffles are the final small-key aggregates.
  */
object TextModels {
  import graft.catalog.Tables

  private def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))
  // private[models]: the sketch tier (FreqModels.tokenFreqSketches)
  // reuses the EXACT tokenization so its estimates are comparable with
  // t06's exact counts
  private[models] def toks(c: Column): Column = split(normText(c), " ")
  private val normSqlDuck =
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** Stopword list used by the lang-ID + quality heuristics. */
  private val Stopwords = Seq("the", "a", "of", "and", "in", "to", "is")
  private val stopSqlList = Stopwords.map(s => s"'$s'").mkString(", ")

  /** t01: per (lang, source) profile — docs, chars, token stats. A1/A2
    * over text-derived features.
    */
  def langProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"lang", $"source", $"n_chars",
        size(toks($"text")).cast(LongType).as("n_tokens"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("doc_count"),
        sum($"n_chars").as("total_chars"),
        sum($"n_tokens").as("total_tokens"),
        max($"n_tokens").as("max_tokens"))
  }

  val langProfileOracle: String =
    s"""SELECT lang, source, count(*) AS doc_count,
       |       cast(sum(n_chars) AS BIGINT) AS total_chars,
       |       cast(sum(cast(len(string_split($normSqlDuck, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
       |       max(cast(len(string_split($normSqlDuck, ' ')) AS BIGINT)) AS max_tokens
       |FROM documents GROUP BY 1, 2""".stripMargin

  /** t02: heuristic language-ID from stopword evidence, scored against
    * the labeled `lang` column. The n-gram-heuristic stand-in: a doc
    * "looks English" when ≥15% of its tokens are English stopwords.
    * Output: confusion summary per (lang, looks_english).
    */
  def langIdHeuristic(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = toks($"text")
    val stopCount = size(filter(t, x => x.isInCollection(Stopwords)))
      .cast(LongType)
    val tokenCount = size(t).cast(LongType)
    Tables.documents(spark, sfDir)
      .select($"lang", stopCount.as("stop_tokens"),
        tokenCount.as("n_tokens"))
      .withColumn("looks_english",
        when($"stop_tokens" * 100 >= $"n_tokens" * 15, true).otherwise(false))
      .groupBy($"lang", $"looks_english")
      .agg(count(lit(1)).as("doc_count"),
        sum($"stop_tokens").as("stop_tokens_total"))
  }

  val langIdHeuristicOracle: String =
    s"""WITH feats AS (
       |  SELECT lang,
       |         cast(len(list_filter(string_split($normSqlDuck, ' '),
       |                              x -> x IN ($stopSqlList))) AS BIGINT) AS stop_tokens,
       |         cast(len(string_split($normSqlDuck, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT lang,
       |       (stop_tokens * 100 >= n_tokens * 15) AS looks_english,
       |       count(*) AS doc_count,
       |       cast(sum(stop_tokens) AS BIGINT) AS stop_tokens_total
       |FROM feats GROUP BY 1, 2""".stripMargin

  /** Doc-grain quality frame behind t03 (and d12's representative
    * pick): (doc_id, lang, n_tokens, quality_score). Ratios stay in
    * exact integer arithmetic (micros idiom) for engine parity.
    */
  private[graft] def docQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = toks($"text")
    val base = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"n_chars",
        size(t).cast(LongType).as("n_tokens"),
        size(filter(t, x => x.isInCollection(Stopwords)))
          .cast(LongType).as("stop_tokens"))
      // integer-micros ratios: exact floor division in both engines
      .withColumn("stop_ratio_micros",
        expr("(stop_tokens * 1000000) div n_tokens"))
      .withColumn("mean_token_chars_micros",
        expr("((n_chars - n_tokens + 1) * 1000000) div n_tokens"))
    val score =
      when($"n_tokens" >= 40, lit(2)).otherwise(
        when($"n_tokens" >= 15, lit(1)).otherwise(lit(0))) +
        when($"stop_ratio_micros" >= 100000, lit(1)).otherwise(lit(0)) +
        when($"mean_token_chars_micros".between(3000000L, 8000000L), lit(1))
          .otherwise(lit(0))
    base
      .withColumn("quality_score", score.cast(LongType))
      .select($"doc_id", $"lang", $"n_tokens", $"quality_score")
  }

  /** The doc-grain CTE twin of [[docQuality]] — splice into oracles
    * needing per-doc quality: defines `q_scored(doc_id, lang,
    * n_tokens, quality_score)`. Trailing comma included. */
  private[graft] val docQualityOracleCtes: String =
    s"""q_feats AS (
       |  SELECT doc_id, lang, n_chars,
       |         cast(len(string_split($normSqlDuck, ' ')) AS BIGINT) AS n_tokens,
       |         cast(len(list_filter(string_split($normSqlDuck, ' '),
       |                              x -> x IN ($stopSqlList))) AS BIGINT) AS stop_tokens
       |  FROM documents),
       |q_scored AS (
       |  SELECT doc_id, lang, n_tokens,
       |         cast((CASE WHEN n_tokens >= 40 THEN 2 WHEN n_tokens >= 15 THEN 1 ELSE 0 END)
       |       + (CASE WHEN (stop_tokens * 1000000) // n_tokens >= 100000 THEN 1 ELSE 0 END)
       |       + (CASE WHEN ((n_chars - n_tokens + 1) * 1000000) // n_tokens
       |                    BETWEEN 3000000 AND 8000000 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS quality_score
       |  FROM q_feats),
       |""".stripMargin

  /** t03: quality scoring — length / stopword-ratio / mean-token-length
    * features combined into an integer score, bucketed.
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    docQuality(spark, sfDir)
      .groupBy($"lang", $"quality_score")
      .agg(count(lit(1)).as("doc_count"),
        min($"n_tokens").as("min_tokens"),
        max($"n_tokens").as("max_tokens"))
  }

  val qualityScoreOracle: String =
    s"""WITH feats AS (
       |  SELECT doc_id, lang, n_chars,
       |         cast(len(string_split($normSqlDuck, ' ')) AS BIGINT) AS n_tokens,
       |         cast(len(list_filter(string_split($normSqlDuck, ' '),
       |                              x -> x IN ($stopSqlList))) AS BIGINT) AS stop_tokens
       |  FROM documents),
       |scored AS (
       |  SELECT lang, n_tokens,
       |         (CASE WHEN n_tokens >= 40 THEN 2 WHEN n_tokens >= 15 THEN 1 ELSE 0 END)
       |       + (CASE WHEN (stop_tokens * 1000000) // n_tokens >= 100000 THEN 1 ELSE 0 END)
       |       + (CASE WHEN ((n_chars - n_tokens + 1) * 1000000) // n_tokens
       |                    BETWEEN 3000000 AND 8000000 THEN 1 ELSE 0 END) AS quality_score
       |  FROM feats)
       |SELECT lang, cast(quality_score AS BIGINT) AS quality_score,
       |       count(*) AS doc_count,
       |       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
       |FROM scored GROUP BY 1, 2""".stripMargin

  /** t04: token counting — whitespace tokens plus a BPE-ish
    * subword-piece estimate (ceil(chars/4) per token), per source.
    */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val exploded = Tables.documents(spark, sfDir)
      .select($"source", explode(toks($"text")).as("tok"))
    exploded
      .groupBy($"source")
      .agg(count(lit(1)).as("whitespace_tokens"),
        countDistinct($"tok").as("distinct_tokens"),
        sum(expr("(length(tok) + 3) div 4")).as("bpe_ish_tokens"))
  }

  val tokenCountsOracle: String =
    s"""WITH exploded AS (
       |  SELECT source, unnest(string_split($normSqlDuck, ' ')) AS tok
       |  FROM documents)
       |SELECT source, count(*) AS whitespace_tokens,
       |       count(DISTINCT tok) AS distinct_tokens,
       |       cast(sum((length(tok) + 3) // 4) AS BIGINT) AS bpe_ish_tokens
       |FROM exploded GROUP BY 1""".stripMargin

  /** t05: document fingerprinting — md5 over the sorted distinct token
    * bag (order-insensitive content fingerprint; the rolling-hash family's
    * set-normalized variant), grouped to find bag-identical docs.
    */
  def fingerprintDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        md5(concat_ws(" ", array_sort(array_distinct(toks($"text")))))
          .as("bag_fingerprint"))
      .groupBy($"bag_fingerprint")
      .agg(count(lit(1)).as("doc_count"),
        min($"doc_id").as("canonical_doc_id"))
  }

  val fingerprintDedupOracle: String =
    s"""SELECT md5(array_to_string(list_sort(list_distinct(string_split($normSqlDuck, ' '))), ' ')) AS bag_fingerprint,
       |       count(*) AS doc_count,
       |       min(doc_id) AS canonical_doc_id
       |FROM documents GROUP BY 1""".stripMargin

  private val HeavyK = 10

  /** t06: corpus heavy hitters — exact top-`HeavyK` tokens per language
    * by frequency (ties broken lexically for determinism). The standard
    * corpus-analysis op behind stopword lists, tokenizer audits, and
    * boilerplate discovery.
    *
    * Scale: token counting is a two-stage hash aggregate on
    * (lang, token) — map-side partial combine absorbs the explode
    * fan-out, and the rank window partitions by language over the
    * AGGREGATED vocabulary (|distinct tokens| rows, not |token
    * occurrences|), so the sort input is vocabulary-sized; vocabularies
    * grow sublinearly with corpus size (Heaps' law), keeping the window
    * cheap even at 100 TB.
    */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, sfDir)
      .select($"lang", explode(toks($"text")).as("token"))
      .groupBy($"lang", $"token")
      .agg(count(lit(1)).as("token_count"))
    counts
      .withColumn("token_rank", row_number().over(
        Window.partitionBy($"lang")
          .orderBy($"token_count".desc, $"token".asc)).cast(LongType))
      .filter($"token_rank" <= HeavyK)
      .select($"lang", $"token_rank", $"token", $"token_count")
  }

  val heavyHittersOracle: String =
    s"""WITH tok AS (SELECT lang, unnest(string_split($normSqlDuck, ' ')) AS token
       |             FROM documents),
       |counts AS (SELECT lang, token, count(*) AS token_count
       |           FROM tok GROUP BY 1, 2),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY lang
       |                  ORDER BY token_count DESC, token ASC) AS token_rank
       |           FROM counts)
       |SELECT lang, cast(token_rank AS BIGINT) AS token_rank, token,
       |       token_count
       |FROM ranked WHERE token_rank <= $HeavyK""".stripMargin

  /** t07: unigram language-model scoring — the perplexity-filter stage
    * of a pretraining pipeline (CCNet pairs its line dedup with a KenLM
    * perplexity gate; the unigram LM is that gate's public-knowledge
    * form). The corpus's own unigram distribution is the model:
    * p(w) = count(w)/N over t06's exact tokenization; each doc scores
    * sum/avg log-likelihood, and a low avg_logprob flags gibberish or
    * out-of-domain text.
    *
    * Determinism across engines: p(w) is an exact BIGINT ratio evaluated
    * in double identically on both sides; ln(p) rounds to 6dp and enters
    * a DECIMAL(18,6) so the per-doc sum is order-free exact addition —
    * no double-summation-order dependence inside the shuffle (the s05
    * contract). avg divides the exact sum in double and rounds to 6dp.
    *
    * Scale: the vocabulary is a two-stage agg (map-side combine) and is
    * vocabulary-sized, not corpus-sized — it broadcasts as the scoring
    * dim table (a trained KenLM/n-gram artifact slots into exactly this
    * seam); scoring is then one scan + broadcast join + doc_id rollup.
    */
  def unigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documents(spark, sfDir)
      .select($"doc_id", explode(toks($"text")).as("tok"))
    // the MODEL is a vocabulary-sized artifact — materialize it once
    // per session (Spark shares no subtrees inside one plan, so an
    // inline derivation re-scans the corpus once per referencing leg;
    // a trained KenLM table arrives as exactly this dim table)
    val logp = Shared.materialized("unigram_model", spark, sfDir) {
      val counts = tok.groupBy($"tok").agg(count(lit(1)).as("tok_count"))
      val total = counts.agg(sum($"tok_count").as("corpus_tokens"))
      counts.crossJoin(total)
        .select($"tok",
          round(log($"tok_count" / $"corpus_tokens"), 6)
            .cast(DecimalType(18, 6)).as("logp"))
    }
    // ONE long micros sum (r16, guide §2.3): logp is a 6dp decimal, so
    // Σ unscaled_long(logp) IS the old sum_micros (logp×10⁶ exactly) AND
    // determines sum_logprob = long_to_decimal(Σ, 28, 6) — the exact
    // (28,6) the dropped decimal sum produced. One codegen long buffer
    // replaces a per-row BigDecimal add plus a per-row (25,6) multiply;
    // bounds: |logp| < 10² ⇒ < 10⁸ micros/row × ≤10⁶ tokens/doc ⇒
    // ≤ 10¹⁴ per doc group, 10⁴× inside Long (the pre-existing
    // sum_micros carried the identical bound).
    tok.join(broadcast(logp), Seq("tok"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(call_function("unscaled_long", $"logp")).as("sum_micros"))
      .withColumn("sum_logprob",
        call_function("long_to_decimal", $"sum_micros", lit(28), lit(6)))
      .withColumn("avg_logprob", avgFromMicros("sum_micros", "n_tokens"))
      .select($"doc_id", $"n_tokens", $"sum_logprob", $"avg_logprob")
  }

  /** round(sum/n, 6) for a NEGATIVE logprob sum, computed entirely in
    * exact integer micros (`sum_micros` = Σ of the 6dp logps ×1e6, an
    * exact BIGINT sum): `round(x, 6)` on the DOUBLE quotient is
    * tie-UNSTABLE across engines (sum −33.974605 over n=10 sits exactly
    * on a 7th-digit half — Spark rounded the binary double down, DuckDB
    * away from zero; 2/5000 rows flipped at sf0.1). Here the quotient's
    * half-away-from-zero rounding is `floor((2·|sum_micros| + n)/(2n))`
    * over exact positive BIGINTs — Spark `div` and DuckDB `//` agree —
    * and the final micros→double conversion is the same IEEE op on both
    * sides. Output is DOUBLE (not DECIMAL), already driver-comparable. */
  private def avgFromMicros(microsCol: String, nCol: String): Column =
    expr(s"-cast(((-$microsCol) * 2 + $nCol) div ($nCol * 2) AS DOUBLE) / 1000000.0")

  /** The DuckDB twin of [[avgFromMicros]] (micros expression inline). */
  private def avgFromMicrosSql(microsExpr: String, nExpr: String): String =
    s"-cast(((-($microsExpr)) * 2 + ($nExpr)) // (($nExpr) * 2) AS DOUBLE) / 1000000.0"

  /** Sign-aware sibling of [[avgFromMicros]] for sums that can be
    * positive OR negative (t11's log-likelihood ratios): half-away-
    * from-zero rounding computed over POSITIVE integer operands on both
    * branches, because Spark `div` truncates toward zero while DuckDB
    * `//` floors — they only agree on non-negatives. */
  private def avgFromMicrosSigned(m: String, n: String): Column =
    expr(s"""cast(CASE WHEN $m >= 0 THEN ($m * 2 + $n) div ($n * 2)
             ELSE -(((-$m) * 2 + $n) div ($n * 2)) END AS DOUBLE)
             / 1000000.0""")

  private def avgFromMicrosSignedSql(m: String, n: String): String =
    s"""cast(CASE WHEN ($m) >= 0 THEN (($m) * 2 + ($n)) // (($n) * 2)
        ELSE -(((-($m)) * 2 + ($n)) // (($n) * 2)) END AS DOUBLE)
        / 1000000.0"""

  val unigramLogprobOracle: String =
    s"""WITH tok AS (SELECT doc_id,
       |                    unnest(string_split($normSqlDuck, ' ')) AS tok
       |             FROM documents),
       |counts AS (SELECT tok, count(*) AS tok_count FROM tok GROUP BY 1),
       |total AS (SELECT sum(tok_count) AS corpus_tokens FROM counts),
       |logp AS (SELECT tok,
       |                cast(round(ln(cast(tok_count AS DOUBLE) / corpus_tokens), 6)
       |                     AS DECIMAL(18,6)) AS logp
       |         FROM counts CROSS JOIN total)
       |SELECT t.doc_id, count(*) AS n_tokens,
       |       sum(l.logp) AS sum_logprob,
       |       ${avgFromMicrosSql("sum(cast(l.logp * 1000000 AS BIGINT))", "count(*)")} AS avg_logprob
       |FROM tok t JOIN logp l USING (tok)
       |GROUP BY 1""".stripMargin

  /** t08: interpolated bigram language-model scoring — the next rung
    * above t07's unigram gate on the CCNet/KenLM perplexity-filter
    * ladder, over the SAME exact tokenization. The corpus's own ML
    * bigram model interpolates with its unigram floor,
    *
    *   p(w | prev) = λ·c(prev, w)/c_ctx(prev) + (1−λ)·c(w)/N,  λ = 0.75
    *
    * where c_ctx counts prev's occurrences AS A CONTEXT (bigram starts),
    * so the ML term is a proper conditional; the unigram floor keeps
    * unseen-in-context pairs finite — the textbook Jelinek-Mercer
    * interpolation, deterministic because every probability is a ratio
    * of exact BIGINT counts evaluated in double with an identical
    * operation order on both engines.
    *
    * Determinism: ln(p) rounds to 6dp into DECIMAL(18,6) so per-doc
    * sums are order-free exact addition (the t07/s05 contract); avg
    * divides the exact sum in double and rounds to 6dp.
    *
    * Scale: the bigram vocabulary is a two-stage (prev, cur) hash agg —
    * map-side combine absorbs the explode fan-out, and the model table
    * is vocabulary²-bounded (sublinear in corpus size in practice);
    * scoring is one scan + a hash join on (prev, cur) + a doc_id
    * rollup. The join is left unhinted: a trained KenLM artifact
    * slotting into this seam can be GBs, and AQE picks broadcast vs
    * shuffle by the model table's actual size.
    */
  def bigramLogprob(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    // consecutive token pairs via aligned slices (empty for 1-token
    // docs — slice length guards against sequence()'s descending trap)
    val withT = docs.select($"doc_id", toks($"text").as("t"))
    val bigrams = withT
      .select($"doc_id", explode(zip_with(
        expr("slice(t, 1, greatest(size(t) - 1, 0))"),
        expr("slice(t, 2, greatest(size(t) - 1, 0))"),
        (a, b) => struct(a.as("prev"), b.as("cur")))).as("bg"))
      .select($"doc_id", $"bg.prev".as("prev"), $"bg.cur".as("cur"))
    // the MODEL is vocabulary²-bounded — materialize once per session
    // (the unigramLogprob rationale; without it each model leg re-scans
    // the corpus: 5 scans measured in the inline plan, 1 after). The
    // context denominator derives from the bigram counts themselves
    // (Σ_cur c(prev, cur) ≡ prev's occurrences as a context), saving a
    // further corpus pass.
    val logp = Shared.materialized("bigram_model", spark, sfDir) {
      val cbi = bigrams.groupBy($"prev", $"cur").agg(count(lit(1)).as("cb"))
      val cctx = cbi.groupBy($"prev").agg(sum($"cb").as("cc"))
      val cuni = withT.select(explode($"t").as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("cu"))
      val tot = cuni.agg(sum($"cu").as("n"))
      val p = lit(0.75d) * ($"cb".cast(DoubleType) / $"cc".cast(DoubleType)) +
        lit(0.25d) * ($"cu".cast(DoubleType) / $"n".cast(DoubleType))
      cbi.join(cctx, Seq("prev"))
        .join(cuni, $"cur" === $"tok").crossJoin(tot)
        .select($"prev", $"cur",
          round(log(p), 6).cast(DecimalType(18, 6)).as("logp"))
    }
    // ONE long micros sum — the t07 rationale and bounds verbatim
    bigrams.join(logp, Seq("prev", "cur"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(call_function("unscaled_long", $"logp")).as("sum_micros"))
      .withColumn("sum_logprob",
        call_function("long_to_decimal", $"sum_micros", lit(28), lit(6)))
      .withColumn("avg_logprob", avgFromMicros("sum_micros", "n_bigrams"))
      .select($"doc_id", $"n_bigrams", $"sum_logprob", $"avg_logprob")
  }

  val bigramLogprobOracle: String =
    s"""WITH tok AS (SELECT doc_id, string_split($normSqlDuck, ' ') AS t
       |             FROM documents),
       |pairs AS (
       |  SELECT doc_id, bg[1] AS prev, bg[2] AS cur
       |  FROM (SELECT doc_id,
       |               unnest(list_transform(range(len(t) - 1),
       |                        i -> [t[i+1], t[i+2]])) AS bg
       |        FROM tok)),
       |cbi AS (SELECT prev, cur, count(*) AS cb FROM pairs GROUP BY 1, 2),
       |cctx AS (SELECT prev, count(*) AS cc FROM pairs GROUP BY 1),
       |cuni AS (SELECT tok2 AS tok, count(*) AS cu
       |         FROM (SELECT unnest(t) AS tok2 FROM tok) GROUP BY 1),
       |tot AS (SELECT sum(cu) AS n FROM cuni),
       |logp AS (
       |  SELECT b.prev, b.cur,
       |         cast(round(ln(0.75 * (cast(b.cb AS DOUBLE) / cast(x.cc AS DOUBLE))
       |                     + 0.25 * (cast(u.cu AS DOUBLE) / cast(t.n AS DOUBLE))), 6)
       |              AS DECIMAL(18,6)) AS logp
       |  FROM cbi b
       |  JOIN cctx x ON b.prev = x.prev
       |  JOIN cuni u ON b.cur = u.tok
       |  CROSS JOIN tot t)
       |SELECT p.doc_id, count(*) AS n_bigrams,
       |       sum(l.logp) AS sum_logprob,
       |       ${avgFromMicrosSql("sum(cast(l.logp * 1000000 AS BIGINT))", "count(*)")} AS avg_logprob
       |FROM pairs p JOIN logp l ON p.prev = l.prev AND p.cur = l.cur
       |GROUP BY 1""".stripMargin

  /** t09: LM-score quality tiering — CCNet's defining curation stage:
    * rank each language's documents by LM score (t07's unigram
    * avg_logprob; a KenLM perplexity slots into the same seam) and
    * split into HEAD / MIDDLE / TAIL terciles; head text trains, tail
    * text is down-weighted or dropped. Tier assignment is explicit
    * integer arithmetic — `tier = ((rank−1)·3) div n` over rank =
    * row_number ordered by (avg_logprob DESC, doc_id) — rather than
    * ntile(), so both engines share one bucketing rule by construction
    * (and doc-count remainders land deterministically).
    *
    * Scale: one per-language window over the DOC-GRAIN scored table
    * (corpus-sized but narrow — three columns), then a 3·|langs|-row
    * rollup; the scoring input is t07's broadcast-model scan. Per-key
    * window state is linear in that language's docs, and languages
    * partition the corpus, so the sort parallelizes across them.
    */
  def lmQualityTiers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val scored = unigramLogprob(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select($"doc_id", $"lang"),
        Seq("doc_id"))
    val w = Window.partitionBy($"lang")
      .orderBy($"avg_logprob".desc, $"doc_id")
    val n = Window.partitionBy($"lang")
    scored
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(n))
      .withColumn("tier",
        expr("((rk - 1) * 3) div n").cast(LongType))
      .groupBy($"lang", $"tier")
      .agg(count(lit(1)).as("doc_count"),
        sum($"n_tokens").as("total_tokens"),
        max($"avg_logprob").as("best_logprob"),
        min($"avg_logprob").as("worst_logprob"))
  }

  val lmQualityTiersOracle: String =
    s"""WITH tok AS (SELECT doc_id,
       |                    unnest(string_split($normSqlDuck, ' ')) AS tok
       |             FROM documents),
       |counts AS (SELECT tok, count(*) AS tok_count FROM tok GROUP BY 1),
       |total AS (SELECT sum(tok_count) AS corpus_tokens FROM counts),
       |logp AS (SELECT tok,
       |                cast(round(ln(cast(tok_count AS DOUBLE) / corpus_tokens), 6)
       |                     AS DECIMAL(18,6)) AS logp
       |         FROM counts CROSS JOIN total),
       |scored AS (
       |  SELECT t.doc_id, count(*) AS n_tokens,
       |         ${avgFromMicrosSql("sum(cast(l.logp * 1000000 AS BIGINT))", "count(*)")} AS avg_logprob
       |  FROM tok t JOIN logp l USING (tok)
       |  GROUP BY 1),
       |ranked AS (
       |  SELECT d.lang, s.n_tokens, s.avg_logprob,
       |         row_number() OVER (PARTITION BY d.lang
       |           ORDER BY s.avg_logprob DESC, s.doc_id) AS rk,
       |         count(*) OVER (PARTITION BY d.lang) AS n
       |  FROM scored s JOIN documents d USING (doc_id))
       |SELECT lang, cast(((rk - 1) * 3) // n AS BIGINT) AS tier,
       |       count(*) AS doc_count,
       |       cast(sum(n_tokens) AS BIGINT) AS total_tokens,
       |       max(avg_logprob) AS best_logprob,
       |       min(avg_logprob) AS worst_logprob
       |FROM ranked GROUP BY 1, 2""".stripMargin

  // ---- t10: PII detection + redaction -------------------------------
  //
  // Pattern set: the regex subset shared VERBATIM by java.util.regex
  // (Spark codegen) and RE2 (DuckDB) — char classes, bounded repeats,
  // \b word boundaries; no backreferences, no lookaround — so detection
  // and redaction are oracle-checkable. Patterns are intentionally the
  // standard recall-first scrubber shapes (emails, dotted quads, long
  // digit runs, dashed phone triples); precision tuning (e.g. "1.2.3.4
  // is a version string, not an IP") is a downstream allowlist concern,
  // as in production scrubbers.
  private[graft] val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val Ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val CardPat = "\\b\\d{13,19}\\b"
  private[graft] val PhonePat = "\\b\\d{3}-\\d{3,4}-\\d{4}\\b"

  /** Redact every PII hit, fixed order email → ip → card → phone (the
    * order matters only for overlapping hits; placeholders introduce no
    * digits, so later passes can't re-match earlier redactions). */
  private[graft] def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(c, EmailPat, "<EMAIL>"),
          Ipv4Pat, "<IP>"),
        CardPat, "<CARD>"),
      PhonePat, "<PHONE>")

  private def countPat(c: Column, pat: String): Column =
    size(regexp_extract_all(c, lit(pat), lit(0))).cast(LongType)

  /** t10: PII DETECTION + REDACTION (beyond-reference) — the scrub
    * stage every public-web training corpus runs before anything else
    * (emails, IPs, card-like digit runs, phone numbers → typed
    * placeholders). The corpus fixture is PII-free word salad, so the
    * query plants one synthetic PII token of each class into every
    * document — derived deterministically from doc_id, identically on
    * both engines — and then runs the REAL scrubber over the combined
    * text: the regexes must find the planted tokens wherever they
    * landed (and anything that looks like them), exactly as a scrubber
    * meets a crawl dump. `PiiSplitGapfillSpec` covers the precision/recall
    * corners (mid-word digits, version-ish quads, 12- vs 13-digit
    * runs) on hand-built strings.
    *
    * Output: per (lang, source) — docs, hits per class, the net length
    * delta redaction caused, and the min-md5 spot fingerprint of the
    * redacted text (a cheap cross-engine content witness).
    *
    * Scale: a stateless per-row map (codegen regex, no UDF, no
    * shuffle) + one output-sized rollup — scrubbing 100 TB is
    * embarrassingly parallel and pipelines inside the scan.
    */
  def piiRedaction(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val planted = Tables.documents(spark, sfDir).select($"lang", $"source",
      concat(
        $"text",
        lit(" contact user"), $"doc_id".cast(StringType),
        lit("@example.com ip "),
        ($"doc_id" % 223 + 1).cast(StringType), lit("."),
        ($"doc_id" * 7 % 256).cast(StringType), lit("."),
        ($"doc_id" * 13 % 256).cast(StringType), lit("."),
        ($"doc_id" % 256).cast(StringType),
        lit(" card 4"),
        // reduce doc_id BEFORE the Knuth multiply: 1e9 · 2654435761 ≈
        // 2.65e18 stays inside Int64 on both engines, whereas the raw
        // product RAISES a BIGINT-overflow error on both engines
        // (Spark under ANSI, which GraftSession pins) for
        // doc_id ≳ 3.47e9 — the reduction keeps every doc_id legal
        lpad((($"doc_id" % 1000000000L) * 2654435761L % 1000000000000000L)
          .cast(StringType), 15, "0"),
        lit(" tel 555-"),
        lpad(($"doc_id" % 1000).cast(StringType), 3, "0"), lit("-"),
        lpad(($"doc_id" % 10000).cast(StringType), 4, "0")).as("t"))
    planted
      .select($"lang", $"source",
        countPat($"t", EmailPat).as("e"),
        countPat($"t", Ipv4Pat).as("i"),
        countPat($"t", CardPat).as("cc"),
        countPat($"t", PhonePat).as("p"),
        (length(scrubPii($"t")) - length($"t")).cast(LongType).as("delta"),
        md5(scrubPii($"t")).as("red_fp"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"e").as("n_emails"),
        sum($"i").as("n_ips"),
        sum($"cc").as("n_cards"),
        sum($"p").as("n_phones"),
        sum($"delta").as("chars_delta"),
        min($"red_fp").as("redacted_fp"))
  }

  val piiRedactionOracle: String = {
    // RE2 string literals: backslashes pass through single-quoted SQL
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val card = "\\b\\d{13,19}\\b"
    val phone = "\\b\\d{3}-\\d{3,4}-\\d{4}\\b"
    s"""WITH planted AS (
       |  SELECT lang, source,
       |         text || ' contact user' || cast(doc_id AS VARCHAR) ||
       |         '@example.com ip ' ||
       |         cast(doc_id % 223 + 1 AS VARCHAR) || '.' ||
       |         cast(doc_id * 7 % 256 AS VARCHAR) || '.' ||
       |         cast(doc_id * 13 % 256 AS VARCHAR) || '.' ||
       |         cast(doc_id % 256 AS VARCHAR) ||
       |         ' card 4' ||
       |         lpad(cast((doc_id % 1000000000) * 2654435761 % 1000000000000000 AS VARCHAR), 15, '0') ||
       |         ' tel 555-' ||
       |         lpad(cast(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
       |         lpad(cast(doc_id % 10000 AS VARCHAR), 4, '0') AS t
       |  FROM documents),
       |red AS (
       |  SELECT lang, source, t,
       |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
       |           '$email', '<EMAIL>', 'g'),
       |           '$ip', '<IP>', 'g'),
       |           '$card', '<CARD>', 'g'),
       |           '$phone', '<PHONE>', 'g') AS r
       |  FROM planted)
       |SELECT lang, source, count(*) AS n_docs,
       |       cast(sum(len(regexp_extract_all(t, '$email'))) AS BIGINT) AS n_emails,
       |       cast(sum(len(regexp_extract_all(t, '$ip'))) AS BIGINT) AS n_ips,
       |       cast(sum(len(regexp_extract_all(t, '$card'))) AS BIGINT) AS n_cards,
       |       cast(sum(len(regexp_extract_all(t, '$phone'))) AS BIGINT) AS n_phones,
       |       cast(sum(len(r) - len(t)) AS BIGINT) AS chars_delta,
       |       min(md5(r)) AS redacted_fp
       |FROM red GROUP BY 1, 2""".stripMargin
  }

  /** t11: TRAINED quality classifier — model-based quality filtering
    * (the CCNet/fastText "wiki-vs-crawl discriminator" rung above
    * t03's hand rules and t07/t08's perplexity gates) in its
    * oracle-replayable public-knowledge form: a Naive-Bayes
    * log-likelihood-ratio scorer TRAINED ON THE CORPUS ITSELF. The
    * positive class is the curation tier's quality-reference slice
    * (`CurationModels.EvalSource` — the role Wikipedia plays in CCNet),
    * the negative class is everything else; per token, add-1-smoothed
    *
    *   llr(w) = ln( (c_pos(w)+1)/(N_pos+V) / ((c_neg(w)+1)/(N_neg+V)) )
    *
    * and a document's score is its tokens' llr sum/avg — positive means
    * "looks like the reference slice". Training IS two exact-count
    * aggregates, so the whole train+score loop replays in DuckDB
    * (the trained-artifact seam: a fastText/logistic model table slots
    * into exactly this broadcast dim).
    *
    * Determinism: every probability is a ratio of exact BIGINT counts
    * evaluated in double with identical operation order on both
    * engines; ln rounds to 6dp into DECIMAL(18,6) so per-doc sums are
    * order-free exact (the t07 contract); avg uses the SIGN-AWARE
    * integer-micros rounding ([[avgFromMicrosSigned]] — llr sums,
    * unlike logprob sums, carry both signs).
    *
    * Scale: the model is vocabulary-sized (two-stage agg, map-side
    * combine), session-materialized, and broadcast; scoring is one
    * corpus scan + broadcast join + doc rollup. Scoring the training
    * corpus itself shows separation by construction — the honest frame
    * is train-set scoring through the seam a held-out-trained artifact
    * would use (SegmentDedupSpec pins the separation direction).
    */
  def nbQualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tok = Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", explode(toks($"text")).as("tok"))
    val model = Shared.materialized("nb_model", spark, sfDir) {
      val counts = tok
        .groupBy($"tok")
        .agg(
          sum(when($"source" === CurationModels.EvalSource, 1L)
            .otherwise(0L)).as("c_pos"),
          sum(when($"source" === CurationModels.EvalSource, 0L)
            .otherwise(1L)).as("c_neg"))
      val tot = counts.agg(sum($"c_pos").as("n_pos"),
        sum($"c_neg").as("n_neg"), count(lit(1)).as("v"))
      counts.crossJoin(tot)
        .select($"tok", round(log(
          (($"c_pos" + 1) / ($"n_pos" + $"v")) /
            (($"c_neg" + 1) / ($"n_neg" + $"v"))), 6)
          .cast(DecimalType(18, 6)).as("llr"))
    }
    // ONE long micros sum — the t07 rationale and bounds verbatim
    tok.join(broadcast(model), Seq("tok"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(call_function("unscaled_long", $"llr")).as("sum_micros"))
      .withColumn("sum_llr",
        call_function("long_to_decimal", $"sum_micros", lit(28), lit(6)))
      .withColumn("avg_llr", avgFromMicrosSigned("sum_micros", "n_tokens"))
      .withColumn("is_quality", $"avg_llr" > 0d)
      .select($"doc_id", $"n_tokens", $"sum_llr", $"avg_llr", $"is_quality")
  }

  val nbQualityScoreOracle: String = {
    val eval = graft.models.CurationModels.EvalSource
    s"""WITH tok AS (SELECT doc_id, source,
       |                    unnest(string_split($normSqlDuck, ' ')) AS tok
       |             FROM documents),
       |counts AS (SELECT tok,
       |                  sum(CASE WHEN source = '$eval' THEN 1 ELSE 0 END) AS c_pos,
       |                  sum(CASE WHEN source = '$eval' THEN 0 ELSE 1 END) AS c_neg
       |           FROM tok GROUP BY 1),
       |tot AS (SELECT cast(sum(c_pos) AS BIGINT) AS n_pos,
       |               cast(sum(c_neg) AS BIGINT) AS n_neg,
       |               count(*) AS v
       |        FROM counts),
       |model AS (SELECT tok,
       |                 cast(round(ln(
       |                   ((c_pos + 1) / (n_pos + v)) /
       |                   ((c_neg + 1) / (n_neg + v))), 6)
       |                      AS DECIMAL(18,6)) AS llr
       |          FROM counts CROSS JOIN tot),
       |scored AS (
       |  SELECT t.doc_id, count(*) AS n_tokens,
       |         sum(m.llr) AS sum_llr,
       |         ${avgFromMicrosSignedSql(
              "sum(cast(m.llr * 1000000 AS BIGINT))", "count(*)")} AS avg_llr
       |  FROM tok t JOIN model m USING (tok)
       |  GROUP BY 1)
       |SELECT doc_id, n_tokens, sum_llr, avg_llr, avg_llr > 0 AS is_quality
       |FROM scored""".stripMargin
  }

  /** t12's merge count — unrolled in the DuckDB oracle. */
  private[graft] val BpeRounds = 8

  /** t12: BPE MERGE INDUCTION — train a byte-pair-encoding tokenizer's
    * merge table from the corpus (Sennrich et al. 2016, the algorithm
    * behind GPT/Llama tokenizers): start from characters, repeatedly
    * merge the most frequent adjacent symbol pair. t04 COUNTS tokens
    * with a fixed scheme; this LEARNS the scheme — the vocabulary-
    * induction stage a training-data pipeline runs before token
    * accounting means anything.
    *
    * Deterministic, engine-replayable training (the KMeans playbook):
    *  - the word table (word, freq) is the trainer's whole input —
    *    vocabulary-sized, from one corpus scan with map-side combine
    *    (BPE trains on word counts, not the corpus stream);
    *  - words are spaced symbol strings (" h e l l o "); pair counts
    *    come from adjacent-position explode (overlapping, the canonical
    *    count), freq-weighted;
    *  - the winning pair maximizes count with ties broken on the pair
    *    string — one total order both engines share;
    *  - merge application is literal `replace(' l l ', ' ll ')`:
    *    left-to-right non-overlapping in Spark's UTF8String, Java and
    *    DuckDB alike ("a a a" → "aa a", the canonical greedy merge);
    *    surrounding spaces keep multi-char symbols from matching inside
    *    neighbors.
    *
    * Each round collects ONE scalar (the argmax pair) — the s04
    * codebook/d07 convergence-probe precedent: driver-side constants,
    * never data. The oracle unrolls the same [[BpeRounds]] rounds as
    * CTEs. Output: the learned merge table (round, left, right, merged,
    * weighted pair count) — the artifact a tokenizer ships.
    *
    * Scale: everything after the one corpus scan is vocabulary-sized;
    * at 100 TB the word-count table is the only shuffle (uniform
    * md5-free keys, map-side combined), exactly how production BPE
    * trainers (HuggingFace tokenizers) structure it.
    */
  /** The shared train loop: (merge table rows, final spaced-symbol
    * vocabulary). The word-count table is session-materialized and the
    * loop's whole RESULT is memoized per (session, sfDir) through
    * [[Shared.once]] — the loop is [[BpeRounds]] driver-blocking argmax
    * jobs, so t12 trains once and t13 (and any later consumer) reuses
    * both outputs, the way one tokenizer artifact serves a whole
    * pipeline. */
  private def bpeTrainLoop(spark: SparkSession, sfDir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    Shared.once("bpe_train", spark, sfDir) {
      import spark.implicits._
      val vocab = Shared.materialized("bpe_vocab", spark, sfDir) {
        Tables.documents(spark, sfDir)
          .select(explode(toks($"text")).as("w"))
          .groupBy($"w").agg(count(lit(1)).as("freq"))
      }
      var cur = vocab.select($"w", $"freq",
        concat(lit(" "),
          concat_ws(" ", transform(sequence(lit(1), length($"w")),
            i => $"w".substr(i, lit(1)))),
          lit(" ")).as("s")).cache()
      val merges = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, Long)]
      for (r <- 1 to BpeRounds) {
        val syms = split(trim($"s"), " ")
        // single-symbol words carry no pairs (and Spark's sequence(1, 0)
        // would step BACKWARD, not empty, without the guard)
        val best = cur.filter(size(syms) >= 2)
          .select($"freq", explode(
            transform(sequence(lit(1), size(syms) - 1),
              i => concat(element_at(syms, i), lit(" "),
                element_at(syms, i + 1)))).as("pair"))
          .groupBy($"pair").agg(sum($"freq").as("cnt"))
          .orderBy($"cnt".desc, $"pair".asc)
          .limit(1)
          .as[(String, Long)].collect().headOption
        best match {
          case None => // vocabulary fully merged — the oracle mirrors
          // this: an empty b{r} contributes no rows to t12's UNION, and
          // t13's w{r} chain LEFT-JOINs b{r} ON TRUE so the segmentation
          // passes through unchanged when no merge exists
          case Some((pair, cnt)) =>
            val Array(l, rt) = pair.split(" ", 2)
            merges += ((r, l, rt, cnt))
            val next = cur.withColumn("s",
              call_function("replace", $"s",
                lit(s" $l $rt "), lit(s" $l$rt "))).cache()
            cur.unpersist()
            cur = next
        }
      }
      // land the final segmentation in the session scratch and drop the
      // loop's cache: the frame is memoized for the whole session (t13's
      // tokenizer, c13's budget counts read it), and steady-state query
      // plans must read columnar storage, not executor block-manager
      // state (PlanAuditSpec's InMemoryRelation sweep). The loop-internal
      // caches above are round-scoped and unpersisted as they roll.
      val segmented = Shared.persist(spark, "bpe_segmented", cur)
      cur.unpersist(blocking = false)
      (merges.toSeq, segmented)
    }

  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (merges, _) = bpeTrainLoop(spark, sfDir)
    merges.toDF("merge_round", "left_sym", "right_sym", "pair_count")
      .select($"merge_round".cast(LongType).as("merge_round"),
        $"left_sym", $"right_sym",
        concat($"left_sym", $"right_sym").as("merged"),
        $"pair_count")
  }

  /** t13: BPE TOKENIZATION — apply t12's learned merges back to the
    * corpus and account for what the tokenizer bought: per language,
    * words, characters, resulting BPE tokens, and exact-integer-micros
    * tokens-per-word / chars-per-token. This is the train→apply loop
    * every pipeline closes (HuggingFace: train then encode), and the
    * compression ratio is the number vocabulary-size decisions are made
    * on. Scoring joins the corpus's (lang, word) stream against the
    * vocabulary-sized trained segmentation (broadcastable dim — the
    * encoder's merge table), so applying the tokenizer at 100 TB is
    * one scan + broadcast join + rollup.
    */
  /** The trained segmentation as a `(w, n_syms)` dim table — the
    * encoder's merge table applied per distinct word, shared by t13's
    * compression accounting and the packing tier's token-budget
    * variant (c13). Vocabulary-sized, broadcastable. */
  private[models] def bpeSegmentation(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val (_, segmented) = bpeTrainLoop(spark, sfDir)
    segmented.select($"w",
      size(split(trim($"s"), " ")).cast(LongType).as("n_syms"))
  }

  def bpeTokenize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val seg = bpeSegmentation(spark, sfDir)
    Tables.documents(spark, sfDir)
      .select($"lang", explode(toks($"text")).as("w"))
      .join(broadcast(seg), Seq("w"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"),
        sum(length($"w")).cast(LongType).as("n_chars"),
        sum($"n_syms").as("n_bpe_tokens"))
      .withColumn("tokens_per_word_micros",
        expr("(n_bpe_tokens * 1000000) div n_words"))
      .withColumn("chars_per_token_micros",
        expr("(n_chars * 1000000) div n_bpe_tokens"))
  }

  /** The unrolled training chain (CTE list `tok, vocab, w0 … w{R}`,
    * trailing comma) — shared by the t12 and t13 oracles. */
  private[models] def bpeOracleCtes: String = {
    val sb = new StringBuilder
    sb ++= s"""tok AS (SELECT unnest(string_split($normSqlDuck, ' ')) AS w
              |        FROM documents),
              |vocab AS (SELECT w, count(*) AS freq FROM tok GROUP BY 1),
              |w0 AS (SELECT w, freq,
              |              ' ' || array_to_string(
              |                list_transform(range(length(w)),
              |                               i -> substr(w, i+1, 1)), ' ')
              |              || ' ' AS s
              |       FROM vocab),
              |""".stripMargin
    for (r <- 1 to BpeRounds) {
      val prev = s"w${r - 1}"
      sb ++= s"""p$r AS (
                |  SELECT pair, sum(freq) AS cnt FROM (
                |    SELECT freq, unnest(list_transform(range(len(syms)-1),
                |                 i -> syms[i+1] || ' ' || syms[i+2])) AS pair
                |    FROM (SELECT freq, string_split(trim(s), ' ') AS syms
                |          FROM $prev))
                |  GROUP BY 1),
                |b$r AS (SELECT pair, cnt FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
                |w$r AS (SELECT w, freq,
                |               CASE WHEN pair IS NULL THEN s
                |                    ELSE replace(s, ' ' || pair || ' ',
                |                         ' ' || replace(pair, ' ', '') || ' ')
                |               END AS s
                |        FROM $prev LEFT JOIN b$r ON TRUE),
                |""".stripMargin
    }
    sb.toString
  }

  val bpeMergesOracle: String = {
    val tail = (1 to BpeRounds)
      .map(r => s"SELECT $r AS merge_round, pair, cnt FROM b$r")
      .mkString("m AS (", " UNION ALL ", ")\n") +
      s"""
         |SELECT cast(merge_round AS BIGINT) AS merge_round,
         |       string_split(pair, ' ')[1] AS left_sym,
         |       string_split(pair, ' ')[2] AS right_sym,
         |       replace(pair, ' ', '') AS merged,
         |       cast(cnt AS BIGINT) AS pair_count
         |FROM m""".stripMargin
    "WITH " + bpeOracleCtes + tail
  }

  val bpeTokenizeOracle: String =
    "WITH " + bpeOracleCtes +
      s"""seg AS (SELECT w, cast(len(string_split(trim(s), ' ')) AS BIGINT) AS n_syms
         |        FROM w$BpeRounds),
         |tokl AS (SELECT lang, unnest(string_split($normSqlDuck, ' ')) AS w
         |         FROM documents)
         |SELECT t.lang, count(*) AS n_words,
         |       cast(sum(length(t.w)) AS BIGINT) AS n_chars,
         |       cast(sum(g.n_syms) AS BIGINT) AS n_bpe_tokens,
         |       cast((sum(g.n_syms) * 1000000) // count(*) AS BIGINT)
         |         AS tokens_per_word_micros,
         |       cast((sum(length(t.w)) * 1000000) // sum(g.n_syms) AS BIGINT)
         |         AS chars_per_token_micros
         |FROM tokl t JOIN seg g ON t.w = g.w
         |GROUP BY 1""".stripMargin

  /** t14's hashed-feature space: 4096 buckets from the first 3 hex
    * digits of the bigram's md5 (c02/c07's hex-bucket idiom). */
  private[models] val DsirBuckets = 4096

  /** t14: DSIR-STYLE IMPORTANCE WEIGHTS (beyond-reference) — Data
    * Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169), the principled rung above c07's
    * frequency-only temperature mix: score every raw document by how
    * much more likely its HASHED-BIGRAM features are under the target
    * distribution than under the raw-corpus distribution, then select
    * the top slice. The target here is the curation tier's reference
    * slice (`CurationModels.EvalSource` — the role formal/quality text
    * plays in the paper), the raw side is everything else; t11's
    * trained-artifact seam (two exact-count aggregates → a broadcast
    * model dim) carries the whole estimator.
    *
    * Per bucket b, add-1-smoothed over the [[DsirBuckets]]-bucket space:
    *   lr(b) = ln( (c_tgt(b)+1)/(N_tgt+B) / ((c_raw(b)+1)/(N_raw+B)) )
    * A document's log importance weight is the sum of lr over its
    * feature occurrences; `selected` marks the top ⌈10%⌉ by
    * length-normalized weight (avg, sign-aware integer-micros
    * rounding), ties by doc_id — the deterministic stand-in for the
    * paper's Gumbel resampling.
    *
    * Determinism: exact BIGINT counts, identical double operation
    * order, ln rounded to 6dp into DECIMAL(18,6) so per-doc sums are
    * order-free (the t11 contract); the rank window runs over the
    * OUTPUT-SIZED doc aggregate, never the feature stream.
    *
    * Scale: the model is ≤B rows (two-stage agg, map-side combine),
    * session-materialized and broadcast; scoring is one corpus scan +
    * broadcast join + doc rollup — exactly DSIR's own architecture
    * (hashed features exist so the model NEVER grows with the corpus).
    */
  /** The shared DSIR estimator: per raw doc (doc_id, n_feats, sum_lr,
    * avg_lr) — t14 ranks it deterministically, t15 Gumbel-resamples.
    * Session-materialized: the scoring pass (bigram explode + md5 +
    * broadcast join) is the expensive leg and BOTH selectors read the
    * same doc-grain result — the runner's materialized-model role. */
  private def dsirScored(spark: SparkSession, sfDir: String): DataFrame =
    Shared.materialized("dsir_scored", spark, sfDir)(
      dsirScoredBuild(spark, sfDir))

  private def dsirScoredBuild(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val eval = CurationModels.EvalSource
    val hexAt = (c: Column, i: Int) =>
      (instr(lit("0123456789abcdef"), substring(c, i, 1)) - 1)
        .cast(LongType)
    val ts = toks($"text")
    val feats = Tables.documents(spark, sfDir)
      .select($"doc_id", $"source", ts.as("ts"))
      .filter(size($"ts") >= 2) // sequence(1, 0) would step backward
      .select($"doc_id", $"source", explode(
        transform(sequence(lit(1), size($"ts") - 1),
          i => concat(element_at($"ts", i), lit(" "),
            element_at($"ts", i + 1)))).as("f"))
      .withColumn("h", md5($"f"))
      .withColumn("bucket",
        hexAt($"h", 1) * 256 + hexAt($"h", 2) * 16 + hexAt($"h", 3))
      .select($"doc_id", $"source", $"bucket")
    val model = Shared.materialized("dsir_model", spark, sfDir) {
      val counts = feats.groupBy($"bucket")
        .agg(sum(when($"source" === eval, 1L).otherwise(0L)).as("c_tgt"),
          sum(when($"source" === eval, 0L).otherwise(1L)).as("c_raw"))
      val tot = counts.agg(sum($"c_tgt").as("n_tgt"),
        sum($"c_raw").as("n_raw"))
      counts.crossJoin(tot)
        .select($"bucket", round(log(
          (($"c_tgt" + 1) / ($"n_tgt" + lit(DsirBuckets))) /
            (($"c_raw" + 1) / ($"n_raw" + lit(DsirBuckets)))), 6)
          .cast(DecimalType(18, 6)).as("lr"))
    }
    feats.filter($"source" =!= eval)
      .join(broadcast(model), Seq("bucket"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_feats"), sum($"lr").as("sum_lr"),
        sum(($"lr" * 1000000).cast(LongType)).as("sum_micros"))
      .withColumn("avg_lr", avgFromMicrosSigned("sum_micros", "n_feats"))
      .drop("sum_micros")
  }

  /** Exact top-⌈n/10⌉ selection by (`key` desc, doc_id asc) WITHOUT a
    * global rank and WITHOUT a corpus-cardinality histogram walk: a
    * continuous 6-dp score has ~n distinct values, so even a per-VALUE
    * histogram pushed through one unpartitioned cumulative window is a
    * doc-grain single-partition sort in disguise (round-10 advice).
    *
    *  1. ONE bounded driver action: exact row count + exact extremes
    *     (min/max). The extremes bracket the cutoff BY CONSTRUCTION, so
    *     the r15 shape's sketch + verified-band retry loop (a second
    *     blocking aggregate action, up to four) is gone — the r15
    *     verdict's t15 action-fold ask, guide §5.
    *  2. two NESTED equal-width refinements, each a ≤4096-row
    *     aggregated cumulative window in the plan (the plan-audit-
    *     allowed shape, zero driver actions): bucket histogram locates
    *     the boundary bucket, a 4096-way sub-histogram of THAT bucket
    *     locates the boundary sub-bucket. Exactness needs only
    *     MONOTONICITY of the bucket functions in `key` (equal keys
    *     share a bucket; buckets are contiguous key ranges), so FP
    *     rounding in the widths can skew bucket balance, never counts.
    *  3. a per-value histogram over the boundary SUB-bucket only — a
    *     range/4096² value slice, bounded by the KEY RANGE at any
    *     corpus size (the two-level analog of the r15 band's purpose) —
    *     picks the cutoff value, and a keyed row_number ranks ONLY the
    *     cutoff-value tie group by doc_id.
    *
    * Selection set is identical to `row_number() OVER (ORDER BY key
    * DESC, doc_id) <= ceil(n/10)` — which is exactly what the DuckDB
    * oracles keep (the oracle states semantics; the plan states the
    * distribution strategy). Degenerate all-ties inputs (every key
    * equal) still serialize the tie group through one rank partition —
    * inherent to the exact (key, doc_id) order, same as before.
    *
    * `key` must be a non-null DOUBLE column (both callers construct
    * one); a value maps to exactly one (bucket, sub-bucket), so tie
    * groups never straddle bucket boundaries. */
  private def topTenthSelected(scored: DataFrame, key: String): DataFrame = {
    import scored.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val kd = col(key)

    // 1. the one bounded driver action: exact n, exact extremes
    val srow = scored.agg(count(lit(1)).as("n"),
      min(kd).as("mn"), max(kd).as("mx")).head()
    val n = srow.getLong(0)
    if (n == 0) return scored.withColumn("selected", lit(false))
    val k = (n + 9) / 10
    val lo = srow.getDouble(1)
    val hi = srow.getDouble(2)

    // 2a. boundary bucket via a ≤4096-row aggregated cumulative window
    val nBuckets = 4096L
    val w1 = (hi - lo) / nBuckets
    val bucketOf: Column =
      if (w1 > 0) least(floor((lit(hi) - kd) / lit(w1)).cast(LongType),
        lit(nBuckets - 1))
      else lit(0L)
    val wB = Window.orderBy($"bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bVerd = scored.groupBy(bucketOf.as("bkt")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(wB))
      .withColumn("b_admit", $"cum" <= k)
      .withColumn("b_boundary", $"cum" > k && $"cum" - $"c" < k)
      .withColumn("k_rem", lit(k) - ($"cum" - $"c"))
      .select($"bkt", $"b_admit", $"b_boundary", $"k_rem")

    // 2b. boundary SUB-bucket: same shape over the boundary bucket's
    // rows, 4096× finer. The clamp keeps any last-ulp disagreement
    // between the two divisions inside the bucket's own sub-range
    // (monotone either way — see the scaladoc exactness argument).
    val w2 = w1 / nBuckets
    val subOf: Column =
      if (w2 > 0) greatest(least(
        floor((lit(hi) - kd) / lit(w2)).cast(LongType) - $"bkt" * nBuckets,
        lit(nBuckets - 1)), lit(0L))
      else lit(0L)
    val band1 = scored.withColumn("bkt", bucketOf)
      .join(broadcast(
        bVerd.filter($"b_boundary").select($"bkt", $"k_rem")), Seq("bkt"))
    val wS = Window.orderBy($"sbkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sVerd = band1.groupBy($"bkt", subOf.as("sbkt"), $"k_rem")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(wS))
      .withColumn("s_admit", $"cum" <= $"k_rem")
      .withColumn("s_boundary", $"cum" > $"k_rem" && $"cum" - $"c" < $"k_rem")
      .withColumn("k_rem2", $"k_rem" - ($"cum" - $"c"))
      .select($"bkt", $"sbkt", $"s_admit", $"s_boundary", $"k_rem2")

    // 3. cutoff value inside the boundary sub-bucket; doc_id rank only
    // for the cutoff-value tie group
    val wV = Window.orderBy(kd.desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val vVerd = band1.withColumn("sbkt", subOf)
      .join(broadcast(sVerd.filter($"s_boundary")
        .select($"bkt", $"sbkt", $"k_rem2")), Seq("bkt", "sbkt"))
      .groupBy(kd, $"k_rem2").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(wV))
      .withColumn("v_admit", $"cum" <= $"k_rem2")
      .withColumn("v_r",
        when($"cum" > $"k_rem2" && $"cum" - $"c" < $"k_rem2",
          $"k_rem2" - ($"cum" - $"c")).otherwise(lit(0L)))
      .select(kd, $"v_admit", $"v_r")
    val wTie = Window.partitionBy(kd).orderBy($"doc_id")
    val tieSel = scored
      .join(broadcast(vVerd.filter($"v_r" > 0).select(kd, $"v_r")), Seq(key))
      .select(kd, $"doc_id", $"v_r")
      .withColumn("tie_rk", row_number().over(wTie))
      .select($"doc_id", ($"tie_rk" <= $"v_r").as("tie_sel"))

    scored
      .withColumn("bkt", bucketOf)
      .withColumn("sbkt", subOf)
      .join(broadcast(bVerd.select($"bkt", $"b_admit")), Seq("bkt"), "left")
      .join(broadcast(sVerd.select($"bkt", $"sbkt", $"s_admit")),
        Seq("bkt", "sbkt"), "left")
      .join(broadcast(vVerd.select(kd, $"v_admit")), Seq(key), "left")
      .join(broadcast(tieSel), Seq("doc_id"), "left")
      .withColumn("selected",
        coalesce($"b_admit", lit(false)) ||
          coalesce($"s_admit", lit(false)) ||
          coalesce($"v_admit", lit(false)) ||
          coalesce($"tie_sel", lit(false)))
      .drop("bkt", "sbkt", "b_admit", "s_admit", "v_admit", "tie_sel")
  }

  def dsirImportance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    topTenthSelected(dsirScored(spark, sfDir), "avg_lr")
      .select($"doc_id", $"n_feats", $"sum_lr", $"avg_lr", $"selected")
  }

  val dsirImportanceOracle: String =
    "WITH " + dsirScoredCtes +
      """ranked AS (SELECT *,
        |                  row_number() OVER (ORDER BY avg_lr DESC, doc_id) AS rk,
        |                  count(*) OVER () AS n_docs
        |           FROM scored)
        |SELECT doc_id, n_feats, sum_lr, avg_lr,
        |       rk <= (n_docs + 9) // 10 AS selected
        |FROM ranked""".stripMargin

  /** The shared CTE chain behind the t14/t15 oracles: defines
    * `scored`(doc_id, n_feats, sum_lr, avg_lr) over the raw slice. */
  private def dsirScoredCtes: String = {
    val eval = CurationModels.EvalSource
    def hexAt(i: Int): String =
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1)"
    s"""tok AS (SELECT doc_id, source,
       |               string_split($normSqlDuck, ' ') AS ts
       |        FROM documents),
       |ok AS (SELECT * FROM tok WHERE len(ts) >= 2),
       |big AS (SELECT doc_id, source,
       |               md5(unnest(list_transform(range(len(ts) - 1),
       |                   i -> ts[i+1] || ' ' || ts[i+2]))) AS h
       |        FROM ok),
       |feats AS (SELECT doc_id, source,
       |                 ${hexAt(1)} * 256 + ${hexAt(2)} * 16 + ${hexAt(3)}
       |                   AS bucket
       |          FROM big),
       |counts AS (SELECT bucket,
       |                  sum(CASE WHEN source = '$eval' THEN 1 ELSE 0 END) AS c_tgt,
       |                  sum(CASE WHEN source = '$eval' THEN 0 ELSE 1 END) AS c_raw
       |           FROM feats GROUP BY 1),
       |tot AS (SELECT cast(sum(c_tgt) AS BIGINT) AS n_tgt,
       |               cast(sum(c_raw) AS BIGINT) AS n_raw
       |        FROM counts),
       |model AS (SELECT bucket,
       |                 cast(round(ln(
       |                   ((c_tgt + 1) / (n_tgt + $DsirBuckets)) /
       |                   ((c_raw + 1) / (n_raw + $DsirBuckets))), 6)
       |                      AS DECIMAL(18,6)) AS lr
       |          FROM counts CROSS JOIN tot),
       |scored AS (
       |  SELECT f.doc_id, count(*) AS n_feats, sum(m.lr) AS sum_lr,
       |         ${avgFromMicrosSignedSql(
            "sum(cast(m.lr * 1000000 AS BIGINT))", "count(*)")} AS avg_lr
       |  FROM feats f JOIN model m USING (bucket)
       |  WHERE f.source <> '$eval'
       |  GROUP BY 1),
       |""".stripMargin
  }

  /** t15: GUMBEL-TOP-K IMPORTANCE RESAMPLING — the selection scheme
    * DSIR actually prescribes (Xie et al. 2023 §2: sample without
    * replacement ∝ importance weight), where t14's top-p% is the
    * deterministic simplification. The Gumbel-top-k identity (Kool et
    * al. 2019): adding i.i.d. Gumbel noise gᵢ = −ln(−ln(uᵢ)) to each
    * log-weight and taking the k largest keys IS a weighted sample
    * without replacement. The uniform uᵢ is derived from the doc's own
    * md5 (the c02/c07 coin idiom, uᵢ = (h16ᵢ + 0.5)/65536) — no RNG,
    * so the "sample" replays bit-identically on both engines while
    * keeping the estimator's statistical shape.
    *
    * Output per raw doc: the log-weight, its Gumbel perturbation, the
    * selection key (both rounded to 6dp before ranking, ties by
    * doc_id — the repo's rank convention), and the resampled flag
    * (top ⌈10%⌉ keys). Scale: everything after the shared scored
    * frame is a stateless map + one output-sized rank window.
    */
  def dsirGumbelResample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hexAt = (c: Column, i: Int) =>
      (instr(lit("0123456789abcdef"), substring(c, i, 1)) - 1)
        .cast(LongType)
    val keyed = dsirScored(spark, sfDir)
      .withColumn("hd", md5($"doc_id".cast(StringType)))
      .withColumn("h16",
        hexAt($"hd", 1) * 4096 + hexAt($"hd", 2) * 256 +
          hexAt($"hd", 3) * 16 + hexAt($"hd", 4))
      .withColumn("u", ($"h16".cast(DoubleType) + 0.5) / 65536.0)
      .withColumn("gumbel", round(-log(-log($"u")), 6))
      // the key adds the ALREADY-6dp-rounded gumbel: the only float in
      // play is one rounded ln, so a last-ulp libm difference can't
      // flip the key across a 6dp rounding boundary (t11's convention)
      .withColumn("sel_key",
        round($"sum_lr".cast(DoubleType) + $"gumbel", 6))
    topTenthSelected(keyed, "sel_key")
      .withColumnRenamed("selected", "resampled")
      .select($"doc_id", $"sum_lr", $"gumbel", $"sel_key", $"resampled")
  }

  val dsirGumbelResampleOracle: String = {
    def hexAt(i: Int): String =
      s"(strpos('0123456789abcdef', substr(hd, $i, 1)) - 1)"
    "WITH " + dsirScoredCtes +
      s"""g AS (SELECT doc_id, sum_lr,
         |             md5(cast(doc_id AS VARCHAR)) AS hd
         |      FROM scored),
         |u AS (SELECT doc_id, sum_lr,
         |             (cast(${hexAt(1)} * 4096 + ${hexAt(2)} * 256 +
         |                   ${hexAt(3)} * 16 + ${hexAt(4)} AS DOUBLE)
         |              + 0.5) / 65536.0 AS uu
         |      FROM g),
         |k AS (SELECT doc_id, sum_lr,
         |             round(-ln(-ln(uu)), 6) AS gumbel,
         |             round(cast(sum_lr AS DOUBLE) + round(-ln(-ln(uu)), 6), 6)
         |               AS sel_key
         |      FROM u),
         |ranked AS (SELECT *,
         |                  row_number() OVER (ORDER BY sel_key DESC, doc_id) AS rk,
         |                  count(*) OVER () AS n_docs
         |           FROM k)
         |SELECT doc_id, sum_lr, gumbel, sel_key,
         |       rk <= (n_docs + 9) // 10 AS resampled
         |FROM ranked""".stripMargin
  }

  /** Keywords kept per document by t16. */
  private[models] val TfidfK = 3

  /** t16: TF-IDF KEYWORD EXTRACTION (beyond-reference) — the classic
    * per-document salient-term scoring (Spärck Jones 1972) a corpus
    * pipeline runs for topic tagging, search indexing, and
    * domain-balance audits: score(term, doc) = tf · ln(N/df), keep the
    * top [[TfidfK]] terms per doc.
    *
    * Determinism across engines (t07's convention): N/df is an exact
    * BIGINT ratio evaluated in double identically on both sides; ln
    * rounds to 6dp into DECIMAL(18,6), so tf·idf is exact decimal
    * arithmetic and the rank order (score desc, term asc) cannot be
    * flipped by a last-ulp libm difference.
    *
    * Scale: the token explode is linear and pre-aggregated at
    * (doc, term) grain with map-side combine BEFORE anything joins, so
    * the df join's probe side is the deduped doc-term list, not the
    * raw token stream. df itself is vocabulary-sized. Hot terms
    * ("the": df ≈ N) make the term join key skewed — but the per-key
    * row count is bounded by df ≤ N doc-term rows, the join is a plain
    * equi shuffle, and AQE skew-join splits any oversized partition;
    * nothing is serialized through one task. The final top-k window
    * partitions by doc_id (per-doc fan-in ≤ distinct terms in that
    * doc — document-bounded, never corpus-bounded).
    */
  def tfidfKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    val tf = docs
      .select($"doc_id", explode(toks($"text")).as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // the `tf >= 1` filter is a no-op on values (every group counts ≥ 1)
    // but it REFERENCES tf, so column pruning cannot drop the count from
    // this branch's partial aggregate — both consumers of the token
    // stream then shuffle the IDENTICAL (doc_id, term, count) subtree,
    // and AQE's stage cache reuses the materialized exchange instead of
    // tokenizing + exploding the corpus twice (r16, guide §2.4 CSE;
    // measured: the duplicate Generate stage disappears from the
    // executed plan and t16's corpus pass halves at any scale).
    val idf = tf.filter($"tf" >= 1L)
      .groupBy($"term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs)) // 1-row broadcast: the corpus size
      .withColumn("idf",
        round(log($"n_docs".cast(DoubleType) / $"df".cast(DoubleType)), 6)
          .cast(DecimalType(18, 6)))
      .select($"term", $"df", $"idf")
    tf.join(idf, Seq("term"))
      .withColumn("score", ($"tf" * $"idf").cast(DecimalType(24, 6)))
      .withColumn("term_rank", row_number().over(
        Window.partitionBy($"doc_id")
          .orderBy($"score".desc, $"term".asc)).cast(LongType))
      .filter($"term_rank" <= TfidfK)
      .select($"doc_id", $"term_rank", $"term", $"tf", $"df", $"score")
  }

  val tfidfKeywordsOracle: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split($normSqlDuck, ' ')) AS term
       |             FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |idf AS (SELECT term, count(*) AS df,
       |               cast(round(ln(cast((SELECT n_docs FROM n) AS DOUBLE) / count(*)), 6)
       |                    AS DECIMAL(18,6)) AS idf
       |        FROM tf GROUP BY 1),
       |scored AS (SELECT t.doc_id, t.term, t.tf, i.df,
       |                  cast(t.tf * i.idf AS DECIMAL(24,6)) AS score
       |           FROM tf t JOIN idf i USING (term)),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |                  ORDER BY score DESC, term ASC) AS term_rank
       |           FROM scored)
       |SELECT doc_id, cast(term_rank AS BIGINT) AS term_rank, term, tf, df,
       |       score
       |FROM ranked WHERE term_rank <= $TfidfK""".stripMargin
}
