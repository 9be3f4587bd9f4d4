package graft.models

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data-pipeline deduplication operators over `documents`
  * (BASELINE.json north star; beyond the reference's own surface).
  *
  * All hash math is built on `md5` (identical lowercase-hex output in
  * Spark and DuckDB) so every stage stays oracle-checkable — no engine
  * UDFs anywhere; everything is whole-stage-codegen'd builtins.
  *
  * Scale design: the near-dup path is the classic
  * shingle → minhash → band → bucket-join pipeline. Candidate
  * generation joins on (band_idx, band_val) — linear shuffle volume,
  * never the O(n²) all-pairs compare; the exact Jaccard verify runs only
  * on candidates.
  */
object DedupModels {
  import graft.catalog.Tables

  /** Whitespace-collapsed lowercase tokens of `text` (shared with the
    * curation tier — one normalization across dedup + decontamination).
    */
  private[models] def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))
  private[models] def tokens(c: Column): Column = split(normText(c), " ")

  private[models] val normSqlDuck =
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** d01: exact dedup — hash-groupBy on normalized text; canonical id =
    * min doc_id per fingerprint (stable representative selection).
    *
    * Session-memoized (`Shared.materialized`): the fingerprint-group
    * table is read standalone (d01) AND as the funnel's `is_duplicate`
    * leg (c06, which sorts first in bench order and pays the build) —
    * in the pipeline it is the `dedup_groups` bookkeeping table the
    * incremental runner keeps beside the corpus.
    */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Shared.materialized("d01_dedup_exact", spark, sfDir) {
      dedupExactBuild(spark, sfDir)
    }

  private def dedupExactBuild(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id", md5(normText($"text")).as("fingerprint"),
        $"n_chars")
      .groupBy($"fingerprint")
      .agg(count(lit(1)).as("doc_count"),
        min($"doc_id").as("canonical_doc_id"),
        sum($"n_chars").as("total_chars"))
  }

  val dedupExactOracle: String =
    s"""SELECT md5($normSqlDuck) AS fingerprint,
       |       count(*) AS doc_count,
       |       min(doc_id) AS canonical_doc_id,
       |       cast(sum(n_chars) AS BIGINT) AS total_chars
       |FROM documents GROUP BY 1""".stripMargin

  /** Word 3-gram shingles per doc (docs with ≥3 tokens). */
  private def shingleDf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id", tokens($"text").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id",
        explode(transform(sequence(lit(1), size($"toks") - 2),
          i => concat_ws(" ",
            element_at($"toks", i),
            element_at($"toks", i + 1),
            element_at($"toks", i + 2)))).as("shingle"))
      .distinct()
  }

  private val shingleSqlDuck: String =
    s"""docs AS (SELECT doc_id, string_split($normSqlDuck, ' ') AS toks FROM documents),
       |ok AS (SELECT * FROM docs WHERE len(toks) >= 3),
       |dsh AS (SELECT DISTINCT doc_id,
       |               unnest(list_transform(range(len(toks)-2),
       |                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shingle
       |        FROM ok)""".stripMargin

  /** Session-memoized per-shingle digest table (doc_id, h): ONE md5
    * pass over the distinct 3-gram shingles, shared by d02 (signature
    * aggregation) and d03 (bands + exact-Jaccard verify legs). At
    * scale this is the materialized fingerprint table every dedup
    * consumer reads instead of re-hashing the corpus — the same
    * runner-materialized-intermediate role as d03's pair list.
    */
  private def shingleDigests(spark: SparkSession,
      sfDir: String): DataFrame =
    Shared.materialized("shingle_digests", spark, sfDir) {
      import spark.implicits._
      shingleDf(spark, sfDir).select($"doc_id", md5($"shingle").as("h"))
    }

  /** d02: 4-permutation MinHash signature per document.
    * The j-th permutation is the ordering induced by hex slice j of ONE
    * md5 per shingle (bytes of a cryptographic digest are independent),
    * so the whole signature costs a single hash pass — 4× cheaper than
    * salting, same LSH statistics. Reads the memoized
    * [[shingleDigests]] table.
    */
  def minhashSignatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    shingleDigests(spark, sfDir).groupBy($"doc_id")
      .agg(
        min(substring($"h", 1, 8)).as("mh0"),
        min(substring($"h", 9, 8)).as("mh1"),
        min(substring($"h", 17, 8)).as("mh2"),
        min(substring($"h", 25, 8)).as("mh3"))
  }

  val minhashSignaturesOracle: String =
    s"""WITH $shingleSqlDuck,
       |hashed AS (SELECT doc_id, md5(shingle) AS h FROM dsh)
       |SELECT doc_id,
       |       min(substr(h, 1, 8)) AS mh0,
       |       min(substr(h, 9, 8)) AS mh1,
       |       min(substr(h, 17, 8)) AS mh2,
       |       min(substr(h, 25, 8)) AS mh3
       |FROM hashed GROUP BY doc_id""".stripMargin

  /** d03: MinHash-LSH near-duplicate candidate pairs + exact n-gram
    * Jaccard verification. Two bands of two hashes each; candidates =
    * pairs sharing a band bucket (equi-join on (band_idx, band_val) —
    * the unpivoted form keeps Spark on a hash join; an OR-of-bands
    * condition would fall back to a nested loop). Jaccard is computed
    * exactly in integer micros (floor division) so both engines agree
    * bit-for-bit.
    *
    * Session-memoized (`Shared.materialized`): the verified pair list is
    * the input of both downstream dedup tiers (d06 edit-distance, d07
    * clustering), so the first consumer materializes it once per
    * (session, sfDir) — at scale this IS how a dedup pipeline runs (pair
    * generation materialized once, consumers fan out from it).
    */
  def lshNearDupPairs(spark: SparkSession, sfDir: String): DataFrame =
    Shared.materialized("d03_lsh_near_dup_pairs", spark, sfDir) {
      lshNearDupPairsBuild(spark, sfDir)
    }

  private def lshNearDupPairsBuild(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    // every leg (signatures, sizes, both intersect sides) reads the
    // memoized digest table — shingle identity is its md5 on BOTH
    // engines (the oracle hashes before joining too), so the verify
    // join ships 32-char digests instead of raw shingle strings
    val dsh = shingleDigests(spark, sfDir)
    val sig = dsh.groupBy($"doc_id")
      .agg(
        min(substring($"h", 1, 8)).as("mh0"),
        min(substring($"h", 9, 8)).as("mh1"),
        min(substring($"h", 17, 8)).as("mh2"),
        min(substring($"h", 25, 8)).as("mh3"))
    // both band values in ONE projection over sig, then unpivot with
    // stack — a sig.union(sig) would run the minhash aggregation twice.
    // cache() because the self-join below references `bands` on both
    // sides, and Spark recomputes a reused subtree per join branch
    // (2 short rows per doc: cheap to hold, spills to disk if not).
    val bands = Shared.cacheOnce(sig.select($"doc_id",
        md5(concat($"mh0", $"mh1")).as("b0"),
        md5(concat($"mh2", $"mh3")).as("b1"))
      .selectExpr("doc_id", "stack(2, 0, b0, 1, b1) AS (band_idx, band_val)"))
    val cand = bands.as("a")
      .join(bands.as("b"),
        $"a.band_idx" === $"b.band_idx" && $"a.band_val" === $"b.band_val" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    val sizes = dsh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    // NO forced broadcast: the candidate-pair and size sets grow with the
    // corpus (superlinearly with duplication rate for cand) and would not
    // fit in a broadcast at 100 TB — plain shuffled equi-joins here, and
    // AQE still converts to broadcast at runtime when a side actually
    // fits under the threshold.
    val inter = cand
      .join(dsh.select($"doc_id".as("doc_a"), $"h"), Seq("doc_a"))
      .join(dsh.select($"doc_id".as("doc_b"), $"h"), Seq("doc_b", "h"))
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("inter_count"))
    inter
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("n_a")), Seq("doc_a"))
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("n_b")), Seq("doc_b"))
      .withColumn("union_count", $"n_a" + $"n_b" - $"inter_count")
      .withColumn("jaccard",
        (expr("(inter_count * 1000000) div union_count")
          .cast(DecimalType(20, 0)) *
          lit(new java.math.BigDecimal("0.000001")).cast(DecimalType(7, 6)))
          .cast(DecimalType(24, 6)))
      .select($"doc_a", $"doc_b", $"inter_count", $"union_count", $"jaccard")
  }

  val lshNearDupPairsOracle: String =
    s"""WITH $shingleSqlDuck,
       |hashed AS (SELECT doc_id, md5(shingle) AS h FROM dsh),
       |sig AS (SELECT doc_id,
       |               min(substr(h, 1, 8)) AS mh0, min(substr(h, 9, 8)) AS mh1,
       |               min(substr(h, 17, 8)) AS mh2, min(substr(h, 25, 8)) AS mh3
       |        FROM hashed GROUP BY doc_id),
       |bands AS (SELECT doc_id, 0 AS band_idx, md5(mh0 || mh1) AS band_val FROM sig
       |          UNION ALL
       |          SELECT doc_id, 1, md5(mh2 || mh3) FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |          AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM hashed GROUP BY 1),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter_count
       |          FROM cand c
       |          JOIN hashed x ON x.doc_id = c.doc_a
       |          JOIN hashed y ON y.doc_id = c.doc_b AND y.h = x.h
       |          GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, i.inter_count,
       |       (sa.n + sb.n - i.inter_count) AS union_count,
       |       cast(((i.inter_count * 1000000) // (sa.n + sb.n - i.inter_count)) *
       |            cast(0.000001 AS DECIMAL(7,6)) AS DECIMAL(24,6)) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.doc_a
       |JOIN sizes sb ON sb.doc_id = i.doc_b""".stripMargin

  /** d06: edit-distance verification of the LSH candidate pairs — the
    * fuzzy-dedup tier below token-set Jaccard: raw `levenshtein` over
    * the normalized texts of each candidate pair, plus a normalized
    * similarity in exact integer micros.
    *
    * Scale: levenshtein is O(len²) per pair — viable ONLY because the
    * candidate set is LSH-pruned first; running it all-pairs would be
    * quadratic in corpus size AND document length.
    */
  def editDistancePairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cand = lshNearDupPairs(spark, sfDir)
      .select($"doc_a", $"doc_b")
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", normText($"text").as("norm"))
    // ONE corpus pass (r16, guide §2.4/§6): the old shape hydrated the
    // two pair sides with two separate joins against `docs`, and since
    // the small LSH-pruned side broadcasts, EACH join ran its own full
    // documents scan + normText (no exchange for AQE to reuse). Melt
    // the pair to (pair, role, doc_id), hydrate through a single join —
    // one scan, one normalization — and pivot the two roles back with a
    // per-pair aggregate (each (pair, role) matches exactly one doc, so
    // the max-when pivot is a plain reshape). The pair stream now
    // carries the normalized text through one extra exchange, but it is
    // LSH-pruned — orders of magnitude smaller than a second corpus
    // scan at any real scale. Row-identical output; oracle unchanged.
    val melted = cand.select($"doc_a", $"doc_b",
      explode(array(
        struct(lit("a").as("role"), $"doc_a".as("doc_id")),
        struct(lit("b").as("role"), $"doc_b".as("doc_id")))).as("s"))
      .select($"doc_a", $"doc_b", $"s.role".as("role"), $"s.doc_id".as("doc_id"))
    melted.join(docs, Seq("doc_id"))
      .groupBy($"doc_a", $"doc_b")
      .agg(max(when($"role" === "a", $"norm")).as("text_a"),
        max(when($"role" === "b", $"norm")).as("text_b"))
      .withColumn("edit_distance",
        levenshtein($"text_a", $"text_b").cast(LongType))
      .withColumn("max_len",
        greatest(length($"text_a"), length($"text_b")).cast(LongType))
      .withColumn("similarity",
        (expr("((max_len - edit_distance) * 1000000) div max_len")
          .cast(DecimalType(20, 0)) *
          lit(new java.math.BigDecimal("0.000001")).cast(DecimalType(7, 6)))
          .cast(DecimalType(24, 6)))
      .select($"doc_a", $"doc_b", $"edit_distance", $"max_len",
        $"similarity")
  }

  lazy val editDistancePairsOracle: String =
    s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($lshNearDupPairsOracle) t),
       |docs AS (SELECT doc_id, $normSqlDuck AS norm FROM documents),
       |joined AS (
       |  SELECT p.doc_a, p.doc_b,
       |         cast(levenshtein(a.norm, b.norm) AS BIGINT) AS edit_distance,
       |         cast(greatest(length(a.norm), length(b.norm)) AS BIGINT) AS max_len
       |  FROM pairs p
       |  JOIN docs a ON a.doc_id = p.doc_a
       |  JOIN docs b ON b.doc_id = p.doc_b)
       |SELECT doc_a, doc_b, edit_distance, max_len,
       |       cast((((max_len - edit_distance) * 1000000) // max_len) *
       |            cast(0.000001 AS DECIMAL(7,6)) AS DECIMAL(24,6)) AS similarity
       |FROM joined""".stripMargin

  /** d07: near-duplicate CLUSTERING — the step a training-data dedup
    * pipeline runs after pair generation: connected components over the
    * d03 pair list (edges = LSH-verified pairs with Jaccard ≥ 0.5,
    * thresholded in integers as 2·inter ≥ union so both engines agree
    * exactly), labeling each doc with its component's min doc_id and a
    * keep/drop flag (keeper = the component's min id).
    *
    * Algorithm: one-hop min-label propagation — each round every doc
    * takes the min of its own label and its neighbors' labels, one
    * shuffled aggregate per round, no driver-side data (only a scalar
    * convergence probe). Rounds needed = the longest min-label path in
    * a component (up to the component DIAMETER — near-dup components
    * are small dense clusters, so single-digit in practice; a
    * pointer-jumping variant converges in log rounds but costs an
    * extra self-join per round, which measured 3× slower here). If the
    * 50-round cap is ever hit the function THROWS rather than silently
    * returning a partially-merged clustering.
    */
  def nearDupClusters(spark: SparkSession, sfDir: String): DataFrame =
    // session-materialized: the propagation LOOP (not a plan — an
    // imperative fixpoint with per-round checkpoints) would otherwise
    // re-run for every consumer; d07 and c10's group keying share one
    // label table, the same amortization the ANN tier gets from
    // ivf_cents/ivf_top2 (in production this IS a warehouse table the
    // dedup job maintains)
    Shared.materialized("neardup_components", spark, sfDir) {
      nearDupClustersUncached(spark, sfDir)
    }

  private def nearDupClustersUncached(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = Shared.cacheOnce(lshNearDupPairs(spark, sfDir)
      .filter($"inter_count" * 2 >= $"union_count")
      .select($"doc_a", $"doc_b"))
    // undirected: propagate both ways each round
    val bidir = Shared.cacheOnce(edges.union(edges.select(
      $"doc_b".as("doc_a"), $"doc_a".as("doc_b"))))
    var labels = bidir.select($"doc_a".as("doc_id")).distinct()
      .withColumn("component_id", $"doc_id")
      .cache()
    var converged = false
    var rounds = 0
    val maxRounds = 50
    while (!converged && rounds < maxRounds) {
      val neighborMin = bidir
        .join(labels.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"))
        .select($"doc_a".as("doc_id"), $"component_id")
      // localCheckpoint (not cache): materializes the round AND truncates
      // lineage, so round N's plan doesn't nest N-1 prior plans — without
      // it analysis/planning grows with round count even when every
      // round's data is cached (measured at sf0.1: 10.8s clean with
      // cache() → 0.96s with localCheckpoint — the cost was plan
      // re-analysis, not data. large-star/small-star and pointer-jumping
      // converge in O(log n) rounds but each round costs an extra
      // self-join, which measured 3x slower on these small-diameter
      // near-dup clusters — revisit only if component diameters grow)
      val next = labels.union(neighborMin)
        .groupBy($"doc_id")
        .agg(min($"component_id").as("component_id"))
        .localCheckpoint()
      // scalar convergence probe (a count, not a collect of data rows)
      val changed = next.join(labels, Seq("doc_id", "component_id"),
        "left_anti").limit(1).count()
      labels.unpersist()
      labels = next
      converged = changed == 0
      rounds += 1
    }
    require(converged,
      s"nearDupClusters did not converge in $maxRounds rounds")
    labels
      .withColumn("is_keeper", $"doc_id" === $"component_id")
      .select($"doc_id", $"component_id", $"is_keeper")
  }

  /** DuckDB replays the fixpoint as a recursive CTE: min reachable id ≡
    * the component's min id (UNION-dedup guarantees termination). */
  lazy val nearDupClustersOracle: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM ($lshNearDupPairsOracle) t
       |  WHERE inter_count * 2 >= union_count),
       |edges AS (SELECT doc_a, doc_b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(doc_id, lbl) AS (
       |  SELECT DISTINCT doc_a, doc_a FROM edges
       |  UNION
       |  SELECT e.doc_a, r.lbl FROM reach r JOIN edges e ON e.doc_b = r.doc_id)
       |SELECT doc_id, min(lbl) AS component_id,
       |       doc_id = min(lbl) AS is_keeper
       |FROM reach GROUP BY doc_id""".stripMargin

  /** d04: 16-bit SimHash per document from md5 token hashes. Bit i's vote
    * is +1/−1 by bit i of the token hash (first 4 hex digits); the final
    * bit is 1 iff the vote sum is strictly positive.
    * Pure builtin arithmetic (hex-digit decode via instr + shifts) so the
    * oracle replays it exactly.
    */
  def simhash16(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, sfDir)
      .select($"doc_id", explode(array_distinct(tokens($"text"))).as("tok"))
      .withColumn("h", md5($"tok"))
    val withDigits = (0 until 4).foldLeft(toks) { (df, d) =>
      df.withColumn(s"v$d",
        (instr(lit("0123456789abcdef"), substring(col("h"), d + 1, 1)) - 1)
          .cast(IntegerType))
    }
    val votes = (0 until 16).map { i =>
      val digit = col(s"v${i / 4}")
      val bit = shiftright(digit, 3 - (i % 4)).bitwiseAND(lit(1))
      sum(when(bit === 1, 1).otherwise(-1)).as(s"s$i")
    }
    val summed = withDigits.groupBy($"doc_id").agg(votes.head, votes.tail: _*)
    val simhash = (0 until 16).map { i =>
      when(col(s"s$i") > 0, lit(1L << (15 - i))).otherwise(lit(0L))
    }.reduce(_ + _)
    summed.select($"doc_id", simhash.as("simhash"))
  }

  val simhash16Oracle: String = {
    val digitExprs = (0 until 4).map { d =>
      s"(strpos('0123456789abcdef', substr(h, ${d + 1}, 1)) - 1) AS v$d"
    }.mkString(", ")
    val voteExprs = (0 until 16).map { i =>
      s"sum(CASE WHEN ((v${i / 4} >> ${3 - (i % 4)}) & 1) = 1 THEN 1 ELSE -1 END) AS s$i"
    }.mkString(", ")
    val simhashExpr = (0 until 16).map { i =>
      s"(CASE WHEN s$i > 0 THEN ${1L << (15 - i)} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH toks AS (SELECT doc_id,
       |                    unnest(list_distinct(string_split($normSqlDuck, ' '))) AS tok
       |              FROM documents),
       |hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
       |digits AS (SELECT doc_id, $digitExprs FROM hashed),
       |votes AS (SELECT doc_id, $voteExprs FROM digits GROUP BY doc_id)
       |SELECT doc_id, cast($simhashExpr AS BIGINT) AS simhash FROM votes""".stripMargin
  }

  /** Segment width of the sub-document dedup (tokens per segment). */
  private[models] val SegW = 10

  /** d08: segment-level exact dedup — the CCNet/RefinedWeb sub-document
    * stage the whole-doc ops (d01..d07) can't express: boilerplate
    * repeats ACROSS documents (headers, footers, license blocks) while
    * the documents themselves stay distinct, so document-grain dedup
    * keeps every copy. Each doc is cut into non-overlapping `SegW`-token
    * segments; a segment KEEPS only at its globally first occurrence
    * (min (doc_id, seg_idx) over the corpus — the same stable-canonical
    * rule as d01), and every later copy drops. Output is the per-doc
    * verdict the curation funnel consumes: segment/token counts, dup
    * segments, and the retained-token ratio.
    *
    * Scale: two linear shuffles — one hash-partitioned window over
    * seg_hash (corpus-wide first-occurrence pick; CCNet's shard-hash
    * shape, no skew: md5 keys are uniform and a segment's copy count
    * bounds the partition), one doc_id rollup with map-side combine.
    * No pairwise compares anywhere — cross-doc repetition is found by
    * hash equality, linear at 100 TB.
    */
  /** The segment table of a documents frame: one row per (doc,
    * 10-token segment) with its md5 hash — the shared input of the d08
    * query and the curation pipeline's incremental segment stage. */
  private[graft] def segmentsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val toked = docs
      .select($"doc_id", tokens($"text").as("toks"))
      .withColumn("n_tokens", size($"toks").cast(LongType))
    val nSegs = floor(($"n_tokens" + lit(SegW - 1)) / lit(SegW))
      .cast(IntegerType)
    toked
      .select($"doc_id", $"n_tokens", $"toks",
        explode(sequence(lit(0), nSegs - 1)).as("g"))
      .select($"doc_id", $"n_tokens", $"g",
        slice($"toks", $"g" * SegW + 1, lit(SegW)).as("seg"))
      .select($"doc_id", $"n_tokens", $"g",
        size($"seg").cast(LongType).as("seg_len"),
        md5(concat_ws(" ", $"seg")).as("seg_hash"))
  }

  /** The segment stream materialized to session-temp parquet — NOT an
    * executor cache. The stream is corpus-TOKEN-grain (one row per
    * 10-token segment), so `.cache()` would pin several times the
    * corpus in block-manager memory/disk per executor at warehouse
    * scale; a zstd parquet round-trip costs one extra scan's worth of
    * IO instead and both consumers (the first-occurrence aggregate and
    * the probe side of [[markFirstOccurrence]]) read the compact
    * columnar copy. The warehouse analog is the pipeline's
    * `curation_segments` table. */
  private[graft] def segmentStream(
      spark: SparkSession, sfDir: String): DataFrame =
    Shared.materialized("segment_stream", spark, sfDir) {
      segmentsOf(Tables.documents(spark, sfDir))
    }

  /** Per-doc rollup of an occurrence-marked segment frame (`dup` =
    * this copy of the segment drops). */
  private[graft] def segmentStatsOf(marked: DataFrame): DataFrame = {
    import marked.sparkSession.implicits._
    marked.groupBy($"doc_id", $"n_tokens")
      .agg(count(lit(1)).as("n_segments"),
        sum(when($"dup", 1L).otherwise(0L)).as("dup_segments"),
        coalesce(sum(when(!$"dup", $"seg_len")), lit(0L))
          .as("kept_tokens"))
      .withColumn("retained_ratio",
        round($"kept_tokens" / $"n_tokens", 6).cast(DecimalType(18, 6)))
      .select($"doc_id", $"n_tokens", $"n_segments", $"dup_segments",
        $"kept_tokens", $"retained_ratio")
  }

  /** Corpus-wide first-occurrence marking: a segment copy drops unless
    * it is the globally first (doc_id, seg_idx) holder of its hash.
    *
    * Skew-safe shape (NOT a `row_number` over a seg_hash window): a
    * window has no partial aggregation, so a boilerplate segment with
    * 10⁹ corpus copies would funnel every copy through ONE task. The
    * `min(struct(doc_id, g))` aggregate is algebraic — map-side combine
    * reduces each hot hash to one row per map task before the shuffle —
    * and the join back is a plain seg_hash equi-join, where AQE's
    * skew-join split absorbs a hot probe side. Both branches consume
    * `segs` as-is — NO executor cache here (the stream is corpus-token
    * grain; pinning it in block-manager memory would hold several
    * corpus-sizes per session at warehouse scale). The sfDir entry
    * point feeds the parquet-materialized [[segmentStream]] so the
    * explode+md5 runs once; frame-parameterized callers (specs, the
    * pipeline's batch-grain incremental leg) pay a second scan of
    * their — batch-sized or already-persisted — input instead.
    * The two shapes were measured head-to-head on a hot-key fixture
    * (`bench_runs/skew_bench.json`, COVERAGE.md "Content-hash
    * windows, measured"); PlanAuditSpec pins the window ban. */
  private[graft] def markFirstOccurrence(segs: DataFrame): DataFrame = {
    import segs.sparkSession.implicits._
    val firsts = segs.groupBy($"seg_hash")
      .agg(min(struct($"doc_id", $"g")).as("first_occ"))
    segs.join(firsts, Seq("seg_hash"))
      .withColumn("dup", struct($"doc_id", $"g") =!= $"first_occ")
      .drop("first_occ")
  }

  def segmentDedup(spark: SparkSession, sfDir: String): DataFrame =
    segmentStatsOf(markFirstOccurrence(segmentStream(spark, sfDir)))

  val segmentDedupOracle: String =
    s"""WITH docs AS (SELECT doc_id, string_split($normSqlDuck, ' ') AS toks
       |              FROM documents),
       |d2 AS (SELECT doc_id, toks, cast(len(toks) AS BIGINT) AS n_tokens
       |       FROM docs),
       |gs AS (SELECT doc_id, n_tokens, toks,
       |              unnest(range((n_tokens + ${SegW - 1}) // $SegW)) AS g
       |       FROM d2),
       |segs AS (SELECT doc_id, n_tokens, g,
       |                toks[g*$SegW + 1 : g*$SegW + $SegW] AS seg
       |         FROM gs),
       |h AS (SELECT doc_id, n_tokens, g, cast(len(seg) AS BIGINT) AS seg_len,
       |             md5(array_to_string(seg, ' ')) AS seg_hash
       |      FROM segs),
       |o AS (SELECT *, row_number() OVER (PARTITION BY seg_hash
       |               ORDER BY doc_id, g) AS occ
       |      FROM h)
       |SELECT doc_id, n_tokens, count(*) AS n_segments,
       |       cast(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_segments,
       |       cast(coalesce(sum(CASE WHEN occ = 1 THEN seg_len END), 0) AS BIGINT) AS kept_tokens,
       |       cast(round(cast(coalesce(sum(CASE WHEN occ = 1 THEN seg_len END), 0) AS DOUBLE)
       |            / n_tokens, 6) AS DECIMAL(18,6)) AS retained_ratio
       |FROM o GROUP BY 1, 2""".stripMargin

  /** d10's span grain: a duplicated substring must cover at least this
    * many tokens to register (Lee et al. use 50 BPE tokens; 10 words
    * is the comparable grain on this corpus — and d08's segment
    * width, so the two tiers are directly comparable). */
  private[graft] val SpanL = 10

  /** d10: DUPLICATE-SPAN DETECTION (beyond-reference) — the
    * exact-substring dedup of Lee et al. 2022 (arXiv:2107.06499,
    * "Deduplicating Training Data Makes Language Models Better") in
    * its engine-replayable form. d08 cuts docs into FIXED 10-token
    * segments, so a duplicated passage that straddles a segment
    * boundary is invisible to it; d10 slides an OVERLAPPING
    * [[SpanL]]-token window instead: any window occurring ≥2 times
    * anywhere in the corpus (including within one document) marks its
    * positions duplicated, and a document's overlapping duplicated
    * windows merge into MAXIMAL SPANS — the suffix-array result,
    * computed with a group-by and one per-doc window instead of a
    * suffix array (which doesn't distribute).
    *
    * Island merging is exact and trivially cross-engine BECAUSE the
    * intervals share one length: interval ends are monotone in their
    * starts, so a new span begins exactly when `i > lag(i) + SpanL−1`
    * — no running-max frame needed.
    *
    * Output per affected doc: duplicated-window count, merged span
    * count, duplicated token mass (Σ span widths), and the longest
    * span — the numbers a dedup policy thresholds on (Lee et al. drop
    * or trim spans; the mass here is what that would remove).
    *
    * Scale: one corpus scan explodes ~n_tokens overlapping window
    * hashes (map-side combined groupBy — the same shuffle d08 already
    * pays, ×SpanL density); the dup-hash filter is a semi-join on the
    * hash key; island merging runs inside per-doc windows over only
    * the DUPLICATED positions (dense, doc-bounded partitions). No
    * suffix array, no global sort, nothing driver-side.
    */
  /** The sliding [[SpanL]]-token window stream: one row per window
    * position, `(doc_id, i, g)` with `g` = md5 of the window's tokens.
    * Shared by d10 (span detection) and d11 (span-trim) — the single
    * corpus-scan explode both tiers pay. */
  private[graft] def spanGramsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", tokens($"text").as("ts"))
      .filter(size($"ts") >= SpanL)
      .select($"doc_id", posexplode(
        transform(sequence(lit(0), size($"ts") - SpanL),
          j => md5(concat_ws(" ", slice($"ts", j + 1, lit(SpanL))))))
        .as(Seq("i", "g")))
  }

  /** The sliding window-gram stream materialized to session-temp
    * parquet — shared by d10 (span detection) and d11 (span trim), so
    * the one corpus scan + SpanL-dense md5 explode runs ONCE per
    * session and every consumer (per-gram stats, the position probe,
    * both queries) reads the compact columnar copy. Parquet, not
    * `.cache()`: the stream is corpus-TOKEN grain (~n_tokens rows), so
    * an executor cache would pin several corpus-sizes of block-manager
    * state; the warehouse analog is the pipeline's
    * `curation_span_grams` bookkeeping table. */
  private[graft] def spanGramStream(
      spark: SparkSession, sfDir: String): DataFrame =
    Shared.materialized("span_gram_stream", spark, sfDir) {
      spanGramsOf(Tables.documents(spark, sfDir))
    }

  /** In-row window-gram structs `(i, g)` over a token array — the
    * STREAMING span-trim twin builds its grams without an
    * explode-then-window shape (everything per-doc happens inside the
    * row). Docs shorter than [[SpanL]] yield one `(0, null)` sentinel
    * so they flow through joins without producing removals. */
  private[graft] def spanGramArr(ts: Column): Column =
    when(size(ts) >= SpanL,
      transform(sequence(lit(0), size(ts) - SpanL),
        j => struct(j.as("i"),
          md5(concat_ws(" ", slice(ts, j + 1, lit(SpanL)))).as("g"))))
      .otherwise(array(struct(lit(0).as("i"),
        lit(null).cast(StringType).as("g"))))

  /** The shared text normalization, exposed for the streaming twin
    * (one tokenizer across dedup / curation / streaming). */
  private[graft] def normTokens(c: Column): Column = tokens(c)

  def dupSpans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // skew-safe dup-gram detection (NOT `count().over(partitionBy(g))`:
    // WindowExec has no partial aggregation, so a boilerplate 10-gram
    // with 10⁹ corpus occurrences — license headers, cookie banners —
    // would sort every occurrence on ONE task). The groupBy count
    // combines map-side (each hot gram collapses to one row per map
    // task before the shuffle), and the semi-join probe is a plain
    // equi-join AQE's skew split can subdivide. [[spanGramStream]]
    // (session-temp parquet, shared with d11) keeps the corpus scan +
    // gram explode single-pass across the count and probe branches
    // without executor-cache state (the agg and probe subplans differ,
    // so exchange reuse alone would re-scan + re-md5). Both shapes were
    // measured on a hot-key fixture (`bench_runs/skew_bench.json`).
    val grams = spanGramStream(spark, sfDir)
    val dupg = grams.groupBy($"g")
      .agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= 2)
      .select($"g")
    val w = Window.partitionBy($"doc_id").orderBy($"i")
    val hits = grams
      .join(dupg, Seq("g"), "left_semi")
      .withColumn("prev", lag($"i", 1).over(w))
      .withColumn("newi",
        when($"prev".isNull || $"i" > $"prev" + (SpanL - 1), 1L)
          .otherwise(0L))
      .withColumn("isl", sum($"newi").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    hits.groupBy($"doc_id", $"isl")
      .agg(count(lit(1)).as("grams"), min($"i").as("s"),
        (max($"i") + SpanL).as("e"))
      .groupBy($"doc_id")
      .agg(sum($"grams").as("n_dup_windows"),
        count(lit(1)).as("n_spans"),
        sum($"e" - $"s").cast(LongType).as("dup_tokens"),
        max($"e" - $"s").cast(LongType).as("max_span"))
  }

  val dupSpansOracle: String =
    s"""WITH tok AS (SELECT doc_id, string_split($normSqlDuck, ' ') AS ts
       |             FROM documents),
       |ok AS (SELECT * FROM tok WHERE len(ts) >= $SpanL),
       |grams AS (SELECT doc_id, i,
       |                 md5(array_to_string(ts[i+1 : i+$SpanL], ' ')) AS g
       |          FROM (SELECT doc_id, ts,
       |                       unnest(range(len(ts) - ${SpanL - 1})) AS i
       |                FROM ok)),
       |dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
       |hits AS (SELECT doc_id, i FROM grams
       |         WHERE g IN (SELECT g FROM dupg)),
       |m AS (SELECT doc_id, i,
       |             lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
       |      FROM hits),
       |mi AS (SELECT doc_id, i,
       |              CASE WHEN prev IS NULL OR i > prev + ${SpanL - 1}
       |                   THEN 1 ELSE 0 END AS newi
       |       FROM m),
       |isl AS (SELECT doc_id, i,
       |               sum(newi) OVER (PARTITION BY doc_id ORDER BY i
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |                 AS isl
       |        FROM mi),
       |spans AS (SELECT doc_id, isl, count(*) AS grams,
       |                 min(i) AS s, max(i) + $SpanL AS e
       |          FROM isl GROUP BY 1, 2)
       |SELECT doc_id, cast(sum(grams) AS BIGINT) AS n_dup_windows,
       |       count(*) AS n_spans,
       |       cast(sum(e - s) AS BIGINT) AS dup_tokens,
       |       cast(max(e - s) AS BIGINT) AS max_span
       |FROM spans GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // d11: SPAN-TRIM MATERIALIZATION — the cleaned corpus Lee et al. 2022
  // actually produce. d10 MEASURES duplicated spans; d11 CONSUMES the
  // measurement: every duplicated window occurrence except the corpus-
  // global FIRST is removed from its document, overlapping removals
  // merge into maximal spans, and the kept tokens re-join into the
  // trimmed text downstream packing (c05/c08/c12 and the curation
  // pipeline's curated_packing/train_split_packing) reads. First
  // occurrence = lexicographic min (doc_id, window index), so the
  // earliest copy in corpus order survives and re-running over an
  // append (new doc_ids strictly above the watermark) can never change
  // an already-trimmed document — the property CurationPipeline's
  // incremental leg relies on.
  // ------------------------------------------------------------------

  /** Oracle-side packed (doc_id, i) ordinal — `doc_id * 2^21 + i`
    * ranks identically to the engine's `min(struct(doc_id, i))` as
    * long as every document holds < 2^21 (~2M) window positions, which
    * the test corpus satisfies by orders of magnitude. The ENGINE uses
    * the unpacked struct min (no bound at 100 TB); only the DuckDB
    * replay packs, because its aggregate min over anonymous structs is
    * not guaranteed across versions. */
  private[models] val SpanKeyPack = 1L << 21

  /** Removal positions over a window stream `(doc_id, i, g)`: every
    * occurrence of a duplicated gram except the global first.
    *
    * `knownGrams` (incremental catch-up): grams already present in the
    * processed corpus — ANY new occurrence of a known gram is non-first
    * by the doc_id-watermark argument, so it is removed outright and
    * the batch-internal first-occurrence rule applies only to grams the
    * corpus has never seen. Passing the historical gram set here makes
    * batch trim ≡ full-rebuild trim exactly (CurationPipelineSpec).
    *
    * Skew shape: same discipline as d08/d10 this round — the per-gram
    * stats are ALGEBRAIC aggregates (count + min(struct), map-side
    * combined), never a content-hash window; the join back is a plain
    * equi-join AQE's skew split can subdivide. The stream is consumed
    * by two (with `knownGrams`, three) branches but NEVER executor-
    * cached here — it is corpus-token grain; corpus-scale callers pass
    * the parquet-materialized [[spanGramStream]] and batch-scale
    * callers (the pipeline's incremental leg) derive it from an
    * already-persisted batch frame.
    */
  private[graft] def removalPositionsOf(
      grams: DataFrame,
      knownGrams: Option[DataFrame] = None): DataFrame = {
    import grams.sparkSession.implicits._
    val stats = grams.groupBy($"g")
      .agg(count(lit(1)).as("cnt"),
        min(struct($"doc_id", $"i")).as("fo"))
    val batchRemoved = grams.join(stats, Seq("g"))
      .filter($"cnt" >= 2 && struct($"doc_id", $"i") =!= $"fo")
      .select($"doc_id", $"i")
    knownGrams match {
      case None => batchRemoved
      case Some(kg) =>
        // occurrences of historically-known grams are non-first by
        // construction (their first holder has a smaller doc_id)
        val knownRemoved = grams
          .join(kg.select($"g"), Seq("g"), "left_semi")
          .select($"doc_id", $"i")
        batchRemoved.unionByName(knownRemoved).distinct()
    }
  }

  /** Island-merge removal positions into maximal half-open token spans
    * `(doc_id, s, e)` — intervals share width [[SpanL]], so ends are
    * monotone in starts and a span breaks exactly when the gap exceeds
    * SpanL−1 (same doc-bounded window as d10's island merge; the
    * partition key is doc_id, never a content hash). */
  private[graft] def mergeRemovalSpans(rem: DataFrame): DataFrame = {
    import rem.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"doc_id").orderBy($"i")
    rem
      .withColumn("prev", lag($"i", 1).over(w))
      .withColumn("newi",
        when($"prev".isNull || $"i" > $"prev" + (SpanL - 1), 1L)
          .otherwise(0L))
      .withColumn("isl", sum($"newi").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"isl")
      .agg(min($"i").as("s"), (max($"i") + SpanL).as("e"))
      .select($"doc_id", $"s", $"e")
  }

  /** Token-level trim: drop every token position covered by a removal
    * span. Returns the doc frame plus `ts` (original tokens) and `kept`
    * (surviving tokens) — doc-grain throughout: spans collect into one
    * doc-bounded array and the filter runs inside the row (no
    * token-grain shuffle; per-row cost is tokens × spans, both
    * doc-bounded). */
  private[graft] def trimFrame(docs: DataFrame, spans: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val perDoc = spans.groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"s", $"e"))).as("rm"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .withColumn("ts", tokens($"text"))
      .withColumn("kept",
        when($"rm".isNull, $"ts").otherwise(
          filter($"ts", (t, j) =>
            !exists($"rm", r =>
              j >= r.getField("s") && j < r.getField("e")))))
      .drop("rm")
  }

  /** The span-trimmed corpus, schema-identical to `documents` (so a
    * `<dir>/documents.parquet` materialization is Tables-resolvable):
    * `text` holds the kept tokens re-joined on single spaces (the
    * shared normalization — re-tokenizing the trimmed text is exact),
    * `n_chars` is refreshed to the trimmed length. Row count is
    * preserved: a fully-duplicated document trims to empty text rather
    * than disappearing (verdicts are the funnel's job, not the
    * trimmer's). */
  def spanTrimmedFrom(docs: DataFrame): DataFrame =
    trimmedCorpusFrame(docs,
      mergeRemovalSpans(removalPositionsOf(spanGramsOf(docs))))

  /** sfDir entry point of the trim: the gram stream comes from the
    * session-materialized [[spanGramStream]] parquet (shared with
    * d10/d11), so repeated trim consumers never re-explode the corpus
    * and nothing corpus-token-grain is executor-cached. */
  /** Removal positions over the session's gram stream, materialized —
    * the (doc_id, i) set is computed from the token-grain stream by a
    * count+min(struct) aggregate over every gram, and BOTH the d11
    * audit query and the c05/c08/c12 packing corpus (span_trimmed_docs)
    * need it; one session build serves all (the pipeline's analog is
    * its persisted span bookkeeping). Output is removal-position grain
    * (≪ token grain). */
  private[graft] def spanRemovalPositions(
      spark: SparkSession, sfDir: String): DataFrame =
    Shared.materialized("span_removal_positions", spark, sfDir) {
      removalPositionsOf(spanGramStream(spark, sfDir))
    }

  private[graft] def spanTrimmed(
      spark: SparkSession, sfDir: String): DataFrame =
    trimmedCorpusFrame(Tables.documents(spark, sfDir),
      mergeRemovalSpans(spanRemovalPositions(spark, sfDir)))

  /** The documents-schema tail of the trim, parameterized on the span
    * set — the incremental pipeline leg feeds spans computed against
    * the HISTORICAL gram table here (see
    * [[removalPositionsOf]]'s `knownGrams`). */
  private[graft] def trimmedCorpusFrame(
      docs: DataFrame, spans: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    trimFrame(docs, spans)
      .withColumn("text", concat_ws(" ", $"kept"))
      .withColumn("n_chars", length($"text").cast(LongType))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** d11: the per-document trim audit + cleaned text the driver
    * verifies — original token count, kept/removed token mass, and the
    * trimmed text itself (hash-compared string-exact against the
    * DuckDB replay). */
  def spanTrim(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    trimFrame(docs,
      mergeRemovalSpans(spanRemovalPositions(spark, sfDir)))
      .select($"doc_id", $"lang",
        size($"ts").cast(LongType).as("n_tokens"),
        size($"kept").cast(LongType).as("kept_tokens"),
        (size($"ts") - size($"kept")).cast(LongType).as("removed_tokens"),
        concat_ws(" ", $"kept").as("clean_text"))
  }

  /** Shared DuckDB CTE chain ending in
    * `trimmed(doc_id, lang, source, text, n_tokens, kept_tokens)` —
    * the span-trim replay d11/c05/c08/c12 oracles compose. Names are
    * `st_`-prefixed so downstream oracles can add their own CTEs. */
  private[models] val spanTrimSqlCtes: String =
    s"""st_tok AS (SELECT doc_id, lang, source,
       |                  string_split($normSqlDuck, ' ') AS ts
       |           FROM documents),
       |st_grams AS (SELECT doc_id, i,
       |                    md5(array_to_string(ts[i+1 : i+$SpanL], ' ')) AS g
       |             FROM (SELECT doc_id, ts,
       |                          unnest(range(len(ts) - ${SpanL - 1})) AS i
       |                   FROM st_tok WHERE len(ts) >= $SpanL)),
       |st_gs AS (SELECT g, count(*) AS cnt,
       |                 min(doc_id * $SpanKeyPack + i) AS fo
       |          FROM st_grams GROUP BY g),
       |st_rem AS (SELECT doc_id, i FROM st_grams JOIN st_gs USING (g)
       |           WHERE cnt >= 2 AND doc_id * $SpanKeyPack + i <> fo),
       |st_m AS (SELECT doc_id, i,
       |                lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
       |         FROM st_rem),
       |st_isl AS (SELECT doc_id, i,
       |                  sum(CASE WHEN prev IS NULL OR i > prev + ${SpanL - 1}
       |                           THEN 1 ELSE 0 END)
       |                    OVER (PARTITION BY doc_id ORDER BY i
       |                          ROWS BETWEEN UNBOUNDED PRECEDING
       |                          AND CURRENT ROW) AS isl
       |           FROM st_m),
       |st_spans AS (SELECT doc_id, min(i) AS s, max(i) + $SpanL AS e
       |             FROM st_isl GROUP BY doc_id, isl),
       |st_pos AS (SELECT doc_id, i, ts[i+1] AS tok
       |           FROM (SELECT doc_id, ts, unnest(range(len(ts))) AS i
       |                 FROM st_tok)),
       |st_kept AS (SELECT p.doc_id, p.i, p.tok
       |            FROM st_pos p LEFT JOIN st_spans sp
       |              ON p.doc_id = sp.doc_id AND p.i >= sp.s AND p.i < sp.e
       |            WHERE sp.doc_id IS NULL),
       |st_clean AS (SELECT doc_id, count(*) AS kept_tokens,
       |                    string_agg(tok, ' ' ORDER BY i) AS clean_text
       |             FROM st_kept GROUP BY doc_id),
       |trimmed AS (SELECT t.doc_id, t.lang, t.source,
       |                   coalesce(c.clean_text, '') AS text,
       |                   cast(len(t.ts) AS BIGINT) AS n_tokens,
       |                   cast(coalesce(c.kept_tokens, 0) AS BIGINT)
       |                     AS kept_tokens
       |            FROM st_tok t LEFT JOIN st_clean c USING (doc_id))"""
      .stripMargin

  val spanTrimOracle: String =
    s"""WITH $spanTrimSqlCtes
       |SELECT doc_id, lang, n_tokens, kept_tokens,
       |       n_tokens - kept_tokens AS removed_tokens,
       |       text AS clean_text
       |FROM trimmed""".stripMargin

  /** d13: CONTAINMENT-TIER near-dup pairs (beyond-reference) — the
    * ASYMMETRIC duplication Jaccard is blind to (Broder 1997's two
    * resemblance measures): when doc B = doc A + appended comments/
    * boilerplate at 3× the length, Jaccard(A,B) ≈ |A|/|B| ≈ 0.33 and
    * the d07 threshold never fires, yet A is wholly redundant given B.
    * Containment = inter / min(|A|,|B|) scores the SMALLER side's
    * coverage: ≥ [[ContainPct]]% means one doc's shingle set lives
    * inside the other. Emitted per candidate pair: both sizes, the
    * containment score, and `is_asymmetric` — true exactly when this
    * tier caught a pair the symmetric Jaccard threshold (2·inter ≥
    * union) would have missed, i.e. the keep/drop decision d07 never
    * saw.
    *
    * Composition: reads the SAME materialized d03 candidate list and
    * shingle-digest table — no new corpus pass, two joins against the
    * (already computed) per-doc size aggregate. Candidates stay
    * minhash-banded: a snippet inside a 100× larger doc may not band-
    * collide (minhash sketches resemblance, not containment — Broder's
    * known trade); the gram-grain tier (d10/d11) catches that extreme
    * at exact-substring grain, so this tier targets the mid-range
    * (supersets/extensions at comparable scale) where banding does
    * collide. Scale: candidate-pair-linear, keys uniform md5s.
    */
  private[models] val ContainPct = 80

  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sizes = shingleDigests(spark, sfDir)
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
    lshNearDupPairs(spark, sfDir)
      .join(sizes.select($"doc_id".as("doc_a"), $"n".as("n_a")), Seq("doc_a"))
      .join(sizes.select($"doc_id".as("doc_b"), $"n".as("n_b")), Seq("doc_b"))
      .withColumn("n_small", least($"n_a", $"n_b"))
      .filter($"inter_count" * 100 >= $"n_small" * ContainPct)
      .withColumn("containment",
        (expr("(inter_count * 1000000) div n_small")
          .cast(DecimalType(20, 0)) *
          lit(new java.math.BigDecimal("0.000001")).cast(DecimalType(7, 6)))
          .cast(DecimalType(24, 6)))
      .withColumn("is_asymmetric", $"inter_count" * 2 < $"union_count")
      .select($"doc_a", $"doc_b", $"n_a", $"n_b", $"inter_count",
        $"containment", $"is_asymmetric")
  }

  lazy val containmentPairsOracle: String =
    s"""WITH $shingleSqlDuck,
       |hashed AS (SELECT doc_id, md5(shingle) AS h FROM dsh),
       |sizes AS (SELECT doc_id, count(*) AS n FROM hashed GROUP BY 1),
       |p AS (SELECT * FROM ($lshNearDupPairsOracle) t),
       |j AS (SELECT p.doc_a, p.doc_b, a.n AS n_a, b.n AS n_b,
       |             p.inter_count, p.union_count,
       |             least(a.n, b.n) AS n_small
       |      FROM p JOIN sizes a ON a.doc_id = p.doc_a
       |             JOIN sizes b ON b.doc_id = p.doc_b)
       |SELECT doc_a, doc_b, cast(n_a AS BIGINT) AS n_a,
       |       cast(n_b AS BIGINT) AS n_b, inter_count,
       |       cast(((inter_count * 1000000) // n_small) *
       |            cast(0.000001 AS DECIMAL(7,6)) AS DECIMAL(24,6))
       |         AS containment,
       |       inter_count * 2 < union_count AS is_asymmetric
       |FROM j WHERE inter_count * 100 >= n_small * $ContainPct""".stripMargin

  /** d12: QUALITY-AWARE CANONICAL REPRESENTATIVE (beyond-reference) —
    * d07 keeps each near-dup cluster's MIN doc_id; production corpus
    * builds (RefinedWeb §3.2, Penedo et al. 2023; Dolma's dedup keep
    * rule) keep the cluster's BEST document instead, because near-dup
    * copies differ in boilerplate, truncation, and OCR noise and the
    * arbitrary-id pick throws quality away. The canonical doc per
    * component = argmax (t03 quality_score, ties → min doc_id); every
    * clustered doc is emitted with its component, score, and the
    * keep/drop verdict.
    *
    * Shuffle shape: the argmax is `min(struct(-quality, doc_id))` per
    * component — an ALGEBRAIC aggregate (map-side combine; the d08
    * rewrite's idiom), NOT a rank window, so a pathological mega-
    * cluster (the boilerplate page duplicated everywhere) fans in
    * pre-combined per map task instead of serializing through one
    * window partition. d07's label table is session-materialized (one
    * fixpoint per session); the quality frame is a stateless
    * projection; both joins key on uniform doc_ids.
    */
  def canonicalRepresentative(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val labeled = nearDupClusters(spark, sfDir)
      .select($"doc_id", $"component_id")
    val scored = labeled.join(
      TextModels.docQuality(spark, sfDir)
        .select($"doc_id", $"quality_score"), Seq("doc_id"))
    val canon = scored.groupBy($"component_id")
      .agg(min(struct((-$"quality_score").as("nq"), $"doc_id".as("d")))
        .as("c"))
      .select($"component_id", $"c.d".as("canonical_doc"))
    scored.join(canon, Seq("component_id"))
      .select($"doc_id", $"component_id", $"quality_score",
        ($"doc_id" === $"canonical_doc").as("is_canonical"))
  }

  /** The oracle replays d07's recursive components, t03's doc-grain
    * quality, and the argmax as a per-component rank (semantics; the
    * Spark plan states the distribution strategy). */
  lazy val canonicalRepresentativeOracle: String =
    s"""WITH RECURSIVE ${TextModels.docQualityOracleCtes}
       |pairs AS (
       |  SELECT doc_a, doc_b FROM ($lshNearDupPairsOracle) t
       |  WHERE inter_count * 2 >= union_count),
       |edges AS (SELECT doc_a, doc_b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(doc_id, lbl) AS (
       |  SELECT DISTINCT doc_a, doc_a FROM edges
       |  UNION
       |  SELECT e.doc_a, r.lbl FROM reach r JOIN edges e ON e.doc_b = r.doc_id),
       |comp AS (SELECT doc_id, min(lbl) AS component_id
       |         FROM reach GROUP BY doc_id),
       |scored AS (SELECT c.doc_id, c.component_id, q.quality_score
       |           FROM comp c JOIN q_scored q USING (doc_id)),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY component_id
       |                  ORDER BY quality_score DESC, doc_id) AS rk
       |           FROM scored)
       |SELECT doc_id, component_id, quality_score, rk = 1 AS is_canonical
       |FROM ranked""".stripMargin
}
