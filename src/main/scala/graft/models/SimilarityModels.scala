package graft.models

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-dim).
  *
  * Two tiers (BASELINE.json north star):
  *  - s01: brute-force cosine top-k — the correctness baseline. The
  *    query side is a small fixed set, broadcast against the corpus, so
  *    the corpus is scanned once with no shuffle.
  *  - s02: random-hyperplane LSH buckets — the 100 TB scale path:
  *    8 signed projections → 8-bit bucket; ANN candidates are then only
  *    same-bucket pairs (bucket-partitioned join), shrinking the compare
  *    space by ~2^8 at constant recall/precision trade-off.
  *
  * Dot products run in double (`zip_with` multiply + sequential
  * `aggregate` fold — same left-to-right order DuckDB's list_sum uses),
  * then round to 6dp for cross-engine comparison.
  */
object SimilarityModels {
  import graft.catalog.Tables

  /** ANN codebook training sample: the fixed vec_id prefix. Vectors at
    * or above the cap can NEVER influence a codebook, so appending new
    * vectors leaves trained codebooks bit-identical — the add-after-
    * train property `runner.AnnIndexPipeline`'s incremental append (and
    * its spec's incremental ≡ full-rebuild pin) relies on, and the
    * train-on-sample posture production ANN takes at 100 TB (FAISS
    * trains on a bounded sample, then encodes the corpus).
    * (Declared ahead of the oracle `val`s that splice it — object vals
    * initialize in declaration order.) */
  private[graft] val AnnTrainCap = 256
  /** Fixed Lloyd iteration count — unrolled in the DuckDB oracles. */
  private[graft] val KmIters = 2

  /** PQ geometry (s05/s06/s07 + AnnIndexPipeline + StreamingAnnEncode):
    * [[PqM]] subspaces of [[PqSub]] dims (PqM·PqSub = 64), [[PqK]]
    * centroids per subspace — PqM·log2(PqK) = 192 bits = 24 bytes per
    * vector against 256 float bytes (~10.7×). Round 10 shipped 8×4-bit
    * codes (32 bits) and measured recall@5 of 0.22 (s05) / 0.30 (s06);
    * the public fix for weak PQ recall is finer sub-quantizers (Jégou
    * et al. 2011 §V: recall rises with both M and k*; Ge et al. 2013
    * add rotation), and 32×2-dim subspaces with 64 centroids measure
    * 0.78 / 0.66 / 0.72 (s05/s06/s07, `ann_bench.json`) — s06 within
    * 0.04 of its 0.70 coarse-probe ceiling (s03's recall with exact
    * in-cell scoring). The codebook stays tiny (PqM·PqK = 2048 rows,
    * broadcast) and the code table linear. PqK must stay ≤
    * [[AnnTrainCap]] (Lloyd seeds are the id < PqK training prefix). */
  private[graft] val PqM = 32
  private[graft] val PqSub = 2
  private[graft] val PqK = 64

  /** Dot product via the native codegen'd expression
    * (graft.functions.FloatDotProduct) — identical fold order and double
    * arithmetic to the builtin `aggregate(zip_with(...))` formulation it
    * replaced, but whole-stage-codegen'd instead of interpreted.
    * Resolved through the PUBLIC `call_function` API against the
    * session's registered `float_dot` (every builder here registers it
    * idempotently first) — no private Spark API in the hot path.
    */
  private def dotD(a: Column, b: Column): Column =
    call_function("float_dot", a, b)

  /** Every similarity builder runs through this: make sure the native
    * function is registered on the caller's session (idempotent — a
    * GraftSession/GraftExtensions session already has it). */
  private def withFloatDot(spark: SparkSession): Unit =
    graft.functions.GraftFunctions.register(spark)

  /** s01: exact cosine top-5 per query vector (queries = vec_id < 10),
    * self-match excluded. Deterministic order: rounded similarity desc,
    * then cand_id.
    *
    * Session-memoized (`Shared.materialized`): the exact ranking is the
    * GROUND-TRUTH table of the ANN tier — s11's recall audit reads it
    * beside the approximate ranking, exactly the stored ground-truth
    * convention every offline ANN benchmark uses (FAISS's bench
    * harness ships SIFT/GIST ground-truth files rather than re-running
    * brute force per audit). First consumer (s01 itself in bench
    * order) pays the one corpus scan; the audit reads the 50-row
    * parquet instead of re-scanning the corpus.
    */
  def cosineTopK(spark: SparkSession, sfDir: String): DataFrame =
    Shared.materialized("s01_cosine_topk", spark, sfDir) {
      cosineTopKBuild(spark, sfDir)
    }

  private def cosineTopKBuild(spark: SparkSession, sfDir: String): DataFrame = {
    withFloatDot(spark)
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    // precompute each side's norm ONCE per vector — the higher-order-
    // function fold is interpreted (not codegen), so recomputing norms
    // per (query, cand) pair would triple the hot-loop cost
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        sqrt(dotD($"embedding", $"embedding")).as("q_norm"))
    val corpus = emb
      .select($"vec_id".as("cand_id"), $"embedding".as("c_emb"),
        $"label".as("cand_label"),
        sqrt(dotD($"embedding", $"embedding")).as("c_norm"))
    val sim = round(
      dotD($"q_emb", $"c_emb") / ($"q_norm" * $"c_norm"),
      6).cast(DecimalType(24, 6))
    val scored = corpus.join(broadcast(queries), $"query_id" =!= $"cand_id")
      .withColumn("cosine_sim", sim)
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine_sim".desc, $"cand_id")
    scored
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"query_id", $"cand_id", $"cand_label", $"cosine_sim",
        $"rk".cast(LongType).as("sim_rank"))
  }

  val cosineTopKOracle: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS cand_id, embedding AS c_emb, label AS cand_label FROM embeddings),
      |scored AS (
      |  SELECT q.query_id, c.cand_id, c.cand_label,
      |         cast(round(
      |           list_sum(list_transform(range(64), i -> cast(q_emb[i+1] AS DOUBLE) * cast(c_emb[i+1] AS DOUBLE))) /
      |           (sqrt(list_sum(list_transform(range(64), i -> cast(q_emb[i+1] AS DOUBLE) * cast(q_emb[i+1] AS DOUBLE)))) *
      |            sqrt(list_sum(list_transform(range(64), i -> cast(c_emb[i+1] AS DOUBLE) * cast(c_emb[i+1] AS DOUBLE))))),
      |           6) AS DECIMAL(24,6)) AS cosine_sim
      |  FROM q JOIN c ON q.query_id <> c.cand_id),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |                      ORDER BY cosine_sim DESC, cand_id) AS rk
      |           FROM scored)
      |SELECT query_id, cand_id, cand_label, cosine_sim,
      |       cast(rk AS BIGINT) AS sim_rank
      |FROM ranked WHERE rk <= 5""".stripMargin

  /** s02: random-hyperplane LSH bucketing. Plane p's weight on dim d is
    * ±1 from the parity of the first hex digit of md5("p:d") — a
    * deterministic pseudo-random hyperplane both engines reproduce.
    * Output: per-bucket population + label diversity (the ANN candidate
    * generator's bucket histogram).
    */
  /** Plane p's ±1 weights, derived at plan time from md5("p:d") hex-digit
    * parity — byte-identical to the oracle's SQL derivation (the first
    * hex digit is the high nibble of digest byte 0).
    */
  private def planeWeights(p: Int): Array[Float] = {
    val mdInst = java.security.MessageDigest.getInstance("MD5")
    (0 until 64).map { d =>
      val digest = mdInst.digest(s"$p:$d".getBytes("UTF-8"))
      val firstHexDigit = (digest(0) >> 4) & 0xf
      ((firstHexDigit % 2) * 2 - 1).toFloat
    }.toArray
  }

  /** s03: IVF-style ANN — coarse quantization + cell-pruned search, the
    * second classic ANN scale path alongside s02's LSH. The codebook is
    * a REAL trained k-means codebook ([[coarseCodebook]]: deterministic
    * fixed-iteration Lloyd with cosine assignment over the fixed
    * [[AnnTrainCap]] training prefix), replayed bit-for-bit by the
    * DuckDB oracle through [[KMeans.oracleCtes]]. The query shape is
    * the production one: train on a bounded sample, broadcast the tiny
    * codebook; assign = argmax cosine over C (one corpus pass);
    * search = probe the query's nprobe=2 nearest cells only, then exact
    * cosine top-3 inside them.
    *
    * Scale: the corpus join key is the cell id, so search touches
    * ~nprobe/C of the corpus; assignment is a broadcast nested loop
    * over a CONSTANT 16-row side (bounded, not data-dependent — unlike
    * d03's candidate set this broadcast cannot grow with the corpus),
    * and training never reads past the constant-size sample.
    * Similarities round to 6dp before ranking so rank ties break
    * identically across engines.
    *
    * Fixture honesty note: the synthetic embeddings are near-isotropic
    * (no real cluster structure), where a data-point quantizer enjoys a
    * hub effect trained means cannot (measured recall@3 0.97 → 0.70 on
    * sf0.01, flat from Lloyd iteration 1 through 10). What training
    * buys — and what the specs pin — is the quantization-error drop
    * (PqAnnSpec/IvfPqAnnSpec SSE assertions), which is the property
    * that transfers to real clustered corpora.
    */
  def ivfAnnTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (_, top2) = ivfIndex(spark, sfDir)
    val assigned = top2.filter($"crk" === 1)
      .select($"vec_id".as("cand_id"), $"v".as("c_v"),
        $"norm".as("c_norm"), $"cid".as("cell"))
    val qcells = top2.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("q_v"),
        $"norm".as("q_norm"), $"cid".as("cell"))
    val sim = round(
      dotArr($"q_v", $"c_v") / ($"q_norm" * $"c_norm"), 6)
      .cast(DecimalType(24, 6))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine_sim".desc, $"cand_id")
    assigned.join(broadcast(qcells), Seq("cell"))
      .filter($"query_id" =!= $"cand_id")
      .withColumn("cosine_sim", sim)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"query_id", $"cand_id", $"cell",
        $"cosine_sim", $"rk".cast(LongType).as("sim_rank"))
  }

  val ivfAnnTopKOracle: String =
    ivfIndexOracleCtes +
      s"""assigned AS (SELECT vec_id AS cand_id, v AS c_v, norm AS c_norm,
         |                    cid AS cell
         |             FROM ranked WHERE crk = 1),
         |qcells AS (SELECT vec_id AS query_id, v AS q_v, norm AS q_norm,
         |                  cid AS cell
         |           FROM ranked WHERE vec_id < 10 AND crk <= 2),
         |scored AS (
         |  SELECT q.query_id, a.cand_id, a.cell,
         |         cast(round(${sqlDot("q.q_v", "a.c_v")} / (q.q_norm * a.c_norm), 6)
         |              AS DECIMAL(24,6)) AS cosine_sim
         |  FROM assigned a JOIN qcells q ON a.cell = q.cell
         |  WHERE q.query_id <> a.cand_id)
         |SELECT query_id, cand_id, cell, cosine_sim,
         |       cast(row_number() OVER (PARTITION BY query_id
         |              ORDER BY cosine_sim DESC, cand_id) AS BIGINT) AS sim_rank
         |FROM scored
         |QUALIFY sim_rank <= 3""".stripMargin

  /** s04: scalar-quantized (SQ8) ANN — the MEMORY-bounded vector path
    * beside s02's LSH (compare-space pruning) and s03's IVF (scan
    * pruning). Each float dim is quantized to an 8-bit code against a
    * per-dimension (min, max) codebook: 64 bytes per vector instead of
    * 256 — the 4× compression that decides whether a 100 TB embedding
    * corpus fits executor memory at all. Search is asymmetric (ADC):
    * queries stay full-precision; candidates score against their
    * DEQUANTIZED vectors (code center `min + (c + 0.5)·(max−min)/255`),
    * so the only error is the quantization itself.
    *
    * The codebook is a 64-row aggregate collected once and folded into
    * the plan as array literals — in production it is a tiny offline
    * artifact (like s03's codebook) broadcast with the job, and the
    * per-candidate recon+dot collapses into a 256-entry-per-dim lookup
    * table added over the code bytes; the query SHAPE here (one corpus
    * scan over codes, constant-size side) is exactly that plan.
    *
    * Everything runs in IEEE double with the same operation order as
    * the DuckDB oracle (min/max of floats are exact, so the codebook is
    * bit-identical across engines), and similarities round to 6dp
    * before ranking — the s01 determinism contract.
    */
  def sq8AnnTopK(spark: SparkSession, sfDir: String): DataFrame = {
    withFloatDot(spark)
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val stats = emb.select(posexplode($"embedding").as(Seq("d", "v")))
      .groupBy($"d").agg(min($"v").as("mn"), max($"v").as("mx"))
      .orderBy($"d").as[(Int, Float, Float)].collect()
    val mn = typedLit(stats.map(_._2.toDouble))
    val mx = typedLit(stats.map(_._3.toDouble))
    // quantize → dequantize in one pass: r_emb is the float vector the
    // code bytes reconstruct to (the interpreted lambda runs once per
    // vector at index-build time, not in the scoring loop)
    val recon = emb.select($"vec_id", $"label",
      transform($"embedding", (v, i) => {
        val lo = element_at(mn, i + 1)
        val hi = element_at(mx, i + 1)
        val code = when(hi === lo, lit(0L)).otherwise(
          least(greatest(
            floor((v.cast(DoubleType) - lo) * 255 / (hi - lo)),
            lit(0L)), lit(255L)))
        (lo + (code + lit(0.5d)) * (hi - lo) / 255).cast(FloatType)
      }).as("r_emb"))
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        sqrt(dotD($"embedding", $"embedding")).as("q_norm"))
    val cands = recon.select($"vec_id".as("cand_id"),
      $"label".as("cand_label"), $"r_emb",
      sqrt(dotD($"r_emb", $"r_emb")).as("r_norm"))
    val sim = round(
      dotD($"q_emb", $"r_emb") / ($"q_norm" * $"r_norm"),
      6).cast(DecimalType(24, 6))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cosine_sim_sq8".desc, $"cand_id")
    cands.join(broadcast(queries), $"query_id" =!= $"cand_id")
      .withColumn("cosine_sim_sq8", sim)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"query_id", $"cand_id", $"cand_label", $"cosine_sim_sq8",
        $"rk".cast(LongType).as("sim_rank"))
  }

  val sq8AnnTopKOracle: String = {
    def dot(a: String, b: String): String =
      s"list_sum(list_transform(range(64), i -> cast($a[i+1] AS DOUBLE) * cast($b[i+1] AS DOUBLE)))"
    s"""WITH st AS (
       |  SELECT i, cast(min(v) AS DOUBLE) AS mn, cast(max(v) AS DOUBLE) AS mx
       |  FROM (SELECT unnest(embedding) AS v, unnest(range(64)) AS i
       |        FROM embeddings)
       |  GROUP BY i),
       |cb AS (SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx
       |       FROM st),
       |recon AS (
       |  SELECT e.vec_id, e.label,
       |         list_transform(range(64), i -> cast(
       |           cb.mn[i+1] +
       |           ((CASE WHEN cb.mx[i+1] = cb.mn[i+1] THEN 0
       |             ELSE least(greatest(floor(
       |               (cast(e.embedding[i+1] AS DOUBLE) - cb.mn[i+1]) * 255
       |               / (cb.mx[i+1] - cb.mn[i+1])), 0), 255) END) + 0.5)
       |           * (cb.mx[i+1] - cb.mn[i+1]) / 255 AS REAL)) AS r_emb
       |  FROM embeddings e CROSS JOIN cb),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb,
       |             sqrt(${dot("embedding", "embedding")}) AS q_norm
       |      FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS cand_id, label AS cand_label, r_emb,
       |             sqrt(${dot("r_emb", "r_emb")}) AS r_norm
       |      FROM recon),
       |scored AS (
       |  SELECT q.query_id, c.cand_id, c.cand_label,
       |         cast(round(${dot("q.q_emb", "c.r_emb")} / (q.q_norm * c.r_norm), 6)
       |              AS DECIMAL(24,6)) AS cosine_sim_sq8
       |  FROM q JOIN c ON q.query_id <> c.cand_id)
       |SELECT query_id, cand_id, cand_label, cosine_sim_sq8,
       |       cast(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cosine_sim_sq8 DESC, cand_id) AS BIGINT) AS sim_rank
       |FROM scored
       |QUALIFY sim_rank <= 5""".stripMargin
  }

  /** s05: product-quantized (PQ) ANN with ADC lookup-table scoring —
    * the deepest memory tier of the family: s02 prunes the COMPARE
    * space (LSH buckets), s03 prunes the SCAN (IVF cells), s04 shrinks
    * each vector 4× (SQ8); PQ shrinks it ~26×. The 64-dim vector splits
    * into [[PqM]] subspaces of [[PqSub]] dims; each subvector is
    * replaced by the id of its nearest (L2) per-subspace centroid —
    * PqM codes of log2([[PqK]]) bits = 24 bytes per vector against 256
    * float bytes (see [[PqM]]'s scaladoc for the recall-driven
    * geometry choice). The codebook is a REAL
    * per-subspace k-means codebook ([[pqCodebook]]: deterministic
    * fixed-iteration Lloyd under L2 over the [[AnnTrainCap]] training
    * prefix, replayed exactly by the oracle via [[KMeans.oracleCtes]];
    * a production codebook arrives as the same tiny dim table).
    *
    * Search is the canonical ADC (asymmetric distance computation)
    * shape: per query, ONE M×C lookup table of partial dots
    * (query-subvector · centroid) is built against the constant
    * codebook and broadcast; scanning the code table then scores each
    * candidate with M table lookups and NO float math on the corpus
    * side — `Σ_m LUT[m, code_m]`, grouped map-side. That constant-side
    * broadcast + single code-table pass is exactly the 100 TB plan
    * (FAISS IndexPQ's scan, distributed); composing it with s03's cell
    * assignment (probe cells, then ADC inside) is IVF-PQ with no new
    * machinery.
    *
    * Determinism: subspace distances round to 6dp (ties by centroid
    * id); LUT partials round to 9dp and sum as DECIMAL(28,9) — decimal
    * addition is exact and order-free, so the 8-way sums match DuckDB
    * bit-for-bit without relying on double-summation order inside a
    * shuffle; the approximate cosine (ADC dot over q-norm ×
    * reconstructed-norm) rounds to 6dp before ranking (the s01
    * contract).
    */
  def pqAnnTopK(spark: SparkSession, sfDir: String): DataFrame = {
    withFloatDot(spark)
    import spark.implicits._
    val emb = doubledEmb(Tables.embeddings(spark, sfDir))
    val subs = emb
      .select($"vec_id",
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), $"v")
      .select($"vec_id", $"m",
        slice($"v", $"m" * PqSub + 1, lit(PqSub)).as("sub"))
    // materialized, not cached: the codes/lut branches each reference
    // the codebook, and a cache clear would re-run training per branch
    val cents = Shared.materialized("pq_cents", spark, sfDir) {
      pqCodebook(subs)
    }
    // index build: one corpus pass against the 128-row constant
    // codebook — session-memoized as a materialized table (the s06
    // convention): in production this IS the searchable 4-byte-per-
    // vector code table, built once and appended incrementally, and
    // every search reads the codes instead of re-encoding the corpus
    val codes = Shared.materialized("pq_codes", spark, sfDir) {
      // PACKED to one row per vector (codes(m) = subspace m's code) —
      // the FAISS IndexPQ code-string layout (see encodeAgainst) — with
      // the candidate's reconstructed self-dot Σ_m ‖cent(m,code_m)‖²
      // stored BESIDE the codes: it depends only on the candidate, so
      // computing it once at index-build time (the stored-norm FAISS
      // convention s06's vnorm already uses) removes half the per-
      // (query, candidate) fold work from every search. Same exact
      // decimal sum as the old per-pair aggregate, so values match.
      val coded = subs.join(broadcast(cents), Seq("m"))
        .withColumn("dist", round(l2Arr($"sub", $"cent"), 6))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"vec_id", $"m").orderBy($"dist", $"cid")))
        .filter($"rk" === 1)
      coded
        .join(broadcast(cents
          .select($"m", $"cid",
            // unscaled scale-9 long (see lutFold) so the per-vector
            // stored-norm sum below is a codegen long buffer, not a
            // (38,9) BigDecimal add per (vector, m) row
            call_function("unscaled_long",
              round(dotArr($"cent", $"cent"), 9)
                .cast(DecimalType(28, 9))).as("cent_sq"))), Seq("m", "cid"))
        .groupBy($"vec_id")
        .agg(packedBy($"m", $"cid").as("codes"),
          call_function("long_to_decimal", sum($"cent_sq"),
            lit(28), lit(9)).as("c_sq"))
    }
    // the per-query ADC lookup table, packed to one array row per query
    // (index m·PqK + code): partial dots, exact-decimal so the
    // per-candidate fold is order-free — see lutFold (bit-identical to
    // the hash-aggregate sums it replaces)
    val lut = subs.filter($"vec_id" < 10)
      .join(broadcast(cents), Seq("m"))
      .select($"vec_id".as("query_id"),
        ($"m" * PqK + $"cid").as("idx"),
        // packed as the 9dp partial's unscaled long — see lutFold
        call_function("unscaled_long",
          round(dotArr($"sub", $"cent"), 9)
            .cast(DecimalType(28, 9))).as("partial"))
    val qn = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"norm".as("q_norm"))
    // one broadcast side per query: the LUT array + the query norm
    // (the constant per-query-batch artifact the r15 verdict's fusion
    // ask names). The corpus side is ONE pass over N packed code rows —
    // no M-fold explode, no (m, code) join, no per-query groupBy
    // Exchange (guide §2.3/§2.4).
    val qside = lut.groupBy($"query_id")
      .agg(packedBy($"idx", $"partial").as("lutp"))
      .join(qn, Seq("query_id"))
    val sim = round(
      $"adc_dot".cast(DoubleType) /
        ($"q_norm" * sqrt($"c_sq".cast(DoubleType))), 6)
      .cast(DecimalType(24, 6))
    codes.crossJoin(broadcast(qside))
      .filter($"query_id" =!= $"vec_id")
      .withColumn("adc_dot", lutFold($"codes", $"lutp", PqK, PqM))
      .withColumnRenamed("vec_id", "cand_id")
      .withColumn("pq_sim", sim)
      .withColumn("rk", row_number().over(
        Window.partitionBy($"query_id").orderBy($"pq_sim".desc, $"cand_id")))
      .filter($"rk" <= 5)
      .select($"query_id", $"cand_id", $"pq_sim",
        $"rk".cast(LongType).as("sim_rank"))
  }

  val pqAnnTopKOracle: String = {
    def dot8(a: String, b: String): String =
      s"list_sum(list_transform(range($PqSub), i -> $a[i+1] * $b[i+1]))"
    def l2sq(a: String, b: String): String =
      s"list_sum(list_transform(range($PqSub), i -> ($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1])))"
    def dot64(a: String, b: String): String =
      s"list_sum(list_transform(range(64), i -> $a[i+1] * $b[i+1]))"
    val head =
      s"""WITH base AS (SELECT vec_id,
         |                     list_transform(embedding, x -> cast(x AS DOUBLE)) AS v
         |              FROM embeddings),
         |ms AS (SELECT unnest(range($PqM)) AS m),
         |subs AS (SELECT b.vec_id, ms.m,
         |                list_slice(b.v, ms.m*$PqSub+1, ms.m*$PqSub+$PqSub) AS sub
         |         FROM base b CROSS JOIN ms),
         |km5_train AS (SELECT m AS grp, vec_id AS id, sub AS v FROM subs
         |              WHERE vec_id < $AnnTrainCap),
         |""".stripMargin
    val tail =
      s"""cents AS (SELECT grp AS m, cid, cv AS cent FROM km5_cents),
       |codes AS (
       |  SELECT vec_id, m, cid AS code FROM (
       |    SELECT s.vec_id, s.m, c.cid,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY round(${l2sq("s.sub", "c.cent")}, 6), c.cid) AS rk
       |    FROM subs s JOIN cents c ON s.m = c.m)
       |  WHERE rk = 1),
       |lut AS (SELECT s.vec_id AS query_id, s.m, c.cid AS code,
       |               cast(round(${dot8("s.sub", "c.cent")}, 9) AS DECIMAL(28,9)) AS partial,
       |               cast(round(${dot8("c.cent", "c.cent")}, 9) AS DECIMAL(28,9)) AS cent_sq
       |        FROM subs s JOIN cents c ON s.m = c.m
       |        WHERE s.vec_id < 10),
       |qn AS (SELECT vec_id AS query_id,
       |              sqrt(${dot64("v", "v")}) AS q_norm
       |       FROM base WHERE vec_id < 10),
       |scored AS (SELECT l.query_id, k.vec_id AS cand_id,
       |                  sum(l.partial) AS adc_dot, sum(l.cent_sq) AS c_sq
       |           FROM codes k JOIN lut l ON l.m = k.m AND l.code = k.code
       |           GROUP BY 1, 2),
       |final AS (
       |  SELECT s.query_id, s.cand_id,
       |         cast(round(cast(s.adc_dot AS DOUBLE) /
       |              (q.q_norm * sqrt(cast(s.c_sq AS DOUBLE))), 6)
       |              AS DECIMAL(24,6)) AS pq_sim
       |  FROM scored s JOIN qn q USING (query_id)
       |  WHERE s.query_id <> s.cand_id)
       |SELECT query_id, cand_id, pq_sim,
       |       cast(row_number() OVER (PARTITION BY query_id
       |              ORDER BY pq_sim DESC, cand_id) AS BIGINT) AS sim_rank
       |FROM final
       |QUALIFY sim_rank <= 5""".stripMargin
    head + KMeans.oracleCtes("km5", "km5_train", PqK, KmIters, PqSub,
      cosine = false) + tail
  }

  /** s06: IVF-PQ — the composed 100 TB ANN architecture: s03's coarse
    * quantizer prunes the SCAN (only `nprobe`=2 of C=16 cells are
    * touched per query) and a residual product quantizer shrinks each
    * stored vector to M=8 4-bit codes scored by ADC lookup tables — the
    * FAISS `IndexIVFPQ` design (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011) expressed as DataFrame ops.
    *
    * Residual encoding is what makes it IVF-PQ rather than IVF followed
    * by PQ: each vector is coded as (cell, PQ codes of `v − cell
    * centroid`), so the quantizer spends its 4 bytes on the small
    * residual, not the full vector. The reconstruction identities used
    * at search time (all constant-side):
    *   dot(q, v̂)  = dot(q, cent_cell) + Σ_m LUT_q[m, code_m]
    *   ‖v̂‖²      = ‖cent_cell‖² + 2·Σ_m CROSS[cell, m, code_m]
    *                + Σ_m RSQ[m, code_m]
    * where LUT_q is the per-query table of query-subvector · residual-
    * centroid partial dots, CROSS the cell-centroid-subvector · residual-
    * centroid dots, and RSQ the residual-centroid self-dots. Every term
    * is rounded to 9dp and summed as DECIMAL(28,9) (order-free exact
    * addition — the s05 contract), so the 8-way sums match DuckDB
    * regardless of shuffle order.
    *
    * Both codebooks are REAL trained k-means ([[coarseCodebook]] /
    * [[residualCodebook]]: deterministic fixed-iteration Lloyd over the
    * fixed [[AnnTrainCap]] training prefix), so the oracle replays the
    * index build exactly via [[KMeans.oracleCtes]]. In production both
    * arrive as tiny dim tables from an offline k-means job over a
    * corpus sample; the query shape is identical.
    *
    * Scale: the corpus-sized tables are the assignment pass (one scan ×
    * constant 16-row broadcast) and the code table (8 short rows — in
    * production 4 packed bytes — per vector). Search reads the code
    * table pruned to the probed cells via a ~20-row broadcast, then
    * scores with THREE constant-size broadcast lookups (≤2048 rows) and
    * one (query, cand)-grouped decimal sum — no float math and no
    * full-precision vectors on the corpus side, Σ cellᵢ² bounded scan.
    */
  /** Left-to-right double dot/L2 folds (DuckDB list_sum's order) —
    * shared by the trained-ANN tier (KMeans, cell assignment, residual
    * coding, d09 pair scoring) and the materialized index pipeline.
    * Since round 9 these resolve to the native codegen expressions
    * `double_dot`/`double_l2` (graft.functions) — identical fold order
    * and double arithmetic to the builtin `aggregate(zip_with(...))`
    * they replaced (every oracle comparison unchanged), but a tight
    * generated loop instead of interpreted per-element lambdas. Every
    * session here comes from GraftSession/TestSpark (which register)
    * or a builder that called [[withFloatDot]]. */
  private[graft] def dotArr(a: Column, b: Column): Column =
    call_function("double_dot", a, b)
  private[graft] def l2Arr(a: Column, b: Column): Column =
    call_function("double_l2", a, b)

  /** All-double mirror of an embeddings frame (residual arithmetic must
    * be bit-identical to DuckDB, which has no float32 list math). */
  private[graft] def doubledEmb(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    emb.select($"vec_id",
        transform($"embedding", x => x.cast(DoubleType)).as("v"))
      .withColumn("norm", sqrt(dotArr($"v", $"v")))
  }

  /** Coarse IVF codebook: k=16 cosine-assignment k-means
    * ([[KMeans.lloyd]]) over the training prefix of a [[doubledEmb]]
    * frame. Output (cid, cv, cnorm) — [[cellTop2]]'s codebook shape. */
  private[graft] def coarseCodebook(
      base: DataFrame, k: Int = 16): DataFrame = {
    import base.sparkSession.implicits._
    KMeans.lloyd(
      base.filter($"vec_id" < AnnTrainCap)
        .select(lit(0).as("grp"), $"vec_id".as("id"), $"v"),
      k = k, iters = KmIters, cosine = true)
      .select($"cid", $"cv", $"cnorm")
  }

  /** Coarse-cell count of the IVF-PQ family (s06/s07 and
    * AnnIndexPipeline): 32 vs s03's 16. Quantized search needs a FINER
    * partition than the uncompressed scan — the recall ceiling is set
    * by how well the probed cells cover the query's true neighborhood,
    * and at a fixed scan fraction more, smaller cells cover it better
    * (nprobe/cells: 6/32 ≈ 19% of the code table vs s03's 2/16 = 12.5%
    * of the corpus). s03/d09/c11/s08/s09 keep the 16-cell codebook —
    * their assignment tables and oracles are a separate materialized
    * family. */
  private[graft] val IvfPqCells = 32

  /** Full-vector PQ codebook (s05): per-subspace k=[[PqK]] L2 k-means
    * over the training prefix's subvectors. Output (m, cid, cent). */
  private[graft] def pqCodebook(subs: DataFrame): DataFrame = {
    import subs.sparkSession.implicits._
    KMeans.lloyd(
      subs.filter($"vec_id" < AnnTrainCap)
        .select($"m".as("grp"), $"vec_id".as("id"), $"sub".as("v")),
      k = PqK, iters = KmIters, cosine = false)
      .select($"grp".as("m"), $"cid", $"cv".as("cent"))
  }

  /** Per-subspace centroid count of the RESIDUAL codebook
    * (s06/s07/AnnIndexPipeline): finer than s05's [[PqK]] because
    * coarse-cell subtraction shrinks residual magnitudes, so the same
    * relative ranking precision needs more centroids per subspace —
    * with 2-dim subspaces the binding constraint on raw ADC recall is
    * codebook resolution, not probe width (measured: nprobe 4→6 moved
    * s06 recall single digits; k 64→128 is what clears the 0.75 bar).
    * Still ≤ [[AnnTrainCap]] (Lloyd seeds are the id < k prefix);
    * codes stay IvfPqM·log2(k) bits per vector. */
  private[graft] val IvfPqResidualK = 64

  /** IVF-PQ residual geometry: [[IvfPqM]] subspaces of [[IvfPqSub]]
    * dim(s) — FINER than s05's 32×2 ([[PqM]]×[[PqSub]]) because the
    * coarse subtraction leaves residuals whose per-dimension structure
    * carries the remaining signal; 64×1-dim with k=[[IvfPqResidualK]]
    * levels is codebook-quantization per dimension (the FAISS IVFPQ64
    * shape), 64 bytes/vector = 4× compression over the float32 corpus
    * while the raw ADC ranking approaches the probe ceiling. s05 keeps
    * the 32×2 geometry — its point is the classic sub-VECTOR trade. */
  private[graft] val IvfPqM = 64
  private[graft] val IvfPqSub = 1

  /** Residual PQ codebook (s06/IVF-PQ): per-subspace
    * k=[[IvfPqResidualK]] L2 k-means
    * over the training prefix's RESIDUAL subvectors (v − assigned coarse
    * centroid) — what makes the composition IVF-PQ rather than
    * IVF-then-PQ. A vector's cell rank depends only on itself and the
    * coarse codebook, so training over the filtered prefix is exact.
    * Output (m, pcid, pcent) — [[encodeAgainst]]'s codebook shape. */
  private[graft] def residualCodebook(base: DataFrame, cents: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    val rs = residualSubs(
      cellTop2(base.filter($"vec_id" < AnnTrainCap), cents), cents)
    KMeans.lloyd(
      rs.select($"m".as("grp"), $"vec_id".as("id"), $"rsub".as("v")),
      k = IvfPqResidualK, iters = KmIters, cosine = false)
      .select($"grp".as("m"), $"cid".as("pcid"), $"cv".as("pcent"))
  }

  /** Top-2 coarse-cell ranking per vector against a (cid, cv, cnorm)
    * codebook — crk=1 is the IVF assignment, crk≤2 the query probe set. */
  private[graft] def cellTop2(base: DataFrame, cents: DataFrame): DataFrame =
    cellTopN(base, cents, 2)

  /** The trained IVF coarse index every cell consumer reads (s03, s08/
    * s09, d09, c11, c14 and the curation snapshot): the codebook
    * `ivf_cents` and each vector's two nearest cells `ivf_top2`, both
    * session-materialized. The codebook is materialized, not cached:
    * every join branch that references it would re-run the whole
    * k-means chain after a cache clear — in production it IS a tiny
    * warehouse dim table, exactly AnnIndexPipeline's
    * ann_coarse_codebook. The top-2 table is materialized because the
    * corpus assignment (crk=1) and a query probe set (crk≤2) both read
    * it, and an unmaterialized subtree would re-run the 16× crossJoin +
    * window once per join branch (2 short rows per vector: the IVF
    * index table). */
  private[graft] def ivfIndex(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    withFloatDot(spark)
    val base = doubledEmb(Tables.embeddings(spark, sfDir))
    val cents = Shared.materialized("ivf_cents", spark, sfDir) {
      coarseCodebook(base)
    }
    val top2 = Shared.materialized("ivf_top2", spark, sfDir) {
      cellTop2(base, cents)
    }
    (cents, top2)
  }

  /** DuckDB twin of [[ivfIndex]], opening the WITH clause: `bn`
    * (vec_id, label, v, norm), the trained codebook `cents` and
    * `ranked` — every vector × cell in cosine order (`crk`), which each
    * consumer cuts to crk = 1 (assignment) or crk ≤ 2 (probe set). */
  private lazy val ivfIndexOracleCtes: String =
    s"""WITH base AS (SELECT vec_id, label,
       |                     list_transform(embedding, x -> cast(x AS DOUBLE)) AS v
       |              FROM embeddings),
       |bn AS (SELECT vec_id, label, v, sqrt(${sqlDot("v", "v")}) AS norm
       |       FROM base),
       |km_train AS (SELECT 0 AS grp, vec_id AS id, v FROM base
       |             WHERE vec_id < $AnnTrainCap),
       |""".stripMargin +
      KMeans.oracleCtes("km", "km_train", 16, KmIters, 64, cosine = true) +
      s"""cents AS (SELECT cid, cv, cnorm FROM km_cents),
       |ranked AS (
       |  SELECT b.vec_id, b.label, b.v, b.norm, c.cid,
       |         row_number() OVER (PARTITION BY b.vec_id
       |           ORDER BY round(${sqlDot("b.v", "c.cv")} / (b.norm * c.cnorm), 6) DESC,
       |                    c.cid) AS crk
       |  FROM bn b CROSS JOIN cents c),
       |""".stripMargin

  /** DuckDB dot product of two 64-dim lists. */
  private def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(range(64), i -> $a[i+1] * $b[i+1]))"

  /** Top-n generalization of [[cellTop2]]: the IVF-PQ search probes
    * WIDER than s03's two cells ([[IvfPqNprobe]]) because quantization
    * noise compounds the coarse-pruning miss — raising the query-side
    * probe set lifts the recall ceiling without touching the corpus
    * assignment (always crk=1) or the index tables. */
  private[graft] def cellTopN(
      base: DataFrame, cents: DataFrame, n: Int): DataFrame = {
    import base.sparkSession.implicits._
    base.crossJoin(broadcast(cents))
      .withColumn("cell_sim",
        round(dotArr($"v", $"cv") / ($"norm" * $"cnorm"), 6))
      .withColumn("crk", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"cell_sim".desc, $"cid")))
      .filter($"crk" <= n)
      // cell_sim rides along: crk=1's similarity IS the coarse
      // assignment fit (the drift metric AnnIndexPipeline.driftReport
      // aggregates); downstream consumers select named columns
      .select($"vec_id", $"v", $"norm", $"cid", $"crk", $"cell_sim")
  }

  /** Query-side probe width of the IVF-PQ search (s06/s07 and the
    * AnnIndexPipeline serving path): 12 of the 32 coarse cells. s03's
    * uncompressed scan stays at nprobe=2 (its recall ceiling is the
    * documented coarse-pruning trade); the PQ tiers probe wider
    * because ADC quantization error stacks ON TOP of the
    * coarse-pruning miss, and candidate volume — not exact distance
    * work — is what the compact codes make cheap. 12 is the MEASURED
    * raw-ADC optimum at this geometry (round 13, ann_bench): 8 → 12
    * lifts s06 0.78 → 0.82 and s07 0.82 → 0.86; 16 drops raw s06 to
    * 0.80 (extra probed cells contribute quantization-noise candidates
    * that displace true hits from the raw top-k) while the exact
    * refine keeps climbing (s07 0.88) — the non-monotone raw-vs-refine
    * trade FAISS documents. Cost: the ADC scan covers
    * nprobe/[[IvfPqCells]] = 37.5% of the CODE table per query (codes,
    * not vectors — the scan fraction prices against 4-byte/dim-free
    * ADC rows), still broadcast-pruned to probed cells only. */
  private[graft] val IvfPqNprobe = 12

  /** Residual subvectors of the crk=1 assignment: (vec_id, cell, m,
    * rsub) with rsub = slice(v − cell_centroid). */
  /** OPQ-rotation finding (round 13, MEASURED): the standard next rung
    * after exact-norm ADC — an orthonormal rotation before residual
    * coding (Ge et al. 2013; here the oracle-replayable 64-point
    * Walsh–Hadamard H[i][j] = (−1)^popcount(i AND j)/8, expressible in
    * both engines via bit_count with no literal matrix) — was
    * implemented and benchmarked at this geometry: s06 recall@5 moved
    * 0.82 → 0.80 (s07 unchanged), and doubling/maxing the residual
    * codebook (k 64→128→256) moved raw ADC ≤ one hit. This corpus's
    * residuals are already axis-aligned, so variance-balancing
    * rotations only smear cluster structure across dimensions; the
    * binding constraint is the probe set, hence [[IvfPqNprobe]] = 12
    * (0.78 → 0.82 raw, 0.82 → 0.86 refined). Kept unrotated. */
  private[graft] def residualSubs(top2: DataFrame, cents: DataFrame): DataFrame = {
    import top2.sparkSession.implicits._
    top2.filter($"crk" === 1)
      .join(broadcast(cents), Seq("cid"))
      .select($"vec_id", $"cid".as("cell"),
        zip_with($"v", $"cv", (x, y) => x - y).as("r"))
      .select($"vec_id", $"cell",
        explode(sequence(lit(0), lit(IvfPqM - 1))).as("m"), $"r")
      .select($"vec_id", $"cell", $"m",
        slice($"r", $"m" * IvfPqSub + 1, lit(IvfPqSub)).as("rsub"))
  }

  /** Code each residual subvector against a (pcid, m, pcent) codebook:
    * nearest rounded L2, ties by pcid — then PACK to one row per vector
    * with `codes(m)` = the m-th subspace's code. The packed row IS the
    * FAISS invlist layout (an M-byte contiguous code string per
    * vector): the searchable index scans one row per candidate, and
    * [[adcScored]] folds the M lookups as a per-row expression instead
    * of exploding the code table M-fold through a join + re-aggregation
    * (guide §2.3/§2.4 — the r15 verdict's ADC-fusion ask). */
  private[graft] def encodeAgainst(rsubs: DataFrame, pqCents: DataFrame): DataFrame = {
    import rsubs.sparkSession.implicits._
    rsubs.join(broadcast(pqCents), Seq("m"))
      .withColumn("dist", round(l2Arr($"rsub", $"pcent"), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"vec_id", $"m").orderBy($"dist", $"pcid")))
      .filter($"rk" === 1)
      .groupBy($"vec_id", $"cell")
      .agg(packedBy($"m", $"pcid").as("codes"))
  }

  /** collect_list packed into an array ordered by the (unique) sort
    * key: struct sort is lexicographic, so `array_sort` orders by `by`
    * and the transform strips it — deterministic regardless of task
    * arrival order. */
  private def packedBy(by: Column, value: Column): Column =
    transform(array_sort(collect_list(struct(by.as("k"), value.as("p")))),
      s => s.getField("p"))

  /** Exact ADC fold: Σ_m lut(m·k + codes(m)) over a complete per-query
    * lookup array (every (m, code) slot present, so the fold visits
    * exactly the rows the old (m, code) join matched).
    *
    * The LUT arrays pack each partial's SCALE-9 UNSCALED LONG (r16
    * second pass, guide §2.3 narrower types): a DECIMAL(28,9) array
    * element is byte-array-backed — every read materializes a
    * BigDecimal and every add allocates — while the unscaled long
    * (partial × 10⁹, exact: partials are 9dp roundings) folds as M
    * primitive array reads + M−1 codegen long adds. `long_to_decimal`
    * (catalyst MakeDecimal — WRAPS the long, no BigDecimal arithmetic)
    * rebuilds the exact DECIMAL(28,9) the decimal tree produced, so
    * every downstream value is bit-identical to the hash-aggregate
    * `sum(partial)` this replaces (and to DuckDB's list_sum replay).
    * Overflow: partials are sub-dots of unit-norm (≤1+ε) vectors and
    * their centroid means — |partial| ≤ ~2, defensively < 10³ ⇒
    * unscaled < 10¹² per term, < 1.3×10¹⁴ per fold of ≤128 terms —
    * 10⁴× inside Long. `unscaled_long` at PACK time raises past 18
    * digits, so an out-of-contract partial fails loudly there, never
    * silently here.
    *
    * UNROLLED at plan-build time (m is a compile-time constant) into a
    * balanced pairwise add tree of plain GetArrayItem + Add
    * expressions — all codegen-able, unlike a higher-order `aggregate`
    * whose lambda runs interpreted per element (CodegenFallback; the
    * first cut measured s05 +0.5 s slower on exactly that). */
  private def lutFold(codes: Column, lut: Column, k: Int, m: Int): Column = {
    val terms: Seq[Column] = (0 until m).map { i =>
      element_at(lut,
        (element_at(codes, i + 1) + lit(i.toLong * k + 1)).cast(IntegerType))
    }
    def tree(ts: Seq[Column]): Column =
      if (ts.size == 1) ts.head
      else tree(ts.grouped(2).map(g =>
        if (g.size == 2) g(0) + g(1) else g(0)).toSeq)
    call_function("long_to_decimal", tree(terms), lit(28), lit(9))
  }

  /** The ADC (asymmetric distance computation) search over an IVF-PQ
    * index: probe each query's top-[[IvfPqNprobe]] cells, prune the
    * code table to those cells, score via the three constant-size lookup tables built
    * against the codebooks (see [[ivfPqAnnTopK]]'s reconstruction
    * identities), exact decimal 8-way sums, top-k per query. Shared by
    * the s06 query (inline-derived index) and
    * `graft.runner.AnnIndexPipeline.search` (materialized index) —
    * AnnIndexPipelineSpec pins the two byte-identical. */
  private[graft] def adcSearch(queries: DataFrame, cents: DataFrame,
      pqCents: DataFrame, codes: DataFrame, k: Int,
      nprobe: Int = IvfPqNprobe): DataFrame = {
    import queries.sparkSession.implicits._
    adcScored(queries, cents, pqCents, codes, nprobe)
      .withColumn("rk", row_number().over(
        Window.partitionBy($"query_id").orderBy($"ivfpq_sim".desc, $"cand_id")))
      .filter($"rk" <= k)
      .select($"query_id", $"cand_id", $"cell", $"ivfpq_sim",
        $"rk".cast(LongType).as("sim_rank"))
  }

  /** [[adcSearch]] before its ranking tail: every (query, candidate)
    * ADC similarity over the probed cells — the seat where a FILTERED
    * search (s10) interposes its metadata predicate so the top-k ranks
    * the FILTERED candidate set (ranking first and filtering after
    * would under-fill k, the classic filtered-vector-search bug). */
  private[graft] def adcScored(queries: DataFrame, cents: DataFrame,
      pqCents: DataFrame, codes: DataFrame,
      nprobe: Int = IvfPqNprobe): DataFrame = {
    import queries.sparkSession.implicits._
    val dotA = dotArr _
    val ms = explode(sequence(lit(0), lit(IvfPqM - 1))).as("m")
    val dec = (c: Column) => c.cast(DecimalType(28, 9))
    // probed cells with the dot(q, cent) term, plus the per-query ADC
    // lookup table packed to ONE array row per query (index m·K + code,
    // complete over every (m, code) slot — |queries| rows of
    // IvfPqM × IvfPqResidualK entries)
    val qprobe = cellTopN(queries, cents, nprobe)
      .join(broadcast(cents), Seq("cid"))
      .select($"vec_id".as("query_id"), $"cid".as("cell"),
        $"norm".as("q_norm"), dec(round(dotA($"v", $"cv"), 9)).as("qc_dot"))
    val qlut = queries
      .select($"vec_id".as("query_id"), ms, $"v")
      .select($"query_id", $"m",
        slice($"v", $"m" * IvfPqSub + 1, lit(IvfPqSub)).as("qsub"))
      .join(broadcast(pqCents), Seq("m"))
      .select($"query_id",
        ($"m" * IvfPqResidualK + $"pcid").as("idx"),
        // packed as the 9dp partial's unscaled long — see lutFold
        call_function("unscaled_long",
          dec(round(dotA($"qsub", $"pcent"), 9))).as("partial"))
      .groupBy($"query_id")
      .agg(packedBy($"idx", $"partial").as("lut"))
    // search: prune the PACKED code table (one row per candidate — the
    // FAISS invlist layout) to probed cells, score via a per-row lookup
    // fold. The numerator q·(cent + r̂) = qc_dot + Σ_m lut[m·K+code_m]
    // is ADC; the DENOMINATOR uses the EXACT per-vector norm stored
    // beside the codes (the FAISS cosine/IP convention: 4 bytes/vector
    // buys back all denominator quantization error — only the
    // residual's projection onto q stays approximate). Versus the r15
    // shape (explode codes M-fold, join the LUT rows on (m, code),
    // re-aggregate per candidate): the M-fold scan expansion, the
    // 40960-row broadcast hash join, and the per-query groupBy Exchange
    // all drop out of the plan — the one remaining join is the probed-
    // cell broadcast (guide §2.3/§2.4/§3).
    val sim = round(
      ($"qc_dot" + $"r_dot").cast(DoubleType) /
        ($"q_norm" * $"vnorm"), 6).cast(DecimalType(24, 6))
    codes
      .join(broadcast(qprobe), Seq("cell"))
      .filter($"query_id" =!= $"vec_id")
      .join(broadcast(qlut), Seq("query_id"))
      .withColumn("r_dot", lutFold($"codes", $"lut", IvfPqResidualK, IvfPqM))
      .withColumn("ivfpq_sim", sim)
      .select($"query_id", $"vec_id".as("cand_id"), $"cell",
        $"label".as("cand_label"), $"ivfpq_sim")
  }

  /** Shared s06/s07 index setup: the doubled corpus plus the three
    * MATERIALIZED index tables. Materialized (parquet round-trip is
    * double-exact), because adcSearch references the codebooks in six
    * broadcast lookup branches — a .cache() cleared between runs
    * re-trains once PER BRANCH (a measured 13× blow-up at sf0.1); in
    * production they are AnnIndexPipeline's frozen codebook dim tables
    * and its ann_codes (built once, appended incrementally) — every
    * search reads the 4-byte codes, not the full-precision corpus. */
  private def ivfPqIndex(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    withFloatDot(spark)
    import spark.implicits._
    val base = doubledEmb(Tables.embeddings(spark, sfDir))
    // REAL trained codebooks over the fixed training prefix: coarse
    // cells from cosine k-means, then a PqM·PqK-row residual codebook
    // from per-subspace L2 k-means over the sample's residuals — both
    // replayed exactly by the oracle's unrolled KMeans.oracleCtes
    val cents = Shared.materialized("ivfpq_cents", spark, sfDir) {
      coarseCodebook(base, IvfPqCells)
    }
    val pqCents = Shared.materialized("ivfpq_pq_cents", spark, sfDir) {
      residualCodebook(base, cents)
    }
    val codes = Shared.materialized("ivfpq_codes", spark, sfDir) {
      // the exact per-vector norm AND the metadata label ride the code
      // table (the FAISS cosine/IP norm convention + the filtered-
      // search design every production vector store uses: predicate
      // columns live beside the codes, so a filtered query never joins
      // the corpus) — both known exactly at build time
      encodeAgainst(residualSubs(cellTop2(base, cents), cents), pqCents)
        .join(base.select($"vec_id", $"norm".as("vnorm")), Seq("vec_id"))
        .join(Tables.embeddings(spark, sfDir)
          .select($"vec_id", $"label"), Seq("vec_id"))
    }
    (base, cents, pqCents, codes)
  }

  /** Session-memoized (`Shared.materialized`): the s06 ranking is read
    * twice per session — as the s06 result and as the approximate side
    * of s11's recall audit (an audit scores the SEARCH OUTPUT the
    * serving path produced, not a re-execution of it). First consumer
    * pays the one ADC search; the audit reads the 50-row parquet. */
  def ivfPqAnnTopK(spark: SparkSession, sfDir: String): DataFrame =
    Shared.materialized("s06_ivfpq_topk", spark, sfDir) {
      ivfPqAnnTopKBuild(spark, sfDir)
    }

  private def ivfPqAnnTopKBuild(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (base, cents, pqCents, codes) = ivfPqIndex(spark, sfDir)
    adcSearch(base.filter($"vec_id" < 10), cents, pqCents, codes, k = 5)
  }

  /** ADC shortlist depth feeding s07's exact refine (4·k) — and the
    * round-14 MEASURED finding that closes the remaining recall axes
    * at this geometry (`ann_bench.json` r14 sweep, sf0.01):
    *
    *  - depth 20 / 40 / 80 ALL measure s07 recall@5 = 0.86 — the
    *    refined tier is PROBE-BOUND, not shortlist-bound: everything
    *    the nprobe=12 cells admit is already inside the raw top-20,
    *    so deeper reranks (|queries|·depth exact gathers, FAISS's
    *    k_factor) buy nothing here. Kept at 20, the cheapest bound-
    *    reaching depth.
    *  - multi-dim residual subspaces measured OUT as well: 32×2-dim
    *    k=64 drops raw s06 0.82 → 0.74, 8×8-dim k=16 craters it to
    *    0.38 (refined 0.86 / 0.70) — per-DIMENSION codebook
    *    resolution is the binding raw constraint on this corpus's
    *    axis-aligned residuals, exactly the round-13 OPQ finding from
    *    the other direction; 64×1-dim k=64 stands.
    *
    * With nprobe=16's raw regression measured in round 13 (0.80),
    * every untried axis at this geometry is now measured and the
    * settled index (64×1×64, nprobe 12, refine 20: raw 0.82 /
    * refined 0.86) is the Pareto point — raising the refined bound
    * further means widening the probe set, a serving-cost knob the
    * nprobe scaladoc already prices. */
  private[graft] val IvfPqRefineDepth = 20

  /** s07: IVF-PQ with EXACT REFINE — the production ANN serving shape
    * (FAISS `IndexRefineFlat`): the compressed index produces a cheap
    * ADC shortlist (top-[[IvfPqRefineDepth]]), then ONLY those
    * candidates are re-scored against their full-precision vectors and
    * the true cosine picks the final top-5. Refine un-does the
    * quantization error for everything the shortlist caught — recall
    * rises toward the probe bound (what the coarse pruning admits) at
    * the cost of |queries|·depth exact dot products.
    *
    * Scale: the re-rank gather is a hash join on the corpus's PRIMARY
    * KEY over a shortlist-sized side — a point-lookup-shaped join; no
    * full-precision vector outside the shortlist is ever touched, so
    * the memory story of the 4-byte index stands. Determinism: the
    * refine similarity is s01's exact rounded cosine (ties by
    * cand_id), so the oracle replays it directly.
    */
  def ivfPqRefinedTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (base, cents, pqCents, codes) = ivfPqIndex(spark, sfDir)
    val shortlist =
      adcSearch(base.filter($"vec_id" < 10), cents, pqCents, codes,
        k = IvfPqRefineDepth)
        .select($"query_id", $"cand_id", $"sim_rank".as("adc_rank"))
    val cand = base.select($"vec_id".as("cand_id"), $"v".as("c_v"),
      $"norm".as("c_norm"))
    val qs = base.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("q_v"), $"norm".as("q_norm"))
    shortlist.join(cand, Seq("cand_id"))
      .join(broadcast(qs), Seq("query_id"))
      .withColumn("cosine_sim",
        round(dotArr($"q_v", $"c_v") / ($"q_norm" * $"c_norm"), 6)
          .cast(DecimalType(24, 6)))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"cosine_sim".desc, $"cand_id")))
      .filter($"rk" <= 5)
      .select($"query_id", $"cand_id", $"cosine_sim", $"adc_rank",
        $"rk".cast(LongType).as("sim_rank"))
  }

  val ivfPqRefinedTopKOracle: String = {
    def dot64(a: String, b: String): String =
      s"list_sum(list_transform(range(64), i -> $a[i+1] * $b[i+1]))"
    ivfPqOracleCtes +
      s""",
         |short AS (
         |  SELECT query_id, cand_id,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY ivfpq_sim DESC, cand_id) AS adc_rank
         |  FROM final
         |  QUALIFY adc_rank <= $IvfPqRefineDepth),
         |rerank AS (
         |  SELECT s.query_id, s.cand_id,
         |         cast(s.adc_rank AS BIGINT) AS adc_rank,
         |         cast(round(${dot64("qb.v", "cb.v")} / (qb.norm * cb.norm), 6)
         |              AS DECIMAL(24,6)) AS cosine_sim
         |  FROM short s
         |  JOIN bn qb ON qb.vec_id = s.query_id
         |  JOIN bn cb ON cb.vec_id = s.cand_id)
         |SELECT query_id, cand_id, cosine_sim, adc_rank,
         |       cast(row_number() OVER (PARTITION BY query_id
         |              ORDER BY cosine_sim DESC, cand_id) AS BIGINT) AS sim_rank
         |FROM rerank
         |QUALIFY sim_rank <= 5""".stripMargin
  }

  /** s10: FILTERED ANN SEARCH (beyond-reference) — metadata-filtered
    * vector search, the headline serving feature of every production
    * vector store (FAISS IDSelector / Milvus scalar filter / pgvector
    * WHERE): top-k most-similar candidates SUBJECT TO a predicate,
    * here `candidate.label = query.label` ("similar items in my
    * category"). The predicate interposes BETWEEN scoring and ranking
    * ([[adcScored]]), so k ranks the filtered candidate set —
    * filtering after top-k would under-fill k whenever the unfiltered
    * leaders fail the predicate, the classic filtered-search bug.
    *
    * Scale: the label rides the CODE TABLE (written at index-build
    * time beside the 4-byte codes and the exact norm — the design that
    * keeps a filtered query from ever joining the corpus), so the
    * filter is a per-row predicate on the already-pruned probe scan;
    * the query-side label is a 10-row broadcast. Cost is identical to
    * s06 minus the rows the predicate drops.
    */
  def filteredAnnTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (base, cents, pqCents, codes) = ivfPqIndex(spark, sfDir)
    val qLabels = Tables.embeddings(spark, sfDir)
      .filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"label")
    adcScored(base.filter($"vec_id" < 10), cents, pqCents, codes)
      .join(broadcast(qLabels), Seq("query_id"))
      .filter($"cand_label" === $"label")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"ivfpq_sim".desc, $"cand_id")))
      .filter($"rk" <= 5)
      .select($"query_id", $"label", $"cand_id", $"cell", $"ivfpq_sim",
        $"rk".cast(LongType).as("sim_rank"))
  }

  val filteredAnnTopKOracle: String =
    ivfPqOracleCtes +
      """,
        |qlab AS (SELECT vec_id AS query_id, label FROM embeddings
        |         WHERE vec_id < 10),
        |clab AS (SELECT vec_id AS cand_id, label AS cand_label
        |         FROM embeddings)
        |SELECT f.query_id, q.label, f.cand_id, f.cell, f.ivfpq_sim,
        |       cast(row_number() OVER (PARTITION BY f.query_id
        |              ORDER BY f.ivfpq_sim DESC, f.cand_id) AS BIGINT)
        |         AS sim_rank
        |FROM final f
        |JOIN qlab q ON q.query_id = f.query_id
        |JOIN clab c ON c.cand_id = f.cand_id AND c.cand_label = q.label
        |QUALIFY sim_rank <= 5""".stripMargin

  /** CTE chain shared by the s06 and s07 oracles: everything through
    * the `final` CTE (per-candidate ADC similarity over the probed
    * cells), ready for a closing SELECT (s06) or a refine stage (s07). */
  private lazy val ivfPqOracleCtes: String = {
    def dotN(a: String, b: String, n: Int): String =
      s"list_sum(list_transform(range($n), i -> $a[i+1] * $b[i+1]))"
    def l2sq(a: String, b: String): String =
      s"list_sum(list_transform(range($IvfPqSub), i -> ($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1])))"
    val head =
      s"""WITH base AS (SELECT vec_id,
       |                     list_transform(embedding, x -> cast(x AS DOUBLE)) AS v
       |              FROM embeddings),
       |bn AS (SELECT vec_id, v, sqrt(${dotN("v", "v", 64)}) AS norm FROM base),
       |km6_train AS (SELECT 0 AS grp, vec_id AS id, v FROM base
       |              WHERE vec_id < $AnnTrainCap),
       |""".stripMargin
    val mid =
      s"""cents AS (SELECT cid, cv, cnorm FROM km6_cents),
       |t2 AS (SELECT b.vec_id, b.v, b.norm, c.cid, c.cv,
       |              round(${dotN("b.v", "c.cv", 64)} / (b.norm * c.cnorm), 6) AS cell_sim,
       |              row_number() OVER (PARTITION BY b.vec_id
       |                ORDER BY round(${dotN("b.v", "c.cv", 64)} / (b.norm * c.cnorm), 6) DESC,
       |                         c.cid) AS crk
       |       FROM bn b CROSS JOIN cents c),
       |assigned AS (SELECT vec_id, cid AS cell,
       |                    list_transform(range(64), i -> v[i+1] - cv[i+1]) AS r
       |             FROM t2 WHERE crk = 1),
       |ms AS (SELECT unnest(range($IvfPqM)) AS m),
       |rsubs AS (SELECT a.vec_id, a.cell, ms.m,
       |                 list_slice(a.r, ms.m*$IvfPqSub+1, ms.m*$IvfPqSub+$IvfPqSub) AS rsub
       |          FROM assigned a CROSS JOIN ms),
       |km6r_train AS (SELECT m AS grp, vec_id AS id, rsub AS v FROM rsubs
       |               WHERE vec_id < $AnnTrainCap),
       |""".stripMargin
    val tail =
      s"""pq AS (SELECT grp AS m, cid AS pcid, cv AS pcent FROM km6r_cents),
       |codes AS (
       |  SELECT vec_id, cell, m, pcid AS code FROM (
       |    SELECT s.vec_id, s.cell, s.m, p.pcid,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY round(${l2sq("s.rsub", "p.pcent")}, 6), p.pcid) AS rk
       |    FROM rsubs s JOIN pq p ON s.m = p.m)
       |  WHERE rk = 1),
       |qprobe AS (SELECT t.vec_id AS query_id, t.cid AS cell, t.norm AS q_norm,
       |                  cast(round(${dotN("t.v", "t.cv", 64)}, 9) AS DECIMAL(28,9)) AS qc_dot
       |           FROM t2 t WHERE t.vec_id < 10 AND t.crk <= $IvfPqNprobe),
       |qlut AS (SELECT b.vec_id AS query_id, p.m, p.pcid AS code,
       |                cast(round(${dotN(s"list_slice(b.v, p.m*$IvfPqSub+1, p.m*$IvfPqSub+$IvfPqSub)", "p.pcent", IvfPqSub)}, 9)
       |                     AS DECIMAL(28,9)) AS partial
       |         FROM base b CROSS JOIN pq p WHERE b.vec_id < 10),
       |scored AS (SELECT q.query_id, k.cell, k.vec_id AS cand_id,
       |                  sum(l.partial) AS r_dot
       |           FROM codes k
       |           JOIN (SELECT DISTINCT query_id, cell FROM qprobe) q ON k.cell = q.cell
       |           JOIN qlut l ON l.query_id = q.query_id AND l.m = k.m AND l.code = k.code
       |           GROUP BY 1, 2, 3),
       |final AS (
       |  SELECT s.query_id, s.cand_id, s.cell,
       |         cast(round(cast(q.qc_dot + s.r_dot AS DOUBLE) /
       |              (q.q_norm * cb.norm), 6)
       |              AS DECIMAL(24,6)) AS ivfpq_sim
       |  FROM scored s
       |  JOIN qprobe q ON q.query_id = s.query_id AND q.cell = s.cell
       |  JOIN bn cb ON cb.vec_id = s.cand_id
       |  WHERE s.query_id <> s.cand_id)""".stripMargin
    head + KMeans.oracleCtes("km6", "km6_train", IvfPqCells, KmIters, 64,
      cosine = true) +
      mid + KMeans.oracleCtes("km6r", "km6r_train", IvfPqResidualK,
        KmIters, IvfPqSub, cosine = false) +
      tail
  }

  val ivfPqAnnTopKOracle: String =
    ivfPqOracleCtes +
      """
        |SELECT query_id, cand_id, cell, ivfpq_sim,
        |       cast(row_number() OVER (PARTITION BY query_id
        |              ORDER BY ivfpq_sim DESC, cand_id) AS BIGINT) AS sim_rank
        |FROM final
        |QUALIFY sim_rank <= 5""".stripMargin

  /** s08: HARD-NEGATIVE MINING (beyond-reference) — contrastive
    * training-pair generation, the selection step a
    * contrastive/embedding training build runs over its corpus (e.g.
    * DPR, Karpukhin et al. 2020 §3.2: the best negatives are the most
    * SIMILAR examples with a different label): for every anchor
    * vector, the top-3 most-cosine-similar vectors carrying a
    * DIFFERENT label inside the anchor's own IVF cell.
    *
    * This is the ANN index pointed at pair MINING instead of serving:
    * candidates come from the trained coarse quantizer's cells (the
    * same materialized `ivf_cents`/`ivf_top2` tables s03/d09/c11
    * read), so the compare space is Σ|cell|² — corpus-quadratic never
    * happens, and raising the cell count tightens the bound the same
    * way it does for search. Label filtering happens INSIDE the
    * cell join (no all-pairs label compare), ranking is s03's rounded
    * cosine with id tie-breaks, and every anchor is mined in one pass
    * (this is a corpus-wide build step, not a 10-query probe).
    *
    * Scale: one cell-keyed self-join of the assignment table + a
    * per-anchor keyed window (≤|cell| rows per partition). At 100 TB
    * the assignment table is the materialized IVF index, the label
    * column rides it, and mining cost is the index's Σ|cell|² — the
    * bound SemDeDup (d09) already operates under.
    */
  def hardNegativeMining(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = cellPairSims(spark, sfDir)
    val w = Window.partitionBy($"anchor_id")
      .orderBy($"neg_sim".desc, $"neg_id")
    pairs.filter($"anchor_label" =!= $"other_label")
      .select($"anchor_id", $"anchor_label", $"cell",
        $"other_id".as("neg_id"), $"other_label".as("neg_label"),
        $"sim".as("neg_sim"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"anchor_id", $"anchor_label", $"neg_id", $"neg_label",
        $"cell", $"neg_sim", $"rk".cast(LongType).as("neg_rank"))
  }

  /** The scored in-cell pair stream s08 AND s09 both rank from —
    * session-memoized (`Shared.materialized`) so the Σ|cell|² dot
    * products run once per session instead of once per consumer (s08's
    * negative pairs are exactly this stream filtered to label ≠; s09
    * splits it into positives and negatives — its scaladoc's "ONE
    * cell-keyed self-join feeds both sides", now literally one).
    * Self-pairs are excluded here (a self-pair has equal labels, so
    * s08's negative tier never saw them anyway). */
  private[graft] def cellPairSims(
      spark: SparkSession, sfDir: String): DataFrame =
    Shared.materialized("cell_pair_sims", spark, sfDir) {
      withFloatDot(spark)
      import spark.implicits._
      val emb = Tables.embeddings(spark, sfDir)
      val (_, top2) = ivfIndex(spark, sfDir)
      val assigned = top2.filter($"crk" === 1)
        .join(emb.select($"vec_id", $"label"), Seq("vec_id"))
        .select($"vec_id", $"v", $"norm", $"cid".as("cell"), $"label")
      val anchors = assigned.select($"vec_id".as("anchor_id"),
        $"v".as("a_v"), $"norm".as("a_norm"), $"cell",
        $"label".as("anchor_label"))
      val others = assigned.select($"vec_id".as("other_id"),
        $"v".as("o_v"), $"norm".as("o_norm"), $"cell",
        $"label".as("other_label"))
      anchors.join(others, Seq("cell"))
        .filter($"anchor_id" =!= $"other_id")
        .withColumn("sim",
          round(dotArr($"a_v", $"o_v") / ($"a_norm" * $"o_norm"), 6)
            .cast(DecimalType(24, 6)))
        .select($"anchor_id", $"anchor_label", $"cell",
          $"other_id", $"other_label", $"sim")
    }

  val hardNegativeMiningOracle: String =
    ivfIndexOracleCtes +
      s"""asg AS (SELECT vec_id, label, v, norm, cid AS cell
         |        FROM ranked WHERE crk = 1),
         |pairs AS (
         |  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
         |         b.vec_id AS neg_id, b.label AS neg_label, a.cell,
         |         cast(round(${sqlDot("a.v", "b.v")} / (a.norm * b.norm), 6)
         |              AS DECIMAL(24,6)) AS neg_sim
         |  FROM asg a JOIN asg b
         |    ON a.cell = b.cell AND a.label <> b.label)
         |SELECT anchor_id, anchor_label, neg_id, neg_label, cell, neg_sim,
         |       cast(row_number() OVER (PARTITION BY anchor_id
         |              ORDER BY neg_sim DESC, neg_id) AS BIGINT) AS neg_rank
         |FROM pairs
         |QUALIFY neg_rank <= 3""".stripMargin

  /** s09: CONTRASTIVE TRIPLETS (beyond-reference) — s08 completed with
    * its POSITIVE side: the (anchor, positive, hard-negative) triples a
    * contrastive loss actually consumes (DPR, Karpukhin et al. 2020
    * §3.1: one positive + mined hard negatives per anchor). Positive =
    * the single most-cosine-similar SAME-label vector in the anchor's
    * IVF cell (rounded cosine, id tie-break — the s03 ranking
    * convention); negatives = s08's top-3 different-label in-cell
    * neighbors. Anchors with no same-label cell-mate drop (no positive
    * exists to contrast against — DPR discards such questions too).
    *
    * Same Σ|cell|² bound as s08: ONE cell-keyed self-join feeds both
    * sides; the label split happens on the joined stream (no second
    * pair enumeration), each side ranks under its own anchor-keyed
    * window (≤|cell| rows per partition), and the final positive ⋈
    * negatives join is anchor-keyed and output-sized. Nothing here is
    * executor-cached — the pair stream derives from the materialized
    * IVF assignment table both branches read.
    */
  def contrastiveTriplets(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = cellPairSims(spark, sfDir)
    val wAnchor = Window.partitionBy($"anchor_id")
      .orderBy($"sim".desc, $"other_id")
    val positives = pairs.filter($"anchor_label" === $"other_label")
      .withColumn("rk", row_number().over(wAnchor))
      .filter($"rk" === 1)
      .select($"anchor_id", $"other_id".as("pos_id"),
        $"sim".as("pos_sim"))
    val negatives = pairs.filter($"anchor_label" =!= $"other_label")
      .withColumn("rk", row_number().over(wAnchor))
      .filter($"rk" <= 3)
      .select($"anchor_id", $"anchor_label", $"cell",
        $"other_id".as("neg_id"), $"other_label".as("neg_label"),
        $"sim".as("neg_sim"), $"rk".cast(LongType).as("neg_rank"))
    negatives.join(positives, Seq("anchor_id"))
      .select($"anchor_id", $"anchor_label", $"cell",
        $"pos_id", $"pos_sim",
        $"neg_id", $"neg_label", $"neg_sim", $"neg_rank")
  }

  val contrastiveTripletsOracle: String =
    ivfIndexOracleCtes +
      s"""asg AS (SELECT vec_id, label, v, norm, cid AS cell
         |        FROM ranked WHERE crk = 1),
         |prs AS (
         |  SELECT a.vec_id AS anchor_id, a.label AS anchor_label, a.cell,
         |         b.vec_id AS other_id, b.label AS other_label,
         |         cast(round(${sqlDot("a.v", "b.v")} / (a.norm * b.norm), 6)
         |              AS DECIMAL(24,6)) AS sim
         |  FROM asg a JOIN asg b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |pos AS (SELECT anchor_id, other_id AS pos_id, sim AS pos_sim
         |        FROM prs WHERE anchor_label = other_label
         |        QUALIFY row_number() OVER (PARTITION BY anchor_id
         |                  ORDER BY sim DESC, other_id) = 1),
         |neg AS (SELECT anchor_id, anchor_label, cell,
         |               other_id AS neg_id, other_label AS neg_label,
         |               sim AS neg_sim,
         |               cast(row_number() OVER (PARTITION BY anchor_id
         |                      ORDER BY sim DESC, other_id) AS BIGINT)
         |                 AS neg_rank
         |        FROM prs WHERE anchor_label <> other_label
         |        QUALIFY neg_rank <= 3)
         |SELECT n.anchor_id, n.anchor_label, n.cell, p.pos_id, p.pos_sim,
         |       n.neg_id, n.neg_label, n.neg_sim, n.neg_rank
         |FROM neg n JOIN pos p USING (anchor_id)""".stripMargin

  /** Embeddings with their 8-bit hyperplane bucket and norm — the shared
    * input of the ANN histogram (s02) and near-dup pair search (d05).
    */
  private def bucketed(spark: SparkSession, sfDir: String): DataFrame = {
    withFloatDot(spark)
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    // per plane: dot(emb, w_p) via the native codegen'd expression; the
    // constant plane vectors fold into the plan as array literals
    val planeBits = (0 until 8).map { p =>
      val weighted = dotD($"embedding", typedLit(planeWeights(p)))
      when(weighted > 0, lit(1L << p)).otherwise(lit(0L))
    }
    emb.withColumn("bucket", planeBits.reduce(_ + _))
      .withColumn("norm", sqrt(dotD($"embedding", $"embedding")))
  }

  def lshAnnBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    bucketed(spark, sfDir)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("vec_count"),
        countDistinct($"label").as("distinct_labels"))
  }

  /** d05: embedding near-duplicate candidate generation + cosine verify.
    * Candidates are same-bucket pairs only (the ANN contract: the
    * bucket-join shrinks the O(n²) compare space ~2^planes); each pair
    * is verified with the native cosine. Output: per-bucket pair stats.
    *
    * Scale: the self-join key is the bucket id — a plain shuffled equi
    * join whose volume is Σ bucket_size², bounded by the LSH spread (at
    * 100 TB: more planes → smaller buckets → same query shape).
    */
  def embeddingNearDupPairs(spark: SparkSession, sfDir: String): DataFrame = {
    withFloatDot(spark)
    import spark.implicits._
    val b = bucketed(spark, sfDir)
      .select($"bucket", $"vec_id", $"embedding", $"norm")
    val pairs = b.as("a")
      .join(b.withColumnRenamed("vec_id", "vec_b")
        .withColumnRenamed("embedding", "emb_b")
        .withColumnRenamed("norm", "norm_b").as("c"),
        $"a.bucket" === $"c.bucket" && $"a.vec_id" < $"vec_b")
    pairs
      .withColumn("cos", round(
        dotD($"a.embedding", $"emb_b") / ($"a.norm" * $"norm_b"), 6)
        .cast(DecimalType(24, 6)))
      .groupBy($"a.bucket".as("bucket"))
      .agg(count(lit(1)).as("pair_count"),
        max($"cos").as("max_cosine"),
        min($"cos").as("min_cosine"))
  }

  val embeddingNearDupPairsOracle: String = {
    val planeExprs = (0 until 8).map { p =>
      s"""(CASE WHEN list_sum(list_transform(range(64),
         |  d -> cast(((strpos('0123456789abcdef', substr(md5('$p:' || d), 1, 1)) - 1) % 2) * 2 - 1 AS DOUBLE)
         |       * cast(embedding[d+1] AS DOUBLE))) > 0
         | THEN ${1L << p} ELSE 0 END)""".stripMargin.replace("\n", " ")
    }.mkString(" + ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding, cast($planeExprs AS BIGINT) AS bucket,
       |         sqrt(list_sum(list_transform(range(64),
       |              i -> cast(embedding[i+1] AS DOUBLE) * cast(embedding[i+1] AS DOUBLE)))) AS norm
       |  FROM embeddings),
       |pairs AS (
       |  SELECT a.bucket,
       |         cast(round(
       |           list_sum(list_transform(range(64),
       |             i -> cast(a.embedding[i+1] AS DOUBLE) * cast(c.embedding[i+1] AS DOUBLE))) /
       |           (a.norm * c.norm), 6) AS DECIMAL(24,6)) AS cos
       |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
       |SELECT bucket, count(*) AS pair_count,
       |       max(cos) AS max_cosine, min(cos) AS min_cosine
       |FROM pairs GROUP BY bucket""".stripMargin
  }

  val lshAnnBucketsOracle: String = {
    val planeExprs = (0 until 8).map { p =>
      s"""(CASE WHEN list_sum(list_transform(range(64),
         |  d -> cast(((strpos('0123456789abcdef', substr(md5('$p:' || d), 1, 1)) - 1) % 2) * 2 - 1 AS DOUBLE)
         |       * cast(embedding[d+1] AS DOUBLE))) > 0
         | THEN ${1L << p} ELSE 0 END)""".stripMargin.replace("\n", " ")
    }.mkString(" + ")
    s"""WITH bucketed AS (
       |  SELECT vec_id, label, cast($planeExprs AS BIGINT) AS bucket
       |  FROM embeddings)
       |SELECT bucket, count(*) AS vec_count,
       |       count(DISTINCT label) AS distinct_labels
       |FROM bucketed GROUP BY bucket""".stripMargin
  }

  /** d09's duplicate threshold: same-cell pairs at or above this rounded
    * cosine are semantic duplicates. Deliberately low for the
    * near-isotropic synthetic embeddings (their top pairwise cosines sit
    * near 0.45–0.6; a real web corpus runs this at ~0.95+). */
  private[graft] val SemDedupTau = 0.4

  /** d09: SEMANTIC DEDUPLICATION (beyond-reference) — the SemDeDup
    * pipeline (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster
    * the embedding space, then compare pairs ONLY within a cluster and
    * drop all but one of each semantic-duplicate group. This is the
    * embedding-space tier of the dedup family — d01 catches byte-equal,
    * d03/d07 catch token-overlap near-dups, d05 catches
    * LSH-bucket-cosine near-dups; d09 catches REPHRASINGS that share no
    * tokens at all, which is why it is the stage modern corpus builds
    * (SemDeDup on LAION/C4) run after exact/minhash dedup.
    *
    * Composition over new machinery: the clustering IS s03's trained
    * IVF coarse codebook and assignment, read from the same
    * session-materialized index tables (`ivf_cents`/`ivf_top2`) — one
    * trained structure serving both ANN search and semantic dedup,
    * exactly how a production vector warehouse amortizes its index.
    * Keeper rule: within a cell, the LOWEST vec_id of a duplicate pair
    * survives; a vector is dropped iff some smaller-id cell-mate sits
    * at ≥ [[SemDedupTau]] (the deterministic keep-first form of
    * SemDeDup's drop-all-but-one; no RNG, no iteration order).
    *
    * Output: per-cell audit — members, pairs scored, duplicate pairs,
    * drops, max pairwise cosine, and the dropped id list (the actual
    * dedup decision, witnessed cross-engine).
    *
    * Scale: the pair join is equi on the cell id, so compare volume is
    * Σ|cell|² — bounded by keeping cells constant-sized (k grows with
    * the corpus: n/k vectors per cell, the SemDeDup posture; k=16 here
    * mirrors s03). Nothing all-pairs exists; assignment is one corpus
    * pass against a broadcast codebook, already materialized by the ANN
    * tier.
    */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    withFloatDot(spark)
    import spark.implicits._
    val (_, top2) = ivfIndex(spark, sfDir)
    val members = top2.filter($"crk" === 1)
      .select($"cid".as("cell"), $"vec_id", $"v", $"norm")
    val a = members.select($"cell", $"vec_id".as("id_a"), $"v".as("v_a"),
      $"norm".as("na"))
    val b = members.select($"cell", $"vec_id".as("id_b"), $"v".as("v_b"),
      $"norm".as("nb"))
    val pairs = a.join(b, Seq("cell")).filter($"id_a" < $"id_b")
      .withColumn("sim",
        round(dotArr($"v_a", $"v_b") / ($"na" * $"nb"), 6))
      .select($"cell", $"id_a", $"id_b", $"sim")
    // ONE pass over the pair stream (r16, guide §2.4): the old shape
    // aggregated `pairs` twice — psum (counts + max) and drops (distinct
    // dropped ids) — re-evaluating the O(Σ|cell|²) per-pair dot products
    // for each consumer and joining the two results back. collect_set
    // folds the distinct-id branch into the same aggregate (nulls from
    // the `when` are skipped, the set dedups id_b, sort_array gives the
    // same ascending order the old sort_array(collect_list(distinct))
    // produced), so the pair stream is scored once and one join drops
    // out of the plan. Values identical; the oracle replays the
    // two-aggregate formulation unchanged.
    val psum = pairs.groupBy($"cell").agg(
      count(lit(1)).as("n_pairs"),
      sum(when($"sim" >= SemDedupTau, 1L).otherwise(0L)).as("n_dup_pairs"),
      max($"sim").as("max_sim"),
      sort_array(collect_set(when($"sim" >= SemDedupTau, $"id_b")))
        .as("dset"))
    members.groupBy($"cell").agg(count(lit(1)).as("n_members"))
      .join(psum, Seq("cell"), "left")
      .select($"cell", $"n_members",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_dup_pairs", lit(0L)).as("n_dup_pairs"),
        coalesce(size($"dset").cast(LongType), lit(0L)).as("n_dropped"),
        $"max_sim".cast(DecimalType(24, 6)).as("max_pair_sim"),
        coalesce(concat_ws(",", $"dset"), lit("")).as("dropped_ids"))
  }

  val semanticDedupOracle: String =
    ivfIndexOracleCtes +
      s"""members AS (SELECT cid AS cell, vec_id, v, norm
         |            FROM ranked WHERE crk = 1),
         |pairs AS (
         |  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
         |         round(${sqlDot("a.v", "b.v")} / (a.norm * b.norm), 6) AS sim
         |  FROM members a JOIN members b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |psum AS (SELECT cell, count(*) AS n_pairs,
         |                count(*) FILTER (WHERE sim >= $SemDedupTau) AS n_dup_pairs,
         |                max(sim) AS max_sim
         |         FROM pairs GROUP BY 1),
         |drops AS (SELECT cell, count(*) AS nd,
         |                 string_agg(cast(id_b AS VARCHAR), ',' ORDER BY id_b) AS di
         |          FROM (SELECT DISTINCT cell, id_b FROM pairs
         |                WHERE sim >= $SemDedupTau)
         |          GROUP BY 1),
         |msum AS (SELECT cell, count(*) AS n_members FROM members GROUP BY 1)
         |SELECT m.cell, m.n_members,
         |       cast(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
         |       cast(coalesce(p.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
         |       cast(coalesce(d.nd, 0) AS BIGINT) AS n_dropped,
         |       cast(p.max_sim AS DECIMAL(24,6)) AS max_pair_sim,
         |       coalesce(d.di, '') AS dropped_ids
         |FROM msum m
         |LEFT JOIN psum p ON m.cell = p.cell
         |LEFT JOIN drops d ON m.cell = d.cell""".stripMargin

  /** c11's contamination threshold: a training doc whose within-cell
    * cosine to ANY eval doc reaches this is flagged. Lower than a real
    * corpus would run (~0.9) for the same reason as [[SemDedupTau]]:
    * the synthetic embeddings are near-isotropic, with top train↔eval
    * cosines near 0.49. */
  private[graft] val SemContamTau = 0.35

  /** c11: SEMANTIC DECONTAMINATION (beyond-reference) — d09's
    * machinery pointed at c01's problem. c01 flags token-overlap
    * contamination (shared 5-gram containment), so a PARAPHRASED eval
    * document sails through it; embeddings are exactly the
    * representation that survives paraphrase. Assign every vector to
    * the trained IVF coarse cells (`ivf_cents`/`ivf_top2`, the same
    * session-materialized index s03/s06/s07/d09 read), tag each member
    * eval vs train by joining `documents` on vec_id = doc_id, and flag
    * every training doc whose within-cell cosine to any eval doc
    * reaches [[SemContamTau]].
    *
    * Output (c01's doc-level audit shape): per flagged training doc —
    * source, how many eval docs it matched, the max cosine, and the
    * sorted eval-id list (the actual decontamination evidence).
    *
    * Scale: the compare is equi on the cell id and one side is the
    * EVAL slice — |eval∩cell| · |train∩cell| pairs per cell, far below
    * d09's Σ|cell|² since eval corpora are tiny fractions of training
    * corpora. No new scan: the assignment table is already
    * materialized by the ANN tier; `documents` contributes only
    * (doc_id, source).
    */
  /** Session-memoized (`Shared.materialized`): c11's flag table is read
    * standalone AND as the funnel's `sem_contaminated` leg (c06 — which
    * sorts BEFORE c11 in bench order, so the funnel pays the one build
    * and c11 reads it back, same as the c01 leg). In the pipeline this
    * is a materialized verdict input (`CurationPipeline.repairVerdicts`
    * consumes the flag set, not the cell self-join). */
  def semanticDecontamination(spark: SparkSession, sfDir: String): DataFrame =
    Shared.materialized("c11_semantic_decontam", spark, sfDir) {
      semanticDecontaminationBuild(spark, sfDir)
    }

  private def semanticDecontaminationBuild(
      spark: SparkSession, sfDir: String): DataFrame = {
    withFloatDot(spark)
    import spark.implicits._
    val (_, top2) = ivfIndex(spark, sfDir)
    val members = top2.filter($"crk" === 1)
      .select($"cid".as("cell"), $"vec_id", $"v", $"norm")
    val srcs = Tables.documents(spark, sfDir).select($"doc_id", $"source")
    val tagged = members.join(srcs, $"vec_id" === $"doc_id")
    val ev = tagged.filter($"source" === CurationModels.EvalSource)
      .select($"cell", $"vec_id".as("eval_id"), $"v".as("evv"),
        $"norm".as("en"))
    val tr = tagged.filter($"source" =!= CurationModels.EvalSource)
      .select($"cell", $"doc_id", $"source", $"v".as("tv"),
        $"norm".as("tn"))
    tr.join(ev, Seq("cell"))
      .withColumn("sim", round(dotArr($"tv", $"evv") / ($"tn" * $"en"), 6))
      .filter($"sim" >= SemContamTau)
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_eval_hits"),
        max($"sim").cast(DecimalType(24, 6)).as("max_eval_sim"),
        concat_ws(",", sort_array(collect_list($"eval_id"))).as("eval_ids"))
  }

  // LAZY: reads CurationModels.EvalSource while CurationModels'
  // funnel oracle embeds THIS string — see curationFunnelOracle's
  // cycle note; lazy on both sides breaks init-order dependence
  lazy val semanticDecontaminationOracle: String =
    ivfIndexOracleCtes +
      s"""members AS (SELECT cid AS cell, vec_id, v, norm
         |            FROM ranked WHERE crk = 1),
         |tagged AS (SELECT m.cell, m.vec_id, m.v, m.norm, d.source
         |           FROM members m JOIN documents d ON m.vec_id = d.doc_id),
         |ev AS (SELECT cell, vec_id AS eval_id, v AS evv, norm AS en
         |       FROM tagged WHERE source = '${CurationModels.EvalSource}'),
         |tr AS (SELECT cell, vec_id AS doc_id, source, v AS tv, norm AS tn
         |       FROM tagged WHERE source <> '${CurationModels.EvalSource}'),
         |scored AS (
         |  SELECT t.doc_id, t.source, e.eval_id,
         |         round(${sqlDot("t.tv", "e.evv")} / (t.tn * e.en), 6) AS sim
         |  FROM tr t JOIN ev e ON t.cell = e.cell)
         |SELECT doc_id, source, count(*) AS n_eval_hits,
         |       cast(max(sim) AS DECIMAL(24,6)) AS max_eval_sim,
         |       string_agg(cast(eval_id AS VARCHAR), ',' ORDER BY eval_id)
         |         AS eval_ids
         |FROM scored WHERE sim >= $SemContamTau GROUP BY 1, 2""".stripMargin

  /** c14: DOMAIN-MIXTURE REWEIGHTING over DISCOVERED domains
    * (beyond-reference) — c07's temperature flattening applied to
    * latent clusters instead of the labeled `lang` column: when a
    * corpus has no domain labels (the common case for web crawl), the
    * mixing knob DoReMi-style builds (Xie et al. 2023,
    * arXiv:2305.10429 train weights; the T=2 sqrt flattening is the
    * public heuristic form) needs domains DISCOVERED from the
    * embedding space first. The domains ARE s03's trained IVF cells —
    * the third consumer of the materialized `ivf_cents`/`ivf_top2`
    * index (after ANN search and d09's SemDeDup), the same
    * one-structure-many-jobs amortization a production vector
    * warehouse runs.
    *
    * Per vector: its cell, the cell's corpus share, the T=2 mixture
    * weight `w_c ∝ sqrt(share_c)` (dominant clusters downsample, rare
    * ones upsample), the repeat factor, and the deterministic
    * replication index `n_copies` (c07's md5-bucket stochastic
    * rounding — no RNG, engine-independent).
    *
    * Cross-engine exactness is c07's by construction: sqrt/division
    * are IEEE-correctly-rounded doubles, normalization sums 6dp
    * DECIMAL weights (order-free), and the stochastic-rounding compare
    * is an integer cross-multiply.
    *
    * Scale: assignment is one corpus pass against the broadcast
    * codebook (already materialized); the cell table is k rows (k
    * grows ~with corpus so cells stay constant-sized, but k ≪ corpus —
    * the lit(1) windows run over k rows, never data); the weight table
    * broadcasts back over the corpus as a stateless map. The
    * replication INDEX (not exploded copies) is what ships.
    */
  def domainMixture(spark: SparkSession, sfDir: String): DataFrame = {
    withFloatDot(spark)
    import spark.implicits._
    val hexVal: Column => Column =
      c => (instr(lit("0123456789abcdef"), c) - 1).cast(LongType)
    val (_, top2) = ivfIndex(spark, sfDir)
    val members = top2.filter($"crk" === 1)
      .select($"cid".as("cell"), $"vec_id")
    val w = Window.partitionBy(lit(1)) // k-row cell table only
    val cellStats = members.groupBy($"cell")
      .agg(count(lit(1)).as("n_c"))
      .withColumn("n_total", sum($"n_c").over(w))
      .withColumn("share",
        $"n_c".cast(DoubleType) / $"n_total".cast(DoubleType))
      .withColumn("w6", round(sqrt($"share"), 6).cast(DecimalType(10, 6)))
      .withColumn("w_sum", sum($"w6").over(w))
      .withColumn("repeat6", round(
        ($"w6".cast(DoubleType) / $"w_sum".cast(DoubleType)) / $"share", 6))
      .select($"cell",
        expr("n_c * 1000000L div n_total").as("share_micros"),
        $"w6".cast(DoubleType).as("mix_weight"), $"repeat6")
    members.join(broadcast(cellStats), Seq("cell"))
      .withColumn("h", md5($"vec_id".cast(StringType)))
      .withColumn("bucket",
        hexVal(substring($"h", 1, 1)) * 4096 +
          hexVal(substring($"h", 2, 1)) * 256 +
          hexVal(substring($"h", 3, 1)) * 16 + hexVal(substring($"h", 4, 1)))
      .withColumn("frac_micros",
        round(($"repeat6" - floor($"repeat6")) * 1e6).cast(LongType))
      .withColumn("n_copies",
        floor($"repeat6") +
          when($"bucket" * 1000000L < $"frac_micros" * 65536L, 1L)
            .otherwise(0L))
      .select($"vec_id", $"cell", $"share_micros", $"mix_weight",
        $"repeat6".as("repeat_factor"), $"n_copies")
  }

  lazy val domainMixtureOracle: String = {
    def hexAt(i: Int): String =
      s"(strpos('0123456789abcdef', substr(md5(cast(vec_id AS VARCHAR)), $i, 1)) - 1)"
    val tail =
      s"""members AS (SELECT cid AS cell, vec_id FROM ranked WHERE crk = 1),
         |counts AS (SELECT cell, count(*) AS n_c FROM members GROUP BY 1),
         |tot AS (SELECT cell, n_c, sum(n_c) OVER () AS n_total FROM counts),
         |wt AS (SELECT cell, n_c, n_total,
         |              cast(n_c AS DOUBLE) / cast(n_total AS DOUBLE) AS share,
         |              cast(round(sqrt(cast(n_c AS DOUBLE) / cast(n_total AS DOUBLE)), 6)
         |                   AS DECIMAL(10,6)) AS w6
         |       FROM tot),
         |ws AS (SELECT *, sum(w6) OVER () AS w_sum FROM wt),
         |ls AS (SELECT cell,
         |              n_c * 1000000 // n_total AS share_micros,
         |              cast(w6 AS DOUBLE) AS mix_weight,
         |              round((cast(w6 AS DOUBLE) / cast(w_sum AS DOUBLE)) / share, 6)
         |                AS repeat6
         |       FROM ws),
         |b AS (SELECT m.vec_id, m.cell, ls.share_micros, ls.mix_weight,
         |             ls.repeat6,
         |             ${hexAt(1)} * 4096 + ${hexAt(2)} * 256 +
         |             ${hexAt(3)} * 16 + ${hexAt(4)} AS bucket,
         |             cast(round((ls.repeat6 - floor(ls.repeat6)) * 1000000)
         |                  AS BIGINT) AS frac_micros
         |      FROM members m JOIN ls USING (cell))
         |SELECT vec_id, cell, cast(share_micros AS BIGINT) AS share_micros,
         |       mix_weight, repeat6 AS repeat_factor,
         |       cast(floor(repeat6) AS BIGINT) +
         |       CASE WHEN bucket * 1000000 < frac_micros * 65536
         |            THEN 1 ELSE 0 END AS n_copies
         |FROM b""".stripMargin
    ivfIndexOracleCtes + tail
  }

  /** s11: RECALL AUDIT (beyond-reference) — index-quality monitoring
    * as a first-class query: per query vector, recall@5 of the IVF-PQ
    * ADC search (s06) against the exact brute-force top-5 (s01),
    * computed IN the engine. Production vector stores ship exactly
    * this continuous audit (FAISS's bench harness run as a job): a
    * quantized index degrades silently as the corpus drifts from the
    * frozen training sample, and the audit is what tells an operator
    * to retrain — this repo's own `ann_bench.json` numbers, turned
    * from a dev artifact into an operator a user can schedule.
    *
    * Determinism: both sides are the ALREADY-oracle-checked s01/s06
    * rankings (exact rounded-6dp ties-by-cand_id order), so the
    * intersection count is exact on both engines; recall is the
    * integer-micros ratio.
    *
    * Scale: the exact side prices as one corpus scan per query BATCH
    * (queries broadcast, corpus scanned once) — the audit runs on a
    * SAMPLE of queries (here the fixed <10 prefix), never the corpus
    * against itself, so cost is sample × corpus, the same bill the
    * offline recall evaluation pays anywhere. The join of the two
    * top-5 lists is |sample|·k rows — negligible.
    */
  def recallAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val exact = cosineTopK(spark, sfDir)
      .select($"query_id", $"cand_id")
    val approx = ivfPqAnnTopK(spark, sfDir)
      .select($"query_id", $"cand_id").withColumn("hit", lit(1L))
    exact.join(approx, Seq("query_id", "cand_id"), "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("n_exact"), sum(coalesce($"hit", lit(0L))).as("n_hits"))
      .withColumn("recall",
        (expr("(n_hits * 1000000) div n_exact").cast(DecimalType(20, 0)) *
          lit(new java.math.BigDecimal("0.000001")).cast(DecimalType(7, 6)))
          .cast(DecimalType(24, 6)))
      .select($"query_id", $"n_exact", $"n_hits", $"recall")
  }

  lazy val recallAuditOracle: String =
    s"""WITH ex AS (SELECT query_id, cand_id FROM ($cosineTopKOracle) a),
       |ap AS (SELECT query_id, cand_id FROM ($ivfPqAnnTopKOracle) b),
       |h AS (SELECT e.query_id, count(*) AS n_exact,
       |             count(ap.cand_id) AS n_hits
       |      FROM ex e LEFT JOIN ap
       |        ON ap.query_id = e.query_id AND ap.cand_id = e.cand_id
       |      GROUP BY 1)
       |SELECT query_id, n_exact, n_hits,
       |       cast(((n_hits * 1000000) // n_exact) *
       |            cast(0.000001 AS DECIMAL(7,6)) AS DECIMAL(24,6)) AS recall
       |FROM h""".stripMargin
}
