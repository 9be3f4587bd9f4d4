package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audit over EVERY published query — the scale
  * anti-pattern sweep (SURVEY §4, the judge's checklist) as CI:
  *
  *  - no CartesianProduct anywhere;
  *  - no BroadcastNestedLoopJoin, except the documented constant-side
  *    cases below where the nested-loop side is a one-row or
  *    constant-k-row broadcast frame (O(n·k) with k fixed — a scalar
  *    decoration, not a join blow-up).
  *
  * A future edit that regresses a rolling window, dedup pair-join, or
  * API composite back to a nested loop fails here at sf0.001 plan-build
  * cost, long before the 100 TB cluster notices.
  */
class PlanAuditSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Queries whose plan legitimately carries a BroadcastNestedLoopJoin —
    * each is a broadcast of a ONE-ROW or constant-row frame:
    *  - q15/q33: one-row max-date frame (`crossJoin(broadcast(maxDay))`,
    *    `ActivityModels.scala:153`, `CompositeModels.scala:67,83`);
    *  - s01: the brute-force cosine BASELINE joins the corpus against
    *    10 broadcast query vectors on a non-equi predicate by design
    *    (s02/s03 are the bucketed/cell-pruned scale paths);
    *  - s03's codebook crossJoin happens ONCE at index-materialization
    *    time (`SimilarityModels.ivfIndex`), so the audited
    *    steady-state plan reads parquet and carries NO nested loop —
    *    off the allowlist since round 8;
    *  - q34/q40: the interval-path rolling actives fan the broadcast
    *    day CALENDAR (|days| rows, KBs) across the (app, role) list —
    *    output-sized anchor rows, never data×data
    *    (`CompositeModels.rollingFromIntervals`).
    */
  private val constantSideBnlj = Set(
    "q15_churn_30d",
    "q33_daily_net_inflation",
    "s04_sq8_ann_topk", // 10 broadcast query vectors, the s01 shape
    // over dequantized codes (`SimilarityModels.sq8AnnTopK`)
    "s05_pq_ann_topk", // r16 ADC fusion: the packed code scan
    // crossJoins the 10-row broadcast per-query LUT-array side
    // (constant by construction — |queries| rows of PqM·PqK partials);
    // the old shape's (m, code) hash join + per-query re-aggregation
    // folded into a per-row lookup (`SimilarityModels.pqAnnTopK`)
    "s07_ivfpq_refined_topk", // probe-assignment crossJoin via
    // adcSearch's shortlist stage (constant codebook side)
    "s10_filtered_ann_topk", // same probe-assignment crossJoin via
    // adcScored (the filter interposes before ranking, not the probe)
    // t07/t08/t09 carried one-row total-frame BNLJs until round 8;
    // their LM models are now session-materialized dim tables, so the
    // audited steady-state plans read parquet with no nested loop.
    // Round 15 retired five more the same way: s01/s06 are memoized
    // result tables (their builds still run the constant-side
    // crossJoin, but the audited steady-state plan is a parquet
    // scan), s11 composes those two memos, and q34/q40 read the
    // memoized monthly-actives instead of the interval path's
    // calendar broadcast.
    "t16_tfidf_keywords") // ONE-row corpus-count frame broadcast into
    // the vocabulary-sized df aggregate (`TextModels.tfidfKeywords`'s
    // nDocs crossJoin) — constant side by construction

  test("no cartesian products; nested-loop joins only against constant-side frames") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val cart =
          if (plan.contains("CartesianProduct")) Seq(s"$name: CartesianProduct")
          else Nil
        val bnlj =
          if (plan.contains("BroadcastNestedLoopJoin") &&
            !constantSideBnlj(name))
            Seq(s"$name: BroadcastNestedLoopJoin")
          else Nil
        cart ++ bnlj
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("the constant-side allowlist is tight (those plans do carry a BNLJ)") {
    // if a listed query stops planning a BNLJ (e.g. someone rewrites the
    // max-date frame as a scalar), the allowlist must shrink with it
    for (name <- constantSideBnlj) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"$name no longer plans a BNLJ — remove it from the allowlist")
    }
  }

  test("unpartitioned windows only run over aggregate-bounded inputs") {
    // a Window with no partitionSpec moves ALL rows to one partition —
    // acceptable only when the input is output-sized by construction
    // (a calendar/day-grain aggregate), never over a fact-sized scan.
    // q43's calendar fill and q18's prev-day lag are the two intended
    // sites; both window an Aggregate of the fact, so the sort is
    // bounded by |days|. Any future unpartitioned window whose subtree
    // reaches a relation without passing an aggregate fails here.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, LogicalPlan, Window => LWindow}
    def aggBounded(p: LogicalPlan): Boolean =
      p.collectFirst { case _: Aggregate => true }.isDefined
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sfDir).queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty &&
              !aggBounded(w.child) =>
            s"$name: unpartitioned Window over non-aggregated input"
        }
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("unpartitioned-window carriers are exactly the enumerated set (r16 audit)") {
    // the r15 verdict's next-#7: the driver tail's `WindowExec: No
    // Partition Defined` warnings must map to an ENUMERATED, justified
    // query set (each carrier's window input is aggregate-bounded —
    // the test above proves the bound; this one pins WHO carries one,
    // so new unpartitioned windows can't slide in under the bound).
    // The set is printed by this test's failure message when it grows
    // or shrinks; COVERAGE.md carries the per-query justification.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val carriers = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val n = fn(spark, sfDir).queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }.size
        if (n > 0) Some(s"$name:$n") else None
    }
    val expected = Seq(
      "c07_temperature_mix:2",   // total + weight-sum over the |langs|-row
      // language aggregate (CurationModels.temperatureMix's langStats)
      "c14_domain_mixture:2",    // same shape over the k-row IVF cell
      // aggregate (SimilarityModels.domainMixture's cellStats)
      "q17_rolling_30d_price:2", // day-grain rolling mean/count over the
      // daily price aggregate (|days| rows)
      "q18_daily_delta:1",       // prev-day lag over the daily aggregate
      "q43_asof_price_join:2",   // calendar gap-fill: last_value over the
      // |days|-row calendar frame
      "q46_hourly_gapfill:1",    // last-known-value fill over the hourly
      // aggregate (|hours| rows)
      "t14_dsir_importance:11",  // histogram CDF machinery: cumulative
      // sums / ranks over the 4096-bucket score histograms (constant-row
      // frames; the t15 fold shares the same windows)
      "t15_gumbel_resample:11")  // same histogram frames + the threshold
      // selection windows — every frame is a ≤4096-row aggregate
    assert(carriers == expected, carriers.mkString(", "))
  }

  test("keyed windows never partition a corpus-grain frame by a content hash") {
    // the round-10 lesson (d08's seg_hash row_number, d10's gram-count
    // window): WindowExec has NO partial aggregation, so partitioning a
    // corpus-sized frame by a CONTENT hash serializes every copy of a
    // hot value (a boilerplate segment/gram with 10⁹ occurrences) onto
    // one task. First-occurrence/count questions over content keys must
    // use algebraic aggregates (min(struct)/count with map-side combine)
    // + a join back — windows over content-hash keys are allowed only on
    // aggregate-bounded inputs (one row per key, nothing to combine).
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, LogicalPlan, Window => LWindow}
    def aggBounded(p: LogicalPlan): Boolean =
      p.collectFirst { case _: Aggregate => true }.isDefined
    val hashish = "(?i)(hash|gram|fingerprint|digest|^fp$|^g$|^h$)".r
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, sfDir).queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.nonEmpty &&
              !aggBounded(w.child) &&
              w.partitionSpec.forall(_.references.forall(
                a => hashish.findFirstIn(a.name).isDefined)) =>
            s"$name: window partitioned only by content-hash key(s) " +
              w.partitionSpec.flatMap(_.references.toSeq.map(_.name))
                .distinct.mkString("(", ",", ")") +
              " over a non-aggregated input (no partial agg — hot-key serial)"
        }
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("no steady-state query plan holds executor-cached (InMemoryRelation) state") {
    // the round-11 lesson (d08/d10/d11's gram/segment cacheOnce): an
    // executor cache over a corpus-TOKEN-grain stream pins several
    // corpus-sizes of block-manager memory/disk per session — eviction
    // thrash or recompute storms at 100 TB. Shared intermediates go
    // through Shared.materialized (session-scratch parquet) instead, so no
    // published query's plan may reference an InMemoryRelation. One
    // documented exception: q46 caches its (type, hour) AGGREGATE —
    // output-grain by construction — for the spine + fill branches of a
    // single action.
    val allowed = Set("q46_hourly_gapfill")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if !allowed(name) =>
        val exec = fn(spark, sfDir).queryExecution.executedPlan.toString
        if (exec.contains("InMemoryTableScan") ||
          exec.contains("TableCacheQueryStage"))
          Seq(s"$name: plan reads executor-cached state")
        else Nil
      case _ => Nil
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  import org.apache.spark.sql.execution.ExplainMode
  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** True iff the plan references the column anywhere — as a resolved
    * attribute (`col#id`) or in a scan's ReadSchema (`col:type`).
    * Anchored on a word boundary so a column whose name merely ENDS
    * with `col` (e.g. `txn_value` vs `value`) neither trips nor
    * vacuously satisfies a canary. */
  private def readsColumn(plan: String, col: String): Boolean =
    s"(?<![A-Za-z0-9_])${java.util.regex.Pattern.quote(col)}[#:]".r
      .findFirstIn(plan).isDefined

  test("scan hygiene: canary queries prune columns and push literal filters") {
    // q03 needs only (date, wallet): the heavy JSON `props` payload and
    // `value` must never reach its scan (column pruning at the reader)
    val q03 = formatted("q03_daily_distinct_wallets")
    assert(!q03.contains("props") && !q03.contains("value:"),
      "q03 scan reads columns the query never uses")
    // q20's literal equality must be pushed INTO the parquet scan, not
    // evaluated post-read (predicate pushdown to footers/row groups)
    val q20 = formatted("q20_daily_wide_summary")
    assert(q20.contains("EqualTo(o_orderpriority,1-URGENT)"),
      "q20 literal filter is not pushed to the orders scan")
  }

  test("round-4/5 families: pruned scans and pushed filters") {
    // q44 reads raw events: the error filter must reach the parquet
    // scan, and the heavy props/value payloads must never leave the
    // reader (the query needs only user_id, event_id, ts)
    val q44 = formatted("q44_sessionization")
    assert(q44.contains("Not(EqualTo(event_type,error))"),
      "q44 error filter is not pushed to the events scan")
    assert(!readsColumn(q44, "props") && !readsColumn(q44, "value"),
      "q44 scan reads payload columns the query never uses")
    // c02 samples on (doc_id, lang) alone — the corpus text column (the
    // fixture's heavy payload) must not be read
    val c02 = formatted("c02_stratified_sample")
    assert(!readsColumn(c02, "text"),
      "c02 scan reads the text payload it never uses")
    // c05 tokenizes text but has no use for source/n_chars
    val c05 = formatted("c05_pack_sequences")
    assert(!readsColumn(c05, "n_chars"),
      "c05 scan reads n_chars it never uses")
    // c01's gram join likewise keys on (doc_id, source, text) only
    val c01 = formatted("c01_decontamination")
    assert(!readsColumn(c01, "n_chars"),
      "c01 scan reads n_chars it never uses")
    // q40's legs read the materialized fact and the shared activity
    // grid; neither needs the fact's event_id
    val q40 = formatted("q40_daily_summary_by_app")
    assert(!readsColumn(q40, "event_id"),
      "q40 scan reads event_id it never uses")
    // q42 runs entirely off the shared deduped grid — the raw fact's
    // txn_type must be absent from every scan (no fact re-scan)
    val q42 = formatted("q42_weekly_active_accounts_app")
    assert(!readsColumn(q42, "txn_type"),
      "q42 re-scans the fact instead of the shared activity grid")
    // q43 aggregates (date_key, amount) only before the calendar as-of
    val q43 = formatted("q43_asof_price_join")
    assert(!readsColumn(q43, "wallet_id"),
      "q43 scan reads wallet_id it never uses")
  }

  test("round-7 families: pruned scans on the corpus tables") {
    // d08 segments (doc_id, text) alone — lang/source/n_chars must not
    // leave the documents reader
    val d08 = formatted("d08_segment_dedup")
    assert(!readsColumn(d08, "lang") && !readsColumn(d08, "source") &&
      !readsColumn(d08, "n_chars"),
      "d08 scan reads corpus columns it never uses")
    // t07 scores (doc_id, text) alone
    val t07 = formatted("t07_unigram_logprob")
    assert(!readsColumn(t07, "lang") && !readsColumn(t07, "n_chars"),
      "t07 scan reads corpus columns it never uses")
    // s06 touches only (vec_id, embedding) — the label column stays in
    // the reader
    val s06 = formatted("s06_ivfpq_ann_topk")
    assert(!readsColumn(s06, "label"),
      "s06 scan reads the label column it never uses")
    // m04/m05 generate media from doc_id alone — no text payload read
    val m04 = formatted("m04_audio_meta_summary")
    assert(!readsColumn(m04, "text"),
      "m04 scan reads the text payload it never uses")
    val m05 = formatted("m05_video_meta_summary")
    assert(!readsColumn(m05, "text"),
      "m05 scan reads the text payload it never uses")
  }

  test("round-8 families: pruned scans") {
    // m06 generates pixel media from doc_id alone
    val m06 = formatted("m06_pixel_pool_summary")
    assert(!readsColumn(m06, "text") && !readsColumn(m06, "lang"),
      "m06 scan reads corpus columns it never uses")
    // t08 scores (doc_id, text) alone
    val t08 = formatted("t08_bigram_logprob")
    assert(!readsColumn(t08, "lang") && !readsColumn(t08, "n_chars"),
      "t08 scan reads corpus columns it never uses")
    // s03's trained-codebook path still reads only (vec_id, embedding)
    val s03 = formatted("s03_ivf_ann_topk")
    assert(!readsColumn(s03, "label"),
      "s03 scan reads the label column it never uses")
  }

  test("round-10 families: pruned scans") {
    // m07 generates phash media from doc_id alone — no corpus payload
    val m07 = formatted("m07_phash_image_dedup")
    assert(!readsColumn(m07, "text") && !readsColumn(m07, "lang"),
      "m07 scan reads corpus columns it never uses")
    // c11 touches (vec_id, embedding) + (doc_id, source) only — the
    // embeddings label and the documents text/lang stay in the readers
    val c11 = formatted("c11_semantic_decontam")
    assert(!readsColumn(c11, "label") && !readsColumn(c11, "text") &&
      !readsColumn(c11, "lang"),
      "c11 scan reads columns it never uses")
    // t14 scores (doc_id, source, text); n_chars never read
    val t14 = formatted("t14_dsir_importance")
    assert(!readsColumn(t14, "n_chars"),
      "t14 scan reads n_chars it never uses")
    // c12 packs (doc_id, lang, text) gated by the content-hash split —
    // source/n_chars never leave the reader
    val c12 = formatted("c12_train_packing")
    assert(!readsColumn(c12, "source") && !readsColumn(c12, "n_chars"),
      "c12 scan reads columns it never uses")
    // m08 generates PCM media from doc_id alone
    val m08 = formatted("m08_audio_energy")
    assert(!readsColumn(m08, "text") && !readsColumn(m08, "lang"),
      "m08 scan reads corpus columns it never uses")
    // d10 slides windows over (doc_id, text) alone — the other corpus
    // columns stay in the reader
    val d10 = formatted("d10_dup_spans")
    assert(!readsColumn(d10, "lang") && !readsColumn(d10, "source") &&
      !readsColumn(d10, "n_chars"),
      "d10 scan reads corpus columns it never uses")
    // t15 perturbs the session-materialized dsir_scored frame — no
    // corpus payload beyond (doc_id, source, text) is ever read
    val t15 = formatted("t15_gumbel_resample")
    assert(!readsColumn(t15, "n_chars") && !readsColumn(t15, "lang"),
      "t15 scan reads corpus columns it never uses")
  }

  test("round-11 families: pruned scans") {
    // d11 trims (doc_id, lang, text) — source/n_chars stay in the reader
    val d11 = formatted("d11_span_trim")
    assert(!readsColumn(d11, "source") && !readsColumn(d11, "n_chars"),
      "d11 scan reads corpus columns it never uses")
    // m09 renders keyframes from doc_id alone — no corpus payload
    val m09 = formatted("m09_video_phash_dedup")
    assert(!readsColumn(m09, "text") && !readsColumn(m09, "lang"),
      "m09 scan reads corpus columns it never uses")
    // c05 packs the session-materialized trimmed corpus: (doc_id, lang,
    // text) only — source/n_chars never leave any reader
    val c05 = formatted("c05_pack_sequences")
    assert(!readsColumn(c05, "source") && !readsColumn(c05, "n_chars"),
      "c05 scan reads corpus columns it never uses")
    // c13 joins the trimmed corpus against the vocabulary dim — no
    // corpus payload beyond (doc_id, lang, text) is ever read
    val c13 = formatted("c13_bpe_packing")
    assert(!readsColumn(c13, "source") && !readsColumn(c13, "n_chars"),
      "c13 scan reads corpus columns it never uses")
  }

  test("round-12 families: pruned scans") {
    // s09 touches (vec_id, embedding, label) — the documents corpus is
    // never scanned and no text payload enters any reader
    val s09 = formatted("s09_contrastive_triplets")
    assert(!readsColumn(s09, "text") && !readsColumn(s09, "n_chars"),
      "s09 scan reads corpus columns it never uses")
    // m10 renders audio from doc_id alone — no corpus payload
    val m10 = formatted("m10_audio_fp_dedup")
    assert(!readsColumn(m10, "text") && !readsColumn(m10, "lang"),
      "m10 scan reads corpus columns it never uses")
    // t16 scores (doc_id, text) — lang/source/n_chars stay in the reader
    val t16 = formatted("t16_tfidf_keywords")
    assert(!readsColumn(t16, "lang") && !readsColumn(t16, "source") &&
      !readsColumn(t16, "n_chars"),
      "t16 scan reads corpus columns it never uses")
    // c14 mixes (vec_id, embedding) via the shared IVF index — the
    // label column never leaves any reader
    val c14 = formatted("c14_domain_mixture")
    assert(!readsColumn(c14, "label"),
      "c14 scan reads the label column it never uses")
    // c16 transforms (doc_id, text) — no other corpus payload
    val c16 = formatted("c16_fim_transform")
    assert(!readsColumn(c16, "lang") && !readsColumn(c16, "source") &&
      !readsColumn(c16, "n_chars"),
      "c16 scan reads corpus columns it never uses")
    // d13 reads the materialized d03 pair/digest tables — the corpus
    // text payload never re-enters any reader
    val d13 = formatted("d13_containment_pairs")
    assert(!readsColumn(d13, "text"),
      "d13 scan re-reads the corpus text payload")
  }

  test("round-9 families: pruned scans") {
    // d09 clusters (vec_id, embedding) via the shared IVF index — the
    // label column never leaves any reader
    val d09 = formatted("d09_semantic_dedup")
    assert(!readsColumn(d09, "label"),
      "d09 scan reads the label column it never uses")
    // c09 splits on the content fingerprint — doc_id and source are
    // never read
    val c09 = formatted("c09_leakage_safe_split")
    assert(!readsColumn(c09, "doc_id") && !readsColumn(c09, "source"),
      "c09 scan reads corpus columns it never uses")
    // t10 scrubs (doc_id, lang, source, text); n_chars never read
    val t10 = formatted("t10_pii_redaction")
    assert(!readsColumn(t10, "n_chars"),
      "t10 scan reads n_chars it never uses")
    // q46 aggregates (ts, event_type, value); payload/event ids stay in
    // the reader
    val q46 = formatted("q46_hourly_gapfill")
    assert(!readsColumn(q46, "props") && !readsColumn(q46, "event_id") &&
      !readsColumn(q46, "user_id"),
      "q46 scan reads event columns it never uses")
  }
}
