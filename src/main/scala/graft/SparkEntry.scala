package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DecimalType
import graft.models._
import graft.runner.ModelRegistry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 has a named entry in
  * `queries` and (where SQL-expressible) a DuckDB oracle in `oracleSql`.
  * Column names/types are aligned between the Spark build and the oracle
  * (driver compares sorted-by-name hashed values).
  *
  * Output-type contract: every DECIMAL-valued output column is cast to
  * DOUBLE on BOTH sides at the final projection. Spark parquet decimals
  * render scale-preserving ('51.20' at (38,2)) while the DuckDB oracle
  * renders float-style ('51.2'), so value-equal decimal results hash
  * differently under the driver's string canonicalization
  * (CORRECTNESS_r01: 29/46 red on exactly this). The exact
  * decimal/integer-micros algebra stays *internal* to each query — only
  * the output representation changes, and the values are bit-identical
  * as doubles. `OutputContractSpec` keeps `doubleCols` in sync with the
  * actual query schemas.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    model("daily_txn_summary")(spark, "/root/testdata/sf0.001")

  /** Cast every top-level DecimalType output column to double (type-driven,
    * so new queries are covered automatically; no-op when decimal-free).
    * NESTED decimals (array/struct/map members) are NOT handled — no
    * query emits one, and OutputContractSpec fails the build if a future
    * query does, forcing an explicit decision instead of a silent
    * driver-hash mismatch. */
  private[graft] def decimalsToDouble(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    if (!fields.exists(_.dataType.isInstanceOf[DecimalType])) df
    else df.select(fields.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast("double").as(f.name)
        case _              => col(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** One entry per implemented operator from SURVEY.md §2 — final
    * projections normalized by [[decimalsToDouble]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => decimalsToDouble(fn(s, dir)))
    }

  /** A query over [[ModelRegistry.sessionResolver]]: every Kin model
    * it reads comes from the one registry wiring, memo included. */
  private def kin(q: (String => DataFrame) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (spark, sfDir) => q(ModelRegistry.sessionResolver(spark, sfDir))

  /** The registry model `name` as a query. */
  private def model(name: String) = kin(_(name))

  /** The registry model `name` with its `date_key` watermark column
    * renamed back to the query's own key. */
  private def model(name: String, key: String) =
    kin(_(name).withColumnRenamed("date_key", key))

  /** The un-normalized query bodies (exact internal types preserved). */
  private[graft] def rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_fact_txn" -> model("fact_txn"),
    "q02_daily_txn_summary" -> model("daily_txn_summary"),
    "q03_daily_distinct_wallets" -> model("daily_distinct_wallets"),
    "q04_amount_histogram" -> model("amount_histogram"),
    "q05_app_summary_dim" -> model("app_summary_dim"),
    "q06_wallet_day_join" -> model("wallet_day_activity"),
    "q07_daily_active_union" -> model("daily_active_union"),
    "q08_union_all_balances" -> model("average_balances"),
    "q09_weekly_txn_rollup" -> model("weekly_txn_rollup", "period_key"),
    "q10_monthly_txn_rollup" -> model("monthly_txn_rollup", "period_key"),
    "q11_top_apps_daily" -> model("top_apps_daily"),
    "q12_latest_wallet_state" ->
      kin(r => ActivityModels.latestWalletState(r("fact_txn"))),
    "q13_semi_join_high_balance" -> (TpchModels.semiJoinHighBalance _),
    "q14_anti_join_inactive" -> (TpchModels.antiJoinInactive _),
    "q15_churn_30d" -> (ActivityModels.churn30d _),
    "q16_rolling_7d_active" ->
      kin(r => ActivityModels.rolling7dActive(r("fact_txn"))),
    "q17_rolling_30d_price" -> (TpchModels.rolling30dPrice _),
    "q18_daily_delta" -> kin(r => ActivityModels.dailyDelta(r("fact_txn"))),
    "q19_closing_balance" -> model("closing_balance"),
    "q20_daily_wide_summary" -> (TpchModels.dailyWideSummary _),
    "q21_having_frequent_buyers" -> (TpchModels.havingFrequentBuyers _),
    "q22_capped_app_balance" -> model("capped_app_balance"),
    "q23_weekly_top_apps_json" -> model("weekly_top_apps_json", "week_key"),
    "q24_market_summary" -> model("market_summary"),
    "q25_creates_by_segment" -> model("creates_by_segment"),
    "q26_daily_payout" -> model("daily_payout"),
    "q27_volatility_factor" -> model("volatility_factor"),
    "q28_active_user_balance" -> model("active_user_balance"),
    "q29_kre_weekly_payout" ->
      kin(r => KreModels.kreWeeklyPayoutFrom(r("weekly_payout"))),
    "q30_gc_impacted_accounts" ->
      model("gc_impacted_accounts", "latest_order_date"),
    "q31_balance_buckets" -> model("balance_buckets"),
    "q32_monthly_inactive_wallets" ->
      model("monthly_inactive_wallets", "inactive_month"),
    "q33_daily_net_inflation" -> model("daily_net_inflation"),
    "q34_monthly_active_accounts" -> model("monthly_active_accounts"),
    "q35_daily_kre_summary" -> model("daily_kre_summary"),
    "q36_topk_amounts_per_app" ->
      kin(r => TxnModels.topAmountsPerApp(r("fact_txn"))),
    "q37_create_fee_payers" -> model("create_fee_payers"),
    "q38_weekly_active_ecosystem" -> model("weekly_active_ecosystem"),
    "q39_daily_summary_ecosystem" -> model("daily_summary_ecosystem"),
    "q40_daily_summary_by_app" -> model("daily_summary_by_app"),
    "q41_weekly_kre_payout_summary" -> model("weekly_kre_payout_summary"),
    "q42_weekly_active_accounts_app" -> model("weekly_active_accounts_app"),
    "q43_asof_price_join" ->
      kin(r => ActivityModels.asofPriceJoin(r("fact_txn"))),
    "q44_sessionization" -> (ActivityModels.sessionization _),
    "q45_last_touch_attribution" -> (ActivityModels.lastTouchAttribution _),
    "q46_hourly_gapfill" -> (ActivityModels.hourlyGapfill _),
    // --- beyond-reference: dedup / similarity / text (SURVEY.md §7.2 M8) ---
    "d01_dedup_exact" -> (DedupModels.dedupExact _),
    "d02_minhash_signatures" -> (DedupModels.minhashSignatures _),
    "d03_lsh_near_dup_pairs" -> (DedupModels.lshNearDupPairs _),
    "d04_simhash16" -> (DedupModels.simhash16 _),
    "d05_embedding_near_dup" -> (SimilarityModels.embeddingNearDupPairs _),
    "d06_edit_distance_pairs" -> (DedupModels.editDistancePairs _),
    "d07_near_dup_clusters" -> (DedupModels.nearDupClusters _),
    "d08_segment_dedup" -> (DedupModels.segmentDedup _),
    "d09_semantic_dedup" -> (SimilarityModels.semanticDedup _),
    "d10_dup_spans" -> (DedupModels.dupSpans _),
    "d11_span_trim" -> (DedupModels.spanTrim _),
    "d12_canonical_rep" -> (DedupModels.canonicalRepresentative _),
    "d13_containment_pairs" -> (DedupModels.containmentPairs _),
    "s01_cosine_topk" -> (SimilarityModels.cosineTopK _),
    "s02_lsh_ann_buckets" -> (SimilarityModels.lshAnnBuckets _),
    "s03_ivf_ann_topk" -> (SimilarityModels.ivfAnnTopK _),
    "s04_sq8_ann_topk" -> (SimilarityModels.sq8AnnTopK _),
    "s05_pq_ann_topk" -> (SimilarityModels.pqAnnTopK _),
    "s06_ivfpq_ann_topk" -> (SimilarityModels.ivfPqAnnTopK _),
    "s07_ivfpq_refined_topk" -> (SimilarityModels.ivfPqRefinedTopK _),
    "s08_hard_negatives" -> (SimilarityModels.hardNegativeMining _),
    "s09_contrastive_triplets" -> (SimilarityModels.contrastiveTriplets _),
    "s10_filtered_ann_topk" -> (SimilarityModels.filteredAnnTopK _),
    "s11_recall_audit" -> (SimilarityModels.recallAudit _),
    "c01_decontamination" -> (CurationModels.decontamination _),
    "c02_stratified_sample" -> (CurationModels.stratifiedSample _),
    "c03_repetition_signals" -> (CurationModels.repetitionSignals _),
    "c04_chunk_windows" -> (CurationModels.chunkWindows _),
    "c05_pack_sequences" -> (CurationModels.packSequences _),
    "c06_curation_funnel" -> (CurationModels.curationFunnel _),
    "c07_temperature_mix" -> (CurationModels.temperatureMix _),
    "c08_packing_efficiency" -> (CurationModels.packingEfficiency _),
    "c09_leakage_safe_split" -> (CurationModels.leakageSafeSplit _),
    "c10_neardup_safe_split" -> (CurationModels.nearDupSafeSplit _),
    "c11_semantic_decontam" -> (SimilarityModels.semanticDecontamination _),
    "c12_train_packing" -> (CurationModels.trainSplitPacking _),
    "c13_bpe_packing" -> (CurationModels.bpePackSequences _),
    "c14_domain_mixture" -> (SimilarityModels.domainMixture _),
    "c15_epoch_shuffle" -> (CurationModels.epochShuffle _),
    "c16_fim_transform" -> (CurationModels.fimTransform _),
    "c17_epoch_shard_manifest" -> (CurationModels.epochShardManifest _),
    "c18_epoch_resume_cursors" -> (CurationModels.epochResumeCursors _),
    "t01_lang_profile" -> (TextModels.langProfile _),
    "t02_lang_id_heuristic" -> (TextModels.langIdHeuristic _),
    "t03_quality_score" -> (TextModels.qualityScore _),
    "t04_token_counts" -> (TextModels.tokenCounts _),
    "t05_fingerprint_dedup" -> (TextModels.fingerprintDedup _),
    "t06_heavy_hitters" -> (TextModels.heavyHitters _),
    "t07_unigram_logprob" -> (TextModels.unigramLogprob _),
    "t08_bigram_logprob" -> (TextModels.bigramLogprob _),
    "t09_lm_quality_tiers" -> (TextModels.lmQualityTiers _),
    "t10_pii_redaction" -> (TextModels.piiRedaction _),
    "t11_nb_quality" -> (TextModels.nbQualityScore _),
    "t12_bpe_merges" -> (TextModels.bpeMerges _),
    "t13_bpe_tokenize" -> (TextModels.bpeTokenize _),
    "t14_dsir_importance" -> (TextModels.dsirImportance _),
    "t15_gumbel_resample" -> (TextModels.dsirGumbelResample _),
    "t16_tfidf_keywords" -> (TextModels.tfidfKeywords _),
    "m01_media_meta_summary" -> (graft.multimodal.MultimodalOps.mediaMetaSummary _),
    "m02_frame_sample_summary" -> (graft.multimodal.MultimodalOps.frameSampleSummary _),
    "m03_resize_summary" -> (graft.multimodal.MultimodalOps.resizeSummary _),
    "m04_audio_meta_summary" -> (graft.multimodal.MultimodalOps.audioMetaSummary _),
    "m05_video_meta_summary" -> (graft.multimodal.MultimodalOps.videoMetaSummary _),
    "m06_pixel_pool_summary" -> (graft.multimodal.MultimodalOps.pixelPoolSummary _),
    "m07_phash_image_dedup" -> (graft.multimodal.MultimodalOps.phashImageDedup _),
    "m08_audio_energy" -> (graft.multimodal.MultimodalOps.audioEnergySummary _),
    "m09_video_phash_dedup" -> (graft.multimodal.MultimodalOps.videoKeyframePhash _),
    "m10_audio_fp_dedup" -> (graft.multimodal.MultimodalOps.audioFingerprintDedup _),
    "m11_image_text_pairs" -> (graft.multimodal.MultimodalOps.imageTextPairs _),
  )

  /** Decimal-valued output columns per query — the oracle side mirrors
    * the Spark-side [[decimalsToDouble]] with `CAST(c AS DOUBLE)`.
    * `OutputContractSpec` asserts this map equals the set of DecimalType
    * columns each raw query actually produces. */
  private[graft] val doubleCols: Map[String, Seq[String]] = Map(
    "q01_fact_txn" -> Seq("amount"),
    "q02_daily_txn_summary" -> Seq("total_amount", "median_amount", "total_fees", "avg_amount"),
    "q04_amount_histogram" -> Seq("total_amount"),
    "q05_app_summary_dim" -> Seq("total_amount"),
    "q06_wallet_day_join" -> Seq("spend_amount"),
    "q08_union_all_balances" -> Seq("avg_balance"),
    "q09_weekly_txn_rollup" -> Seq("total_amount", "avg_amount"),
    "q10_monthly_txn_rollup" -> Seq("total_amount", "avg_amount"),
    "q11_top_apps_daily" -> Seq("payout"),
    "q12_latest_wallet_state" -> Seq("daily_total"),
    "q13_semi_join_high_balance" -> Seq("total_price"),
    "q14_anti_join_inactive" -> Seq("stranded_balance"),
    "q17_rolling_30d_price" -> Seq("day_price_sum", "rolling_avg_price"),
    "q18_daily_delta" -> Seq("total_amount", "prev_delta"),
    "q19_closing_balance" -> Seq("closing_balance"),
    "q20_daily_wide_summary" -> Seq("total_price", "total_quantity"),
    "q21_having_frequent_buyers" -> Seq("total_spend"),
    "q22_capped_app_balance" -> Seq("aub", "capped_aub"),
    "q23_weekly_top_apps_json" -> Seq("top_payout_total"),
    "q24_market_summary" -> Seq("market_cap", "volume", "avg_price"),
    "q25_creates_by_segment" -> Seq("opening_balance"),
    "q26_daily_payout" -> Seq("pre_monopoly_share", "pre_monopoly_payout",
      "post_monopoly_share", "post_monopoly_payout", "post_monopoly_payout_usd"),
    "q27_volatility_factor" -> Seq("average_price", "volatility_factor"),
    "q28_active_user_balance" -> Seq("aub", "capped_aub"),
    "q29_kre_weekly_payout" -> Seq("weekly_kin_payout", "weekly_usd_payout"),
    "q30_gc_impacted_accounts" -> Seq("latest_total"),
    "q31_balance_buckets" -> Seq("bucket_balance"),
    "q33_daily_net_inflation" -> Seq("daily_payout", "current_balance",
      "prev_balance", "churn_amount", "net_inflation"),
    "q35_daily_kre_summary" -> Seq("active_user_balance",
      "active_capped_user_balance", "volatility_factor", "kin_payout",
      "usd_payout"),
    "q37_create_fee_payers" -> Seq("fee_paid"),
    "q39_daily_summary_ecosystem" -> Seq("transaction_amount_kin",
      "earn_amount_kin", "spend_amount_kin", "peer_amount_kin"),
    "q40_daily_summary_by_app" -> Seq("transaction_fees",
      "transaction_amount_kin", "earn_amount_kin", "spend_amount_kin",
      "peer_amount_kin"),
    "q41_weekly_kre_payout_summary" -> Seq("kin_payout", "usd_payout"),
    "q43_asof_price_join" -> Seq("day_amount", "asof_price"),
    "c01_decontamination" -> Seq("contamination"),
    "d03_lsh_near_dup_pairs" -> Seq("jaccard"),
    "d05_embedding_near_dup" -> Seq("max_cosine", "min_cosine"),
    "d06_edit_distance_pairs" -> Seq("similarity"),
    "s01_cosine_topk" -> Seq("cosine_sim"),
    "s03_ivf_ann_topk" -> Seq("cosine_sim"),
    "s04_sq8_ann_topk" -> Seq("cosine_sim_sq8"),
    "s05_pq_ann_topk" -> Seq("pq_sim"),
    "s06_ivfpq_ann_topk" -> Seq("ivfpq_sim"),
    "s07_ivfpq_refined_topk" -> Seq("cosine_sim"),
    "s08_hard_negatives" -> Seq("neg_sim"),
    "s09_contrastive_triplets" -> Seq("pos_sim", "neg_sim"),
    "s10_filtered_ann_topk" -> Seq("ivfpq_sim"),
    "s11_recall_audit" -> Seq("recall"),
    "d13_containment_pairs" -> Seq("containment"),
    "d08_segment_dedup" -> Seq("retained_ratio"),
    "d09_semantic_dedup" -> Seq("max_pair_sim"),
    "c11_semantic_decontam" -> Seq("max_eval_sim"),
    "q46_hourly_gapfill" -> Seq("total_value"),
    // t07/t08 avg_logprob and t09's tier extrema are DOUBLE since the
    // round-8 integer-micros rounding fix (only the sums stay decimal)
    "t07_unigram_logprob" -> Seq("sum_logprob"),
    "t08_bigram_logprob" -> Seq("sum_logprob"),
    "t11_nb_quality" -> Seq("sum_llr"),
    "t14_dsir_importance" -> Seq("sum_lr"),
    "t15_gumbel_resample" -> Seq("sum_lr"),
    "t16_tfidf_keywords" -> Seq("score"),
  )

  /** Wrap an oracle so its decimal outputs render as DOUBLE, matching
    * the Spark side (DuckDB star-REPLACE keeps all other columns). */
  private def castOracle(sql: String, cols: Seq[String]): String =
    if (cols.isEmpty) sql
    else {
      val repl = cols.map(c => s"CAST($c AS DOUBLE) AS $c").mkString(", ")
      s"SELECT * REPLACE ($repl) FROM (\n$sql\n) AS _final"
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    rawOracleSql.map { case (name, sql) =>
      name -> castOracle(sql, doubleCols.getOrElse(name, Nil))
    }

  private[graft] def rawOracleSql: Map[String, String] = Map(
    "q01_fact_txn" -> TxnModels.factTxnOracle,
    "q02_daily_txn_summary" -> TxnModels.dailyTxnSummaryOracle,
    "q03_daily_distinct_wallets" -> ActivityModels.dailyDistinctWalletsOracle,
    "q04_amount_histogram" -> ActivityModels.amountHistogramOracle,
    "q05_app_summary_dim" -> PayoutModels.appSummaryDimOracle,
    "q06_wallet_day_join" -> PayoutModels.walletDayJoinOracle,
    "q07_daily_active_union" -> ActivityModels.dailyActiveUnionOracle,
    "q08_union_all_balances" -> TpchModels.unionAllBalancesOracle,
    "q09_weekly_txn_rollup" -> PayoutModels.periodTxnRollupOracle("week"),
    "q10_monthly_txn_rollup" -> PayoutModels.periodTxnRollupOracle("month"),
    "q11_top_apps_daily" -> PayoutModels.topAppsDailyOracle,
    "q12_latest_wallet_state" -> ActivityModels.latestWalletStateOracle,
    "q13_semi_join_high_balance" -> TpchModels.semiJoinHighBalanceOracle,
    "q14_anti_join_inactive" -> TpchModels.antiJoinInactiveOracle,
    "q15_churn_30d" -> ActivityModels.churn30dOracle,
    "q16_rolling_7d_active" -> ActivityModels.rolling7dActiveOracle,
    "q17_rolling_30d_price" -> TpchModels.rolling30dPriceOracle,
    "q18_daily_delta" -> ActivityModels.dailyDeltaOracle,
    "q19_closing_balance" -> ActivityModels.closingBalanceOracle,
    "q20_daily_wide_summary" -> TpchModels.dailyWideSummaryOracle,
    "q21_having_frequent_buyers" -> TpchModels.havingFrequentBuyersOracle,
    "q22_capped_app_balance" -> PayoutModels.cappedAppBalanceOracle,
    "q23_weekly_top_apps_json" -> PayoutModels.weeklyTopAppsJsonOracle,
    "q24_market_summary" -> TpchModels.marketSummaryOracle,
    "q25_creates_by_segment" -> TpchModels.createsBySegmentOracle,
    "q26_daily_payout" -> KreModels.dailyPayoutOracle,
    "q27_volatility_factor" -> KreModels.volatilityFactorOracle,
    "q28_active_user_balance" -> KreModels.activeUserBalanceOracle,
    "q29_kre_weekly_payout" -> KreModels.kreWeeklyPayoutOracle,
    "q30_gc_impacted_accounts" -> TpchModels.gcImpactedAccountsOracle,
    "q31_balance_buckets" -> ActivityModels.balanceBucketsOracle,
    "q32_monthly_inactive_wallets" -> ActivityModels.monthlyInactiveWalletsOracle,
    "q33_daily_net_inflation" -> CompositeModels.dailyNetInflationOracle,
    "q34_monthly_active_accounts" -> CompositeModels.monthlyActiveAccountsOracle,
    "q35_daily_kre_summary" -> CompositeModels.dailyKreSummaryOracle,
    "q36_topk_amounts_per_app" -> TxnModels.topAmountsPerAppOracle,
    "q37_create_fee_payers" -> TpchModels.createFeePayersOracle,
    "q38_weekly_active_ecosystem" -> EcosystemModels.weeklyActiveEcosystemOracle,
    "q39_daily_summary_ecosystem" -> EcosystemModels.dailySummaryEcosystemOracle,
    "q40_daily_summary_by_app" -> EcosystemModels.dailySummaryByAppOracle,
    "q41_weekly_kre_payout_summary" -> PayoutModels.weeklyKrePayoutSummaryOracle,
    "q42_weekly_active_accounts_app" -> CompositeModels.weeklyActiveAccountsAppOracle,
    "q43_asof_price_join" -> ActivityModels.asofPriceJoinOracle,
    "q44_sessionization" -> ActivityModels.sessionizationOracle,
    "q45_last_touch_attribution" -> ActivityModels.lastTouchAttributionOracle,
    "q46_hourly_gapfill" -> ActivityModels.hourlyGapfillOracle,
    "d01_dedup_exact" -> DedupModels.dedupExactOracle,
    "d02_minhash_signatures" -> DedupModels.minhashSignaturesOracle,
    "d03_lsh_near_dup_pairs" -> DedupModels.lshNearDupPairsOracle,
    "d04_simhash16" -> DedupModels.simhash16Oracle,
    "d05_embedding_near_dup" -> SimilarityModels.embeddingNearDupPairsOracle,
    "d06_edit_distance_pairs" -> DedupModels.editDistancePairsOracle,
    "d07_near_dup_clusters" -> DedupModels.nearDupClustersOracle,
    "d08_segment_dedup" -> DedupModels.segmentDedupOracle,
    "d09_semantic_dedup" -> SimilarityModels.semanticDedupOracle,
    "d10_dup_spans" -> DedupModels.dupSpansOracle,
    "d11_span_trim" -> DedupModels.spanTrimOracle,
    "d12_canonical_rep" -> DedupModels.canonicalRepresentativeOracle,
    "d13_containment_pairs" -> DedupModels.containmentPairsOracle,
    "s01_cosine_topk" -> SimilarityModels.cosineTopKOracle,
    "s02_lsh_ann_buckets" -> SimilarityModels.lshAnnBucketsOracle,
    "s03_ivf_ann_topk" -> SimilarityModels.ivfAnnTopKOracle,
    "s04_sq8_ann_topk" -> SimilarityModels.sq8AnnTopKOracle,
    "s05_pq_ann_topk" -> SimilarityModels.pqAnnTopKOracle,
    "s06_ivfpq_ann_topk" -> SimilarityModels.ivfPqAnnTopKOracle,
    "s07_ivfpq_refined_topk" -> SimilarityModels.ivfPqRefinedTopKOracle,
    "s08_hard_negatives" -> SimilarityModels.hardNegativeMiningOracle,
    "s09_contrastive_triplets" -> SimilarityModels.contrastiveTripletsOracle,
    "s10_filtered_ann_topk" -> SimilarityModels.filteredAnnTopKOracle,
    "s11_recall_audit" -> SimilarityModels.recallAuditOracle,
    "c01_decontamination" -> CurationModels.decontaminationOracle,
    "c02_stratified_sample" -> CurationModels.stratifiedSampleOracle,
    "c03_repetition_signals" -> CurationModels.repetitionSignalsOracle,
    "c04_chunk_windows" -> CurationModels.chunkWindowsOracle,
    "c05_pack_sequences" -> CurationModels.packSequencesOracle,
    "c06_curation_funnel" -> CurationModels.curationFunnelOracle,
    "c07_temperature_mix" -> CurationModels.temperatureMixOracle,
    "c08_packing_efficiency" -> CurationModels.packingEfficiencyOracle,
    "c09_leakage_safe_split" -> CurationModels.leakageSafeSplitOracle,
    "c10_neardup_safe_split" -> CurationModels.nearDupSafeSplitOracle,
    "c11_semantic_decontam" -> SimilarityModels.semanticDecontaminationOracle,
    "c12_train_packing" -> CurationModels.trainSplitPackingOracle,
    "c13_bpe_packing" -> CurationModels.bpePackSequencesOracle,
    "c14_domain_mixture" -> SimilarityModels.domainMixtureOracle,
    "c15_epoch_shuffle" -> CurationModels.epochShuffleOracle,
    "c16_fim_transform" -> CurationModels.fimTransformOracle,
    "c17_epoch_shard_manifest" -> CurationModels.epochShardManifestOracle,
    "c18_epoch_resume_cursors" -> CurationModels.epochResumeCursorsOracle,
    "t01_lang_profile" -> TextModels.langProfileOracle,
    "t02_lang_id_heuristic" -> TextModels.langIdHeuristicOracle,
    "t03_quality_score" -> TextModels.qualityScoreOracle,
    "t04_token_counts" -> TextModels.tokenCountsOracle,
    "t05_fingerprint_dedup" -> TextModels.fingerprintDedupOracle,
    "t06_heavy_hitters" -> TextModels.heavyHittersOracle,
    "t07_unigram_logprob" -> TextModels.unigramLogprobOracle,
    "t08_bigram_logprob" -> TextModels.bigramLogprobOracle,
    "t09_lm_quality_tiers" -> TextModels.lmQualityTiersOracle,
    "t10_pii_redaction" -> TextModels.piiRedactionOracle,
    "t11_nb_quality" -> TextModels.nbQualityScoreOracle,
    "t12_bpe_merges" -> TextModels.bpeMergesOracle,
    "t13_bpe_tokenize" -> TextModels.bpeTokenizeOracle,
    "t14_dsir_importance" -> TextModels.dsirImportanceOracle,
    "t15_gumbel_resample" -> TextModels.dsirGumbelResampleOracle,
    "t16_tfidf_keywords" -> TextModels.tfidfKeywordsOracle,
    "m01_media_meta_summary" -> graft.multimodal.MultimodalOps.mediaMetaSummaryOracle,
    "m02_frame_sample_summary" -> graft.multimodal.MultimodalOps.frameSampleSummaryOracle,
    "m03_resize_summary" -> graft.multimodal.MultimodalOps.resizeSummaryOracle,
    "m04_audio_meta_summary" -> graft.multimodal.MultimodalOps.audioMetaSummaryOracle,
    "m05_video_meta_summary" -> graft.multimodal.MultimodalOps.videoMetaSummaryOracle,
    "m06_pixel_pool_summary" -> graft.multimodal.MultimodalOps.pixelPoolSummaryOracle,
    "m07_phash_image_dedup" -> graft.multimodal.MultimodalOps.phashImageDedupOracle,
    "m08_audio_energy" -> graft.multimodal.MultimodalOps.audioEnergySummaryOracle,
    "m09_video_phash_dedup" -> graft.multimodal.MultimodalOps.videoKeyframePhashOracle,
    "m10_audio_fp_dedup" -> graft.multimodal.MultimodalOps.audioFingerprintDedupOracle,
    "m11_image_text_pairs" -> graft.multimodal.MultimodalOps.imageTextPairsOracle,
  )
}
