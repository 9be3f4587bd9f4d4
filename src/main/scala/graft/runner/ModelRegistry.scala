package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Tables
import graft.models._

/** The production model DAG: the full mart set wired into the
  * incremental runner — the engine's equivalent of the reference's
  * `load_scripts/` tree executed by `execute_snowflake_load.py`
  * (SURVEY.md §0, §3.1; mart order at `execute_snowflake_load.py:34`),
  * with dependencies DECLARED instead of implied by path sort order.
  *
  * Warehouse layer (raw → facts):
  *   events ─→ fact_txn, closing_balance
  * KRE mart:
  *   fact_txn ─→ volatility_factor;  fact_txn+closing_balance ─→
  *   active_user_balance ─→ daily_payout ─→ weekly_payout
  * Metabase mart (reporting):
  *   fact_txn ─→ app_activity_grid ─→ every rolling-actives model
  *   (monthly_active_accounts, {daily,weekly,monthly}_active_ecosystem,
  *   {daily,weekly}_active_accounts_app) and the wide API rows;
  *   fact_txn ─→ daily_txn_summary, amount_histogram,
  *   daily_active_union;
  *   closing_balance ─→ balance_buckets, daily_churn_volume;
  *   daily_payout+closing_balance+daily_churn_volume ─→
  *   daily_net_inflation
  * API mart:
  *   fact_txn+active_user_balance+volatility_factor+daily_payout+
  *   monthly_active_ecosystem ─→ daily_kre_summary;
  *   monthly_active_ecosystem ─→ daily_summary_ecosystem;
  *   monthly_active_accounts ─→ daily_summary_by_app
  *
  * This is the ONE wiring of these models: the runner executes it
  * against warehouse targets, and `SparkEntry`'s warehouse queries read
  * the same declarations through [[sessionResolver]].
  *
  * Each model's builder reads ONLY through the resolver (raw sources or
  * other models' materialized targets), so the runner's watermark /
  * closed-period / repair semantics apply uniformly. Lookback models
  * (VF, AUB, monthly actives) read their FULL upstream and the runner
  * slices only the output rows above the watermark — late-window
  * recomputation is exact; forward-window models (churn, net inflation)
  * gate themselves to complete windows so emitted rows never change.
  */
object ModelRegistry {

  /** nation-as-app-dim resolver key used by daily_payout. */
  val AppDim = "nation"

  val kreDag: Seq[ModelDef] = Seq(
    // the wallet-grain tables declare CLUSTER BY wallet_id: rows inside
    // each date_key partition are file-ordered by wallet, so the
    // key-scoped reads (P7 — one wallet's history out of a 100 TB fact)
    // prune row groups on footer min/max instead of decoding every page
    ModelDef("fact_txn", Cadence.Daily, Seq("events"),
      (_, resolve) => TxnModels.factTxnFrom(resolve("events")),
      clusterBy = Seq("wallet_id")),
    // THE shared intermediate of the actives family: the deduped
    // flagged (date, app, wallet) grid. Rows are within-day aggregates
    // keyed by date_key, so the daily watermark append is exact; every
    // rolling-actives consumer below reads this materialized table
    // instead of re-deduping the fact.
    ModelDef("app_activity_grid", Cadence.Daily, Seq("fact_txn"),
      (_, resolve) =>
        CompositeModels.appActivityGridFrom(resolve("fact_txn")),
      clusterBy = Seq("wallet_id")),
    ModelDef("closing_balance", Cadence.Daily, Seq("events"),
      (_, resolve) => ActivityModels.closingBalanceFrom(resolve("events")),
      clusterBy = Seq("wallet_id")),
    ModelDef("volatility_factor", Cadence.Daily, Seq("fact_txn"),
      (_, resolve) => KreModels.volatilityFactorFrom(resolve("fact_txn"))),
    ModelDef("active_user_balance", Cadence.Daily,
      Seq("fact_txn", "closing_balance"),
      (_, resolve) => KreModels.activeUserBalanceFrom(
        resolve("fact_txn"), resolve("closing_balance"))),
    ModelDef("daily_payout", Cadence.Daily,
      Seq("active_user_balance", "volatility_factor", AppDim),
      (s, resolve) => {
        import s.implicits._
        KreModels.dailyPayoutFrom(s,
          resolve("active_user_balance")
            .select($"date_key", $"app_id", $"capped_aub"),
          resolve("volatility_factor"),
          resolve(AppDim))
      }),
    ModelDef("weekly_payout", Cadence.Weekly, Seq("daily_payout"),
      (_, resolve) => KreModels.weeklyPayoutFrom(resolve("daily_payout"))),
    // --- metabase mart (reporting) ---
    ModelDef("daily_txn_summary", Cadence.Daily, Seq("fact_txn"),
      (_, resolve) => TxnModels.dailyTxnSummaryFrom(resolve("fact_txn"))),
    ModelDef("daily_distinct_wallets", Cadence.Daily, Seq("fact_txn"),
      (_, resolve) =>
        ActivityModels.dailyDistinctWalletsFrom(resolve("fact_txn"))),
    // weekly/monthly re-aggregations of the fact — the reference's
    // weekly/monthly_kin_transactions; period_key renamed to the
    // runner's date_key watermark convention (like weekly_payout)
    ModelDef("weekly_txn_rollup", Cadence.Weekly, Seq("fact_txn"),
      (_, resolve) =>
        PayoutModels.periodTxnRollupFrom("week", resolve("fact_txn"))
          .withColumnRenamed("period_key", "date_key")),
    ModelDef("monthly_txn_rollup", Cadence.Monthly, Seq("fact_txn"),
      (_, resolve) =>
        PayoutModels.periodTxnRollupFrom("month", resolve("fact_txn"))
          .withColumnRenamed("period_key", "date_key")),
    ModelDef("amount_histogram", Cadence.Daily, Seq("fact_txn"),
      (_, resolve) => ActivityModels.amountHistogramFrom(resolve("fact_txn"))),
    ModelDef("daily_active_union", Cadence.Daily, Seq("fact_txn"),
      (_, resolve) => ActivityModels.dailyActiveUnionFrom(resolve("fact_txn"))),
    ModelDef("monthly_active_accounts", Cadence.Daily,
      Seq("app_activity_grid"),
      (_, resolve) => CompositeModels.activeAccountsAppFromGrid(
        resolve("app_activity_grid"), 29)),
    ModelDef("balance_buckets", Cadence.Daily, Seq("closing_balance"),
      (_, resolve) =>
        ActivityModels.balanceBucketsFrom(resolve("closing_balance"))),
    ModelDef("daily_churn_volume", Cadence.Daily, Seq("closing_balance"),
      (_, resolve) =>
        CompositeModels.dailyChurnVolumeFrom(resolve("closing_balance"))),
    ModelDef("daily_net_inflation", Cadence.Daily,
      Seq("daily_payout", "closing_balance", "daily_churn_volume"),
      (_, resolve) => CompositeModels.dailyNetInflationFrom(
        resolve("daily_payout"), resolve("closing_balance"),
        resolve("daily_churn_volume"))),
    // --- api mart ---
    ModelDef("daily_kre_summary", Cadence.Daily,
      Seq("fact_txn", "active_user_balance", "volatility_factor",
        "daily_payout", "monthly_active_ecosystem"),
      (_, resolve) => CompositeModels.dailyKreSummaryFrom(
        resolve("fact_txn"), resolve("active_user_balance"),
        resolve("volatility_factor"), resolve("daily_payout"),
        resolve("monthly_active_ecosystem"))),
    // --- remaining reference families (VERDICT r2 gap #1) ---
    // app summary decorated with the app dim — daily_kin_transactions'
    // per-app leg
    ModelDef("app_summary_dim", Cadence.Daily, Seq("fact_txn", AppDim),
      (_, resolve) => PayoutModels.appSummaryDimFrom(
        resolve("fact_txn"), resolve(AppDim))),
    // per-(day, wallet) activity join — daily_active_user_balance_by_app's
    // spend/total legs
    ModelDef("wallet_day_activity", Cadence.Daily, Seq("fact_txn"),
      (_, resolve) => PayoutModels.walletDayJoinFrom(resolve("fact_txn")),
      clusterBy = Seq("wallet_id")),
    ModelDef("top_apps_daily", Cadence.Daily, Seq("fact_txn"),
      (_, resolve) => PayoutModels.topAppsDailyFrom(resolve("fact_txn"))),
    ModelDef("capped_app_balance", Cadence.Daily, Seq("fact_txn"),
      (_, resolve) =>
        PayoutModels.cappedAppBalanceFrom(resolve("fact_txn"))),
    // weekly top-apps JSON — weekly_kre_payout_summary.sql
    ModelDef("weekly_top_apps_json", Cadence.Weekly, Seq("fact_txn"),
      (_, resolve) =>
        PayoutModels.weeklyTopAppsJsonFrom(resolve("fact_txn"))
          .withColumnRenamed("week_key", "date_key")),
    // market summary — daily_market_summary.sql
    ModelDef("market_summary", Cadence.Daily, Seq("lineitem"),
      (_, resolve) => TpchModels.marketSummaryFrom(resolve("lineitem"))),
    // average balances — average_account_balance_per_day.sql
    ModelDef("average_balances", Cadence.Daily, Seq("lineitem"),
      (_, resolve) => TpchModels.unionAllBalancesFrom(resolve("lineitem"))),
    // creates family — daily_account_creates_by_* + create_fee_payers
    ModelDef("creates_by_segment", Cadence.Daily, Seq("orders", "customer"),
      (_, resolve) => TpchModels.createsBySegmentFrom(
        resolve("orders"), resolve("customer"))),
    ModelDef("create_fee_payers", Cadence.Daily,
      Seq("orders", "customer", "nation", "region"),
      (_, resolve) => TpchModels.createFeePayersFrom(
        resolve("orders"), resolve("customer"), resolve("nation"),
        resolve("region"))),
    // GC family — latest-state snapshots whose historical rows change as
    // new data arrives → full refresh (CTAS) every run
    ModelDef("gc_impacted_accounts", Cadence.Daily,
      Seq("orders", "lineitem"),
      (_, resolve) => TpchModels.gcImpactedAccountsFrom(
        resolve("orders"), resolve("lineitem"))
        .withColumnRenamed("latest_order_date", "date_key"),
      fullRefresh = true),
    ModelDef("monthly_inactive_wallets", Cadence.Monthly,
      Seq("closing_balance"),
      (_, resolve) => ActivityModels.monthlyInactiveWalletsFrom(
        resolve("closing_balance"))
        .withColumnRenamed("inactive_month", "date_key"),
      fullRefresh = true),
    // ecosystem-grain activity family —
    // {daily,weekly,monthly}_active_accounts_ecosystem.sql
    ModelDef("daily_active_ecosystem", Cadence.Daily,
      Seq("app_activity_grid"),
      (_, resolve) => EcosystemModels.activeEcosystemFromGrid(
        resolve("app_activity_grid"), 0)),
    ModelDef("weekly_active_ecosystem", Cadence.Daily,
      Seq("app_activity_grid"),
      (_, resolve) => EcosystemModels.activeEcosystemFromGrid(
        resolve("app_activity_grid"), 6)),
    ModelDef("monthly_active_ecosystem", Cadence.Daily,
      Seq("app_activity_grid"),
      (_, resolve) => EcosystemModels.activeEcosystemFromGrid(
        resolve("app_activity_grid"), 29)),
    // wide ecosystem API row — daily_summary_ecosystem.sql
    ModelDef("daily_summary_ecosystem", Cadence.Daily,
      Seq("fact_txn", "app_activity_grid", "monthly_active_ecosystem",
        "volatility_factor"),
      (_, resolve) => EcosystemModels.dailySummaryEcosystemFrom(
        resolve("fact_txn"), resolve("app_activity_grid"),
        resolve("monthly_active_ecosystem"), resolve("volatility_factor"))),
    // wide per-app API row — daily_summary_by_app.sql (the row the
    // dailySummaryApp serving table replicates)
    ModelDef("daily_summary_by_app", Cadence.Daily,
      Seq("fact_txn", "app_activity_grid", "monthly_active_accounts",
        "volatility_factor", AppDim),
      (_, resolve) => EcosystemModels.dailySummaryByAppFrom(
        resolve("fact_txn"), resolve("app_activity_grid"),
        resolve("monthly_active_accounts"), resolve("volatility_factor"),
        resolve(AppDim))),
    // weekly payout API row — weekly_kre_payout_summary.sql (the row the
    // krePayoutSummary serving table replicates)
    ModelDef("weekly_kre_payout_summary", Cadence.Weekly,
      Seq("weekly_payout"),
      (_, resolve) => PayoutModels.weeklyKrePayoutSummaryFrom(
        resolve("weekly_payout"))),
    // --- metabase accounts mart: the app_transaction_summary grid
    // (from/to side × day/week/month; week+month regroup the DAY model)
    ModelDef("app_txn_summary_from_day", Cadence.Daily,
      Seq("fact_txn", AppDim),
      (_, resolve) => AccountModels.appTxnSummaryDayFrom(
        resolve("fact_txn"), resolve(AppDim), "from")),
    ModelDef("app_txn_summary_to_day", Cadence.Daily,
      Seq("fact_txn", AppDim),
      (_, resolve) => AccountModels.appTxnSummaryDayFrom(
        resolve("fact_txn"), resolve(AppDim), "to")),
    ModelDef("app_txn_summary_from_week", Cadence.Weekly,
      Seq("app_txn_summary_from_day"),
      (_, resolve) => AccountModels.appTxnSummaryRollupFrom(
        resolve("app_txn_summary_from_day"), "week")),
    ModelDef("app_txn_summary_to_week", Cadence.Weekly,
      Seq("app_txn_summary_to_day"),
      (_, resolve) => AccountModels.appTxnSummaryRollupFrom(
        resolve("app_txn_summary_to_day"), "week")),
    ModelDef("app_txn_summary_from_month", Cadence.Monthly,
      Seq("app_txn_summary_from_day"),
      (_, resolve) => AccountModels.appTxnSummaryRollupFrom(
        resolve("app_txn_summary_from_day"), "month")),
    ModelDef("app_txn_summary_to_month", Cadence.Monthly,
      Seq("app_txn_summary_to_day"),
      (_, resolve) => AccountModels.appTxnSummaryRollupFrom(
        resolve("app_txn_summary_to_day"), "month")),
    // --- creations fact + the remaining creates grouping dims
    ModelDef("fact_creations", Cadence.Daily, Seq("orders"),
      (_, resolve) => AccountModels.factCreationsFrom(resolve("orders"))),
    ModelDef("creates_by_type", Cadence.Daily, Seq("fact_creations"),
      (_, resolve) => AccountModels.createsByDimFrom(
        resolve("fact_creations"), "create_type")),
    ModelDef("creates_by_program", Cadence.Daily, Seq("fact_creations"),
      (_, resolve) => AccountModels.createsByDimFrom(
        resolve("fact_creations"), "program_id")),
    ModelDef("creates_by_close_authority", Cadence.Daily,
      Seq("fact_creations"),
      (_, resolve) => AccountModels.createsByDimFrom(
        resolve("fact_creations"), "close_authority")),
    // --- summary_stats + api leftovers
    ModelDef("daily_blocks", Cadence.Daily, Seq("lineitem"),
      (_, resolve) => AccountModels.dailyBlocksFrom(resolve("lineitem"))),
    ModelDef("daily_account_summary_by_app", Cadence.Daily,
      Seq("creates_by_segment"),
      (_, resolve) => AccountModels.accountSummaryFrom(
        resolve("creates_by_segment"), byApp = true)),
    ModelDef("daily_account_summary_ecosystem", Cadence.Daily,
      Seq("creates_by_segment"),
      (_, resolve) => AccountModels.accountSummaryFrom(
        resolve("creates_by_segment"), byApp = false)),
    // --- app-grain actives completing the active-accounts grid
    ModelDef("daily_active_accounts_app", Cadence.Daily,
      Seq("app_activity_grid"),
      (_, resolve) => CompositeModels.activeAccountsAppFromGrid(
        resolve("app_activity_grid"), 0)),
    ModelDef("weekly_active_accounts_app", Cadence.Daily,
      Seq("app_activity_grid"),
      (_, resolve) => CompositeModels.activeAccountsAppFromGrid(
        resolve("app_activity_grid"), 6)))

  /** The [[kreDag]] models a session builds once and shares
    * (`Shared.materialized`, keyed by the model name): the fact, the
    * closing balance, the KRE chain, the activity grid and the two
    * monthly-actives tables — the intermediates several warehouse
    * queries read. Every other model is rebuilt by each query that
    * reads it. */
  val SessionMemo: Set[String] = Set("fact_txn", "closing_balance",
    "app_activity_grid", "volatility_factor", "active_user_balance",
    "daily_payout", "monthly_active_accounts", "monthly_active_ecosystem")

  private lazy val kreByName: Map[String, ModelDef] =
    kreDag.map(m => m.name -> m).toMap

  /** One Spark session's reading of [[kreDag]] over the raw tables in
    * `sfDir` — the resolver `SparkEntry`'s queries build from. A
    * [[kreDag]] name is that model's `build` over this same resolver; a
    * [[SessionMemo]] name is additionally materialized once per
    * (session, sfDir); any other name is a raw table. */
  def sessionResolver(spark: SparkSession,
      sfDir: String): String => DataFrame = {
    def resolve(name: String): DataFrame = kreByName.get(name) match {
      case Some(m) if SessionMemo(name) =>
        Shared.materialized(name, spark, sfDir)(m.build(spark, resolve))
      case Some(m) => m.build(spark, resolve)
      case None if name == "events" => Tables.events(spark, sfDir)
      case None => Tables.load(spark, sfDir, name)
    }
    resolve
  }

  /** OPT-IN sketch tier — the 100 TB rolling-actives architecture
    * (`models/SketchModels.scala`) run under the runner's
    * watermark/closed-period/repair semantics. Not part of [[kreDag]]
    * (estimates are approximate; the exact models above remain the
    * correctness surface — same layering as s01 ↔ s02/s03): append it
    * explicitly, `runner.runAll(ModelRegistry.kreDag ++
    * ModelRegistry.sketchDag, …)`.
    *
    * Layer 1 appends |apps| kilobyte sketch rows per day (within-day
    * aggregates keyed by date_key → exact watermark appends); layer 2
    * re-estimates rolling windows from the materialized sketch table —
    * a daily 30-day MAU refresh reads 30×|apps| KB rows instead of
    * 30 days of raw events.
    */
  val sketchDag: Seq[ModelDef] = Seq(
    ModelDef("daily_active_sketches", Cadence.Daily, Seq("fact_txn"),
      (_, resolve) => SketchModels.dailyActiveSketches(resolve("fact_txn"))),
    ModelDef("monthly_active_estimates", Cadence.Daily,
      Seq("daily_active_sketches"),
      (_, resolve) => SketchModels.rollingFromSketches(
        resolve("daily_active_sketches"), 29)))

  /** OPT-IN mergeable-quantiles tier (`models/QuantileModels.scala`) —
    * the KLL sibling of [[sketchDag]]: per-(day, app) amount sketches
    * appended daily, rolling p50/p90/p99 re-read from the kilobyte
    * sketch rows. Same layering contract as the HLL tier (approximate →
    * not in [[kreDag]]; append it explicitly). KLL compaction is
    * RANDOMIZED, so re-built estimates agree only within the sketch's
    * rank-error bound — `QuantileSketchSpec` pins that bound; byte-level
    * reproducibility is explicitly NOT part of this tier's contract.
    */
  val quantileDag: Seq[ModelDef] = Seq(
    ModelDef("daily_amount_sketches", Cadence.Daily, Seq("fact_txn"),
      (_, resolve) => QuantileModels.dailyAmountSketches(resolve("fact_txn"))),
    ModelDef("monthly_amount_quantiles", Cadence.Daily,
      Seq("daily_amount_sketches"),
      (_, resolve) => QuantileModels.rollingFromSketches(
        resolve("daily_amount_sketches"), 29)))

  /** OPT-IN heavy-hitters tier (`models/FreqModels.scala`) — the
    * frequent-items member of the sketch family (HLL distinct counts,
    * KLL quantiles, LongsSketch heavy hitters), same layering contract:
    * approximate → not in [[kreDag]]; append it explicitly. The
    * retained counter set is arrival-order dependent, so
    * `FreqSketchSpec` pins the published error bound (no false
    * negatives above maxError; estimates within maxError of exact),
    * never byte-level reproducibility.
    */
  val freqDag: Seq[ModelDef] = Seq(
    ModelDef("daily_wallet_freq_sketches", Cadence.Daily, Seq("fact_txn"),
      (_, resolve) => FreqModels.dailyWalletFreqSketches(resolve("fact_txn"))),
    ModelDef("monthly_top_wallets", Cadence.Daily,
      Seq("daily_wallet_freq_sketches"),
      (_, resolve) => FreqModels.rollingFromSketches(
        resolve("daily_wallet_freq_sketches"), 29)))

  /** OPT-IN retention tier (`models/RetentionModels.scala`) — theta
    * sketches, the set-operation member of the family: per-day wallet
    * sketches whose weekly unions INTERSECT (the operation HLL lacks),
    * turning week-over-week retention from a fact-sized distinct-set
    * self-join per period pair into set algebra over kilobyte rows.
    * Same layering contract as the other sketch DAGs (approximate →
    * not in [[kreDag]]; estimates pinned within published error by
    * `ThetaSketchSpec`, never bytes).
    */
  val retentionDag: Seq[ModelDef] = Seq(
    ModelDef("daily_wallet_theta_sketches", Cadence.Daily, Seq("fact_txn"),
      (_, resolve) =>
        RetentionModels.dailyWalletThetaSketches(resolve("fact_txn"))),
    ModelDef("weekly_retention", Cadence.Daily,
      Seq("daily_wallet_theta_sketches"),
      (_, resolve) => RetentionModels.weekOverWeekRetention(
        resolve("daily_wallet_theta_sketches"))))

  /** The document-family (curation) DAG — the registry's declaration of
    * what [[CurationPipeline]] materializes and reads, in dependency
    * order. Executed by CurationPipeline rather than the date-keyed
    * [[IncrementalRunner]] because the corpus's watermark axis is
    * doc_id, not date_key — same declared-DAG discipline, different
    * incremental key. CurationDagSpec (in ModelDagSpec's suite file)
    * asserts a full pipeline run materializes exactly these targets and
    * every declared dep is a raw source or an upstream target. Both
    * packers read `span_trimmed_corpus` (d11's cleaned table), so the
    * duplicated-span mass d10 measures never reaches a packed stream;
    * the leaf, `train_split_packing`, is additionally the split labels'
    * downstream sampler — the consumer that makes `curation_splits`
    * load-bearing.
    */
  val curationDag: Seq[(String, Seq[String])] = Seq(
    "curation_funnel" -> Seq("documents", "embeddings"),
    "curation_groups" -> Seq("documents"),
    "curation_eval_grams" -> Seq("documents"),
    "curation_ivf_cents" -> Seq("embeddings"),
    "curation_eval_vecs" -> Seq("embeddings", "documents",
      "curation_ivf_cents"),
    "curated_corpus" -> Seq("documents", "curation_funnel"),
    "curation_splits" -> Seq("curated_corpus"),
    "span_trimmed_corpus" -> Seq("curated_corpus"),
    "curation_span_grams" -> Seq("curated_corpus"),
    "curation_span_bloom" -> Seq("curation_span_grams"),
    "curated_packing" -> Seq("span_trimmed_corpus"),
    "train_split_packing" -> Seq("span_trimmed_corpus", "curation_splits"),
    "segment_stats" -> Seq("documents"),
    "curation_segments" -> Seq("documents"),
    "curation_segment_bloom" -> Seq("curation_segments"))

  /** The reference's 13 zero-copy clone publications
    * (`load_scripts/{data_studio_mart,kin_data,metabase_mart}/…/clones/`,
    * each `CREATE OR REPLACE TABLE … CLONE <mart>.<model>`): republish a
    * materialized model under a consuming mart's name. Executed by
    * `IncrementalRunner.runAll` after the models build — clone name →
    * source model; the `ds_`/`mb_` prefixes stand in for the target
    * database.schema part of the 3-part Snowflake name.
    */
  val clones: Seq[(String, String)] = Seq(
    // data_studio_mart/daily_models/reporting/clones/*
    "ds_daily_active_accounts_ecosystem" -> "daily_active_ecosystem",
    "ds_monthly_active_accounts_ecosystem" -> "monthly_active_ecosystem",
    "ds_weekly_active_accounts_ecosystem" -> "weekly_active_ecosystem",
    "ds_closing_account_balance_per_day" -> "closing_balance",
    "ds_daily_active_user_balance_by_app" -> "active_user_balance",
    "ds_daily_kin_transactions" -> "daily_txn_summary",
    "ds_daily_kin_payout" -> "daily_payout",
    // kin_data/daily_models/reporting/clones/kin_transactions_curated.sql
    "kin_transactions_curated" -> "fact_txn",
    // metabase_mart/{daily,weekly}_models/reporting/clones/**
    "mb_kre_weekly_payout" -> "weekly_payout",
    "mb_daily_active_user_balance_by_app" -> "active_user_balance",
    "mb_daily_kin_payout" -> "daily_payout",
    "mb_daily_volatility_factor" -> "volatility_factor",
    "mb_closing_account_balance_per_day" -> "closing_balance")
}
