package graft.models

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ecosystem-grain (app-less) activity models — the reference's
  * `active_accounts/…/{daily,weekly,monthly}_active_accounts_ecosystem.sql`
  * family plus the wide `daily_summary_ecosystem.sql` API row.
  *
  * The spender/earner split follows the reference's overlapping type
  * sets (`weekly_active_accounts_ecosystem.sql`: spender = type in
  * (2,3) via from_account, earner = type in (1,3) via to_account),
  * mapped through the q07/q34 event-type convention: spend =
  * {purchase, click}, earn = {signup, view}; the overlap analog of
  * type 3 (peer) is {click, view}.
  *
  * Scale: same explode-to-equi rewrite as q34 (dedupe first, constant
  * ×W fan-out, no range BNLJ); the daily variant is a plain hash
  * aggregate. The summary composite joins one-row-per-day legs only.
  */
object EcosystemModels {

  private val Money = DecimalType(38, 2)

  val SpendTypes = Seq("purchase", "click")
  val EarnTypes = Seq("signup", "view")
  val PeerTypes = Seq("click", "view")

  /** Rolling (lookback+1)-day distinct actives at ecosystem grain with
    * the users/spenders/earners split; lookback=0 degenerates to the
    * daily variant (no explode — a plain per-day aggregate).
    *
    * One-pass formulation (same rewrite as
    * `CompositeModels.activeAccountsAppFrom`, incl. the two-level
    * flag-reduction aggregate instead of Expand-planned
    * count-distincts): one deduped (date, wallet) grid with role
    * flags, one explode, two plain hash aggregates — one fact scan and
    * one dedup shuffle instead of three of each, no post-joins.
    */
  def activeEcosystemFrom(factIn: DataFrame, lookback: Int): DataFrame =
    activeEcosystemFromGrid(
      CompositeModels.appActivityGridFrom(factIn), lookback)

  /** Ecosystem tail over the shared app-grain activity grid — the
    * `{daily,weekly,monthly}_active_ecosystem` models (lookback 0 / 6 /
    * 29). q38 is the weekly one (`weekly_active_accounts_ecosystem.sql:
    * 1-58`). The monthly one is session-memoized: the reference
    * publishes `monthly_active_accounts_ecosystem` as a table and both
    * wide API rows read it — q39's monthly leg and q35's monthly-actives
    * join share one build instead of each paying the ×30 explode over
    * the grid.
    *
    * Reads the app-grain grid
    * ([[CompositeModels.appActivityGridFrom]]): the app dimension is
    * OR-reduced away — a wallet's ecosystem role flag is the max of its
    * per-app flags, so the (date, wallet) grid derived here is
    * row-identical to deduping the fact directly at ecosystem grain.
    * Reading the materialized grid replaces a full fact scan with a
    * scan of |distinct (date, app, wallet)| pre-deduped rows. */
  def activeEcosystemFromGrid(gridIn: DataFrame, lookback: Int): DataFrame = {
    import gridIn.sparkSession.implicits._
    // OR-reduce the app dimension away; keep the full day set (the
    // grid is an unfiltered dedupe of the fact → same calendar).
    // The explode stays the right tail at THIS grain for every window
    // width: the (date, wallet) set is small after dedupe and the
    // interval path's per-wallet window sorts measured slower (see
    // CompositeModels.IntervalMinLookbackConf).
    val grid = gridIn
      .groupBy($"date_key", $"wallet_id")
      .agg(max($"is_spend").as("is_spend"), max($"is_earn").as("is_earn"))
      .filter($"is_spend" || $"is_earn")
    val anchored =
      if (lookback == 0) grid.withColumn("anchor_date", $"date_key")
      else {
        val days = gridIn.select($"date_key").distinct()
          .withColumnRenamed("date_key", "anchor_date")
        grid
          .withColumn("anchor_date",
            explode(sequence($"date_key", date_add($"date_key", lookback))))
          .join(broadcast(days), Seq("anchor_date"), "left_semi")
      }
    anchored
      .groupBy($"anchor_date", $"wallet_id")
      .agg(max($"is_spend").as("w_spend"), max($"is_earn").as("w_earn"))
      .groupBy($"anchor_date".as("date_key"))
      .agg(
        count(lit(1)).as("active_users"),
        sum(when($"w_spend", 1L).otherwise(0L)).as("active_spenders"),
        sum(when($"w_earn", 1L).otherwise(0L)).as("active_earners"))
  }

  private def activeEcosystemOracle(lookback: Int): String = {
    val window =
      if (lookback == 0) "u.date_key = d.anchor_date"
      else s"u.date_key BETWEEN d.anchor_date - $lookback AND d.anchor_date"
    s"""WITH fact AS (SELECT cast(ts AS DATE) AS date_key, user_id AS wallet_id,
       |                     event_type AS txn_type
       |              FROM events WHERE event_type <> 'error'),
       |days AS (SELECT DISTINCT date_key AS anchor_date FROM fact),
       |spend AS (SELECT DISTINCT date_key, wallet_id FROM fact
       |          WHERE txn_type IN ('purchase', 'click')),
       |earn AS (SELECT DISTINCT date_key, wallet_id FROM fact
       |         WHERE txn_type IN ('signup', 'view')),
       |users AS (SELECT * FROM spend UNION SELECT * FROM earn),
       |ua AS (SELECT d.anchor_date AS date_key,
       |              count(DISTINCT u.wallet_id) AS active_users
       |       FROM days d JOIN users u ON ${window} GROUP BY 1),
       |sa AS (SELECT d.anchor_date AS date_key,
       |              count(DISTINCT u.wallet_id) AS active_spenders
       |       FROM days d JOIN spend u ON ${window} GROUP BY 1),
       |ea AS (SELECT d.anchor_date AS date_key,
       |              count(DISTINCT u.wallet_id) AS active_earners
       |       FROM days d JOIN earn u ON ${window} GROUP BY 1)
       |SELECT ua.date_key, ua.active_users,
       |       coalesce(sa.active_spenders, 0) AS active_spenders,
       |       coalesce(ea.active_earners, 0) AS active_earners
       |FROM ua
       |LEFT JOIN sa ON ua.date_key = sa.date_key
       |LEFT JOIN ea ON ua.date_key = ea.date_key""".stripMargin
  }

  val weeklyActiveEcosystemOracle: String = activeEcosystemOracle(6)

  /** q39 / the `daily_summary_ecosystem` model: the wide ecosystem API
    * row — `daily_summary_ecosystem.sql`: per-day transaction totals
    * split by type family, decorated with daily + monthly ecosystem
    * actives and USD legs via the price dim (VF's `average_price` stands
    * in for `dim_kin_price.prices`; FIXTURES.md §B). USD legs are
    * computed in double with identical expression text on both sides
    * (the q26 parity strategy). `gridIn` = the shared activity grid,
    * `monthlyActives` = the 30-day actives (`monthly_active_ecosystem`
    * rows), `vf` carries (date_key, average_price).
    */
  def dailySummaryEcosystemFrom(factIn: DataFrame, gridIn: DataFrame,
      monthlyActives: DataFrame, vf: DataFrame): DataFrame = {
    import factIn.sparkSession.implicits._
    val fact = factIn.select($"date_key", $"app_id", $"wallet_id",
      $"txn_type", $"amount")
    // long-cents family sums (Cents scaladoc): day / (day, app) grain,
    // inside the 10^17-cents day bound; coalesce AFTER reconstruction
    // keeps the old null->0 semantics (an all-miss family sums to 0)
    def famSum(types: Seq[String]) =
      Cents.asMoney(
        coalesce(sum(Cents.cents(when($"txn_type".isin(types: _*),
          $"amount"))), lit(0L)), 18)
    def famCnt(types: Seq[String]) =
      count(when($"txn_type".isin(types: _*), lit(1)))
    val txns = fact.groupBy($"date_key")
      .agg(
        countDistinct($"app_id").as("app_count"),
        count(lit(1)).as("transaction_count"),
        Cents.asMoney(sum(Cents.cents($"amount")), 18)
          .as("transaction_amount_kin"),
        famCnt(EarnTypes).as("earn_count"),
        famSum(EarnTypes).as("earn_amount_kin"),
        famCnt(SpendTypes).as("spend_count"),
        famSum(SpendTypes).as("spend_amount_kin"),
        famCnt(PeerTypes).as("peer_count"),
        famSum(PeerTypes).as("peer_amount_kin"))
    val daily = activeEcosystemFromGrid(gridIn, 0)
      .select($"date_key", $"active_users".as("daily_active_users"),
        $"active_spenders".as("daily_active_spenders"),
        $"active_earners".as("daily_active_earners"))
    val monthly = monthlyActives
      .select($"date_key", $"active_users".as("monthly_active_users"),
        $"active_spenders".as("monthly_active_spenders"),
        $"active_earners".as("monthly_active_earners"))
    val price = vf.select($"date_key", $"average_price")
    def usd(kin: org.apache.spark.sql.Column) =
      kin.cast(DoubleType) * $"average_price".cast(DoubleType)
    txns
      .join(daily, Seq("date_key"), "left")
      .join(monthly, Seq("date_key"), "left")
      .join(price, Seq("date_key"))
      .select($"date_key", $"app_count", $"transaction_count",
        $"transaction_amount_kin",
        usd($"transaction_amount_kin").as("transaction_amount_usd"),
        $"earn_count", $"earn_amount_kin",
        usd($"earn_amount_kin").as("earn_amount_usd"),
        $"spend_count", $"spend_amount_kin",
        usd($"spend_amount_kin").as("spend_amount_usd"),
        $"peer_count", $"peer_amount_kin",
        usd($"peer_amount_kin").as("peer_amount_usd"),
        coalesce($"daily_active_users", lit(0L)).as("daily_active_users"),
        coalesce($"daily_active_spenders", lit(0L)).as("daily_active_spenders"),
        coalesce($"daily_active_earners", lit(0L)).as("daily_active_earners"),
        coalesce($"monthly_active_users", lit(0L)).as("monthly_active_users"),
        coalesce($"monthly_active_spenders", lit(0L)).as("monthly_active_spenders"),
        coalesce($"monthly_active_earners", lit(0L)).as("monthly_active_earners"))
  }

  /** q40 / the `daily_summary_by_app` model: the per-app wide API row —
    * `daily_summary_by_app.sql:1-74`: per-(day, app) transaction stats split by
    * type family with USD legs, the constant-fee column + its USD leg, the
    * app-dim name decoration (`coalesce(app.name, app_id::VARCHAR)`), and the
    * daily + monthly per-app actives. This is the row the reference's public
    * API serves per application (J10 multi-way: txns ⋈ daily ⋈ monthly ⋈ dim ⋈
    * price). VF's `average_price` stands in for BOTH `dim_kin_price.prices` and
    * `dim_solana_price.prices` — the fixture carries one price series
    * (FIXTURES.md §B); USD legs are double × double with identical expression
    * text on both sides (q26 parity strategy), and the fee column reproduces
    * the reference's literal `sum(0.00001)` quirk
    * (`daily_kin_transactions.sql:12`).
    *
    * Scale: every leg aggregates to (day, app) grain BEFORE any join,
    * so all five joins are dimension-sized regardless of fact volume;
    * the app dim is broadcast; the txns leg scans the fact once
    * (amount columns the grid doesn't carry), and the actives legs read
    * the shared materialized activity grid (daily) and the published q34
    * rows (monthly) instead of re-deduping the fact — one fact scan + one
    * grid build per session/run instead of the three fact scans this
    * model paid before. `monthlyActives` = `monthly_active_accounts`
    * rows, `vf` carries (date_key, average_price), `nation` is the app
    * dim.
    */
  def dailySummaryByAppFrom(factIn: DataFrame, gridIn: DataFrame,
      monthlyActives: DataFrame, vf: DataFrame,
      nation: DataFrame): DataFrame = {
    import factIn.sparkSession.implicits._
    val fact = factIn.select($"date_key", $"app_id", $"wallet_id",
      $"txn_type", $"amount")
    // long-cents family sums (Cents scaladoc): day / (day, app) grain,
    // inside the 10^17-cents day bound; coalesce AFTER reconstruction
    // keeps the old null->0 semantics (an all-miss family sums to 0)
    def famSum(types: Seq[String]) =
      Cents.asMoney(
        coalesce(sum(Cents.cents(when($"txn_type".isin(types: _*),
          $"amount"))), lit(0L)), 18)
    def famCnt(types: Seq[String]) =
      count(when($"txn_type".isin(types: _*), lit(1)))
    val txns = fact.groupBy($"date_key", $"app_id")
      .agg(
        // constant-fee quirk as one post-agg multiply (see TxnModels
        // summaryAggs): n·0.00001 exactly, not a (38,10) add per row
        (count(lit(1)).cast(DecimalType(28, 0)) *
          lit(new java.math.BigDecimal("0.00001")).cast(DecimalType(6, 5)))
          .cast(DecimalType(38, 10)).as("transaction_fees"),
        count(lit(1)).as("transaction_count"),
        Cents.asMoney(sum(Cents.cents($"amount")), 18)
          .as("transaction_amount_kin"),
        famCnt(EarnTypes).as("earn_count"),
        famSum(EarnTypes).as("earn_amount_kin"),
        famCnt(SpendTypes).as("spend_count"),
        famSum(SpendTypes).as("spend_amount_kin"),
        famCnt(PeerTypes).as("peer_count"),
        famSum(PeerTypes).as("peer_amount_kin"))
    val daily = CompositeModels.activeAccountsAppFromGrid(gridIn, 0)
      .select($"date_key", $"app_id",
        $"active_users".as("daily_active_users"),
        $"active_earners".as("daily_active_earners"),
        $"active_spenders".as("daily_active_spenders"))
    val monthly = monthlyActives
      .select($"date_key", $"app_id",
        $"active_users".as("monthly_active_users"),
        $"active_earners".as("monthly_active_earners"),
        $"active_spenders".as("monthly_active_spenders"))
    val dim = nation.select($"n_nationkey", $"n_name")
    val price = vf.select($"date_key", $"average_price")
    def usd(kin: org.apache.spark.sql.Column) =
      kin.cast(DoubleType) * $"average_price".cast(DoubleType)
    txns
      .join(daily, Seq("date_key", "app_id"), "left")
      .join(monthly, Seq("date_key", "app_id"), "left")
      .join(broadcast(dim), $"app_id" === $"n_nationkey", "left")
      .join(price, Seq("date_key"))
      .select($"date_key", $"app_id",
        coalesce($"n_name", $"app_id".cast(StringType)).as("app_name"),
        $"transaction_fees",
        usd($"transaction_fees").as("transaction_fees_usd"),
        $"transaction_count", $"transaction_amount_kin",
        usd($"transaction_amount_kin").as("transaction_amount_usd"),
        $"earn_count", $"earn_amount_kin",
        usd($"earn_amount_kin").as("earn_amount_usd"),
        $"spend_count", $"spend_amount_kin",
        usd($"spend_amount_kin").as("spend_amount_usd"),
        $"peer_count", $"peer_amount_kin",
        usd($"peer_amount_kin").as("peer_amount_usd"),
        coalesce($"daily_active_users", lit(0L)).as("daily_active_users"),
        coalesce($"daily_active_earners", lit(0L)).as("daily_active_earners"),
        coalesce($"daily_active_spenders", lit(0L)).as("daily_active_spenders"),
        coalesce($"monthly_active_users", lit(0L)).as("monthly_active_users"),
        coalesce($"monthly_active_earners", lit(0L)).as("monthly_active_earners"),
        coalesce($"monthly_active_spenders", lit(0L)).as("monthly_active_spenders"))
  }

  lazy val dailySummaryByAppOracle: String = {
    val daily = CompositeModels.activeAccountsAppOracle(0)
    val monthly = CompositeModels.activeAccountsAppOracle(29)
    s"""WITH fact AS (SELECT cast(ts AS DATE) AS date_key,
       |                     coalesce(cast(json_extract_string(props,'$$.k') AS INTEGER),0) AS app_id,
       |                     user_id AS wallet_id, event_type AS txn_type,
       |                     cast(value AS DECIMAL(18,2)) AS amount
       |              FROM events WHERE event_type <> 'error'),
       |txns AS (SELECT date_key, app_id,
       |                sum(cast(0.00001 AS DECIMAL(38,10))) AS transaction_fees,
       |                count(*) AS transaction_count,
       |                cast(sum(amount) AS DECIMAL(38,2)) AS transaction_amount_kin,
       |                count(CASE WHEN txn_type IN ('signup','view') THEN 1 END) AS earn_count,
       |                cast(coalesce(sum(CASE WHEN txn_type IN ('signup','view') THEN amount END), 0) AS DECIMAL(38,2)) AS earn_amount_kin,
       |                count(CASE WHEN txn_type IN ('purchase','click') THEN 1 END) AS spend_count,
       |                cast(coalesce(sum(CASE WHEN txn_type IN ('purchase','click') THEN amount END), 0) AS DECIMAL(38,2)) AS spend_amount_kin,
       |                count(CASE WHEN txn_type IN ('click','view') THEN 1 END) AS peer_count,
       |                cast(coalesce(sum(CASE WHEN txn_type IN ('click','view') THEN amount END), 0) AS DECIMAL(38,2)) AS peer_amount_kin
       |         FROM fact GROUP BY 1, 2),
       |daily AS (SELECT date_key, app_id,
       |                 active_users AS daily_active_users,
       |                 active_earners AS daily_active_earners,
       |                 active_spenders AS daily_active_spenders
       |          FROM ($daily) t),
       |monthly AS (SELECT date_key, app_id,
       |                   active_users AS monthly_active_users,
       |                   active_earners AS monthly_active_earners,
       |                   active_spenders AS monthly_active_spenders
       |            FROM ($monthly) t),
       |price AS (SELECT date_key, average_price
       |          FROM (${KreModels.volatilityFactorOracle}) t)
       |SELECT t.date_key, t.app_id,
       |       coalesce(n.n_name, cast(t.app_id AS VARCHAR)) AS app_name,
       |       t.transaction_fees,
       |       cast(t.transaction_fees AS DOUBLE) * cast(p.average_price AS DOUBLE) AS transaction_fees_usd,
       |       t.transaction_count, t.transaction_amount_kin,
       |       cast(t.transaction_amount_kin AS DOUBLE) * cast(p.average_price AS DOUBLE) AS transaction_amount_usd,
       |       t.earn_count, t.earn_amount_kin,
       |       cast(t.earn_amount_kin AS DOUBLE) * cast(p.average_price AS DOUBLE) AS earn_amount_usd,
       |       t.spend_count, t.spend_amount_kin,
       |       cast(t.spend_amount_kin AS DOUBLE) * cast(p.average_price AS DOUBLE) AS spend_amount_usd,
       |       t.peer_count, t.peer_amount_kin,
       |       cast(t.peer_amount_kin AS DOUBLE) * cast(p.average_price AS DOUBLE) AS peer_amount_usd,
       |       coalesce(d.daily_active_users, 0) AS daily_active_users,
       |       coalesce(d.daily_active_earners, 0) AS daily_active_earners,
       |       coalesce(d.daily_active_spenders, 0) AS daily_active_spenders,
       |       coalesce(m.monthly_active_users, 0) AS monthly_active_users,
       |       coalesce(m.monthly_active_earners, 0) AS monthly_active_earners,
       |       coalesce(m.monthly_active_spenders, 0) AS monthly_active_spenders
       |FROM txns t
       |LEFT JOIN daily d ON t.date_key = d.date_key AND t.app_id = d.app_id
       |LEFT JOIN monthly m ON t.date_key = m.date_key AND t.app_id = m.app_id
       |LEFT JOIN nation n ON t.app_id = n.n_nationkey
       |JOIN price p ON t.date_key = p.date_key""".stripMargin
  }

  lazy val dailySummaryEcosystemOracle: String = {
    val daily = activeEcosystemOracle(0)
    val monthly = activeEcosystemOracle(29)
    s"""WITH fact AS (SELECT cast(ts AS DATE) AS date_key,
       |                     coalesce(cast(json_extract_string(props,'$$.k') AS INTEGER),0) AS app_id,
       |                     user_id AS wallet_id, event_type AS txn_type,
       |                     cast(value AS DECIMAL(18,2)) AS amount
       |              FROM events WHERE event_type <> 'error'),
       |txns AS (SELECT date_key,
       |                count(DISTINCT app_id) AS app_count,
       |                count(*) AS transaction_count,
       |                cast(sum(amount) AS DECIMAL(38,2)) AS transaction_amount_kin,
       |                count(CASE WHEN txn_type IN ('signup','view') THEN 1 END) AS earn_count,
       |                cast(coalesce(sum(CASE WHEN txn_type IN ('signup','view') THEN amount END), 0) AS DECIMAL(38,2)) AS earn_amount_kin,
       |                count(CASE WHEN txn_type IN ('purchase','click') THEN 1 END) AS spend_count,
       |                cast(coalesce(sum(CASE WHEN txn_type IN ('purchase','click') THEN amount END), 0) AS DECIMAL(38,2)) AS spend_amount_kin,
       |                count(CASE WHEN txn_type IN ('click','view') THEN 1 END) AS peer_count,
       |                cast(coalesce(sum(CASE WHEN txn_type IN ('click','view') THEN amount END), 0) AS DECIMAL(38,2)) AS peer_amount_kin
       |         FROM fact GROUP BY 1),
       |daily AS (SELECT date_key, active_users AS daily_active_users,
       |                 active_spenders AS daily_active_spenders,
       |                 active_earners AS daily_active_earners
       |          FROM ($daily) t),
       |monthly AS (SELECT date_key, active_users AS monthly_active_users,
       |                   active_spenders AS monthly_active_spenders,
       |                   active_earners AS monthly_active_earners
       |            FROM ($monthly) t),
       |price AS (SELECT date_key, average_price
       |          FROM (${KreModels.volatilityFactorOracle}) t)
       |SELECT t.date_key, t.app_count, t.transaction_count,
       |       t.transaction_amount_kin,
       |       cast(t.transaction_amount_kin AS DOUBLE) * cast(p.average_price AS DOUBLE) AS transaction_amount_usd,
       |       t.earn_count, t.earn_amount_kin,
       |       cast(t.earn_amount_kin AS DOUBLE) * cast(p.average_price AS DOUBLE) AS earn_amount_usd,
       |       t.spend_count, t.spend_amount_kin,
       |       cast(t.spend_amount_kin AS DOUBLE) * cast(p.average_price AS DOUBLE) AS spend_amount_usd,
       |       t.peer_count, t.peer_amount_kin,
       |       cast(t.peer_amount_kin AS DOUBLE) * cast(p.average_price AS DOUBLE) AS peer_amount_usd,
       |       coalesce(d.daily_active_users, 0) AS daily_active_users,
       |       coalesce(d.daily_active_spenders, 0) AS daily_active_spenders,
       |       coalesce(d.daily_active_earners, 0) AS daily_active_earners,
       |       coalesce(m.monthly_active_users, 0) AS monthly_active_users,
       |       coalesce(m.monthly_active_spenders, 0) AS monthly_active_spenders,
       |       coalesce(m.monthly_active_earners, 0) AS monthly_active_earners
       |FROM txns t
       |LEFT JOIN daily d ON t.date_key = d.date_key
       |LEFT JOIN monthly m ON t.date_key = m.date_key
       |JOIN price p ON t.date_key = p.date_key""".stripMargin
  }
}
