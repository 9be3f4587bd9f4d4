package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-mart composites: models that join several independently-built
  * upstream models into one reporting row — the reference's
  * `summary_stats` / `active_accounts` / `api` families.
  *
  * Scale design: every leg here is a calendar-bounded aggregate (one row
  * per day or per (day, app)), so the final joins are broadcast-sized no
  * matter how large the fact data is; the heavy lifting happens once in
  * the upstream models (materialized by the runner at scale — see
  * `graft.runner.ModelRegistry`).
  */
object CompositeModels {

  private val Money = DecimalType(38, 2)
  private def zeroMoney =
    lit(new java.math.BigDecimal("0.00")).cast(Money)

  /** q33 / the `daily_net_inflation` model: daily net inflation —
    * `daily_net_inflation.sql:40-55`:
    * payout − Δbalance − churn, flagged Inflation/Contraction/None.
    * Legs: daily payout (q26 rollup), total closing balance (q19 rollup,
    * current and previous day via a date-shifted self of the same
    * aggregate), churn volume (`daily_churn_volume.sql:36-48` — balances
    * of wallets with NO later balance observation within the window,
    * re-expressed as a lead-window like q15 instead of the reference's
    * range anti-join: one linear shuffle on wallet_id).
    * Anchored to complete days only (`daily_net_inflation.sql:8-10`'s
    * complete-day gate re-anchored to the data edge as in q15). The
    * churn window is 7 days here — the reference's 40-day gate assumes
    * years of history, while the events calendar spans ~30 days, and a
    * window that swallows the whole calendar would make the model
    * vacuously empty; the algebra is window-size-independent.
    */
  private val ChurnWindowDays = 7

  /** Churn volume as a standalone model (`daily_churn_volume.sql`):
    * per day, total closing balance of wallets with NO later balance
    * observation inside the window. Gated to complete windows
    * (date ≤ data edge − window) so an emitted row never changes as new
    * data arrives — the property the incremental runner's append
    * semantics require (and the reference's current_date−40 gate
    * provides).
    */
  def dailyChurnVolumeFrom(bal: DataFrame): DataFrame = {
    import bal.sparkSession.implicits._
    val maxDay = bal.agg(max($"date_key").as("max_date"))
    val w = Window.partitionBy($"wallet_id").orderBy($"date_key")
    bal
      .withColumn("next_date", lead($"date_key", 1).over(w))
      .filter($"next_date".isNull ||
        $"next_date" > date_add($"date_key", ChurnWindowDays))
      .crossJoin(broadcast(maxDay))
      .filter($"date_key" <= date_sub($"max_date", ChurnWindowDays))
      .groupBy($"date_key")
      .agg(sum($"closing_balance").cast(Money).as("churn_amount"))
  }

  /** The q33 composite over already-built inputs (`payout` = q26 rows,
    * `bal` = q19 rows, `churn` = dailyChurnVolumeFrom rows). Closing
    * balance and the payout chain are session-memoized, so the three
    * consumers here (payout rollup, balance leg, churn leg) read tiny
    * tables. */
  def dailyNetInflationFrom(payout: DataFrame, bal: DataFrame,
      churn: DataFrame): DataFrame = {
    import bal.sparkSession.implicits._
    val maxDay = bal.agg(max($"date_key").as("max_date"))
    val payouts = payout
      .groupBy($"date_key")
      .agg(sum($"post_monopoly_payout").cast(Money).as("daily_payout"))
      .crossJoin(broadcast(maxDay))
      .filter($"date_key" <= date_sub($"max_date", ChurnWindowDays))
      .drop("max_date")
    val balances = bal.groupBy($"date_key")
      .agg(sum($"closing_balance").cast(Money).as("balance"))
    payouts
      .join(balances.select($"date_key", $"balance".as("current_balance")),
        Seq("date_key"), "left")
      .join(balances.select(date_add($"date_key", 1).as("date_key"),
        $"balance".as("prev_balance")), Seq("date_key"), "left")
      .join(churn, Seq("date_key"), "left")
      .select($"date_key", $"daily_payout",
        coalesce($"current_balance", zeroMoney).as("current_balance"),
        coalesce($"prev_balance", zeroMoney).as("prev_balance"),
        coalesce($"churn_amount", zeroMoney).as("churn_amount"))
      .withColumn("net_inflation",
        ($"daily_payout" - ($"current_balance" - $"prev_balance") -
          $"churn_amount").cast(Money))
      .withColumn("inflation_flag",
        when($"net_inflation" > 0, "Inflation")
          .when($"net_inflation" < 0, "Contraction")
          .otherwise("None"))
  }

  lazy val dailyNetInflationOracle: String =
    s"""WITH bal AS (SELECT * FROM (${ActivityModels.closingBalanceOracle}) t),
       |maxd AS (SELECT max(date_key) AS max_date FROM bal),
       |pay_all AS (SELECT date_key, post_monopoly_payout
       |            FROM (${KreModels.dailyPayoutOracle}) t),
       |payouts AS (SELECT p.date_key,
       |                   cast(sum(p.post_monopoly_payout) AS DECIMAL(38,2)) AS daily_payout
       |            FROM pay_all p, maxd m
       |            WHERE p.date_key <= m.max_date - $ChurnWindowDays GROUP BY 1),
       |balances AS (SELECT date_key,
       |                    cast(sum(closing_balance) AS DECIMAL(38,2)) AS balance
       |             FROM bal GROUP BY 1),
       |nxt AS (SELECT date_key, closing_balance,
       |               lead(date_key) OVER (PARTITION BY wallet_id
       |                                    ORDER BY date_key) AS next_date
       |        FROM bal),
       |churn AS (SELECT date_key,
       |                 cast(sum(closing_balance) AS DECIMAL(38,2)) AS churn_amount
       |          FROM nxt
       |          WHERE next_date IS NULL OR next_date > date_key + $ChurnWindowDays
       |          GROUP BY 1),
       |joined AS (
       |  SELECT p.date_key, p.daily_payout,
       |         coalesce(ub.balance, cast(0 AS DECIMAL(38,2))) AS current_balance,
       |         coalesce(prev.balance, cast(0 AS DECIMAL(38,2))) AS prev_balance,
       |         coalesce(c.churn_amount, cast(0 AS DECIMAL(38,2))) AS churn_amount
       |  FROM payouts p
       |  LEFT JOIN balances ub ON p.date_key = ub.date_key
       |  LEFT JOIN balances prev ON p.date_key = prev.date_key + 1
       |  LEFT JOIN churn c ON p.date_key = c.date_key)
       |SELECT *,
       |       cast(daily_payout - (current_balance - prev_balance) - churn_amount
       |            AS DECIMAL(38,2)) AS net_inflation,
       |       CASE WHEN daily_payout - (current_balance - prev_balance) - churn_amount > 0
       |            THEN 'Inflation'
       |            WHEN daily_payout - (current_balance - prev_balance) - churn_amount < 0
       |            THEN 'Contraction'
       |            ELSE 'None' END AS inflation_flag
       |FROM joined""".stripMargin

  /** The `app_activity_grid` model — THE shared intermediate of the
    * whole actives family (q34, q38, q39, q40 ×2, q42, q35's monthly
    * leg), session-memoized: the deduped per-day activity grid — one
    * row per (date, app, wallet) observed in the fact,
    * flagged by role (the reference's `type in (2,3)` / `(1,3)`
    * spender/earner split mapped through the q07 event-type
    * convention). No role pre-filter, so the grid's day set is exactly
    * the fact's day set — the anchor-calendar every rolling window
    * derives from.
    *
    * Scale: this is the ONE dedup shuffle of the family. At 100 TB the
    * fact is scanned once and reduced to |distinct (date, app, wallet)|
    * rows; every rolling-actives consumer (lookback 0/6/29, app or
    * ecosystem grain) reads this table instead of re-deriving it —
    * previously q40 alone re-derived it twice and q34/q38/q42 once
    * each. */
  def appActivityGridFrom(factIn: DataFrame): DataFrame = {
    import factIn.sparkSession.implicits._
    factIn
      .select($"date_key", $"app_id", $"wallet_id", $"txn_type")
      .groupBy($"date_key", $"app_id", $"wallet_id")
      .agg(
        max($"txn_type".isin(EcosystemModels.SpendTypes: _*)).as("is_spend"),
        max($"txn_type".isin(EcosystemModels.EarnTypes: _*)).as("is_earn"))
  }

  val weeklyActiveAccountsAppOracle: String = activeAccountsAppOracle(6)

  /** App-grain actives at any window — the reference's
    * `{daily,weekly,monthly}_active_accounts_app.sql` grid (lookback
    * 0 / 6 / 29); lookback=0 skips the explode entirely (plain per-day
    * aggregate).
    *
    * q34 / the `monthly_active_accounts` model (lookback 29,
    * `monthly_active_accounts_app.sql:19-38`): the reference's three ×30
    * range joins become ONE pass over the shared DEDUPED flagged
    * (date, app, wallet) grid (same rewrite family as q16) — linear, no
    * range BNLJ. The reference PUBLISHES it as a table and
    * `daily_summary_by_app` reads it; here q34 and q40's monthly leg
    * share one session-memoized build the same way. q42 / the
    * `weekly_active_accounts_app` model is lookback 6
    * (`weekly_active_accounts_app.sql` — the grid cell q34/q40 don't
    * cover).
    *
    * One-pass formulation: the reference's three per-role pipelines
    * (users = spend ∪ earn, spenders, earners — each its own distinct +
    * range join + aggregate, stitched with two left joins) collapse to
    * ONE deduped (date, app, wallet) grid carrying role flags, ONE
    * explode, and conditional count-distincts in a single aggregate.
    * That is one fact scan instead of three and one dedup shuffle
    * instead of three, with no post-joins. The distinct-per-role counts
    * are computed as TWO plain hash aggregates — per-(anchor, app,
    * wallet) OR-reduction of the role flags, then per-(anchor, app)
    * counts over the deduped wallets — rather than three
    * `countDistinct(when(flag, wallet))` expressions, which Catalyst
    * plans through a ×3 Expand (tripling the shuffled row count). Both
    * formulations shuffle twice; this one moves 1× the exploded grid
    * per stage instead of 3×.
    */
  def activeAccountsAppFrom(factIn: DataFrame, lookback: Int): DataFrame =
    activeAccountsAppFromGrid(appActivityGridFrom(factIn), lookback)

  /** The tail of [[activeAccountsAppFrom]] over an already-built (often
    * materialized — the `app_activity_grid` model) grid.
    *
    * lookback = 0 is a plain per-day flag aggregate. lookback > 0 uses
    * the INTERVAL (difference-array) formulation instead of the older
    * ×(lookback+1) explode: a wallet is active at anchor a iff one of
    * its role-days d satisfies a ∈ [d, d+lookback], so the union of
    * those per-day spans — role-days merged wherever the gap ≤ lookback
    * — is a set of disjoint covering intervals per (app, wallet, role).
    * Each interval [s, e] contributes +1 at s and −1 at e+lookback+1;
    * summing deltas per (app, date) and running-summing over the app's
    * date series yields the exact distinct-active count at every
    * anchor.
    *
    * Scale: the explode path shuffles (lookback+1)×|triples| rows —
    * ×30 for the monthly window. This path shuffles |role triples|
    * ONCE per role (one lag/lead window keyed (app, wallet)), then all
    * remaining work is output-sized (|apps| × |dates| deltas and one
    * running sum partitioned per (app, role)). Row-identical results —
    * every consumer's driver hash is unchanged (q34/q38/q40/q42/q35).
    */
  /** Session conf holding the crossover between the two rolling
    * formulations. The default is the MEASURED value on this rig
    * (paired sf0.1 worktree A/B, 32 cores, round 5): the interval path
    * wins once the explode fan-out is wide (lookback 29 app-grain:
    * 2.03 s → 1.41 s), while for narrow windows (≤7) the
    * ×(lookback+1) hash-agg explode stays cheaper than three
    * per-wallet window sorts (q38/q42 regressed ~2× under intervals).
    * The ecosystem grain keeps the explode at every width for the same
    * reason — its deduped (date, wallet) set is small and the windows
    * partition on bare wallet_id. A different cluster/data shape can
    * re-measure and set the conf instead of editing code
    * (`spark.conf.set("spark.graft.rolling.intervalMinLookback", n)`;
    * RollingIntervalPropsSpec pins both paths row-identical, so the
    * knob is purely a cost choice).
    */
  val IntervalMinLookbackConf = "spark.graft.rolling.intervalMinLookback"
  val IntervalMinLookbackDefault = 14

  private def intervalPathMinLookback(df: DataFrame): Int =
    df.sparkSession.conf
      .get(IntervalMinLookbackConf, IntervalMinLookbackDefault.toString)
      .toInt

  def activeAccountsAppFromGrid(gridIn: DataFrame, lookback: Int): DataFrame = {
    import gridIn.sparkSession.implicits._
    if (lookback == 0) {
      gridIn.filter($"is_spend" || $"is_earn")
        .groupBy($"date_key", $"app_id")
        .agg(
          count(lit(1)).as("active_users"),
          sum(when($"is_spend", 1L).otherwise(0L)).as("active_spenders"),
          sum(when($"is_earn", 1L).otherwise(0L)).as("active_earners"))
        .select($"date_key", $"app_id",
          $"active_users", $"active_spenders", $"active_earners")
    } else if (lookback >= intervalPathMinLookback(gridIn))
      rollingFromIntervals(gridIn, Seq("app_id"), lookback)
    else {
      // narrow windows: constant-factor explode over the deduped grid
      val grid = gridIn.filter($"is_spend" || $"is_earn")
      val days = gridIn.select($"date_key").distinct()
        .withColumnRenamed("date_key", "anchor_date")
      grid
        .withColumn("anchor_date",
          explode(sequence($"date_key", date_add($"date_key", lookback))))
        .join(broadcast(days), Seq("anchor_date"), "left_semi")
        .groupBy($"anchor_date", $"app_id", $"wallet_id")
        .agg(max($"is_spend").as("w_spend"), max($"is_earn").as("w_earn"))
        .groupBy($"anchor_date", $"app_id")
        .agg(
          count(lit(1)).as("active_users"),
          sum(when($"w_spend", 1L).otherwise(0L)).as("active_spenders"),
          sum(when($"w_earn", 1L).otherwise(0L)).as("active_earners"))
        .select($"anchor_date".as("date_key"), $"app_id",
          $"active_users", $"active_spenders", $"active_earners")
    }
  }

  /** The interval-formulation rolling actives over a flagged grid, at
    * `keyCols` grain (app for q34/q42, empty for the ecosystem family).
    * See [[activeAccountsAppFromGrid]] for the algebra.
    */
  private[graft] def rollingFromIntervals(gridIn: DataFrame,
      keyCols: Seq[String], lookback: Int): DataFrame = {
    import gridIn.sparkSession.implicits._
    val keys = keyCols.map(col)
    // ±1 boundary deltas for one role's day set: a role-day STARTS an
    // interval when the previous role-day is more than `lookback` back
    // (its span isn't covered), and ENDS one when the next role-day is
    // more than `lookback` ahead
    def deltasFor(roleFlag: Column, role: String): DataFrame = {
      val w = Window.partitionBy(keys :+ $"wallet_id": _*)
        .orderBy($"date_key")
      gridIn.filter(roleFlag)
        .select(keys :+ $"wallet_id" :+ $"date_key": _*)
        .withColumn("prev_gap",
          datediff($"date_key", lag($"date_key", 1).over(w)))
        .withColumn("next_gap",
          datediff(lead($"date_key", 1).over(w), $"date_key"))
        .select(keys :+ explode(array(
          when($"prev_gap".isNull || $"prev_gap" > lookback,
            struct($"date_key".as("d"), lit(1L).as("delta"))),
          when($"next_gap".isNull || $"next_gap" > lookback,
            struct(date_add($"date_key", lookback + 1).as("d"),
              lit(-1L).as("delta"))))).as("e"): _*)
        .filter($"e".isNotNull)
        .select(keys :+ lit(role).as("role") :+ $"e.d".as("d") :+
          $"e.delta".as("delta"): _*)
    }
    val deltas = deltasFor($"is_spend" || $"is_earn", "u")
      .unionByName(deltasFor($"is_spend", "s"))
      .unionByName(deltasFor($"is_earn", "e"))
      .groupBy(keys :+ $"role" :+ $"d": _*)
      .agg(sum($"delta").as("dsum"))
    // running-sum the delta series together with the anchor calendar:
    // anchor rows carry delta 0 and read off the count in force at
    // their date. Partitions are (keys, role) — output-sized, never
    // fact-sized. Deltas sort BEFORE same-date anchors (is_anchor) so
    // a +1 on the anchor's own day is counted (d ∈ [d, d+lookback]).
    // broadcast fan-out of the CALENDAR (|days| rows, KBs) across the
    // (key, role) list — the allowlisted constant-side nested-loop
    // class (PlanAuditSpec): |keys×roles| × |days| rows, output-sized,
    // never data×data
    val anchors = gridIn.select($"date_key").distinct()
      .withColumnRenamed("date_key", "anchor_date")
    val keyRoles = deltas.select(keys :+ $"role": _*).distinct()
    val anchorRows = keyRoles.crossJoin(broadcast(anchors))
      .select(keys :+ $"role" :+ $"anchor_date".as("d") :+
        lit(0L).as("dsum") :+ lit(true).as("is_anchor"): _*)
    val wcum = Window.partitionBy(keys.map(c => c: Column) :+
        ($"role": Column): _*)
      .orderBy($"d", $"is_anchor")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = deltas.withColumn("is_anchor", lit(false))
      .unionByName(anchorRows)
      .withColumn("cnt", sum($"dsum").over(wcum))
      .filter($"is_anchor")
    cum
      .groupBy(keys :+ $"d".as("anchor_date"): _*)
      .agg(
        max(when($"role" === "u", $"cnt")).as("active_users"),
        coalesce(max(when($"role" === "s", $"cnt")), lit(0L))
          .as("active_spenders"),
        coalesce(max(when($"role" === "e", $"cnt")), lit(0L))
          .as("active_earners"))
      .filter($"active_users" > 0)
      .select(($"anchor_date".as("date_key") +: keys) :+
        $"active_users" :+
        coalesce($"active_spenders", lit(0L)).as("active_spenders") :+
        coalesce($"active_earners", lit(0L)).as("active_earners"): _*)
  }

  /** Per-(day, app) actives oracle at any lookback window — the SQL twin
    * of [[activeAccountsAppFrom]] (lookback 29 ≡ the original q34 text).
    */
  def activeAccountsAppOracle(lookback: Int): String =
    s"""WITH fact AS (SELECT cast(ts AS DATE) AS date_key, user_id AS wallet_id,
       |                     event_type AS txn_type,
       |                     coalesce(cast(json_extract_string(props,'$$.k') AS INTEGER),0) AS app_id
       |              FROM events WHERE event_type <> 'error'),
       |days AS (SELECT DISTINCT date_key AS anchor_date FROM fact),
       |spend AS (SELECT DISTINCT date_key, app_id, wallet_id FROM fact
       |          WHERE txn_type IN ('purchase', 'click')),
       |earn AS (SELECT DISTINCT date_key, app_id, wallet_id FROM fact
       |         WHERE txn_type IN ('signup', 'view')),
       |users AS (SELECT * FROM spend UNION SELECT * FROM earn),
       |ru AS (SELECT d.anchor_date, u.app_id,
       |              count(DISTINCT u.wallet_id) AS active_users
       |       FROM days d JOIN users u
       |         ON u.date_key BETWEEN d.anchor_date - $lookback AND d.anchor_date
       |       GROUP BY 1, 2),
       |rs AS (SELECT d.anchor_date, s.app_id,
       |              count(DISTINCT s.wallet_id) AS active_spenders
       |       FROM days d JOIN spend s
       |         ON s.date_key BETWEEN d.anchor_date - $lookback AND d.anchor_date
       |       GROUP BY 1, 2),
       |re AS (SELECT d.anchor_date, e.app_id,
       |              count(DISTINCT e.wallet_id) AS active_earners
       |       FROM days d JOIN earn e
       |         ON e.date_key BETWEEN d.anchor_date - $lookback AND d.anchor_date
       |       GROUP BY 1, 2)
       |SELECT u.anchor_date AS date_key, u.app_id, u.active_users,
       |       coalesce(s.active_spenders, 0) AS active_spenders,
       |       coalesce(e.active_earners, 0) AS active_earners
       |FROM ru u
       |LEFT JOIN rs s ON u.anchor_date = s.anchor_date AND u.app_id = s.app_id
       |LEFT JOIN re e ON u.anchor_date = e.anchor_date AND u.app_id = e.app_id""".stripMargin

  val monthlyActiveAccountsOracle: String = activeAccountsAppOracle(29)

  /** q35 / the `daily_kre_summary` model: the wide KRE API row —
    * `daily_kre_summary.sql:77-83`: daily transactions ⋈ AUB totals ⋈
    * monthly actives ⋈ volatility factor ⋈ payouts, all keyed on date.
    * The reference's three separate monthly role legs are one
    * `monthly_active_ecosystem` table (see
    * `EcosystemModels.activeEcosystemFromGrid`), so the physical join is
    * 5 inputs for the same 12-column row. Every leg is a one-row-per-day
    * aggregate; Catalyst/AQE broadcasts them, so join width costs nothing
    * at scale. Inputs: `factIn` = q01 rows, `aubIn` = q28 rows, `vfIn` =
    * q27 rows, `payoutIn` = q26 rows, `monthlyActives` = the 30-day
    * ecosystem actives (`monthly_active_ecosystem` rows). */
  def dailyKreSummaryFrom(factIn: DataFrame, aubIn: DataFrame,
      vfIn: DataFrame, payoutIn: DataFrame,
      monthlyActives: DataFrame): DataFrame = {
    import factIn.sparkSession.implicits._
    // no cache — same reasoning as activeAccountsAppFrom
    val fact = factIn
      .select($"date_key", $"app_id", $"wallet_id", $"txn_type")
    val dt = fact.groupBy($"date_key")
      .agg(count(lit(1)).as("transaction_count"),
        countDistinct($"app_id").as("active_apps"))
    val aub = aubIn
      .groupBy($"date_key")
      .agg(sum($"active_users").as("active_users"),
        sum($"aub").cast(Money).as("active_user_balance"),
        sum($"capped_aub").cast(Money).as("active_capped_user_balance"))
    val vf = vfIn
      .select($"date_key", $"volatility_factor")
    val payouts = payoutIn
      .groupBy($"date_key")
      .agg(sum($"post_monopoly_payout").cast(Money).as("kin_payout"),
        sum($"post_monopoly_payout_usd").cast(Money).as("usd_payout"))
    // the reference's final SELECT inner-joins each monthly role leg,
    // so a date whose whole 30-day window lacks a role is DROPPED, not
    // 0-filled — filter to reproduce that join semantics exactly
    val monthly = monthlyActives
      .filter($"active_spenders" > 0 && $"active_earners" > 0)
      .select($"date_key",
        $"active_users".as("monthly_active_users"),
        $"active_spenders".as("monthly_active_spenders"),
        $"active_earners".as("monthly_active_earners"))
    dt.join(aub, Seq("date_key"))
      .join(monthly, Seq("date_key"))
      .join(vf, Seq("date_key"))
      .join(payouts, Seq("date_key"))
      .select($"date_key", $"active_apps", $"active_user_balance",
        $"active_capped_user_balance", $"active_users",
        $"volatility_factor", $"kin_payout", $"usd_payout",
        $"transaction_count", $"monthly_active_earners",
        $"monthly_active_spenders", $"monthly_active_users")
  }

  lazy val dailyKreSummaryOracle: String =
    s"""WITH fact AS (SELECT cast(ts AS DATE) AS date_key, user_id AS wallet_id,
       |                     event_type AS txn_type,
       |                     coalesce(cast(json_extract_string(props,'$$.k') AS INTEGER),0) AS app_id
       |              FROM events WHERE event_type <> 'error'),
       |dt AS (SELECT date_key, count(*) AS transaction_count,
       |              count(DISTINCT app_id) AS active_apps
       |       FROM fact GROUP BY 1),
       |aub_all AS (SELECT date_key, active_users, aub, capped_aub
       |            FROM (${KreModels.activeUserBalanceOracle}) t),
       |aub AS (SELECT date_key, cast(sum(active_users) AS BIGINT) AS active_users,
       |               cast(sum(aub) AS DECIMAL(38,2)) AS active_user_balance,
       |               cast(sum(capped_aub) AS DECIMAL(38,2)) AS active_capped_user_balance
       |        FROM aub_all GROUP BY 1),
       |vf AS (SELECT date_key, volatility_factor
       |       FROM (${KreModels.volatilityFactorOracle}) t),
       |pay_all AS (SELECT date_key, post_monopoly_payout, post_monopoly_payout_usd
       |            FROM (${KreModels.dailyPayoutOracle}) t),
       |payouts AS (SELECT date_key,
       |                   cast(sum(post_monopoly_payout) AS DECIMAL(38,2)) AS kin_payout,
       |                   cast(sum(post_monopoly_payout_usd) AS DECIMAL(38,2)) AS usd_payout
       |            FROM pay_all GROUP BY 1),
       |days AS (SELECT DISTINCT date_key AS anchor_date FROM fact),
       |spend AS (SELECT DISTINCT date_key, wallet_id FROM fact
       |          WHERE txn_type IN ('purchase', 'click')),
       |earn AS (SELECT DISTINCT date_key, wallet_id FROM fact
       |         WHERE txn_type IN ('signup', 'view')),
       |users AS (SELECT * FROM spend UNION SELECT * FROM earn),
       |mau AS (SELECT d.anchor_date AS date_key,
       |               count(DISTINCT u.wallet_id) AS monthly_active_users
       |        FROM days d JOIN users u
       |          ON u.date_key BETWEEN d.anchor_date - 29 AND d.anchor_date
       |        GROUP BY 1),
       |mas AS (SELECT d.anchor_date AS date_key,
       |               count(DISTINCT s.wallet_id) AS monthly_active_spenders
       |        FROM days d JOIN spend s
       |          ON s.date_key BETWEEN d.anchor_date - 29 AND d.anchor_date
       |        GROUP BY 1),
       |mae AS (SELECT d.anchor_date AS date_key,
       |               count(DISTINCT e.wallet_id) AS monthly_active_earners
       |        FROM days d JOIN earn e
       |          ON e.date_key BETWEEN d.anchor_date - 29 AND d.anchor_date
       |        GROUP BY 1)
       |SELECT dt.date_key, dt.active_apps, aub.active_user_balance,
       |       aub.active_capped_user_balance, aub.active_users,
       |       vf.volatility_factor, p.kin_payout, p.usd_payout,
       |       dt.transaction_count, mae.monthly_active_earners,
       |       mas.monthly_active_spenders, mau.monthly_active_users
       |FROM dt
       |JOIN aub ON dt.date_key = aub.date_key
       |JOIN mae ON dt.date_key = mae.date_key
       |JOIN mas ON dt.date_key = mas.date_key
       |JOIN mau ON dt.date_key = mau.date_key
       |JOIN vf ON dt.date_key = vf.date_key
       |JOIN payouts p ON dt.date_key = p.date_key""".stripMargin
}
