package graft.models

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The KRE economics layer — the reference's most intricate models,
  * re-expressed as one DAG over the events analog:
  *
  *   closing_balance (q19) ─┐
  *                          ├→ active_user_balance (q28) ─┐
  *   volatility_factor (q27)┴────────────────────────────→├→ daily_payout (q26)
  *
  * Sources: `daily_volatility_factor.sql` (VF = mean 30d |price−mean| /
  * mean), `daily_active_user_balance_by_app.sql` (AU = ≥3 spends in 30d;
  * AUB = their balances; capped at AU×cap), `daily_kin_payout.sql`
  * (share × budget × (1−VF) with the 50%/90% monopoly caps).
  *
  * Numeric strategy for engine parity: aggregates stay in exact decimal /
  * integer micros (order-independent); the share algebra runs in double
  * with IDENTICAL expression text in Spark and DuckDB (scalar IEEE ops are
  * deterministic — only reduction order varies, and no double is ever
  * reduced); final columns round to decimal(24,6).
  */
object KreModels {

  /** Daily "price": mean event value per day in exact integer micros
    * (the events-world analog of the price dim feeding VF).
    */
  private def dailyPriceMicrosFrom(fact: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    fact
      .groupBy($"date_key")
      .agg(sum($"amount").as("amt_sum"), count(lit(1)).as("n"))
      .select($"date_key",
        expr("cast(amt_sum * 1000000 as bigint) div n").as("price_micros"))
  }

  /** q27 / the `volatility_factor` model: 30-day volatility factor,
    * entirely in integer micros.
    * The reference's two range joins (`daily_volatility_factor.sql:25-36`)
    * become two explode-to-equi phases: (1) per-anchor mean of the 30-day
    * price window; (2) per-anchor mean absolute deviation; then
    * vf = dev/mean. Ops: J4 ×2, A2, `abs`.
    *
    * Scale: explode factor is a constant 30 over one-row-per-day input —
    * bounded fan-out, plain hash aggregates, no BNLJ. Session-memoized
    * (`ModelRegistry.SessionMemo`): consumed standalone (q27) and by
    * q26/q33/q35/q39/q40.
    */
  def volatilityFactorFrom(fact: DataFrame): DataFrame = {
    val spark = fact.sparkSession
    import spark.implicits._
    // price is one row per day; caching it collapses the three plan
    // branches (days, served, mean) to a single scan+aggregate of events
    val price = Shared.cacheOnce(dailyPriceMicrosFrom(fact))
    val days = price.select($"date_key").distinct()
      .withColumnRenamed("date_key", "anchor_date")
    // referenced by both the mean and the deviation pass
    val served = Shared.cacheOnce(price
      .withColumn("anchor_date",
        explode(sequence($"date_key", date_add($"date_key", 29))))
      .join(broadcast(days), Seq("anchor_date"), "left_semi"))
    val mean = served.groupBy($"anchor_date")
      .agg(expr("cast(sum(price_micros) as bigint) div count(1)")
        .as("mean_micros"))
    served.join(mean, Seq("anchor_date"))
      .groupBy($"anchor_date".as("date_key"), $"mean_micros")
      .agg(expr("cast(sum(abs(price_micros - mean_micros)) as bigint) div count(1)")
        .as("dev_micros"))
      .select($"date_key",
        (col("mean_micros").cast(DecimalType(20, 0)) *
          lit(new java.math.BigDecimal("0.000001")).cast(DecimalType(7, 6)))
          .cast(DecimalType(24, 6)).as("average_price"),
        (expr("(dev_micros * 1000000) div mean_micros")
          .cast(DecimalType(20, 0)) *
          lit(new java.math.BigDecimal("0.000001")).cast(DecimalType(7, 6)))
          .cast(DecimalType(24, 6)).as("volatility_factor"))
  }

  val volatilityFactorOracle: String =
    """WITH fact AS (SELECT cast(ts AS DATE) AS date_key,
      |                     cast(value AS DECIMAL(18,2)) AS amount
      |              FROM events WHERE event_type <> 'error'),
      |price AS (SELECT date_key,
      |                 cast(sum(amount) * 1000000 AS BIGINT) // count(*) AS price_micros
      |          FROM fact GROUP BY 1),
      |days AS (SELECT DISTINCT date_key AS anchor_date FROM price),
      |served AS (SELECT d.anchor_date, p.price_micros
      |           FROM days d JOIN price p
      |             ON p.date_key BETWEEN d.anchor_date - 29 AND d.anchor_date),
      |mean AS (SELECT anchor_date,
      |                cast(sum(price_micros) AS BIGINT) // count(*) AS mean_micros
      |         FROM served GROUP BY 1),
      |dev AS (SELECT s.anchor_date, m.mean_micros,
      |               cast(sum(abs(s.price_micros - m.mean_micros)) AS BIGINT) // count(*) AS dev_micros
      |        FROM served s JOIN mean m ON s.anchor_date = m.anchor_date
      |        GROUP BY 1, 2)
      |SELECT anchor_date AS date_key,
      |       cast(mean_micros * cast(0.000001 AS DECIMAL(7,6)) AS DECIMAL(24,6)) AS average_price,
      |       cast(((dev_micros * 1000000) // mean_micros) *
      |            cast(0.000001 AS DECIMAL(7,6)) AS DECIMAL(24,6)) AS volatility_factor
      |FROM dev""".stripMargin

  /** q28 / the `active_user_balance` model: KRE active-user balance per
    * (day, app). AU = wallets with ≥3
    * purchases in the trailing 30 days for that app
    * (`daily_active_user_balance_by_app.sql:26-34`); AUB = sum of those
    * wallets' same-day closing balances (0 when untouched that day);
    * capped_aub = least(aub, au × 1000) (the AU×100000 cap rule, :67-70).
    * Ops: J4 (explode ×30 after dedupe), P9, J2, A1, A9.
    * Session-memoized (`ModelRegistry.SessionMemo`): consumed standalone
    * (q28) and by q26/q33/q35.
    */
  def activeUserBalanceFrom(factIn: DataFrame,
      closingBalance: DataFrame): DataFrame = {
    val spark = factIn.sparkSession
    import spark.implicits._
    // one parse of the fact slice feeds both the spend stream and the
    // anchor-day set (two plan branches would otherwise re-scan + re-parse
    // the JSON app key)
    val fact = Shared.cacheOnce(factIn
      .select($"date_key", $"app_id", $"wallet_id", $"txn_type"))
    val spends = fact.filter($"txn_type" === "purchase")
      .select($"date_key", $"app_id", $"wallet_id")
    val days = fact.select($"date_key").distinct()
      .withColumnRenamed("date_key", "anchor_date")
    val au = spends
      .withColumn("anchor_date",
        explode(sequence($"date_key", date_add($"date_key", 29))))
      .join(broadcast(days), Seq("anchor_date"), "left_semi")
      .groupBy($"anchor_date", $"app_id", $"wallet_id")
      .agg(count(lit(1)).as("spend_count"))
      .filter($"spend_count" >= 3)
    val balance = closingBalance
      .select($"date_key".as("anchor_date"), $"wallet_id",
        $"closing_balance")
    au.join(balance, Seq("anchor_date", "wallet_id"), "left")
      .groupBy($"anchor_date".as("date_key"), $"app_id")
      .agg(count(lit(1)).as("active_users"),
        sum(coalesce($"closing_balance",
          lit(BigDecimal(0)).cast(DecimalType(18, 2))))
          .cast(DecimalType(38, 2)).as("aub"))
      .withColumn("capped_aub",
        least($"aub", ($"active_users" * 1000).cast(DecimalType(38, 2))))
  }

  /** Shared CTE prefix (fact/days/au/bal) used by both the q28 oracle and
    * the q26 oracle, so the two stay literally in sync.
    */
  private val auBalCtes: String =
    """fact AS (SELECT cast(ts AS DATE) AS date_key, user_id AS wallet_id,
      |                     event_type AS txn_type,
      |                     coalesce(cast(json_extract_string(props,'$.k') AS INTEGER),0) AS app_id,
      |                     cast(value AS DECIMAL(18,2)) AS amount
      |              FROM events WHERE event_type <> 'error'),
      |days AS (SELECT DISTINCT date_key AS anchor_date FROM fact),
      |au AS (SELECT d.anchor_date, f.app_id, f.wallet_id, count(*) AS spend_count
      |       FROM days d JOIN fact f
      |         ON f.txn_type = 'purchase'
      |        AND f.date_key BETWEEN d.anchor_date - 29 AND d.anchor_date
      |       GROUP BY 1, 2, 3 HAVING count(*) >= 3),
      |ev AS (SELECT ts, event_id, user_id,
      |              coalesce(cast(json_extract_string(props,'$.k') AS INTEGER),0) AS app_k, value
      |       FROM events WHERE event_type <> 'error'),
      |txn AS (SELECT cast(ts AS DATE) AS date_key, ts, event_id,
      |               user_id AS wallet_id, cast(value AS DECIMAL(18,2)) AS balance, 'from' AS side
      |        FROM ev
      |        UNION ALL
      |        SELECT cast(ts AS DATE), ts, event_id, (user_id + app_k) % 15,
      |               cast(value/2 AS DECIMAL(18,2)), 'to'
      |        FROM ev),
      |bal AS (SELECT date_key, wallet_id, balance AS closing_balance
      |        FROM (SELECT *, row_number() OVER (PARTITION BY wallet_id, date_key
      |                         ORDER BY ts DESC, event_id DESC, side DESC) AS rn
      |              FROM txn) WHERE rn = 1)""".stripMargin

  val activeUserBalanceOracle: String =
    s"""WITH $auBalCtes
       |SELECT au.anchor_date AS date_key, au.app_id,
       |       count(*) AS active_users,
       |       cast(sum(coalesce(b.closing_balance, cast(0 AS DECIMAL(18,2)))) AS DECIMAL(38,2)) AS aub,
       |       least(cast(sum(coalesce(b.closing_balance, cast(0 AS DECIMAL(18,2)))) AS DECIMAL(38,2)),
       |             cast(count(*) * 1000 AS DECIMAL(38,2))) AS capped_aub
       |FROM au LEFT JOIN bal b
       |  ON b.date_key = au.anchor_date AND b.wallet_id = au.wallet_id
       |GROUP BY 1, 2""".stripMargin

  /** q26 / the `daily_payout` model: daily per-app payout with the
    * monopoly caps, faithfully reproducing `daily_kin_payout.sql`:
    *   share_i = capped_aub_i / Σ capped_aub            (double)
    *   payout_i = share_i × (B × (1 − VF)), B = 250e6
    *   if s1 > 0.5:   s1' = 0.5 + ((s1−0.5)/0.5)·(2/3 − 1/2)
    *   if s1'+s2 > .9: s2' = s2/(s1+s2)·0.9, s1'' = min(s1', s1'/(s1'+s2)·0.9)
    *   non-top shares rescale into the remaining mass.
    * Lateral aliases (`top_share_adjusted_initial` reused downstream) are
    * expanded by binding expressions to vals (SURVEY §2.8).
    * Ops: J1, J8 (rank-1/rank-2 self-joins), W1, A9, J3 dim decoration.
    *
    * Takes already-built inputs so the monopoly-cap branches are
    * unit-testable with crafted AUB/VF frames (PayoutEdgeSpec)
    * independent of the upstream DAG. `aub`: (date_key, app_id,
    * capped_aub); `vf`: (date_key, volatility_factor, average_price);
    * `dim`: (n_nationkey, n_name). Session-memoized
    * (`ModelRegistry.SessionMemo`): consumed standalone (q26) and by
    * q29/q33/q35/q41, whose inputs are themselves memoized, so the share
    * algebra reads two tiny calendar-bounded tables.
    */
  def dailyPayoutFrom(spark: SparkSession, aub: DataFrame, vf: DataFrame,
      dim: DataFrame): DataFrame = {
    import spark.implicits._
    val total = aub.groupBy($"date_key")
      .agg(sum($"capped_aub").cast(DecimalType(38, 2)).as("total_aub"))
    val budget = lit(250000000.0d)
    val pre = Shared.cacheOnce(
      aub.join(total, Seq("date_key")).join(vf, Seq("date_key"))
        .withColumn("app_aub_share",
          $"capped_aub".cast(DoubleType) / $"total_aub".cast(DoubleType))
        .withColumn("payout",
          $"app_aub_share" * (budget *
            (lit(1.0d) - $"volatility_factor".cast(DoubleType))))
        .withColumn("rk", dense_rank().over(
          Window.partitionBy($"date_key").orderBy($"payout".desc))))
    val top = pre.filter($"rk" === 1)
      .select($"date_key", $"app_aub_share".as("s1"))
    val second = pre.filter($"rk" === 2)
      .select($"date_key", $"app_aub_share".as("s2"))
    // lateral aliases expanded: s1i (= s1'), s2a (= s2'), s1a (= s1'')
    val s1i = when($"s1" > 0.5d,
      lit(0.5d) + ((($"s1" - 0.5d) / 0.5d) *
        (lit(2.0d) / 3.0d - lit(1.0d) / 2.0d))).otherwise($"s1")
    val adjustments = top.join(second, Seq("date_key"))
      .withColumn("s1i", s1i)
      .withColumn("s2a",
        when($"s1i" + $"s2" > 0.9d, ($"s2" / ($"s1" + $"s2")) * 0.9d)
          .otherwise($"s2"))
      .withColumn("s1a",
        when($"s1i" < ($"s1i" / ($"s1i" + $"s2")) * 0.9d, $"s1i")
          .otherwise(($"s1i" / ($"s1i" + $"s2")) * 0.9d))
      .distinct() // one row per date (reference's SELECT DISTINCT)
    // per-date sums in exact decimal, converted once for the double algebra
    val sums = adjustments
      .withColumn("single_monopoly_sum", lit(1.0d) - $"s1")
      .withColumn("double_monopoly_sum", lit(1.0d) - ($"s1" + $"s2"))
    val staged = pre.join(sums, Seq("date_key"))
      .withColumn("post_monopoly_app_share",
        when($"s2" =!= $"s2a" && $"rk" > 2,
          ($"app_aub_share" / $"double_monopoly_sum") * 0.1d)
          .when($"s2" === $"s2a" && $"s1a" > 0.5d && $"rk" > 1,
            ($"app_aub_share" / $"single_monopoly_sum") *
              (lit(1.0d) - $"s1a"))
          .when($"rk" === 1 && $"app_aub_share" =!= $"s1a", $"s1a")
          .otherwise($"app_aub_share"))
      .withColumn("payout_budget",
        budget * (lit(1.0d) - $"volatility_factor".cast(DoubleType)))
      .withColumn("post_monopoly_payout",
        $"payout_budget" * $"post_monopoly_app_share")
    staged
      .join(broadcast(dim), $"app_id" === $"n_nationkey", "left")
      .select($"date_key", $"app_id",
        coalesce($"n_name", lit("UNKNOWN")).as("app_name"),
        round($"app_aub_share", 6).cast(DecimalType(24, 6))
          .as("pre_monopoly_share"),
        round($"payout", 2).cast(DecimalType(38, 2))
          .as("pre_monopoly_payout"),
        round($"post_monopoly_app_share", 6).cast(DecimalType(24, 6))
          .as("post_monopoly_share"),
        round($"post_monopoly_payout", 2).cast(DecimalType(38, 2))
          .as("post_monopoly_payout"),
        round($"post_monopoly_payout" *
          $"average_price".cast(DoubleType), 2).cast(DecimalType(38, 2))
          .as("post_monopoly_payout_usd"))
  }

  /** q29 / the `weekly_payout` model: weekly payout rollup —
    * `kre_weekly_payout.sql`, over daily_payout rows, keyed by the week
    * anchor W as `date_key` (the runner's watermark column). The window
    * per week-anchor W (a Monday) is reproduced LITERALLY from the
    * reference's Sunday-anchored arithmetic (SURVEY §7.4.3 — don't
    * "fix" it): from = dateadd(week,-1,dateadd(day,-1,W)) = W−8;
    * to = dateadd(day,-2,W) = W−2 — i.e. previous-week Sunday through
    * Saturday. Ops: J4 weekly range join, A1, J3 dim decoration, O1.
    *
    * The window join is collapsed to a SCALAR anchor derivation instead
    * of the naive `BETWEEN` join (which Spark would plan as a
    * BroadcastNestedLoopJoin — |payout|×|weeks| compares): W−8 ≤ d ≤ W−2
    * ⟺ W ∈ [d+2, d+8], and any 7 consecutive days contain exactly ONE
    * Monday — the Monday of the week containing d+8. So each payout row
    * maps to its unique served week by pure date arithmetic, then a
    * broadcast SEMI join keeps only weeks that exist in the anchor set
    * (exactly the weeks the original inner join could emit). Linear,
    * map-side, no fan-out at all. (`RangeJoinRewrite` also handles the
    * shifted-BETWEEN shape engine-wide for user-written queries.)
    */
  def weeklyPayoutFrom(dailyPayout: DataFrame): DataFrame = {
    import dailyPayout.sparkSession.implicits._
    // daily_payout is a memoized materialization — the two references
    // below (weeks + the join) each re-read a tiny parquet, no cache
    val payout = dailyPayout
      .select($"date_key", $"app_id", $"app_name",
        $"post_monopoly_payout", $"post_monopoly_payout_usd")
    val weeks = payout
      .select(date_trunc("week", $"date_key").cast(DateType).as("week_key"))
      .distinct()
    payout
      .withColumn("week_key",
        date_trunc("week", date_add($"date_key", 8)).cast(DateType))
      .join(broadcast(weeks), Seq("week_key"), "left_semi")
      .groupBy($"week_key".as("date_key"), $"app_id", $"app_name")
      .agg(
        sum($"post_monopoly_payout").cast(DecimalType(38, 2))
          .as("weekly_kin_payout"),
        sum($"post_monopoly_payout_usd").cast(DecimalType(38, 2))
          .as("weekly_usd_payout"))
  }

  /** q29's served row: the [[weeklyPayoutFrom]] rollup (`weekly` =
    * weekly_payout rows) under its week key, stamped with the
    * reference's run date and served window. */
  def kreWeeklyPayoutFrom(weekly: DataFrame): DataFrame = {
    import weekly.sparkSession.implicits._
    weekly
      .select($"date_key".as("week_key"), $"app_id", $"app_name",
        $"weekly_kin_payout", $"weekly_usd_payout",
        $"date_key".as("run_date"),
        date_sub($"date_key", 8).as("from_date"),
        date_sub($"date_key", 2).as("to_date"))
      .orderBy($"week_key", $"app_id")
  }

  // lazy: composes dailyPayoutOracle, which is declared later in this
  // object — a strict val would capture null at init order
  lazy val kreWeeklyPayoutOracle: String = {
    s"""WITH payout AS (SELECT date_key, app_id, app_name,
       |                       post_monopoly_payout, post_monopoly_payout_usd
       |                FROM (${dailyPayoutSelect}) t),
       |weeks AS (SELECT DISTINCT cast(date_trunc('week', date_key) AS DATE) AS week_key
       |          FROM payout)
       |SELECT w.week_key, p.app_id, p.app_name,
       |       cast(sum(p.post_monopoly_payout) AS DECIMAL(38,2)) AS weekly_kin_payout,
       |       cast(sum(p.post_monopoly_payout_usd) AS DECIMAL(38,2)) AS weekly_usd_payout,
       |       w.week_key AS run_date,
       |       w.week_key - 8 AS from_date,
       |       w.week_key - 2 AS to_date
       |FROM weeks w JOIN payout p
       |  ON p.date_key BETWEEN w.week_key - 8 AND w.week_key - 2
       |GROUP BY 1, 2, 3""".stripMargin
  }

  /** The full q26 oracle as a parenthesizable SELECT (DuckDB allows a
    * nested WITH inside a subquery), reused by the q29 oracle.
    */
  private def dailyPayoutSelect: String = dailyPayoutOracle

  val dailyPayoutOracle: String = {
    s"""WITH $auBalCtes,
       |aub AS (SELECT au.anchor_date AS date_key, au.app_id,
       |               least(cast(sum(coalesce(b.closing_balance, cast(0 AS DECIMAL(18,2)))) AS DECIMAL(38,2)),
       |                     cast(count(*) * 1000 AS DECIMAL(38,2))) AS capped_aub
       |        FROM au LEFT JOIN bal b
       |          ON b.date_key = au.anchor_date AND b.wallet_id = au.wallet_id
       |        GROUP BY 1, 2),
       |price AS (SELECT date_key,
       |                 cast(sum(amount) * 1000000 AS BIGINT) // count(*) AS price_micros
       |          FROM fact GROUP BY 1),
       |pdays AS (SELECT DISTINCT date_key AS anchor_date FROM price),
       |served AS (SELECT d.anchor_date, p.price_micros
       |           FROM pdays d JOIN price p
       |             ON p.date_key BETWEEN d.anchor_date - 29 AND d.anchor_date),
       |pmean AS (SELECT anchor_date,
       |                 cast(sum(price_micros) AS BIGINT) // count(*) AS mean_micros
       |          FROM served GROUP BY 1),
       |vf AS (SELECT s.anchor_date AS date_key,
       |              cast(m.mean_micros * cast(0.000001 AS DECIMAL(7,6)) AS DECIMAL(24,6)) AS average_price,
       |              cast(((cast(sum(abs(s.price_micros - m.mean_micros)) AS BIGINT) // count(*)) * 1000000
       |                    // m.mean_micros) * cast(0.000001 AS DECIMAL(7,6)) AS DECIMAL(24,6)) AS volatility_factor
       |       FROM served s JOIN pmean m ON s.anchor_date = m.anchor_date
       |       GROUP BY 1, m.mean_micros),
       |total AS (SELECT date_key, cast(sum(capped_aub) AS DECIMAL(38,2)) AS total_aub
       |          FROM aub GROUP BY 1),
       |pre AS (SELECT a.date_key, a.app_id,
       |               cast(a.capped_aub AS DOUBLE) / cast(t.total_aub AS DOUBLE) AS app_aub_share,
       |               (cast(a.capped_aub AS DOUBLE) / cast(t.total_aub AS DOUBLE)) *
       |                 (250000000.0 * (1.0 - cast(v.volatility_factor AS DOUBLE))) AS payout,
       |               v.volatility_factor, v.average_price,
       |               dense_rank() OVER (PARTITION BY a.date_key
       |                 ORDER BY (cast(a.capped_aub AS DOUBLE) / cast(t.total_aub AS DOUBLE)) *
       |                   (250000000.0 * (1.0 - cast(v.volatility_factor AS DOUBLE))) DESC) AS rk
       |        FROM aub a JOIN total t ON a.date_key = t.date_key
       |        JOIN vf v ON a.date_key = v.date_key),
       |adj AS (SELECT DISTINCT t1.date_key, t1.app_aub_share AS s1, t2.app_aub_share AS s2,
       |               CASE WHEN t1.app_aub_share > 0.5
       |                    THEN 0.5 + (((t1.app_aub_share - 0.5) / 0.5) * ((2.0/3.0) - (1.0/2.0)))
       |                    ELSE t1.app_aub_share END AS s1i,
       |               CASE WHEN (CASE WHEN t1.app_aub_share > 0.5
       |                               THEN 0.5 + (((t1.app_aub_share - 0.5) / 0.5) * ((2.0/3.0) - (1.0/2.0)))
       |                               ELSE t1.app_aub_share END) + t2.app_aub_share > 0.9
       |                    THEN (t2.app_aub_share / (t1.app_aub_share + t2.app_aub_share)) * 0.9
       |                    ELSE t2.app_aub_share END AS s2a,
       |               CASE WHEN (CASE WHEN t1.app_aub_share > 0.5
       |                               THEN 0.5 + (((t1.app_aub_share - 0.5) / 0.5) * ((2.0/3.0) - (1.0/2.0)))
       |                               ELSE t1.app_aub_share END)
       |                       < ((CASE WHEN t1.app_aub_share > 0.5
       |                               THEN 0.5 + (((t1.app_aub_share - 0.5) / 0.5) * ((2.0/3.0) - (1.0/2.0)))
       |                               ELSE t1.app_aub_share END)
       |                          / ((CASE WHEN t1.app_aub_share > 0.5
       |                               THEN 0.5 + (((t1.app_aub_share - 0.5) / 0.5) * ((2.0/3.0) - (1.0/2.0)))
       |                               ELSE t1.app_aub_share END) + t2.app_aub_share)) * 0.9
       |                    THEN (CASE WHEN t1.app_aub_share > 0.5
       |                               THEN 0.5 + (((t1.app_aub_share - 0.5) / 0.5) * ((2.0/3.0) - (1.0/2.0)))
       |                               ELSE t1.app_aub_share END)
       |                    ELSE ((CASE WHEN t1.app_aub_share > 0.5
       |                               THEN 0.5 + (((t1.app_aub_share - 0.5) / 0.5) * ((2.0/3.0) - (1.0/2.0)))
       |                               ELSE t1.app_aub_share END)
       |                          / ((CASE WHEN t1.app_aub_share > 0.5
       |                               THEN 0.5 + (((t1.app_aub_share - 0.5) / 0.5) * ((2.0/3.0) - (1.0/2.0)))
       |                               ELSE t1.app_aub_share END) + t2.app_aub_share)) * 0.9
       |                    END AS s1a
       |        FROM pre t1 JOIN pre t2
       |          ON t1.date_key = t2.date_key AND t1.rk = 1 AND t2.rk = 2),
       |staged AS (SELECT p.*, a.s1, a.s2, a.s2a, a.s1a,
       |                  (1.0 - a.s1) AS single_monopoly_sum,
       |                  (1.0 - (a.s1 + a.s2)) AS double_monopoly_sum
       |           FROM pre p JOIN adj a ON p.date_key = a.date_key),
       |named AS (SELECT s.*,
       |                 CASE WHEN s.s2 <> s.s2a AND s.rk > 2
       |                      THEN (s.app_aub_share / s.double_monopoly_sum) * 0.1
       |                      WHEN s.s2 = s.s2a AND s.s1a > 0.5 AND s.rk > 1
       |                      THEN (s.app_aub_share / s.single_monopoly_sum) * (1.0 - s.s1a)
       |                      WHEN s.rk = 1 AND s.app_aub_share <> s.s1a
       |                      THEN s.s1a
       |                      ELSE s.app_aub_share END AS post_share,
       |                 (250000000.0 * (1.0 - cast(s.volatility_factor AS DOUBLE))) AS payout_budget
       |          FROM staged s)
       |SELECT n.date_key, n.app_id,
       |       coalesce(dim.n_name, 'UNKNOWN') AS app_name,
       |       cast(round(n.app_aub_share, 6) AS DECIMAL(24,6)) AS pre_monopoly_share,
       |       cast(round(n.payout, 2) AS DECIMAL(38,2)) AS pre_monopoly_payout,
       |       cast(round(n.post_share, 6) AS DECIMAL(24,6)) AS post_monopoly_share,
       |       cast(round(n.payout_budget * n.post_share, 2) AS DECIMAL(38,2)) AS post_monopoly_payout,
       |       cast(round(n.payout_budget * n.post_share * cast(n.average_price AS DOUBLE), 2) AS DECIMAL(38,2)) AS post_monopoly_payout_usd
       |FROM named n LEFT JOIN nation dim ON n.app_id = dim.n_nationkey""".stripMargin
  }
}
