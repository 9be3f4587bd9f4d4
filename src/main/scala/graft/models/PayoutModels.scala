package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Payout / ranking / rollup models: analogs of the reference's KRE
  * economics layer (`daily_kin_payout.sql`, `weekly_kre_payout_summary.sql`)
  * and the weekly/monthly re-aggregation family (SURVEY.md §2.11).
  */
object PayoutModels {
  import TxnModels.ratio6

  /** q05 / the `app_summary_dim` model: per-(day, app) summary decorated with
    * the app dimension. Ops: J3 left dim-lookup join with explicit broadcast
    * (`daily_kin_transactions.sql:99`), A1, null→'UNKNOWN' coalesce. `nation`
    * stands in for `dim_kin_app` (FIXTURES.md §B).
    *
    * Scale: aggregate FIRST (shuffle on the group key), then broadcast-join
    * the 25-row dim — the fact table is never shuffled for the join.
    */
  def appSummaryDimFrom(fact: DataFrame, nation: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    val dim = nation.select($"n_nationkey", $"n_name")
    fact
      .groupBy($"date_key", $"app_id")
      // long-cents sum (Cents scaladoc): (day, app) grain ≤ 10^17 cents
      .agg(count(lit(1)).as("txn_count"),
        Cents.asMoney(sum(Cents.cents($"amount"))).as("total_amount"))
      .join(broadcast(dim), $"app_id" === $"n_nationkey", "left")
      .select($"date_key", $"app_id",
        coalesce($"n_name", lit("UNKNOWN")).as("app_name"),
        $"txn_count", $"total_amount")
  }

  val appSummaryDimOracle: String =
    """WITH fact AS (SELECT cast(ts AS DATE) AS date_key,
      |                     coalesce(cast(json_extract_string(props,'$.k') AS INTEGER),0) AS app_id,
      |                     cast(value AS DECIMAL(18,2)) AS amount
      |              FROM events WHERE event_type <> 'error'),
      |agg AS (SELECT date_key, app_id, count(*) AS txn_count,
      |               cast(sum(amount) AS DECIMAL(38,2)) AS total_amount
      |        FROM fact GROUP BY 1, 2)
      |SELECT a.date_key, a.app_id, coalesce(n.n_name, 'UNKNOWN') AS app_name,
      |       a.txn_count, a.total_amount
      |FROM agg a LEFT JOIN nation n ON a.app_id = n.n_nationkey""".stripMargin

  /** q06 / the `wallet_day_activity` model: composite-key join of spend-side
    * and total-side per-wallet daily aggregates. Ops: J2 equi join on
    * (date_key, wallet_id) (`daily_active_user_balance_by_app.sql:58-59`).
    * Scale: both sides aggregate to the same key before the join, so AQE can
    * pick a single co-partitioned exchange. */
  def walletDayJoinFrom(fact: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    val total = fact.groupBy($"date_key", $"wallet_id")
      .agg(count(lit(1)).as("txn_count"))
    val spend = fact.filter($"txn_type" === "purchase")
      .groupBy($"date_key", $"wallet_id")
      // long-cents sum (Cents scaladoc): (day, wallet) grain — finer
      // than the 10^17-cents day bound
      .agg(count(lit(1)).as("spend_count"),
        Cents.asMoney(sum(Cents.cents($"amount"))).as("spend_amount"))
    total.join(spend, Seq("date_key", "wallet_id"))
  }

  val walletDayJoinOracle: String =
    """WITH fact AS (SELECT cast(ts AS DATE) AS date_key, user_id AS wallet_id,
      |                     event_type AS txn_type, cast(value AS DECIMAL(18,2)) AS amount
      |              FROM events WHERE event_type <> 'error'),
      |total AS (SELECT date_key, wallet_id, count(*) AS txn_count FROM fact GROUP BY 1,2),
      |spend AS (SELECT date_key, wallet_id, count(*) AS spend_count,
      |                 cast(sum(amount) AS DECIMAL(38,2)) AS spend_amount
      |          FROM fact WHERE txn_type = 'purchase' GROUP BY 1,2)
      |SELECT t.date_key, t.wallet_id, t.txn_count, s.spend_count, s.spend_amount
      |FROM total t JOIN spend s
      |  ON s.date_key = t.date_key AND s.wallet_id = t.wallet_id""".stripMargin

  /** The rollup's aggregate algebra, shared VERBATIM with the weekly
    * streaming twin (`streaming/StreamingModelRunner`) so batch and
    * stream cannot drift. */
  val rollupAggs: Seq[Column] = Seq(
    count(lit(1)).as("txn_count"),
    // long-cents sums (Cents scaladoc): the coarsest rollup grain is a
    // MONTH — ~3×10^10 fact rows at 100 TB × <10^8 cents ⇒ ≤ 3×10^18,
    // still inside Long (3× margin); weekly/daily grains are far finer.
    // The two sums are identical aggregate expressions, so planning
    // dedups them into ONE long buffer.
    Cents.asMoney(sum(Cents.cents(col("amount")))).as("total_amount"),
    Cents.asMoney(sum(Cents.cents(col("amount"))), 28).as("amt_sum_raw"))

  /** Post-aggregate finish for [[rollupAggs]]: the exact-micros average
    * (see q08's formulation note), recomputed from sums — never
    * averaged-of-averages. */
  def rollupFinish(df: DataFrame): DataFrame = df
    .withColumn("avg_amount",
      (expr("cast(amt_sum_raw * 1000000 as bigint) div txn_count")
        .cast(DecimalType(20, 0)) *
        lit(new java.math.BigDecimal("0.000001")).cast(DecimalType(7, 6)))
        .cast(DecimalType(24, 6)))
    .drop("amt_sum_raw")

  /** q09/q10 / the `{weekly,monthly}_txn_rollup` models: weekly/monthly
    * re-aggregation of the daily summary — the reference's
    * `weekly_kin_transactions.sql` / `monthly_…` pattern (A1 regroup via
    * `date_trunc`). Avg is recomputed from sums, never
    * averaged-of-averages.
    */
  def periodTxnRollupFrom(unit: String, fact: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    rollupFinish(fact
      .groupBy(date_trunc(unit, $"date_key").cast(DateType).as("period_key"),
        $"txn_type")
      .agg(rollupAggs.head, rollupAggs.tail: _*))
  }

  def periodTxnRollupOracle(unit: String): String =
    s"""WITH fact AS (SELECT cast(ts AS DATE) AS date_key, event_type AS txn_type,
       |                     cast(value AS DECIMAL(18,2)) AS amount
       |              FROM events WHERE event_type <> 'error')
       |SELECT cast(date_trunc('$unit', date_key) AS DATE) AS period_key, txn_type,
       |       count(*) AS txn_count,
       |       cast(sum(amount) AS DECIMAL(38,2)) AS total_amount,
       |       cast((cast(sum(amount) * 1000000 AS BIGINT) // count(*)) *
       |            cast(0.000001 AS DECIMAL(7,6)) AS DECIMAL(24,6)) AS avg_amount
       |FROM fact GROUP BY 1, 2""".stripMargin

  /** q11 / the `top_apps_daily` model: top-3 apps by daily payout via
    * dense_rank. Ops: W1 ranking window (`daily_kin_payout.sql:30`), W3
    * rank-filter top-k (`weekly_kre_payout_summary.sql:33`). dense_rank (not
    * row_number) so value ties rank identically in both engines. */
  def topAppsDailyFrom(fact: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    val payout = fact
      .filter($"txn_type" === "purchase")
      .groupBy($"date_key", $"app_id")
      // long-cents sum (Cents scaladoc): (day, app) grain ≤ 10^17 cents
      .agg(Cents.asMoney(sum(Cents.cents($"amount"))).as("payout"))
    val w = Window.partitionBy($"date_key").orderBy($"payout".desc)
    // rank as BIGINT: Spark's dense_rank is INT32, DuckDB's is BIGINT —
    // the driver compares output schemas, so widen at the projection
    payout.withColumn("payout_rank", dense_rank().over(w))
      .filter($"payout_rank" <= 3)
      .withColumn("payout_rank", $"payout_rank".cast("long"))
  }

  val topAppsDailyOracle: String =
    """WITH payout AS (
      |  SELECT cast(ts AS DATE) AS date_key,
      |         coalesce(cast(json_extract_string(props,'$.k') AS INTEGER),0) AS app_id,
      |         cast(sum(cast(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS payout
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT date_key, app_id, payout,
      |       cast(dense_rank() OVER (PARTITION BY date_key ORDER BY payout DESC) AS BIGINT) AS payout_rank
      |FROM payout QUALIFY payout_rank <= 3""".stripMargin

  /** q22 / the `capped_app_balance` model: capped aggregate outputs —
    * `capped_aub = least(aub, au*cap)` + CASE classification over agg aliases.
    * Ops: A9 (`daily_active_user_balance_by_app.sql:61-76`), lateral-alias
    * expansion done by binding the expression once (SURVEY.md §2.8). */
  def cappedAppBalanceFrom(fact: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    val agg = fact
      .groupBy($"date_key", $"app_id")
      // long-cents sum (Cents scaladoc): (day, app) grain ≤ 10^17 cents
      .agg(countDistinct($"wallet_id").as("active_users"),
        Cents.asMoney(sum(Cents.cents($"amount"))).as("aub"))
    // lateral alias `cap` expanded by binding to a val (Snowflake lets the
    // SELECT reference it; Spark needs the expression inlined)
    val cap = ($"active_users" * 100).cast(DecimalType(38, 2))
    agg
      .withColumn("capped_aub", least($"aub", cap))
      .withColumn("cap_state",
        when($"aub" > cap, "Capped").otherwise("Uncapped"))
  }

  val cappedAppBalanceOracle: String =
    """WITH fact AS (SELECT cast(ts AS DATE) AS date_key,
      |                     coalesce(cast(json_extract_string(props,'$.k') AS INTEGER),0) AS app_id,
      |                     user_id, cast(value AS DECIMAL(18,2)) AS amount
      |              FROM events WHERE event_type <> 'error'),
      |agg AS (SELECT date_key, app_id,
      |               count(DISTINCT user_id) AS active_users,
      |               cast(sum(amount) AS DECIMAL(38,2)) AS aub
      |        FROM fact GROUP BY 1, 2)
      |SELECT date_key, app_id, active_users, aub,
      |       least(aub, cast(active_users * 100 AS DECIMAL(38,2))) AS capped_aub,
      |       CASE WHEN aub > cast(active_users * 100 AS DECIMAL(38,2))
      |            THEN 'Capped' ELSE 'Uncapped' END AS cap_state
      |FROM agg""".stripMargin

  /** q23 / the `weekly_top_apps_json` model: weekly top-3 apps serialized as a
    * JSON array. Ops: A10 `array_agg(object_construct(…))` + `to_json`
    * (`weekly_kre_payout_summary.sql:25-31,39`), W1/W3. JSON is built by
    * explicit string concatenation in BOTH engines so the byte output is
    * deterministic (collect_list ordering is not — SURVEY.md §2.4 A10 — hence
    * the sort before serializing). */
  def weeklyTopAppsJsonFrom(fact: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    val weekly = fact
      .filter($"txn_type" === "purchase")
      .groupBy(date_trunc("week", $"date_key").cast(DateType).as("week_key"),
        $"app_id")
      // long-cents sum (Cents scaladoc): (week, app) grain ≤ 7×10^17
      .agg(Cents.asMoney(sum(Cents.cents($"amount"))).as("payout"))
    val w = Window.partitionBy($"week_key").orderBy($"payout".desc)
    weekly.withColumn("rk", dense_rank().over(w))
      .filter($"rk" <= 3)
      .groupBy($"week_key")
      .agg(
        sum($"payout").cast(DecimalType(38, 2)).as("top_payout_total"),
        concat(lit("["),
          array_join(
            transform(
              array_sort(collect_list(struct($"rk", $"app_id", $"payout"))),
              x => concat(lit("{\"app_id\":"), x("app_id").cast(StringType),
                lit(",\"payout\":"), x("payout").cast(StringType), lit("}"))),
            ","),
          lit("]")).as("top_apps_json"))
  }

  /** q41 / the `weekly_kre_payout_summary` model: the weekly KRE payout
    * API row — `weekly_kre_payout_summary.sql:
    * 1-46`: per week, the TOTAL kin/usd payout over all apps plus the
    * top-10 apps (dense_rank on kin payout) serialized as a JSON array
    * of `{"id","name","kinPayout","usdPayout"}` objects — the row the
    * reference's `krePayoutSummary` serving table replicates. Ops: W1/W3
    * rank + filter, A1 totals, A10 array_agg(object)+to_json with a
    * deterministic sort (collect_list ordering is not — SURVEY §2.4).
    *
    * Scale: input grain is (week, app) — calendar-bounded; the window
    * partitions by week (tiny), the JSON leg aggregates ≤10 rows/week.
    * `weekly` = weekly_payout rows: date_key, app_id, app_name,
    * weekly_kin_payout, weekly_usd_payout.
    */
  def weeklyKrePayoutSummaryFrom(weekly: DataFrame): DataFrame = {
    import weekly.sparkSession.implicits._
    val w = Window.partitionBy($"date_key").orderBy($"weekly_kin_payout".desc)
    val ranked = weekly.withColumn("payout_rank", dense_rank().over(w))
    val totals = weekly.groupBy($"date_key")
      .agg(sum($"weekly_kin_payout").cast(DecimalType(38, 2)).as("kin_payout"),
        sum($"weekly_usd_payout").cast(DecimalType(38, 2)).as("usd_payout"))
    val top10 = ranked.filter($"payout_rank" <= 10)
      .groupBy($"date_key")
      .agg(concat(lit("["),
        array_join(
          transform(
            array_sort(collect_list(struct($"payout_rank", $"app_id",
              $"app_name", $"weekly_kin_payout", $"weekly_usd_payout"))),
            x => concat(lit("{\"id\":"), x("app_id").cast(StringType),
              lit(",\"name\":\""), x("app_name"),
              lit("\",\"kinPayout\":"),
              x("weekly_kin_payout").cast(StringType),
              lit(",\"usdPayout\":"),
              x("weekly_usd_payout").cast(StringType), lit("}"))),
          ","),
        lit("]")).as("top_app_list"))
    totals.join(top10, Seq("date_key"))
      .select($"date_key", $"kin_payout", $"usd_payout", $"top_app_list")
  }

  lazy val weeklyKrePayoutSummaryOracle: String =
    s"""WITH weekly AS (SELECT week_key AS date_key, app_id, app_name,
       |                       weekly_kin_payout, weekly_usd_payout
       |                FROM (${KreModels.kreWeeklyPayoutOracle}) t),
       |ranked AS (SELECT *, dense_rank() OVER (PARTITION BY date_key
       |                     ORDER BY weekly_kin_payout DESC) AS payout_rank
       |           FROM weekly),
       |totals AS (SELECT date_key,
       |                  cast(sum(weekly_kin_payout) AS DECIMAL(38,2)) AS kin_payout,
       |                  cast(sum(weekly_usd_payout) AS DECIMAL(38,2)) AS usd_payout
       |           FROM weekly GROUP BY 1),
       |top10 AS (SELECT date_key,
       |                 '[' || string_agg('{"id":' || app_id ||
       |                   ',"name":"' || app_name ||
       |                   '","kinPayout":' || weekly_kin_payout ||
       |                   ',"usdPayout":' || weekly_usd_payout || '}',
       |                   ',' ORDER BY payout_rank, app_id) || ']' AS top_app_list
       |          FROM ranked WHERE payout_rank <= 10 GROUP BY 1)
       |SELECT t.date_key, t.kin_payout, t.usd_payout, j.top_app_list
       |FROM totals t JOIN top10 j ON t.date_key = j.date_key""".stripMargin

  val weeklyTopAppsJsonOracle: String =
    """WITH weekly AS (
      |  SELECT cast(date_trunc('week', cast(ts AS DATE)) AS DATE) AS week_key,
      |         coalesce(cast(json_extract_string(props,'$.k') AS INTEGER),0) AS app_id,
      |         cast(sum(cast(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS payout
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |ranked AS (SELECT *, dense_rank() OVER (PARTITION BY week_key ORDER BY payout DESC) AS rk
      |           FROM weekly QUALIFY rk <= 3)
      |SELECT week_key,
      |       cast(sum(payout) AS DECIMAL(38,2)) AS top_payout_total,
      |       '[' || string_agg('{"app_id":' || app_id || ',"payout":' || payout || '}',
      |                         ',' ORDER BY rk, app_id, payout) || ']' AS top_apps_json
      |FROM ranked GROUP BY week_key""".stripMargin
}
