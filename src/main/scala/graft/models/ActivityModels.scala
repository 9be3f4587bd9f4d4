package graft.models

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Activity / balance models: analogs of the reference's active-accounts,
  * churn, and closing-balance families (SURVEY.md §2.11), over `events`.
  *
  * Scale notes per model are in each method's doc. General shape: dedupe
  * and pre-aggregate BEFORE any explode/join so the shuffled volume is the
  * distinct-key volume, not the raw event volume.
  */
object ActivityModels {
  import TxnModels.{ratio6, Amount}

  /** q43: AS-OF join — decorate each trading day with the most recent
    * price observation at-or-before it (prices are published only every
    * third calendar day here, so most days resolve to an earlier one).
    * Spark has no native as-of join and the naive theta join
    * (`e.date >= p.date` + keep latest) plans a BroadcastNestedLoopJoin;
    * the scale-correct rewrite resolves the as-of on the CALENDAR
    * dimension: distinct fact days left-join the sparse price days,
    * one `last(_, ignoreNulls)` pass over the ordered calendar carries
    * each price forward, and the filled calendar broadcast-equi-joins
    * back to the fact aggregate. The only window runs over |days| rows
    * (calendar-bounded — the q17/q18 single-partition calendar pattern);
    * fact-sized data never feeds a non-equi join. For per-key as-of
    * (quotes per symbol) the same shape partitions the window by key.
    */
  def asofPriceJoin(fact: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    val daily = fact.groupBy($"date_key")
      .agg(count(lit(1)).as("txn_count"),
        sum($"amount").cast(Amount).as("day_amount"))
    val prices = daily
      .filter(dayofmonth($"date_key") % 3 === 0)
      .select($"date_key", $"day_amount".as("price"))
    // unpartitioned BY DESIGN: input is the per-day aggregate (|days|
    // rows, output-sized) — PlanAuditSpec enforces this repo-wide
    val w = Window.orderBy($"date_key")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = daily.select($"date_key")
      .join(prices, Seq("date_key"), "left")
      .withColumn("asof_price", last($"price", ignoreNulls = true).over(w))
      .withColumn("asof_price_date",
        last(when($"price".isNotNull, $"date_key"), ignoreNulls = true)
          .over(w))
      .select($"date_key", $"asof_price", $"asof_price_date")
    daily.join(broadcast(filled), Seq("date_key"))
      .select($"date_key", $"txn_count", $"day_amount",
        $"asof_price", $"asof_price_date")
  }

  val asofPriceJoinOracle: String =
    """WITH fact AS (SELECT cast(ts AS DATE) AS date_key,
      |                     cast(value AS DECIMAL(18,2)) AS amount
      |              FROM events WHERE event_type <> 'error'),
      |daily AS (SELECT date_key, count(*) AS txn_count,
      |                 cast(sum(amount) AS DECIMAL(18,2)) AS day_amount
      |          FROM fact GROUP BY 1),
      |prices AS (SELECT date_key, day_amount AS price
      |           FROM daily WHERE day(date_key) % 3 = 0)
      |SELECT d.date_key, d.txn_count, d.day_amount,
      |       p.price AS asof_price, p.date_key AS asof_price_date
      |FROM daily d ASOF LEFT JOIN prices p ON d.date_key >= p.date_key"""
      .stripMargin

  /** Session gap: a quiet period longer than this starts a new session. */
  private val SessionGapUs = 21600L * 1000000L // 6 hours

  /** q44: gap-based SESSIONIZATION (beyond-reference) — split each
    * wallet's event stream into sessions wherever the inter-event gap
    * exceeds [[SessionGapUs]], then aggregate per session. The classic
    * event-analytics operator Spark ships no primitive for: lag +
    * running sum over a per-key ordered window assigns session indexes
    * in one pass. Timestamps are compared as integer MICROSECONDS
    * (`unix_micros` ↔ DuckDB `epoch_us` — both floor the nano payload),
    * so the boundary algebra is drift-free across engines.
    *
    * Scale: one shuffle on wallet_id; both windows and the final
    * aggregate share that partitioning (no second exchange). Per-key
    * ordered state is the sort of each wallet's own events — the same
    * linear shape q15/q19 use; a hot wallet bounds a partition's sort,
    * not the cluster.
    */
  def sessionization(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.catalog.Tables.events(spark, sfDir)
      .filter($"event_type" =!= "error")
      .select($"user_id".as("wallet_id"), $"event_id",
        unix_micros($"ts").as("ts_us"))
    val w = Window.partitionBy($"wallet_id").orderBy($"ts_us", $"event_id")
    ev
      .withColumn("new_session",
        when($"ts_us" - lag($"ts_us", 1).over(w) > SessionGapUs, 1L)
          .otherwise(0L)) // first event: null gap → 0 (session 0 opens)
      .withColumn("session_idx", sum($"new_session").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"wallet_id", $"session_idx")
      .agg(count(lit(1)).as("n_events"),
        min($"ts_us").as("start_us"),
        max($"ts_us").as("end_us"))
      .withColumn("duration_s", expr("(end_us - start_us) div 1000000L"))
  }

  val sessionizationOracle: String =
    s"""WITH ev AS (SELECT user_id AS wallet_id, event_id, epoch_us(ts) AS ts_us
       |            FROM events WHERE event_type <> 'error'),
       |g AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER
       |               (PARTITION BY wallet_id ORDER BY ts_us, event_id)
       |               > $SessionGapUs THEN 1 ELSE 0 END AS new_session
       |      FROM ev),
       |s AS (SELECT *, sum(new_session) OVER (PARTITION BY wallet_id
       |               ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED
       |               PRECEDING AND CURRENT ROW) AS session_idx
       |      FROM g)
       |SELECT wallet_id, cast(session_idx AS BIGINT) AS session_idx,
       |       count(*) AS n_events,
       |       min(ts_us) AS start_us, max(ts_us) AS end_us,
       |       cast((max(ts_us) - min(ts_us)) // 1000000 AS BIGINT)
       |         AS duration_s
       |FROM s GROUP BY 1, 2""".stripMargin

  /** Attribution lookback: a purchase further than this from the last
    * click is unattributed. */
  private val AttributionWindowUs = 7L * 24 * 3600 * 1000000L // 7 days

  /** q45: LAST-TOUCH ATTRIBUTION (beyond-reference) — the event-grain
    * AS-OF JOIN: each purchase is attributed to the same wallet's most
    * recent click at-or-before it, within a 7-day window. q43 is the
    * day-grain calendar-fill as-of; this is the per-key event-grain
    * sibling, the join every product/marketing mart runs.
    *
    * Spark-first plan: NO join at all — tag clicks and purchases, union
    * them, and carry the last click forward with one per-wallet ordered
    * window (`last(..., ignoreNulls)` over rows-unbounded-preceding).
    * At equal timestamps the click sorts FIRST (kind 0 < 1) so
    * "at-or-before" includes ties; same-ts duplicate clicks collapse to
    * the max event_id beforehand so the carried value is deterministic.
    * Timestamps compare as integer microseconds (the q44 contract).
    *
    * Scale: one shuffle on wallet_id + one linear per-key sort —
    * exactly the sessionization shape; never the range self-join that
    * BNLJs, and no calendar explode. The oracle is DuckDB's NATIVE
    * `ASOF JOIN`, so the window rewrite is pinned against a real as-of
    * implementation rather than a re-derivation of itself.
    */
  def lastTouchAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.catalog.Tables.events(spark, sfDir)
      .select($"user_id".as("wallet_id"), $"event_id", $"event_type",
        unix_micros($"ts").as("ts_us"))
    // same-ts clicks collapse to max event_id (deterministic carry)
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"wallet_id", $"ts_us")
      .agg(max($"event_id").as("click_event_id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"wallet_id", $"ts_us", $"event_id")
    val tagged = clicks
      .select($"wallet_id", $"ts_us", lit(0).as("kind"),
        $"click_event_id", lit(null).cast(LongType).as("purchase_event_id"))
      .unionByName(purchases
        .select($"wallet_id", $"ts_us", lit(1).as("kind"),
          lit(null).cast(LongType).as("click_event_id"),
          $"event_id".as("purchase_event_id")))
    val w = Window.partitionBy($"wallet_id")
      .orderBy($"ts_us", $"kind", $"purchase_event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("attr_click_id",
        last($"click_event_id", ignoreNulls = true).over(w))
      .withColumn("attr_click_us",
        last(when($"click_event_id".isNotNull, $"ts_us"),
          ignoreNulls = true).over(w))
      .filter($"kind" === 1 && $"attr_click_id".isNotNull &&
        $"ts_us" - $"attr_click_us" <= AttributionWindowUs)
      .select($"wallet_id", $"purchase_event_id",
        $"ts_us".as("purchase_ts_us"),
        $"attr_click_id".as("click_event_id"),
        $"attr_click_us".as("click_ts_us"),
        ($"ts_us" - $"attr_click_us").as("gap_us"))
  }

  val lastTouchAttributionOracle: String =
    s"""WITH c AS (SELECT user_id AS wallet_id, epoch_us(ts) AS click_ts_us,
       |                  max(event_id) AS click_event_id
       |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
       |p AS (SELECT user_id AS wallet_id, event_id AS purchase_event_id,
       |             epoch_us(ts) AS purchase_ts_us
       |      FROM events WHERE event_type = 'purchase')
       |SELECT p.wallet_id, p.purchase_event_id, p.purchase_ts_us,
       |       c.click_event_id, c.click_ts_us,
       |       p.purchase_ts_us - c.click_ts_us AS gap_us
       |FROM p ASOF JOIN c
       |  ON p.wallet_id = c.wallet_id AND c.click_ts_us <= p.purchase_ts_us
       |WHERE p.purchase_ts_us - c.click_ts_us <= $AttributionWindowUs"""
      .stripMargin

  /** q03 / the `daily_distinct_wallets` model: per-day distinct
    * wallets + txn count. Ops: A5 exact count-distinct
    * (`daily_kin_blocks.sql:5`), A1.
    * Scale: count_distinct expands then two-phase aggregates; the group key
    * (date) is low-cardinality so AQE coalesces post-shuffle partitions.
    */
  def dailyDistinctWalletsFrom(fact: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    fact
      .groupBy($"date_key")
      .agg(
        countDistinct($"wallet_id").as("active_wallets"),
        count(lit(1)).as("txn_count"))
  }

  val dailyDistinctWalletsOracle: String =
    """SELECT cast(ts AS DATE) AS date_key,
      |       count(DISTINCT user_id) AS active_wallets,
      |       count(*) AS txn_count
      |FROM events WHERE event_type <> 'error' GROUP BY 1""".stripMargin

  /** q04 / the `amount_histogram` model: histogram of txn counts by
    * amount bucket. Ops: A11 CASE-bucket + count
    * (`daily_kin_transaction_counts_by_amount.sql:4-25`).
    */
  def amountHistogramFrom(fact: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    val bucket = when($"amount" < 10, "p00_10")
      .when($"amount" < 50, "p10_50")
      .when($"amount" < 100, "p50_100")
      .when($"amount" < 200, "p100_200")
      .otherwise("p200_plus")
    fact
      .groupBy($"date_key", bucket.as("amount_bucket"))
      // long-cents sum (Cents scaladoc): (day, bucket) grain, inside
      // the 10^17-cents day bound
      .agg(count(lit(1)).as("txn_count"),
        Cents.asMoney(sum(Cents.cents($"amount"))).as("total_amount"))
  }

  val amountHistogramOracle: String =
    """WITH fact AS (SELECT cast(ts AS DATE) AS date_key,
      |                     cast(value AS DECIMAL(18,2)) AS amount
      |              FROM events WHERE event_type <> 'error')
      |SELECT date_key,
      |       CASE WHEN amount < 10 THEN 'p00_10'
      |            WHEN amount < 50 THEN 'p10_50'
      |            WHEN amount < 100 THEN 'p50_100'
      |            WHEN amount < 200 THEN 'p100_200'
      |            ELSE 'p200_plus' END AS amount_bucket,
      |       count(*) AS txn_count,
      |       cast(sum(amount) AS DECIMAL(38,2)) AS total_amount
      |FROM fact GROUP BY 1, 2""".stripMargin

  /** q07 / the `daily_active_union` model: daily active users as
    * spenders ∪ earners with SQL `UNION` (distinct) semantics. Ops: U1
    * (`daily_active_accounts_app.sql:42`), A5. The union is deduped per
    * (date, wallet) before counting — map-side `distinct` keeps the
    * shuffle at distinct-pair volume.
    */
  def dailyActiveUnionFrom(fact: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    // type-membership filters use isin (the reference's `type in (2,3)` /
    // `(1,3)` spender/earner split, P6)
    val spenders = fact.filter($"txn_type".isin("purchase", "click"))
      .select($"date_key", $"wallet_id")
    val earners = fact.filter($"txn_type".isin("signup", "view"))
      .select($"date_key", $"wallet_id")
    spenders.union(earners).distinct() // SQL UNION ≡ union + dedupe
      .groupBy($"date_key")
      .agg(count(lit(1)).as("active_users"))
  }

  val dailyActiveUnionOracle: String =
    """WITH fact AS (SELECT cast(ts AS DATE) AS date_key, user_id AS wallet_id,
      |                     event_type AS txn_type
      |              FROM events WHERE event_type <> 'error'),
      |active AS (
      |  SELECT date_key, wallet_id FROM fact WHERE txn_type IN ('purchase', 'click')
      |  UNION
      |  SELECT date_key, wallet_id FROM fact WHERE txn_type IN ('signup', 'view'))
      |SELECT date_key, count(*) AS active_users FROM active GROUP BY 1""".stripMargin

  /** q12: latest per-wallet daily state via `dense_rank() over
    * (partition by wallet order by date desc) = 1`. Ops: W2, W3
    * (`multi_create_impacted_accounts.sql:27`).
    */
  def latestWalletState(fact: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    val daily = fact
      .groupBy($"wallet_id", $"date_key")
      // long-cents sum (Cents scaladoc): (wallet, day) grain — finer
      // than the 10^17-cents day bound
      .agg(Cents.asMoney(sum(Cents.cents($"amount"))).as("daily_total"))
    val w = Window.partitionBy($"wallet_id").orderBy($"date_key".desc)
    daily.withColumn("rk", dense_rank().over(w))
      .filter($"rk" === 1)
      .select($"wallet_id", $"date_key".as("latest_date"), $"daily_total")
  }

  val latestWalletStateOracle: String =
    """WITH daily AS (
      |  SELECT user_id AS wallet_id, cast(ts AS DATE) AS date_key,
      |         cast(sum(cast(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS daily_total
      |  FROM events WHERE event_type <> 'error' GROUP BY 1, 2),
      |ranked AS (SELECT *, dense_rank() OVER (PARTITION BY wallet_id ORDER BY date_key DESC) AS rk
      |           FROM daily)
      |SELECT wallet_id, date_key AS latest_date, daily_total
      |FROM ranked WHERE rk = 1""".stripMargin

  /** q15: churn — customers with an order at d and no order in (d, d+30],
    * gated 30 days behind the data edge. Ops: J5 forward-range anti join
    * (`daily_churn_volume.sql:43-48`), P3-style closed-period gate.
    *
    * Scale: the reference's formulation is a range anti self-join, which
    * shuffles |orders| × orders-per-customer intermediate rows (and skews
    * on hot customers). Only the NEXT order decides churn, so this is
    * re-expressed as `lead(date) over (partition by customer order by
    * date)` — one linear shuffle on the customer key, identical result:
    * churned ⇔ next order is null or > d+30.
    */
  def churn30d(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val custDays = graft.catalog.Tables.orders(spark, sfDir)
      .select($"o_custkey".as("cust_id"), to_date($"o_orderdate").as("date_key"))
      .distinct()
    val maxDay = custDays.agg(max($"date_key").as("max_date"))
    val w = Window.partitionBy($"cust_id").orderBy($"date_key")
    custDays
      .withColumn("next_date", lead($"date_key", 1).over(w))
      .crossJoin(broadcast(maxDay))
      .filter($"date_key" <= date_sub($"max_date", 30))
      .filter($"next_date".isNull || $"next_date" > date_add($"date_key", 30))
      .groupBy($"date_key")
      .agg(count(lit(1)).as("churned_customers"))
  }

  val churn30dOracle: String =
    """WITH cd AS (SELECT DISTINCT o_custkey AS cust_id, cast(o_orderdate AS DATE) AS date_key
      |            FROM orders),
      |nxt AS (SELECT cust_id, date_key,
      |               lead(date_key) OVER (PARTITION BY cust_id ORDER BY date_key) AS next_date
      |        FROM cd)
      |SELECT date_key, count(*) AS churned_customers
      |FROM nxt
      |WHERE date_key <= (SELECT max(date_key) FROM cd) - 30
      |  AND (next_date IS NULL OR next_date > date_key + 30)
      |GROUP BY 1""".stripMargin

  /** q16: rolling 7-day distinct actives per day. Ops: J4 range join,
    * realized with the explode-to-equi rewrite (SURVEY.md §2.3 J4 (b)):
    * each distinct (day, wallet) pair is exploded to the ≤7 anchor days it
    * serves, then a plain hash aggregate counts distincts per anchor.
    *
    * Scale: explode factor is bounded (×7) and applied AFTER dedupe, so
    * shuffle volume is 7×|distinct pairs| — linear, no O(n·m) range BNLJ.
    * Anchors are restricted to days present via a broadcast semi join.
    */
  def rolling7dActive(fact: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    val pairs = fact
      .select($"date_key", $"wallet_id").distinct()
    val days = pairs.select($"date_key").distinct()
      .withColumnRenamed("date_key", "anchor_date")
    pairs
      .withColumn("anchor_date",
        explode(sequence($"date_key", date_add($"date_key", 6))))
      .join(broadcast(days), Seq("anchor_date"), "left_semi")
      .groupBy($"anchor_date".as("date_key"))
      .agg(countDistinct($"wallet_id").as("active_wallets_7d"))
  }

  val rolling7dActiveOracle: String =
    """WITH pairs AS (SELECT DISTINCT cast(ts AS DATE) AS date_key, user_id AS wallet_id
      |               FROM events WHERE event_type <> 'error'),
      |days AS (SELECT DISTINCT date_key FROM pairs)
      |SELECT d.date_key, count(DISTINCT p.wallet_id) AS active_wallets_7d
      |FROM days d JOIN pairs p
      |  ON p.date_key BETWEEN d.date_key - 6 AND d.date_key
      |GROUP BY 1""".stripMargin

  /** q18: day-over-day delta + Inflation/Contraction classification.
    * Ops: J8 prev-day self-join expressed as `lag` (SURVEY.md §2.5 note on
    * `daily_net_inflation.sql:54`), A9 CASE over agg aliases.
    *
    * Scale: the lag window is unpartitioned but runs over one row per day
    * (post-aggregate), so the single-partition sort is bounded by calendar
    * size, not data size.
    */
  def dailyDelta(fact: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    val daily = fact
      .groupBy($"date_key")
      // long-cents sum (Cents scaladoc): day grain ≤ 10^17 cents
      .agg(Cents.asMoney(sum(Cents.cents($"amount"))).as("total_amount"))
    // unpartitioned BY DESIGN: lags the per-day aggregate (|days| rows,
    // output-sized) — PlanAuditSpec enforces this repo-wide
    val w = Window.orderBy($"date_key")
    val delta = ($"total_amount" - lag($"total_amount", 1).over(w))
      .cast(DecimalType(38, 2))
    daily
      .withColumn("prev_delta", delta)
      .withColumn("direction",
        when($"prev_delta".isNull, "Unknown")
          .when($"prev_delta" > 0, "Inflation")
          .otherwise("Contraction"))
  }

  val dailyDeltaOracle: String =
    """WITH daily AS (
      |  SELECT cast(ts AS DATE) AS date_key,
      |         cast(sum(cast(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_amount
      |  FROM events WHERE event_type <> 'error' GROUP BY 1)
      |SELECT date_key, total_amount,
      |       cast(total_amount - lag(total_amount) OVER (ORDER BY date_key) AS DECIMAL(38,2)) AS prev_delta,
      |       CASE WHEN lag(total_amount) OVER (ORDER BY date_key) IS NULL THEN 'Unknown'
      |            WHEN total_amount - lag(total_amount) OVER (ORDER BY date_key) > 0 THEN 'Inflation'
      |            ELSE 'Contraction' END AS direction
      |FROM daily""".stripMargin

  /** q31 / the `balance_buckets` model: account-balance histogram per
    * day — the `account_balance_buckets_app.sql` composite: closing
    * balances (J9 pipeline) bucketed by CASE ranges (A11), counted per
    * (day, bucket) with a GROUP-BY-as-dedup upstream (A7).
    */
  def balanceBucketsFrom(closing: DataFrame): DataFrame = {
    import closing.sparkSession.implicits._
    val bucket = when($"closing_balance" < 25, "b00_025")
      .when($"closing_balance" < 100, "b025_100")
      .when($"closing_balance" < 250, "b100_250")
      .otherwise("b250_plus")
    closing
      .groupBy($"date_key", bucket.as("balance_bucket"))
      .agg(count(lit(1)).as("account_count"),
        sum($"closing_balance").cast(DecimalType(38, 2))
          .as("bucket_balance"))
  }

  lazy val balanceBucketsOracle: String = {
    val closing = closingBalanceOracle
    s"""WITH closing AS (SELECT * FROM ($closing) t)
       |SELECT date_key,
       |       CASE WHEN closing_balance < 25 THEN 'b00_025'
       |            WHEN closing_balance < 100 THEN 'b025_100'
       |            WHEN closing_balance < 250 THEN 'b100_250'
       |            ELSE 'b250_plus' END AS balance_bucket,
       |       count(*) AS account_count,
       |       cast(sum(closing_balance) AS DECIMAL(38,2)) AS bucket_balance
       |FROM closing GROUP BY 1, 2""".stripMargin
  }

  /** q32 / the `monthly_inactive_wallets` model: monthly inactive
    * wallets — `monthly_inactive_wallets.sql`'s composite: wallets whose
    * LAST low-balance day (A4 max) falls in a target month, with no
    * later above-threshold balance (J7 NOT IN ≡ left_anti; keys non-null
    * per SURVEY §7.4.6).
    */
  def monthlyInactiveWalletsFrom(bal: DataFrame): DataFrame = {
    import bal.sparkSession.implicits._
    val lastLow = bal.filter($"closing_balance" <= 50)
      .groupBy($"wallet_id")
      .agg(max($"date_key").as("last_low_date"))
    val laterActive = bal.as("b").join(lastLow.as("l"),
        $"b.wallet_id" === $"l.wallet_id" &&
          $"b.date_key" > $"l.last_low_date" &&
          $"b.closing_balance" > 50)
      .select($"b.wallet_id").distinct()
    lastLow
      .join(laterActive.withColumnRenamed("wallet_id", "aw"),
        $"wallet_id" === $"aw", "left_anti")
      .select($"wallet_id", $"last_low_date",
        date_trunc("month", $"last_low_date").cast(DateType)
          .as("inactive_month"))
  }

  lazy val monthlyInactiveWalletsOracle: String = {
    val closing = closingBalanceOracle
    s"""WITH closing AS (SELECT * FROM ($closing) t),
       |last_low AS (SELECT wallet_id, max(date_key) AS last_low_date
       |             FROM closing WHERE closing_balance <= 50 GROUP BY 1)
       |SELECT l.wallet_id, l.last_low_date,
       |       cast(date_trunc('month', l.last_low_date) AS DATE) AS inactive_month
       |FROM last_low l
       |WHERE l.wallet_id NOT IN (
       |  SELECT b.wallet_id FROM closing b
       |  JOIN last_low l2 ON b.wallet_id = l2.wallet_id
       |  WHERE b.date_key > l2.last_low_date AND b.closing_balance > 50)""".stripMargin
  }

  /** q19 / the `closing_balance` model: closing balance per wallet per
    * day. Ops: J9 disjunctive
    * from-or-to join, realized with the unpivot-then-equi rewrite
    * (SURVEY.md §2.3 J9): each event contributes a from-side and a derived
    * to-side balance observation; last touch per (wallet, day) wins, with
    * a total deterministic tie-break (ts, event_id, side). A4 max-style.
    *
    * Scale: unpivot doubles rows, then ONE window shuffle on
    * (wallet, day) — vs. the reference's OR-join which degrades to a
    * nested loop. Row_number (not max-struct) keeps it whole-stage-codegen.
    *
    * Session-memoized (`ModelRegistry.SessionMemo`): closing balance is
    * among the most-shared intermediates (q26/q28/q31/q32/q33/q35 all
    * consume it), so the first consumer materializes it once per
    * (session, sfDir) and the rest read the materialized table — the
    * standalone analog of the runner's model materialization.
    */
  def closingBalanceFrom(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events
      .filter($"event_type" =!= "error")
      .select($"ts", $"event_id", $"user_id",
        coalesce(get_json_object($"props", "$.k").cast(IntegerType), lit(0))
          .as("app_k"),
        $"value")
    val fromSide = ev.select(to_date($"ts").as("date_key"), $"ts", $"event_id",
      $"user_id".as("wallet_id"),
      $"value".cast(Amount).as("balance"), lit("from").as("side"))
    val toSide = ev.select(to_date($"ts").as("date_key"), $"ts", $"event_id",
      (($"user_id" + $"app_k") % 15).as("wallet_id"),
      ($"value" / 2).cast(Amount).as("balance"), lit("to").as("side"))
    val w = Window.partitionBy($"wallet_id", $"date_key")
      .orderBy($"ts".desc, $"event_id".desc, $"side".desc)
    fromSide.union(toSide)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"date_key", $"wallet_id", $"balance".as("closing_balance"))
  }

  val closingBalanceOracle: String =
    """WITH ev AS (SELECT ts, event_id, user_id,
      |                   coalesce(cast(json_extract_string(props,'$.k') AS INTEGER),0) AS app_k,
      |                   value
      |            FROM events WHERE event_type <> 'error'),
      |txn AS (
      |  SELECT cast(ts AS DATE) AS date_key, ts, event_id,
      |         user_id AS wallet_id, cast(value AS DECIMAL(18,2)) AS balance,
      |         'from' AS side
      |  FROM ev
      |  UNION ALL
      |  SELECT cast(ts AS DATE), ts, event_id,
      |         (user_id + app_k) % 15, cast(value/2 AS DECIMAL(18,2)), 'to'
      |  FROM ev),
      |ranked AS (SELECT *, row_number() OVER (
      |             PARTITION BY wallet_id, date_key
      |             ORDER BY ts DESC, event_id DESC, side DESC) AS rn
      |           FROM txn)
      |SELECT date_key, wallet_id, balance AS closing_balance
      |FROM ranked WHERE rn = 1""".stripMargin

  /** q46's bucket unit: one hour in integer microseconds. */
  private val HourUs = 3600L * 1000000L

  /** q46: CALENDAR-SPINE GAP-FILL (beyond-reference) — materialize an
    * explicit zero row for every (hour, event_type) slot in the observed
    * range. Densification is the step every time-series chart, anomaly
    * detector, and downstream ML feature join needs: a missing slot is
    * not zero until someone says so, and a LEFT JOIN against a generated
    * spine is the warehouse idiom that says it.
    *
    * Spark-first shape — ONE fact scan, spine derived from the
    * aggregate, equi-join only:
    *  1. the fact aggregates to (event_type, hour-bucket) grain —
    *     output-sized (|types|·|hours| rows), cached because both the
    *     spine and the fill read it;
    *  2. per-type bounds collapse to GLOBAL bounds with a window over
    *     the |types|-row aggregate (constant-partition spec — the
    *     aggregate-bounded window pattern q43's calendar fill uses; no
    *     one-row crossJoin frame, so the plan carries no BNLJ);
    *  3. `sequence(gmn, gmx, 1h)` + `explode` generates each type's
    *     hour spine (|types|·|hours| rows — output-sized, never
    *     fact-sized), which LEFT-equi-joins the aggregate back on
    *     (event_type, bucket_us) and zero-fills the holes.
    *
    * Buckets are integer micros of `date_trunc('hour', ts)`
    * (`unix_micros` ↔ DuckDB `epoch_us`, q44's cross-engine idiom).
    * date_trunc FLOORS in calendar terms on both engines regardless of
    * epoch sign — a `div`-based bucket would truncate toward zero in
    * Spark but floor in DuckDB's `//`, silently bucketing a pre-epoch
    * timestamp one hour apart. Values are exact decimal sums
    * (order-free, q01's Amount convention).
    *
    * At 100 TB: the shuffle is the (type, hour) aggregate — map-side
    * combined, output-sized state; the spine explode fans out of a
    * |types|-row frame; the fill join is output-sized ⋈ output-sized.
    * The fact is scanned exactly once and only (ts, event_type, value)
    * leave the reader.
    */
  def hourlyGapfill(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hourly = Shared.cacheOnce(
      graft.catalog.Tables.events(spark, sfDir)
        .select($"event_type",
          expr("unix_micros(date_trunc('hour', ts))").as("bucket_us"),
          $"value".cast(Amount).as("amount"))
        .groupBy($"event_type", $"bucket_us")
        // long-cents sum (Cents scaladoc): (type, hour) grain — far
        // finer than the 10^17-cents day bound
        .agg(count(lit(1)).as("n_events"),
          Cents.asMoney(sum(Cents.cents($"amount"))).as("total_value")))
    // constant-partition window over the |types|-row bounds aggregate:
    // global range without a one-row crossJoin frame
    val wg = Window.partitionBy(lit(1))
    val spine = hourly.groupBy($"event_type")
      .agg(min($"bucket_us").as("mn"), max($"bucket_us").as("mx"))
      .withColumn("gmn", min($"mn").over(wg))
      .withColumn("gmx", max($"mx").over(wg))
      .select($"event_type",
        explode(sequence($"gmn", $"gmx", lit(HourUs))).as("bucket_us"))
    spine.join(hourly, Seq("event_type", "bucket_us"), "left")
      .select($"bucket_us", $"event_type",
        coalesce($"n_events", lit(0L)).as("n_events"),
        coalesce($"total_value", lit(BigDecimal(0)).cast(DecimalType(38, 2)))
          .as("total_value"),
        $"n_events".isNull.as("is_gap"))
  }

  val hourlyGapfillOracle: String =
    """WITH e AS (SELECT event_type,
      |                  epoch_us(date_trunc('hour', ts)) AS bucket_us,
      |                  cast(value AS DECIMAL(18,2)) AS amount
      |           FROM events),
      |hourly AS (SELECT event_type, bucket_us, count(*) AS n_events,
      |                  cast(sum(amount) AS DECIMAL(38,2)) AS total_value
      |           FROM e GROUP BY 1, 2),
      |spine AS (
      |  SELECT t.event_type, unnest(generate_series(
      |           (SELECT min(bucket_us) FROM hourly),
      |           (SELECT max(bucket_us) FROM hourly),
      |           3600000000)) AS bucket_us
      |  FROM (SELECT DISTINCT event_type FROM hourly) t)
      |SELECT s.bucket_us, s.event_type,
      |       cast(coalesce(h.n_events, 0) AS BIGINT) AS n_events,
      |       cast(coalesce(h.total_value, 0) AS DECIMAL(38,2)) AS total_value,
      |       h.n_events IS NULL AS is_gap
      |FROM spine s LEFT JOIN hourly h
      |  ON s.event_type = h.event_type AND s.bucket_us = h.bucket_us"""
      .stripMargin
}
