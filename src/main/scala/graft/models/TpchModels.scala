package graft.models

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order/lineitem/customer models: the join-heavy half of the operator
  * inventory (SURVEY.md §2.3, §2.4), mapped onto the TPC-H-ish tables
  * (`orders` = account creations, `customer` = wallets — FIXTURES.md §B).
  */
object TpchModels {
  import TxnModels.ratio6
  import graft.catalog.Tables

  private val Money = DecimalType(18, 2)

  /** q08 / the `average_balances` model: avg of from-side/to-side
    * balances with `UNION ALL` (keep-both)
    * semantics. Ops: U2 (`average_account_balance_per_day.sql:28`), A2.
    */
  def unionAllBalancesFrom(li: DataFrame): DataFrame = {
    import li.sparkSession.implicits._
    // price and discount are exact 2-dp values; the (1-d) discount cast
    // stays DECIMAL(4,2) — its HALF_UP rounding off the double is the
    // cross-engine contract — and the product must stay exact at scale
    // 4 (double arithmetic would round differently in Spark vs DuckDB).
    //
    // LONG BASIS VIA A HI/LO SPLIT (r16 — supersedes the earlier
    // "stays decimal" verdict on this query, whose proof only ruled out
    // a SINGLE long accumulator): the scale-4 basis is ≤ 10^10
    // ten-thousandths per row (price < 10^6), so one long sum reaches
    // ~10^19 > Long.MaxValue at ~10^9 rows/day. Splitting each side
    // bounds every accumulator:
    //   side A (price, scale 2):  a_c < 10^8 cents/row  → Σ ≤ 10^17 (92×)
    //   side B (price·(1-d), scale 4): b_tt = a_c·f_h is EXACT long
    //     arithmetic ((p·10²)·(f·10²) = p·f·10⁴) < 10^10/row, split at
    //     10^9: Σ(b_tt div 10^9) ≤ 10·10^9 = 10^10; Σ(b_tt mod 10^9)
    //     < 10^9·10^9 = 10^18 (9×). All three adds are codegen longs;
    //     the group-level reconstruction below is exact decimal.
    //
    // UNION ALL (keep-both) semantics in ONE scan: both sides share the
    // row's date_key, so the unioned group is exactly 2x the row count
    // with bal_sum = sum(sideA) + sum(sideB) — a tagged-side union would
    // read the fact twice and shuffle twice the rows for the same
    // aggregate (the round-12 q08 finding). UNCONDITIONALLY sound
    // (round-13 review closed the fixture-non-null precondition): a
    // side whose sum is NULL-from-all-null contributes 0 instead of
    // nulling the total — exactly what summing the true union does,
    // where the other side's values survive — and a group null on BOTH
    // sides stays NULL, the union's all-null sum. The long split keeps
    // those rows: a_c is null exactly where bal_a was (price null), and
    // b_hi/b_lo are null together exactly where bal_b was (price or
    // discount null), so the reconstructed sums go null on the same
    // groups the decimal sums did.
    val aCents = Cents.cents($"l_extendedprice".cast(Money))
    val fHundredths =
      Cents.cents((lit(1d) - $"l_discount").cast(DecimalType(4, 2)))
    // group-level reconstruction: Σbal_a = Σa_c · 0.01 and Σbal_b =
    // Σb_hi·10^5 + Σb_lo·0.0001 (the scale-4 VALUE of hi·10^9 + lo
    // ten-thousandths), each exact decimal, cast to the (34,4) the
    // replaced decimal Sums produced so the when/coalesce/avg algebra
    // below is type- and value-identical
    val aDec = ($"a_sum".cast(DecimalType(20, 0)) *
      lit(new java.math.BigDecimal("0.01")).cast(DecimalType(3, 2)))
      .cast(DecimalType(34, 4))
    val bDec = (($"bh_sum".cast(DecimalType(20, 0)) *
      lit(new java.math.BigDecimal("100000")).cast(DecimalType(6, 0))) +
      ($"bl_sum".cast(DecimalType(20, 0)) *
        lit(new java.math.BigDecimal("0.0001")).cast(DecimalType(5, 4))))
      .cast(DecimalType(34, 4))
    li.select(to_date($"l_shipdate").as("date_key"),
      aCents.as("a_c"), (aCents * fHundredths).as("b_tt"))
      .select($"date_key", $"a_c",
        expr("b_tt div 1000000000").as("b_hi"),
        ($"b_tt" % 1000000000L).as("b_lo"))
      .groupBy($"date_key")
      .agg((count(lit(1)) * 2).as("obs_count"),
        sum($"a_c").as("a_sum"),
        sum($"b_hi").as("bh_sum"),
        sum($"b_lo").as("bl_sum"))
      .withColumn("bal_sum",
        when($"a_sum".isNull && $"bl_sum".isNull, lit(null))
          .otherwise(
            coalesce(aDec, lit(0).cast(DecimalType(24, 4))) +
              coalesce(bDec, lit(0).cast(DecimalType(24, 4)))))
      // exact portable average: integer floor-division in micros — round()
      // on a double quotient tie-breaks differently across engines when the
      // scale-4 sums divide evenly (observed at sf0.01).
      .withColumn("avg_balance",
        (expr("cast(bal_sum * 1000000 as bigint) div obs_count")
          .cast(DecimalType(20, 0)) *
          lit(new java.math.BigDecimal("0.000001")).cast(DecimalType(7, 6)))
          .cast(DecimalType(24, 6)))
      .select($"date_key", $"obs_count", $"avg_balance")
  }

  val unionAllBalancesOracle: String =
    """WITH sides AS (
      |  SELECT cast(l_shipdate AS DATE) AS date_key,
      |         cast(cast(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(24,4)) AS balance
      |  FROM lineitem
      |  UNION ALL
      |  SELECT cast(l_shipdate AS DATE),
      |         cast(cast(l_extendedprice AS DECIMAL(18,2)) *
      |              cast(1 - l_discount AS DECIMAL(4,2)) AS DECIMAL(24,4))
      |  FROM lineitem)
      |SELECT date_key, count(*) AS obs_count,
      |       cast((cast(sum(balance) * 1000000 AS BIGINT) // count(*)) *
      |            cast(0.000001 AS DECIMAL(7,6)) AS DECIMAL(24,6)) AS avg_balance
      |FROM sides GROUP BY 1""".stripMargin

  /** q37 / the `create_fee_payers` model: fee-payer rollup with DOUBLE dim
    * decoration — the `create_fee_payers.sql` shape (§2.11: A1, J3 ×2 — the
    * model that joins both its grouping dim and a price dim). Aggregate FIRST
    * on the raw key (shuffled join with the data-sized customer table, AQE
    * decides), then decorate the calendar-bounded aggregate with TWO broadcast
    * dims (nation, region — the second standing in for the SOL→USD price dim).
    */
  def createFeePayersFrom(orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    import orders.sparkSession.implicits._
    val cust = customer.select($"c_custkey", $"c_nationkey")
    val nat = nation.select($"n_nationkey", $"n_name", $"n_regionkey")
    val reg = region.select($"r_regionkey", $"r_name")
    orders
      .join(cust, $"o_custkey" === $"c_custkey")
      .groupBy(to_date($"o_orderdate").as("date_key"), $"c_nationkey")
      // long-cents sum (Cents scaladoc): (day, nation) grain is finer
      // than the day grain the q24 proof bounds at 10^17 cents — 92×
      // inside Long
      .agg(count(lit(1)).as("creates"),
        Cents.asMoney(sum(Cents.cents($"o_totalprice".cast(Money))))
          .as("fee_paid"))
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .select($"date_key", $"n_name".as("nation_name"),
        $"r_name".as("region_name"), $"creates", $"fee_paid")
  }

  val createFeePayersOracle: String =
    """SELECT cast(o.o_orderdate AS DATE) AS date_key,
      |       n.n_name AS nation_name, r.r_name AS region_name,
      |       count(*) AS creates,
      |       cast(sum(cast(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS fee_paid
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY 1, 2, 3""".stripMargin

  /** q13: orders restricted to high-balance customers via `IN (subquery)`.
    * Ops: J6 semi join (`multi_create_impacted_accounts.sql:17,29,42`).
    * Scale: NO forced broadcast — the filtered customer set is a
    * data-dependent fraction of the customer table and grows with the
    * corpus; a shuffled semi join is safe at any scale, and AQE still
    * downgrades to broadcast at runtime when the side actually fits.
    */
  def semiJoinHighBalance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rich = Tables.customer(spark, sfDir)
      .filter($"c_acctbal" > 5000)
      .select($"c_custkey")
    Tables.orders(spark, sfDir)
      .join(rich, $"o_custkey" === $"c_custkey", "left_semi")
      .groupBy(to_date($"o_orderdate").as("date_key"))
      // long-cents sum (Cents scaladoc): day grain, ≤ 10^17 cents
      .agg(count(lit(1)).as("order_count"),
        Cents.asMoney(sum(Cents.cents($"o_totalprice".cast(Money))))
          .as("total_price"))
  }

  val semiJoinHighBalanceOracle: String =
    """SELECT cast(o_orderdate AS DATE) AS date_key,
      |       count(*) AS order_count,
      |       cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_price
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      |GROUP BY 1""".stripMargin

  /** q14: customers with no order on/after a cutoff — `NOT IN (subquery)`
    * encoded as a null-safe anti join. Ops: J7
    * (`monthly_inactive_wallets.sql:30`; null-safety note SURVEY.md §7.4.6).
    */
  def antiJoinInactive(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val recent = Tables.orders(spark, sfDir)
      .filter(to_date($"o_orderdate") >= lit("2000-01-01"))
      .select($"o_custkey")
    Tables.customer(spark, sfDir)
      .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment")
      // long-cents sum (Cents scaladoc): the group is a segment over
      // the CUSTOMER table — |c_acctbal| < 10^4 ⇒ < 10^6 cents/row,
      // and even 100 TB holds ~1.5×10^10 customers ⇒ ≤ 1.5×10^16
      // cents, 600× inside Long (negatives are fine: unscaled longs
      // carry the sign)
      .agg(count(lit(1)).as("inactive_customers"),
        Cents.asMoney(sum(Cents.cents($"c_acctbal".cast(Money))))
          .as("stranded_balance"))
  }

  val antiJoinInactiveOracle: String =
    """SELECT c_mktsegment,
      |       count(*) AS inactive_customers,
      |       cast(sum(cast(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS stranded_balance
      |FROM customer
      |WHERE c_custkey NOT IN
      |  (SELECT o_custkey FROM orders WHERE cast(o_orderdate AS DATE) >= DATE '2000-01-01')
      |GROUP BY 1""".stripMargin

  /** q17: 30-day rolling average of the daily mean unit price. Ops: J4
    * rolling lookback realized as a `rangeBetween` window over the daily
    * aggregate (SURVEY.md §2.3 J4, §2.5 note) — windowable because the
    * anchor set equals the partition's own dates.
    *
    * Scale: the window runs on one row per day (post-agg), so the
    * unpartitioned range frame is calendar-bounded. The heavy lifting
    * (raw → daily) is an ordinary hash aggregate.
    */
  def rolling30dPrice(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // long-cents sum (Cents scaladoc): day grain, ≤ 10^17 cents; the
    // reconstruction pins the old Sum's (28,2) type so the window math
    // below sees byte-identical inputs. The rolling window itself stays
    // decimal — it re-sums ≤30 OUTPUT rows per day, not fact rows.
    val daily = Tables.lineitem(spark, sfDir)
      .groupBy(to_date($"l_shipdate").as("date_key"))
      .agg(Cents.asMoney(
        sum(Cents.cents($"l_extendedprice".cast(Money))), 28)
          .as("day_price_sum"),
        count(lit(1)).as("day_obs"))
    val w = Window
      .orderBy(datediff($"date_key", lit("1995-01-01")))
      .rangeBetween(-29, 0)
    daily
      .withColumn("win_sum", sum($"day_price_sum").over(w))
      .withColumn("win_obs", sum($"day_obs").over(w))
      // exact micros average over the window sums (portable floor division)
      .withColumn("rolling_avg_price",
        (expr("cast(win_sum * 1000000 as bigint) div win_obs")
          .cast(DecimalType(20, 0)) *
          lit(new java.math.BigDecimal("0.000001")).cast(DecimalType(7, 6)))
          .cast(DecimalType(24, 6)))
      .select($"date_key",
        $"day_price_sum".cast(DecimalType(38, 2)).as("day_price_sum"),
        $"day_obs", $"rolling_avg_price")
  }

  val rolling30dPriceOracle: String =
    """WITH daily AS (
      |  SELECT cast(l_shipdate AS DATE) AS date_key,
      |         sum(cast(l_extendedprice AS DECIMAL(18,2))) AS day_price_sum,
      |         count(*) AS day_obs
      |  FROM lineitem GROUP BY 1)
      |SELECT date_key,
      |       cast(day_price_sum AS DECIMAL(38,2)) AS day_price_sum,
      |       day_obs,
      |       cast((cast(sum(day_price_sum) OVER w * 1000000 AS BIGINT) //
      |             sum(day_obs) OVER w) *
      |            cast(0.000001 AS DECIMAL(7,6)) AS DECIMAL(24,6)) AS rolling_avg_price
      |FROM daily
      |WINDOW w AS (ORDER BY datediff('day', DATE '1995-01-01', date_key)
      |             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)""".stripMargin

  /** q20: wide daily row joining four independently-derived aggregates.
    * Ops: J10 multi-way join pipeline (`daily_kre_summary.sql:77-83`),
    * J1 single-key equi joins, plus the lineitem⋈orders fact-fact join.
    *
    * Scale: the fact-fact join shuffles on o_orderkey (SMJ); the four
    * daily aggregates are tiny and joined by Catalyst as broadcasts.
    */
  def dailyWideSummary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, sfDir)
      .withColumn("date_key", to_date($"o_orderdate"))
    // ONE orders scan + one exchange for the a/b legs (round 15): the
    // count/sum and distinct-customers aggregates previously ran as two
    // full scans + two exchanges + a join for the same (date_key)
    // grain. countDistinct beside plain aggregates plans through a x2
    // Expand — still one scan, strictly fewer exchanges. The urgent leg
    // (d) STAYS a separate filtered scan: its literal equality is the
    // P8 operator surface and must push to the parquet footers
    // (PlanAuditSpec's scan-hygiene canary) — at scale that leg reads
    // the row groups the predicate admits, cheaper than widening the
    // fold with a conditional count over every row.
    // long-cents sums (Cents scaladoc): day grain — prices ≤ 10^17
    // cents/day, quantities (≤50 ⇒ ≤5000 cents/row) far below that
    val ab = ord.groupBy($"date_key")
      .agg(count(lit(1)).as("order_count"),
        Cents.asMoney(sum(Cents.cents($"o_totalprice".cast(Money))))
          .as("total_price"),
        countDistinct($"o_custkey").as("distinct_customers"))
    val c = Tables.lineitem(spark, sfDir)
      .join(ord.select($"o_orderkey", $"date_key"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"date_key")
      .agg(Cents.asMoney(sum(Cents.cents($"l_quantity".cast(Money))))
        .as("total_quantity"))
    val d = ord.filter($"o_orderpriority" === "1-URGENT")
      .groupBy($"date_key")
      .agg(count(lit(1)).as("urgent_orders"))
    ab.join(c, Seq("date_key"))
      .join(d, Seq("date_key"), "left")
      .withColumn("urgent_orders", coalesce($"urgent_orders", lit(0L)))
  }

  val dailyWideSummaryOracle: String =
    """WITH ord AS (SELECT *, cast(o_orderdate AS DATE) AS date_key FROM orders),
      |a AS (SELECT date_key, count(*) AS order_count,
      |             cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_price
      |      FROM ord GROUP BY 1),
      |b AS (SELECT date_key, count(DISTINCT o_custkey) AS distinct_customers FROM ord GROUP BY 1),
      |c AS (SELECT o.date_key,
      |             cast(sum(cast(l.l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_quantity
      |      FROM lineitem l JOIN ord o ON l.l_orderkey = o.o_orderkey GROUP BY 1),
      |d AS (SELECT date_key, count(*) AS urgent_orders FROM ord
      |      WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
      |SELECT a.date_key, a.order_count, a.total_price, b.distinct_customers,
      |       c.total_quantity, coalesce(d.urgent_orders, 0) AS urgent_orders
      |FROM a JOIN b USING (date_key) JOIN c USING (date_key)
      |LEFT JOIN d USING (date_key)""".stripMargin

  /** q21: customers with ≥10 orders (HAVING ≡ post-agg filter). Ops: A8,
    * P9 (`multi_create_impacted_accounts.sql:10`).
    */
  def havingFrequentBuyers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .groupBy($"o_custkey".as("cust_id"))
      .agg(count(lit(1)).as("order_count"),
        sum($"o_totalprice".cast(Money)).cast(DecimalType(38, 2))
          .as("total_spend"))
      .filter($"order_count" >= 10)
  }

  val havingFrequentBuyersOracle: String =
    """SELECT o_custkey AS cust_id, count(*) AS order_count,
      |       cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_spend
      |FROM orders GROUP BY 1 HAVING count(*) >= 10""".stripMargin

  /** q30 / the `gc_impacted_accounts` model: the GC composite —
    * `multi_create_impacted_accounts.sql`'s shape end-to-end: multi-instruction
    * transactions (HAVING count>1, A8/P9) → impacted accounts via semi join
    * (J6) → latest state per account via dense_rank desc = 1 (W2/W3) → stamped
    * output. The reference stamps `current_date` (line 38); here the stamp is
    * an injected literal (SURVEY §7.4.1 — never the wall clock).
    *
    * ONE orders scan (r16, guide §2.4 — the r15 verdict's q30 ask):
    * the old shape scanned orders twice (semi-join → distinct custkey →
    * second semi-join) to restrict the ranking to impacted accounts.
    * Both the "is this account impacted" test and the latest-order rank
    * partition by the SAME key (o_custkey), so they share one window
    * Exchange: flag each order via a left join against the (unique-key)
    * multi-instruction order set, lift the flag to the account with
    * max-over-partition, and rank in the same pass. Row-identical to
    * the two-scan form (an account is impacted iff ANY of its orders
    * hits; dense_rank sees exactly the same partitions) —
    * SharedModelReuseSpec pins it; the oracle replays the semi-join
    * formulation unchanged. */
  def gcImpactedAccountsFrom(orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    import orders.sparkSession.implicits._
    val multiLine = lineitem
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("instruction_count"))
      .filter($"instruction_count" > 5) // HAVING over the line count
      .select($"l_orderkey")
    val wp = Window.partitionBy($"o_custkey")
    val w = wp.orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    orders
      // l_orderkey is multiLine's GROUP BY key — unique, so the left
      // join flags without duplicating order rows
      .join(multiLine, $"o_orderkey" === $"l_orderkey", "left")
      .withColumn("hit", $"l_orderkey".isNotNull)
      .withColumn("impacted", max($"hit").over(wp))
      .withColumn("rk", dense_rank().over(w))
      .filter($"impacted" && $"rk" === 1)
      .select($"o_custkey".as("cust_id"),
        to_date($"o_orderdate").as("latest_order_date"),
        $"o_orderkey".as("latest_order"),
        $"o_totalprice".cast(Money).as("latest_total"),
        lit("2002-01-01").cast(DateType).as("flagged_date"))
  }

  val gcImpactedAccountsOracle: String =
    """WITH multi AS (SELECT l_orderkey FROM lineitem
      |               GROUP BY 1 HAVING count(*) > 5),
      |impacted AS (SELECT DISTINCT o_custkey FROM orders
      |             WHERE o_orderkey IN (SELECT l_orderkey FROM multi)),
      |ranked AS (
      |  SELECT o.*, dense_rank() OVER (PARTITION BY o.o_custkey
      |           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rk
      |  FROM orders o
      |  WHERE o.o_custkey IN (SELECT o_custkey FROM impacted))
      |SELECT o_custkey AS cust_id,
      |       cast(o_orderdate AS DATE) AS latest_order_date,
      |       o_orderkey AS latest_order,
      |       cast(o_totalprice AS DECIMAL(18,2)) AS latest_total,
      |       DATE '2002-01-01' AS flagged_date
      |FROM ranked WHERE rk = 1""".stripMargin

  /** q24 / the `market_summary` model: market summary — price/volume plus the
    * derived circulating-supply ratio. Ops: P1 + arithmetic
    * (`daily_market_summary.sql:4-20`: supply = mcap/price).
    *
    * LONG-CENTS AGGREGATION (r16 — the r15 verdict's deferred overflow
    * question, settled by bounds math): the per-day sums run over
    * 64-bit cent integers, not DECIMAL. Safe because the aggregation
    * grain is the DAY: TPC-H l_extendedprice < 10^6 (so < 10^8 cents
    * per row; l_quantity ≤ 50 is far smaller), and even a 100 TB corpus
    * at ~10^9 lineitem rows per day bounds a day's sum at 10^17 cents —
    * 92× inside Long.MaxValue ≈ 9.2×10^18. The values are identical to
    * the decimal sums (cent integers are exact; /100 at the end is an
    * exact scale-2 decimal multiply), only the per-row aggregate op
    * narrows from Decimal adds to codegen long adds — guide §2.3
    * "narrower types". q08 is the contrast case: its scale-4 basis ×
    * the same row bound reaches ~10^19 and FAILS this proof, so q08
    * keeps DECIMAL (see unionAllBalancesFrom).
    */
  def marketSummaryFrom(li: DataFrame): DataFrame = {
    import li.sparkSession.implicits._
    val cents = lit(new java.math.BigDecimal("0.01")).cast(DecimalType(3, 2))
    li
      .groupBy(to_date($"l_shipdate").as("date_key"))
      .agg(
        // unscaled_long instead of the original ×100-then-cast idiom
        // (r16 follow-up): same exact cents, minus the per-row
        // (22,2)-precision decimal multiply
        sum(Cents.cents($"l_extendedprice".cast(Money))).as("mc_cents"),
        sum(Cents.cents($"l_quantity".cast(Money))).as("vol_cents"))
      .select($"date_key",
        ($"mc_cents".cast(DecimalType(20, 0)) * cents)
          .cast(DecimalType(38, 2)).as("market_cap"),
        ($"vol_cents".cast(DecimalType(20, 0)) * cents)
          .cast(DecimalType(38, 2)).as("volume"),
        // avg_price = mcap/volume in exact cent-integer arithmetic:
        // micros = (mc_cents * 1e6) div vol_cents
        (expr("(mc_cents * 1000000) div vol_cents")
          .cast(DecimalType(20, 0)) *
          lit(new java.math.BigDecimal("0.000001")).cast(DecimalType(7, 6)))
          .cast(DecimalType(24, 6)).as("avg_price"))
  }

  val marketSummaryOracle: String =
    """WITH daily AS (
      |  SELECT cast(l_shipdate AS DATE) AS date_key,
      |         cast(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS market_cap,
      |         cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS volume
      |  FROM lineitem GROUP BY 1)
      |SELECT date_key, market_cap, volume,
      |       cast(((cast(market_cap * 100 AS BIGINT) * 1000000) //
      |             cast(volume * 100 AS BIGINT)) *
      |            cast(0.000001 AS DECIMAL(7,6)) AS DECIMAL(24,6)) AS avg_price
      |FROM daily""".stripMargin

  /** q25 / the `creates_by_segment` model: creations per (day, market
    * segment) — fact ⋈ dim then
    * aggregate. Ops: A1, J3 dim-lookup join
    * (`daily_account_creates_by_app.sql:6-14` + dim decoration).
    * Scale: `customer` scales WITH the data here (unlike nation/region),
    * so no forced broadcast — a shuffled join on the customer key is
    * safe at any scale and AQE broadcasts when the pruned two-column
    * dim actually fits under the threshold.
    */
  def createsBySegmentFrom(orders: DataFrame,
      customer: DataFrame): DataFrame = {
    import orders.sparkSession.implicits._
    val dim = customer.select($"c_custkey", $"c_mktsegment")
    orders
      .join(dim, $"o_custkey" === $"c_custkey", "left")
      .groupBy(to_date($"o_orderdate").as("date_key"),
        coalesce($"c_mktsegment", lit("UNKNOWN")).as("segment"))
      // long-cents sum (Cents scaladoc): (day, segment) grain ≤ the
      // day bound of 10^17 cents
      .agg(count(lit(1)).as("creates"),
        Cents.asMoney(sum(Cents.cents($"o_totalprice".cast(Money))))
          .as("opening_balance"))
  }

  val createsBySegmentOracle: String =
    """SELECT cast(o.o_orderdate AS DATE) AS date_key,
      |       coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
      |       count(*) AS creates,
      |       cast(sum(cast(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS opening_balance
      |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1, 2""".stripMargin
}
