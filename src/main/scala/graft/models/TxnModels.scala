package graft.models

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Transaction-fact models: the engine's analog of the reference's
  * `kin_main_warehouse` fact layer + `metabase_mart` daily summaries,
  * re-expressed over the driver's `events` table
  * (mapping in /root/repo/FIXTURES.md §B).
  *
  * Reference semantics reproduced (SURVEY.md §2 op IDs cited per method):
  *  - fact cleanup = dedupe + status filter + typecast + null→0 app key
  *    (`fact_kin_transaction.sql:5,18-50`)
  *  - daily summary = per-(day,type) count/sum/avg/median + constant fee
  *    (`daily_kin_transactions.sql:9-29` incl. the literal
  *    `sum(0.00001::NUMERIC(38,10))` fee quirk at line 12)
  *
  * Scale design: every model here is a single narrow scan → hash aggregate.
  * The `event_type != 'error'` filter and the column pruning reach the
  * parquet scan (PushedFilters); aggregates are partial+final (map-side
  * combine) so the only shuffle is by the (low-cardinality) group key.
  */
object TxnModels {
  val Amount: DecimalType = DecimalType(18, 2)

  /** Decimal(24,6) canonical rounding for ratio-valued outputs: both Spark
    * and the DuckDB oracle compute the ratio in double, round(…,6), and
    * quantize — the only cross-engine-stable formulation (DuckDB promotes
    * decimal division and avg to DOUBLE).
    */
  def ratio6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c, 6).cast(DecimalType(24, 6))

  /** q01 / the `fact_txn` model: cleaned transaction fact. Ops: A6
    * (dedupe), P1 (project/rename), P2 (status filter), casts, null→0
    * app_id (§1.2).
    *
    * Session-memoized (`ModelRegistry.SessionMemo`): the fact IS a
    * materialized table in the reference (`fact_kin_transaction` — every
    * mart reads the table, not the view), and ~25 standalone queries
    * here consume it; the first builds it once per (session, sfDir),
    * the rest read the materialized copy instead of re-running the
    * dedupe + JSON parse.
    */
  def factTxnFrom(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .dropDuplicates("event_id") // upstream may duplicate (fact_kin_transaction.sql:2-5)
      .filter($"event_type" =!= "error") // status='Ok' analog
      .select(
        to_date($"ts").as("date_key"),
        $"event_id",
        $"user_id".as("wallet_id"),
        $"event_type".as("txn_type"),
        $"value".cast(Amount).as("amount"),
        coalesce(get_json_object($"props", "$.k").cast(IntegerType), lit(0))
          .as("app_id"))
  }

  val factTxnOracle: String =
    """SELECT cast(ts AS DATE) AS date_key, event_id, user_id AS wallet_id,
      |       event_type AS txn_type, cast(value AS DECIMAL(18,2)) AS amount,
      |       coalesce(cast(json_extract_string(props,'$.k') AS INTEGER), 0) AS app_id
      |FROM events WHERE event_type <> 'error'""".stripMargin

  /** The per-(day,type) summary aggregate algebra — shared VERBATIM by
    * the batch model and its streaming twin
    * (`graft.streaming.StreamingModelRunner`), so the two formulations
    * cannot drift: any change here changes both. */
  private[graft] def summaryAggs: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("txn_count"),
    // long-cents sums (Cents scaladoc): (day, type) grain ≤ the 10^17-
    // cents day bound; the two sums are identical aggregate expressions,
    // so planning dedups them into ONE long buffer
    Cents.asMoney(sum(Cents.cents(col("amount")))).as("total_amount"),
    Cents.asMoney(sum(Cents.cents(col("amount"))), 28).as("amt_sum_raw"),
    ratio6(percentile(col("amount").cast(DoubleType), lit(0.5)))
      .as("median_amount"),
    // the reference's constant-fee quirk (`daily_kin_transactions.sql:12`):
    // sum(0.00001) over n rows ≡ n·0.00001 EXACTLY (constant decimal adds
    // are exact), computed as one post-agg multiply — (28,0)×(6,5) →
    // (35,5), lossless — instead of a (38,10) BigDecimal add per row
    (count(lit(1)).cast(DecimalType(28, 0)) *
      lit(new java.math.BigDecimal("0.00001")).cast(DecimalType(6, 5)))
      .cast(DecimalType(38, 10)).as("total_fees"))

  /** Post-aggregate projection of [[summaryAggs]]: exact micros average
    * (see q08): floor((sum*1e6)/n) — portable; raw sum dropped. */
  private[graft] def summaryFinish(agged: DataFrame): DataFrame =
    agged.withColumn("avg_amount",
      (expr("cast(amt_sum_raw * 1000000 as bigint) div txn_count")
        .cast(DecimalType(20, 0)) *
        lit(new java.math.BigDecimal("0.000001")).cast(DecimalType(7, 6)))
        .cast(DecimalType(24, 6)))
      .drop("amt_sum_raw")

  /** q02 (flagship) / the `daily_txn_summary` model: daily per-type
    * summary. Ops: A1 (grouped sum/count), A2 (avg), A3 (exact median),
    * constant-fee quirk (`daily_kin_transactions.sql:12`).
    */
  def dailyTxnSummaryFrom(fact: DataFrame): DataFrame =
    summaryFinish(
      fact.groupBy(col("date_key"), col("txn_type"))
        .agg(summaryAggs.head, summaryAggs.tail: _*))

  /** q36: top-3 transaction amounts (in exact cents) per app via the
    * custom typed Aggregator (SURVEY.md §2.10 UDAF tier) — a grouped
    * exact top-k that aggregates partially with O(k) state per group
    * instead of sorting each group (`graft.functions.TopKLongs`).
    *
    * Output is exploded to one row per (app, rank) — scalar columns
    * only, so any downstream consumer (or comparator) that can't
    * canonicalize array cells still works. The explode fan-out is
    * bounded at k=3 rows per group, so it adds no scale cost.
    */
  def topAmountsPerApp(fact: DataFrame): DataFrame = {
    import fact.sparkSession.implicits._
    val top3 = udaf(graft.functions.TopKLongs(3))
    fact
      .select($"app_id", ($"amount" * 100).cast(LongType).as("cents"))
      .groupBy($"app_id")
      .agg(top3($"cents").as("top_amounts"))
      .select($"app_id", posexplode($"top_amounts").as(Seq("pos", "amount_cents")))
      .select(
        $"app_id",
        ($"pos" + 1).cast(LongType).as("amount_rank"),
        $"amount_cents")
  }

  val topAmountsPerAppOracle: String =
    """WITH fact AS (
      |  SELECT coalesce(cast(json_extract_string(props,'$.k') AS INTEGER), 0) AS app_id,
      |         cast(cast(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_type <> 'error'
      |  QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY event_id) = 1),
      |tops AS (
      |  SELECT app_id, (list(cents ORDER BY cents DESC))[1:3] AS top_amounts
      |  FROM fact GROUP BY 1)
      |SELECT t.app_id, cast(r.amount_rank AS BIGINT) AS amount_rank,
      |       t.top_amounts[r.amount_rank] AS amount_cents
      |FROM tops t
      |CROSS JOIN (SELECT unnest([1,2,3]) AS amount_rank) r
      |WHERE r.amount_rank <= len(t.top_amounts)""".stripMargin

  val dailyTxnSummaryOracle: String =
    """WITH fact AS (
      |  SELECT cast(ts AS DATE) AS date_key, event_type AS txn_type,
      |         cast(value AS DECIMAL(18,2)) AS amount
      |  FROM events WHERE event_type <> 'error')
      |SELECT date_key, txn_type,
      |       count(*) AS txn_count,
      |       cast(sum(amount) AS DECIMAL(38,2)) AS total_amount,
      |       cast((cast(sum(amount) * 1000000 AS BIGINT) // count(*)) *
      |            cast(0.000001 AS DECIMAL(7,6)) AS DECIMAL(24,6)) AS avg_amount,
      |       cast(round(percentile_cont(0.5) WITHIN GROUP (ORDER BY cast(amount AS DOUBLE)), 6) AS DECIMAL(24,6)) AS median_amount,
      |       sum(cast(0.00001 AS DECIMAL(38,10))) AS total_fees
      |FROM fact GROUP BY date_key, txn_type""".stripMargin
}
