package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.models.{PayoutModels, TxnModels}
import graft.sinks.{Replicator, ServingStore}

/** Streaming twins of REGISTERED incremental models — SURVEY §2.9's
  * optional extension made part of the product. Each twin re-expresses
  * one registry model (`runner/ModelRegistry.scala`) as
  * readStream → event-time window → append sink, importing the batch
  * model's aggregate algebra where the streaming engine allows it so
  * the two tables cannot drift.
  *
  * Protocol mapping (the streaming-native form of the runner's
  * semantics):
  *  - new event files per micro-batch ≡ the append-only raw table;
  *  - the checkpoint's watermark ≡ the runner's high-watermark cursor
  *    (a restarted catch-up resumes past what it already served);
  *  - append mode emits a day only once the event-time watermark passes
  *    its end ≡ the closed-period gate (days emit exactly once, so the
  *    sink is append-only like the runner's incremental insert);
  *  - `dropDuplicatesWithinWatermark` ≡ the fact's event_id dedupe,
  *    with state bounded by the horizon (duplicates arriving further
  *    apart than the watermark delay are the repair path's job, batch
  *    and stream alike).
  *
  * Scale: state is (open windows × group keys) aggregate buffers plus
  * the dedupe horizon's event ids; the per-batch shuffle is the same
  * windowed hash agg the batch model plans.
  */
object StreamingModelRunner {

  /** The streaming twin of `TxnModels.factTxnFrom`'s prologue: dedupe on
    * event_id, drop error rows. Watermark is assigned BEFORE the status
    * filter, so control rows (the pipeline's heartbeat/sentinel events,
    * typed 'error') advance event time without ever reaching an
    * aggregate.
    */
  private def factStream(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream
      .schema(StreamingSummary.eventSchema)
      .option("maxFilesPerTrigger", "1") // deterministic batch-per-file
      .parquet(inputDir)
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")
      .filter(col("event_type") =!= "error")

  /** The streaming `daily_txn_summary` plan (unstarted). The aggregate
    * algebra is `TxnModels.summaryAggs`/`summaryFinish` VERBATIM —
    * exact `percentile`, integer-micros fee algebra and all — only the
    * grouping key changes from date_key to the event-time window.
    */
  def dailyTxnSummaryStream(spark: SparkSession,
      inputDir: String): DataFrame =
    TxnModels.summaryFinish(
      factStream(spark, inputDir)
        .select(col("ts"), col("event_type").as("txn_type"),
          col("value").cast(TxnModels.Amount).as("amount"))
        .groupBy(window(col("ts"), "1 day").as("dw"), col("txn_type"))
        .agg(TxnModels.summaryAggs.head, TxnModels.summaryAggs.tail: _*)
        .withColumn("date_key", col("dw.start").cast(DateType))
        .drop("dw"))

  /** The streaming `daily_distinct_wallets` plan (unstarted).
    *
    * `count(DISTINCT wallet_id)` is unsupported over a stream (the
    * distinct set per group is unbounded mid-window), so the twin uses
    * the chained windowed-aggregation rewrite: a per-(day, wallet)
    * count — the dedup-to-grain step — then a day-level rollup where
    * `count(*)` IS the distinct-wallet count and `sum(wallet_txns)`
    * restores the plain row count. Both aggregates are watermark-bounded
    * (Spark's time-window-over-time-window chain), so state stays
    * O(open days × wallets active in the horizon) — the same footprint
    * the batch model's `countDistinct` hash-agg touches per day.
    */
  def dailyDistinctWalletsStream(spark: SparkSession,
      inputDir: String): DataFrame =
    factStream(spark, inputDir)
      .select(col("ts"), col("user_id").as("wallet_id"))
      .groupBy(window(col("ts"), "1 day").as("dw"), col("wallet_id"))
      .agg(count(lit(1)).as("wallet_txns"))
      .groupBy(window(col("dw"), "1 day").as("dw2"))
      .agg(count(lit(1)).as("active_wallets"),
        sum(col("wallet_txns")).as("txn_count"))
      .select(col("dw2.start").cast(DateType).as("date_key"),
        col("active_wallets"), col("txn_count"))

  /** The streaming `weekly_txn_rollup` plan (unstarted) — the WEEKLY
    * cadence under the same protocol. The batch model groups by
    * `date_trunc('week', date_key)` (Monday-start weeks); the twin's
    * event-time window is the identical calendar: 7-day tumbling with
    * `startTime = 4 days`, because the epoch (1970-01-01) is a Thursday
    * and Thursday + 4 days lands window starts on Mondays. Append mode
    * then emits a week only once the watermark passes its end — the
    * runner's complete-week gate, with a week that spans two catch-ups
    * held open in checkpoint state until its Monday boundary closes.
    * The aggregate algebra is `PayoutModels.rollupAggs`/`rollupFinish`
    * VERBATIM (exact-micros average included).
    */
  def weeklyTxnRollupStream(spark: SparkSession,
      inputDir: String): DataFrame =
    PayoutModels.rollupFinish(
      factStream(spark, inputDir)
        .select(col("ts"), col("event_type").as("txn_type"),
          col("value").cast(TxnModels.Amount).as("amount"))
        .groupBy(window(col("ts"), "7 days", "7 days", "4 days").as("dw"),
          col("txn_type"))
        .agg(PayoutModels.rollupAggs.head, PayoutModels.rollupAggs.tail: _*))
      .withColumn("date_key", col("dw.start").cast(DateType))
      .drop("dw")

  /** One event routed to its month bucket: the month key and the
    * month-close instant are computed in Catalyst (session time zone),
    * so the typed fold below is pure arithmetic. `cents` is the exact
    * unscaled DECIMAL(18,2) amount. */
  final case class MonthEvent(month: String, txn_type: String,
      cents: Long, next_ms: Long, ts: Timestamp)
  /** Running (row count, amount cents) for one open (month, type). */
  final case class MonthBuf(n: Long, cents: Long, next_ms: Long)
  final case class MonthRollup(date_key: java.sql.Date, txn_type: String,
      txn_count: Long, cents: Long)

  /** Fold one (month, type)'s micro-batch into its running aggregate;
    * emit exactly when the event-time timeout proves the month closed.
    */
  def onMonth(key: (String, String), events: Iterator[MonthEvent],
      state: GroupState[MonthBuf]): Iterator[MonthRollup] = {
    if (state.hasTimedOut) {
      val b = state.get
      state.remove()
      Iterator(MonthRollup(java.sql.Date.valueOf(key._1), key._2,
        b.n, b.cents))
    } else {
      var b = state.getOption.getOrElse(MonthBuf(0L, 0L, 0L))
      events.foreach(e => b = MonthBuf(b.n + 1, b.cents + e.cents,
        e.next_ms))
      state.update(b)
      // the complete-month gate becomes decidable at the first instant
      // of the NEXT month; -1 ms because the timeout fires when the
      // watermark advances strictly past the set timestamp
      state.setTimeoutTimestamp(b.next_ms - 1)
      Iterator.empty
    }
  }

  /** The streaming `monthly_txn_rollup` plan (unstarted) — the MONTHLY
    * cadence under the same protocol. Calendar months are not
    * fixed-duration, so `window()` cannot express them; this is the
    * custom-state path (§2.10's `flatMapGroupsWithState` contract):
    * state is one (row count, amount cents) buffer per open
    * (month, type) — a few rows per executor, watermark-evicted — and
    * `EventTimeTimeout` at the first instant of the next month IS the
    * runner's complete-month gate. Amount algebra runs in exact
    * unscaled cents (a Long holds ±9.2e16 dollars of DECIMAL(18,2) —
    * no overflow at any plausible monthly volume) and the emitted rows
    * funnel through `PayoutModels.rollupFinish` VERBATIM, so even the
    * custom-state cadence cannot drift from the batch decimals.
    */
  def monthlyTxnRollupStream(spark: SparkSession,
      inputDir: String): DataFrame = {
    import spark.implicits._
    val monthly = factStream(spark, inputDir)
      .select(
        date_format(date_trunc("month", col("ts")), "yyyy-MM-dd")
          .as("month"),
        col("event_type").as("txn_type"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
          .as("cents"),
        expr("unix_millis(cast(add_months(to_date(date_trunc('month', ts)), 1) as timestamp))")
          .as("next_ms"),
        col("ts"))
      .as[MonthEvent]
      .groupByKey(e => (e.month, e.txn_type))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(onMonth)
      .toDF()
    PayoutModels.rollupFinish(monthly
      .withColumn("amt_sum_raw",
        expr("cast(cents as decimal(28,2)) * cast(0.01 as decimal(3,2))")
          .cast(DecimalType(28, 2)))
      .withColumn("total_amount", col("amt_sum_raw").cast(DecimalType(38, 2)))
      .drop("cents"))
  }

  /** The streaming `daily_wallet_freq_sketches` plan (unstarted) — the
    * sketch family's twin (`ModelRegistry.freqDag` layer 1,
    * `FreqModels.dailyWalletFreqSketches`): per-day wallet-activity
    * heavy-hitters sketches built continuously, emitted when the
    * watermark closes each day, column-compatible with the batch
    * materialization so `FreqModels.rollingFromSketches` reads either.
    *
    * The frequent-items `TypedImperativeAggregate` works UNMODIFIED in
    * streaming state: each open day's buffer is one ≤8 KB serialized
    * sketch regardless of wallet cardinality — the fixed-size summary
    * is exactly what makes the streaming state affordable (a distinct-
    * count twin needs the chained-aggregation rewrite above; the
    * sketch absorbs the cardinality instead).
    */
  def dailyWalletFreqSketchesStream(spark: SparkSession,
      inputDir: String): DataFrame =
    factStream(spark, inputDir)
      .groupBy(window(col("ts"), "1 day").as("dw"))
      .agg(
        call_function("freq_sketch_agg", col("user_id")).as("sk_wallets"),
        count(col("user_id")).as("txn_count"))
      .select(col("dw.start").cast(DateType).as("date_key"),
        col("sk_wallets"), col("txn_count"))

  /** The streaming `daily_wallet_theta_sketches` plan (unstarted) —
    * the retention tier's twin (`ModelRegistry.retentionDag` layer 1):
    * identical shape to the frequent-items twin above, with the theta
    * aggregate in the window state (one ≤32 KB serialized union buffer
    * per open day); downstream retention intersections
    * (`RetentionModels.weekOverWeekRetention`) read either
    * materialization.
    */
  def dailyWalletThetaSketchesStream(spark: SparkSession,
      inputDir: String): DataFrame =
    factStream(spark, inputDir)
      .groupBy(window(col("ts"), "1 day").as("dw"))
      .agg(
        call_function("theta_sketch_agg", col("user_id")).as("sk_wallets"),
        count(col("user_id")).as("txn_count"))
      .select(col("dw.start").cast(DateType).as("date_key"),
        col("sk_wallets"), col("txn_count"))

  /** The streaming `daily_amount_sketches` plan (unstarted) — the
    * quantile tier's twin (`ModelRegistry.quantileDag` layer 1,
    * `QuantileModels.dailyAmountSketches`), completing the mergeable-
    * sketch streaming family: frequent-items, theta AND KLL daily
    * layers all build continuously under the same watermark-window
    * protocol. Grain is (day, app): the app key comes out of the props
    * JSON exactly as the batch fact derives it, and the amount runs
    * through the same DECIMAL(18,2)→double path, so a closed day's
    * streamed sketch row is value-identical to the batch
    * materialization (exact below the sketch's k; same merge algebra
    * above it). State per open (day, app) is one ≤3 KB KLL buffer.
    */
  def dailyAmountSketchesStream(spark: SparkSession,
      inputDir: String): DataFrame =
    factStream(spark, inputDir)
      .select(col("ts"),
        coalesce(get_json_object(col("props"), "$.k").cast(IntegerType),
          lit(0)).as("app_id"),
        col("value").cast(TxnModels.Amount).cast("double").as("amount_d"))
      .groupBy(window(col("ts"), "1 day").as("dw"), col("app_id"))
      .agg(
        call_function("kll_sketch_agg", col("amount_d")).as("sk_amount"),
        count(col("amount_d")).as("txn_count"))
      .select(col("dw.start").cast(DateType).as("date_key"), col("app_id"),
        col("sk_amount"), col("txn_count"))

  /** Streaming twins keyed by their registry model name. */
  val twins: Map[String, (SparkSession, String) => DataFrame] = Map(
    "daily_txn_summary" -> (dailyTxnSummaryStream _),
    "daily_distinct_wallets" -> (dailyDistinctWalletsStream _),
    "weekly_txn_rollup" -> (weeklyTxnRollupStream _),
    "monthly_txn_rollup" -> (monthlyTxnRollupStream _),
    "daily_wallet_freq_sketches" -> (dailyWalletFreqSketchesStream _),
    "daily_wallet_theta_sketches" -> (dailyWalletThetaSketchesStream _),
    "daily_amount_sketches" -> (dailyAmountSketchesStream _))

  /** One catch-up run (Trigger.AvailableNow): process every file now in
    * `inputDir`, append the newly closed days to `targetDir`, stop. Two
    * consecutive catch-ups with the same checkpoint behave exactly like
    * two daily batch runs: the second appends only days that closed
    * since the first — the runner's incremental protocol, driven by the
    * checkpointed watermark instead of a table probe.
    */
  def catchUp(spark: SparkSession, model: String, inputDir: String,
      checkpointDir: String, targetDir: String): StreamingQuery =
    appendAvailableNow(twins(model)(spark, inputDir), checkpointDir,
      targetDir)

  /** The catch-up write every streaming twin runs: append `stream` to
    * the parquet directory `outDir` over the files present now
    * (Trigger.AvailableNow), checkpointed at `checkpointDir`, then
    * stop. */
  def appendAvailableNow(stream: DataFrame, checkpointDir: String,
      outDir: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streamed serving replication: the twin's append stream lands in a
    * [[ServingStore]] (parquet or real JDBC), each micro-batch routed
    * through the BATCH [[Replicator]] — the sink-side-watermark filter,
    * camelCase rename projection, and create-on-empty are literally the
    * same code as the daily pipeline's serve step, so the two paths
    * cannot drift.
    *
    * Delivery: append mode emits each closed day exactly once in the
    * happy path; a failed/replayed micro-batch (foreachBatch is
    * at-least-once) re-enters `replicate`, whose sink-side watermark
    * drops already-served days — idempotence at day granularity, the
    * reference replicator's own contract. A crash INSIDE a partial
    * day's append leaves that day short, exactly like the reference's
    * warehouse-side rerun (its `max(date)` probe also skips a
    * partially-loaded day) — `Replicator.repair(table, day)` deletes
    * the doomed tail and the next batch replicate refills it.
    */
  def serveCatchUp(spark: SparkSession, model: String, inputDir: String,
      checkpointDir: String, store: ServingStore, table: String,
      renames: Map[String, String] = Map.empty): StreamingQuery = {
    val rep = new Replicator(spark, store)
    twins(model)(spark, inputDir).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        rep.replicate(table, batch, renames = renames)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
