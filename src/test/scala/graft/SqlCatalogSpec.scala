package graft

import java.nio.file.Files
import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.runner._

/** The SQL-name catalog surface (SURVEY §2.1 S1): after a pipeline run,
  * every materialized model is addressable by its model name through
  * `spark.sql` — the reference's 3-part `schema.model` ergonomics
  * (`kin-data-pipeline/execute_snowflake_load.py:34,76`). Verified by
  * re-deriving several models' logic in plain SQL OVER THE REGISTERED
  * VIEWS and matching the materialized targets row for row.
  */
class SqlCatalogSpec extends AnyFunSuite {
  val spark = TestSpark.spark

  private val sfDir = "/root/testdata/sf0.001"
  private def sources: String => DataFrame = {
    case "events" => graft.catalog.Tables.events(spark, sfDir)
    case other => graft.catalog.Tables.load(spark, sfDir, other)
  }

  private lazy val pipeline: DailyPipeline = {
    val wh = Files.createTempDirectory("graft-sqlcat-wh").toString
    val serving = Files.createTempDirectory("graft-sqlcat-serve").toString
    val p = new DailyPipeline(spark, wh, serving,
      LocalDate.parse("2024-02-05"))
    p.run(sources)
    p
  }

  /** Exact multiset equality, column order normalized. */
  private def assertSame(viaSql: DataFrame, model: DataFrame,
      hint: String): Unit = {
    val cols = model.columns.sorted.toSeq.map(col)
    val (a, b) = (viaSql.select(cols: _*), model.select(cols: _*))
    assert(a.count() == b.count(), s"$hint: row count")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, hint)
  }

  test("every kreDag model is registered and resolvable by name", SlowTest) {
    val p = pipeline
    val names = p.runner.registerViews(ModelRegistry.kreDag)
    assert(names.toSet == ModelRegistry.kreDag.map(_.name).toSet)
    for (m <- ModelRegistry.kreDag)
      assertSame(spark.sql(s"SELECT * FROM ${m.name}"),
        p.runner.readModel(m.name), m.name)
  }

  test("model logic re-expressed as SQL over registered views matches " +
      "the materialized targets") {
    val p = pipeline
    // daily_distinct_wallets ≡ SQL over the fact_txn view
    assertSame(
      spark.sql(
        """SELECT date_key,
          |       count(DISTINCT wallet_id) AS active_wallets,
          |       count(*) AS txn_count
          |FROM fact_txn GROUP BY date_key""".stripMargin),
      p.runner.readModel("daily_distinct_wallets"), "daily_distinct_wallets")
    // balance_buckets ≡ SQL over the closing_balance view
    assertSame(
      spark.sql(
        """SELECT date_key,
          |       CASE WHEN closing_balance < 25 THEN 'b00_025'
          |            WHEN closing_balance < 100 THEN 'b025_100'
          |            WHEN closing_balance < 250 THEN 'b100_250'
          |            ELSE 'b250_plus' END AS balance_bucket,
          |       count(*) AS account_count,
          |       cast(sum(closing_balance) AS DECIMAL(38,2)) AS bucket_balance
          |FROM closing_balance GROUP BY 1, 2""".stripMargin),
      p.runner.readModel("balance_buckets"), "balance_buckets")
    // creates_by_type ≡ SQL over the fact_creations view
    assertSame(
      spark.sql(
        """SELECT date_key, create_type,
          |       count(*) AS daily_transactions,
          |       cast(sum(opening_balance) AS DECIMAL(38,2))
          |         AS daily_opening_balance
          |FROM fact_creations GROUP BY 1, 2""".stripMargin),
      p.runner.readModel("creates_by_type"), "creates_by_type")
    // a cross-view join: the (day, type) summary row decorated with
    // the day's (ecosystem-grain) volatility factor, matching the
    // DataFrame-side equi-join. Both sides carry rows at sf0.001 (the
    // payout model is empty there, so it would compare two empty sets)
    val sqlJoin = spark.sql(
      """SELECT s.date_key, s.txn_type, v.volatility_factor
        |FROM daily_txn_summary s JOIN volatility_factor v
        |  ON s.date_key = v.date_key""".stripMargin)
    val dfJoin = p.runner.readModel("daily_txn_summary")
      .select(col("date_key"), col("txn_type"))
      .join(p.runner.readModel("volatility_factor")
        .select(col("date_key"), col("volatility_factor")),
        Seq("date_key"))
    assert(!dfJoin.isEmpty, "summary ⋈ volatility is empty on the fixture")
    assertSame(sqlJoin, dfJoin, "summary ⋈ volatility via SQL names")
  }

  test("clones and seeded dims stay SQL-addressable alongside models", SlowTest) {
    val p = pipeline
    // clone ≡ source, both through SQL names (runAll registers clones;
    // registerViews registers the model)
    assertSame(spark.sql("SELECT * FROM mb_daily_kin_payout"),
      p.runner.readModel("daily_payout"), "mb_daily_kin_payout clone")
    // a re-run re-registers views and stays idempotent: same content
    p.run(sources)
    assertSame(spark.sql("SELECT * FROM daily_txn_summary"),
      p.runner.readModel("daily_txn_summary"), "post-rerun view")
  }
}
