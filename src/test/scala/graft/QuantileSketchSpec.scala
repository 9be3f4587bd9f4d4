package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.models.QuantileModels

/** The KLL mergeable-quantiles scale path must track the exact rolling
  * percentile within the sketch's published RANK error. KLL's contract
  * is on ranks, not values (a tiny rank slip across a wide value gap is
  * a large value delta but a correct answer), so the assertions here
  * compute the TRUE rank of each estimated value inside the exact
  * window population and pin |rank − p|. Compaction is randomized, so
  * nothing here asserts byte equality — that looseness is the tier's
  * documented contract (`ModelRegistry.quantileDag`).
  */
class QuantileSketchSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"
  private def factTxn =
    graft.runner.ModelRegistry.sessionResolver(spark, sfDir)("fact_txn")

  // k=200 → ~1.65% normalized rank error at 99% confidence; 0.05 leaves
  // slack for the double-rank interpolation at small window populations
  private val RankTol = 0.05

  test("rolling p50/p90/p99 track the exact windowed sort (30-day, per app)") {
    val fact = factTxn
    val est = QuantileModels.rollingAmountQuantiles(fact, 29)

    // exact 30-day window populations, small enough to sort per group
    // at sf0.01: rank of each estimated value inside its true window
    val amounts = fact.select($"date_key", $"app_id",
      $"amount".cast("double").as("v"))
      .filter($"v".isNotNull) // mirror the sketch agg's null skip
    val exploded = amounts
      .withColumn("anchor_date",
        explode(sequence($"date_key", date_add($"date_key", 29))))
      .join(broadcast(amounts.select($"date_key".as("anchor_date")).distinct()),
        Seq("anchor_date"), "left_semi")
    val checked = exploded
      .join(est, $"anchor_date" === est("date_key")
        && exploded("app_id") === est("app_id"))
      .groupBy($"anchor_date", exploded("app_id"))
      .agg(
        count(lit(1)).as("n"),
        first($"txn_count").as("txn_count"),
        (sum(when($"v" <= $"p50_amount_est", 1).otherwise(0)) /
          count(lit(1))).as("r50"),
        (sum(when($"v" <= $"p90_amount_est", 1).otherwise(0)) /
          count(lit(1))).as("r90"),
        (sum(when($"v" <= $"p99_amount_est", 1).otherwise(0)) /
          count(lit(1))).as("r99"))
    val rows = checked
      .select($"n", $"txn_count", $"r50", $"r90", $"r99")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    // the sketch's n is lossless: merged txn_count must equal the true
    // window population exactly
    assert(rows.forall { case (n, tc, _, _, _) => n == tc },
      "merged sketch row counts diverge from the exact window population")
    val bad = rows.filter { case (n, _, r50, r90, r99) =>
      // INCLUSIVE quantile: true rank of the answer must be >= p and
      // within tolerance above it (+1/n: the answer value's own mass)
      def off(r: Double, p: Double) =
        r < p - RankTol || r > p + RankTol + 1.0 / n
      off(r50, 0.5) || off(r90, 0.9) || off(r99, 0.99)
    }
    assert(bad.isEmpty,
      s"rank error beyond tolerance: ${bad.take(5).mkString(", ")}")
  }

  test("daily sketch layer is mergeable: union of per-day ≡ whole stream") {
    // the property incremental materialization depends on: append days,
    // merge at read time, never re-read raw history
    val fact = Seq(
      ("2024-01-01", 1L, 1.0), ("2024-01-01", 1L, 2.0),
      ("2024-01-01", 1L, 3.0), ("2024-01-02", 1L, 4.0),
      ("2024-01-02", 1L, 5.0), ("2024-01-02", 1L, 6.0),
      ("2024-01-03", 1L, 7.0), ("2024-01-03", 1L, 8.0))
      .toDF("dk", "app_id", "amount")
      .select(to_date($"dk").as("date_key"), $"app_id", $"amount")
    val daily = QuantileModels.dailyAmountSketches(fact)
    assert(daily.count() == 3)
    // n=8 values never trigger compaction at k=200, so the merged
    // sketch answers EXACTLY here: p50 over {1..8} INCLUSIVE = 4.0
    val merged = daily.groupBy($"app_id")
      .agg(call_function("kll_merge_agg", $"sk_amount").as("sk"))
      .select(
        call_function("kll_value_at", $"sk", lit(0.5d)),
        call_function("kll_sketch_n", $"sk"))
      .as[(Double, Long)].head()
    assert(merged == ((4.0, 8L)))
  }

  test("quantile DAG runs under the incremental runner; catch-up ≡ full") {
    val fact = factTxn
    val dir = java.nio.file.Files
      .createTempDirectory("quantile-dag").toString
    val runner = new graft.runner.IncrementalRunner(spark, dir,
      java.time.LocalDate.parse("2024-03-01"))
    val sources: String => org.apache.spark.sql.DataFrame = {
      case "events" => graft.catalog.Tables.events(spark, sfDir)
      case other => graft.catalog.Tables.load(spark, sfDir, other)
    }
    runner.runAll(graft.runner.ModelRegistry.kreDag.take(1) ++
      graft.runner.ModelRegistry.quantileDag, sources)
    val daily = spark.read.parquet(s"$dir/daily_amount_sketches")
    // layer 1 is exact per (day, app): row grain and counts must match
    // the fact's grain exactly (the sketch binary beside them is the
    // only approximate column)
    val expected = fact.groupBy($"date_key", $"app_id")
      .agg(count(lit(1)).as("expected_n"))
    val mismatched = daily
      .join(expected, Seq("date_key", "app_id"), "full_outer")
      .filter($"txn_count".isNull || $"expected_n".isNull ||
        $"txn_count" =!= $"expected_n")
    assert(mismatched.isEmpty, "sketch-table grain diverged from the fact")
    val rolled = spark.read.parquet(s"$dir/monthly_amount_quantiles")
    assert(rolled.count() > 0)
    assert(rolled.filter($"p50_amount_est".isNull).count() == 0)
  }
}
