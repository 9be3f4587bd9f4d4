package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.models.{RetentionModels, TxnModels}

/** The theta set-operation tier (`functions/ThetaSketch.scala`,
  * `models/RetentionModels.scala`): union and intersection estimates
  * against exact distinct-set algebra on real data, and the merge-is-
  * closed property the two-layer materialization depends on.
  */
class ThetaSketchSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"
  private def factTxn =
    graft.runner.ModelRegistry.sessionResolver(spark, sfDir)("fact_txn")
  // lgK=12 → 4096 nominal entries; RSE ≈ 1/sqrt(4096) ≈ 1.6%. Spec
  // tolerance 5× the RSE (≥5 sigma against flakiness) plus a small
  // absolute floor for near-exact small sets.
  private def tol(n: Double): Double = math.max(5.0, n * 0.08)

  test("weekly union estimates match exact distinct actives") {
    val fact = factTxn.cache()
    val weekly = RetentionModels
      .dailyWalletThetaSketches(fact)
      .groupBy(date_trunc("week", $"date_key").cast("date").as("week_start"))
      .agg(call_function("theta_estimate",
        call_function("theta_union_agg", $"sk_wallets")).as("est"))
      .collect().map(r => r.getDate(0).toString -> r.getDouble(1)).toMap
    val exact = fact
      .groupBy(date_trunc("week", $"date_key").cast("date").as("week_start"))
      .agg(countDistinct($"wallet_id").as("n"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(weekly.keySet == exact.keySet)
    for ((w, est) <- weekly) {
      assert(math.abs(est - exact(w)) <= tol(exact(w).toDouble),
        s"week $w: estimate $est vs exact ${exact(w)}")
    }
  }

  test("retention series brackets exact week-over-week intersections") {
    val fact = factTxn.cache()
    val series = RetentionModels.retentionSeries(fact)
      .collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(series.nonEmpty)
    // exact intersections via a distinct-set self-join per week pair
    val weeks = fact
      .select(date_trunc("week", $"date_key").cast("date").as("w"),
        $"wallet_id").distinct().cache()
    val exact = weeks.as("cur")
      .join(weeks.as("prev"),
        col("cur.wallet_id") === col("prev.wallet_id") &&
          col("cur.w") === col("prev.w") + expr("INTERVAL 7 DAYS"))
      .groupBy(col("cur.w").as("week_start"))
      .agg(count(lit(1)).as("retained"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(series.keySet == exact.keySet)
    for ((w, (prevEst, curEst, retainedEst)) <- series) {
      val t = exact(w)
      assert(math.abs(retainedEst - t) <= tol(t.toDouble),
        s"week $w: retained estimate $retainedEst vs exact $t")
      // internal consistency: overlap can't exceed either side (within
      // the estimates' own rounding)
      assert(retainedEst <= math.max(prevEst, curEst))
    }
  }

  test("retention DAG runs under the incremental runner; layer-1 exact") {
    val dir = java.nio.file.Files.createTempDirectory("theta-dag").toString
    val runner = new graft.runner.IncrementalRunner(spark, dir,
      java.time.LocalDate.parse("2024-03-01"))
    val sources: String => org.apache.spark.sql.DataFrame = {
      case "events" => graft.catalog.Tables.events(spark, sfDir)
      case other => graft.catalog.Tables.load(spark, sfDir, other)
    }
    runner.runAll(graft.runner.ModelRegistry.kreDag.take(1) ++
      graft.runner.ModelRegistry.retentionDag, sources)
    val daily = spark.read.parquet(s"$dir/daily_wallet_theta_sketches")
    val expected = factTxn
      .groupBy($"date_key").agg(count(lit(1)).as("expected_n"))
    val mismatched = daily
      .join(expected, Seq("date_key"), "full_outer")
      .filter($"txn_count".isNull || $"expected_n".isNull ||
        $"txn_count" =!= $"expected_n")
    assert(mismatched.isEmpty, "sketch-table grain diverged from the fact")
    val ret = spark.read.parquet(s"$dir/weekly_retention")
    assert(ret.count() > 0)
    assert(ret.filter($"retention_rate" < 0 || $"retention_rate" > 1.05)
      .count() == 0)
  }

  test("streaming twin emits batch-equal closed days (exact counts)") {
    val base = java.nio.file.Files.createTempDirectory("graft-stheta").toString
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    val ev = graft.catalog.Tables.events(spark, "/root/testdata/sf0.001")
    ev.coalesce(1).write.parquet(in)
    graft.streaming.StreamingModelRunner.catchUp(
      spark, "daily_wallet_theta_sketches", in, ck, out).awaitTermination()
    val streamed = spark.read.parquet(out)
      .select($"date_key".cast("string").as("d"), $"txn_count",
        call_function("theta_estimate", $"sk_wallets").as("est"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
    assert(streamed.nonEmpty)
    val batch = graft.models.RetentionModels.dailyWalletThetaSketches(
      TxnModels.factTxnFrom(spark.read.parquet(in)))
      .select($"date_key".cast("string").as("d"), $"txn_count",
        call_function("theta_estimate", $"sk_wallets").as("est"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    for ((d, (cnt, est)) <- streamed) {
      assert(batch(d)._1 == cnt, s"$d: stream count $cnt != batch")
      // same distinct set per day → estimates agree within the RSE band
      assert(math.abs(batch(d)._2 - est) <= tol(batch(d)._2),
        s"$d: stream estimate $est vs batch ${batch(d)._2}")
    }
  }

  test("theta union is closed over serialized rows (merge ≡ one pass)") {
    val fact = factTxn
    val onePass = fact
      .agg(call_function("theta_estimate",
        call_function("theta_sketch_agg", $"wallet_id"))).head().getDouble(0)
    val merged = RetentionModels.dailyWalletThetaSketches(fact)
      .agg(call_function("theta_estimate",
        call_function("theta_union_agg", $"sk_wallets"))).head().getDouble(0)
    val exact = fact.agg(countDistinct($"wallet_id")).head().getLong(0)
    assert(math.abs(onePass - exact) <= tol(exact.toDouble))
    assert(math.abs(merged - exact) <= tol(exact.toDouble))
  }
}
