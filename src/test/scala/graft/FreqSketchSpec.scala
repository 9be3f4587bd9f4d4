package graft

import java.time.LocalDate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.models.FreqModels

/** The heavy-hitters sketch tier (`functions/FreqSketch.scala`,
  * `models/FreqModels.scala`, `ModelRegistry.freqDag`): the published
  * frequent-items guarantees over real data, the merge-is-closed
  * property the two-layer materialization depends on, and the DAG under
  * the incremental runner.
  */
class FreqSketchSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"
  private def factTxn =
    graft.runner.ModelRegistry.sessionResolver(spark, sfDir)("fact_txn")

  test("no false negatives above the bound; estimates within maxError") {
    val fact = factTxn
    val rolled = FreqModels.rollingTopWallets(fact, 29, k = 20).cache()
    // exact rolling counts for the LAST anchor (cheap at spec scale)
    val anchor = rolled.agg(max($"date_key")).head().getDate(0)
    val exact = fact
      .filter($"date_key" > date_sub(lit(anchor), 30) &&
        $"date_key" <= lit(anchor))
      .groupBy($"wallet_id").agg(count(lit(1)).as("true_count"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val row = rolled.filter($"date_key" === lit(anchor)).head()
    val top = row.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(top.nonEmpty)
    // the sketch's error bound: estimate - lower_bound ≤ maxError, and
    // estimate must bracket the true count from above within it
    for ((item, est, lb) <- top) {
      val t = exact.getOrElse(item, 0L)
      assert(t <= est, s"wallet $item: estimate $est below true $t")
      assert(lb <= t, s"wallet $item: lower bound $lb above true $t")
    }
    // no-false-negatives: every wallet whose true count exceeds the
    // worst estimate's slack must be present in a k=|wallets| read
    val all = FreqModels.rollingTopWallets(fact, 29, k = 1000000)
      .filter($"date_key" === lit(anchor)).head()
      .getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0)).toSet
    val maxErr = top.map { case (_, est, lb) => est - lb }.max
    val missed = exact.filter { case (w, c) => c > maxErr && !all.contains(w) }
    assert(missed.isEmpty, s"true heavy hitters missing: $missed")
  }

  test("merging daily sketches ≡ one pass within the error bound") {
    val fact = factTxn
    // one-pass sketch over the whole fact vs merge of the daily layer
    val onePass = fact.agg(
      call_function("freq_sketch_agg", $"wallet_id").as("sk"))
      .select(call_function("freq_stream_n", $"sk")).head().getLong(0)
    val merged = FreqModels.dailyWalletFreqSketches(fact)
      .agg(call_function("freq_merge_agg", $"sk_wallets").as("sk"))
      .select(call_function("freq_stream_n", $"sk")).head().getLong(0)
    // stream length is tracked exactly and merges losslessly
    assert(onePass == merged)
    assert(merged == fact.count())
  }

  test("string sketch: top tokens bracket t06's exact counts per language") {
    val docs = graft.catalog.Tables.documents(spark, "/root/testdata/sf0.001")
    val sketched = FreqModels.topTokensFromSketches(
      FreqModels.tokenFreqSketches(docs), k = 5)
    // t06's exact counts over the same tokenization
    val exact = graft.models.TextModels
      .heavyHitters(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getString(2)) -> r.getLong(3)).toMap
    val rows = sketched.collect()
    assert(rows.nonEmpty)
    for (row <- rows; hh <- row.getSeq[org.apache.spark.sql.Row](1)) {
      val (lang, token, est, lb) =
        (row.getString(0), hh.getString(0), hh.getLong(1), hh.getLong(2))
      // exact map covers only top-HeavyK per lang; check bracketing
      // wherever the exact count is known
      exact.get((lang, token)).foreach { t =>
        assert(t <= est, s"($lang,$token): estimate $est below exact $t")
        assert(lb <= t, s"($lang,$token): lower bound $lb above exact $t")
      }
    }
  }

  test("freq DAG runs under the incremental runner; layer-1 counts exact") {
    val dir = java.nio.file.Files.createTempDirectory("freq-dag").toString
    val runner = new graft.runner.IncrementalRunner(spark, dir,
      LocalDate.parse("2024-03-01"))
    val sources: String => org.apache.spark.sql.DataFrame = {
      case "events" => graft.catalog.Tables.events(spark, sfDir)
      case other => graft.catalog.Tables.load(spark, sfDir, other)
    }
    runner.runAll(graft.runner.ModelRegistry.kreDag.take(1) ++
      graft.runner.ModelRegistry.freqDag, sources)
    val daily = spark.read.parquet(s"$dir/daily_wallet_freq_sketches")
    val expected = factTxn
      .groupBy($"date_key").agg(count(lit(1)).as("expected_n"))
    val mismatched = daily
      .join(expected, Seq("date_key"), "full_outer")
      .filter($"txn_count".isNull || $"expected_n".isNull ||
        $"txn_count" =!= $"expected_n")
    assert(mismatched.isEmpty, "sketch-table grain diverged from the fact")
    val rolled = spark.read.parquet(s"$dir/monthly_top_wallets")
    assert(rolled.count() > 0)
    assert(rolled.filter(size($"top_wallets") === 0).count() == 0)
  }
}
