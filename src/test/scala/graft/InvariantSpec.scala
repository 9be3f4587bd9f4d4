package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.models._

/** KRE pipeline invariants over real outputs (SURVEY §5.3): properties
  * that must hold for ANY input data, checked against sf0.001.
  */
class InvariantSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._
  val sfDir = "/root/testdata/sf0.001"
  private def model(name: String) =
    graft.runner.ModelRegistry.sessionResolver(spark, sfDir)(name)

  test("payout shares are in [0,1] and post-monopoly top share <= 2/3") {
    val p = model("daily_payout").cache()
    val bad = p.filter($"post_monopoly_share" < 0 ||
      $"post_monopoly_share" > 1 || $"pre_monopoly_share" < 0 ||
      $"pre_monopoly_share" > 1)
    assert(bad.count() == 0)
    val topPost = p.groupBy($"date_key")
      .agg(max($"post_monopoly_share").as("top"))
      .filter($"top" > lit(2.0 / 3.0) + 0.000001)
    assert(topPost.count() == 0) // the 50% rule caps s1' at 2/3
    p.unpersist(); ()
  }

  test("per-date post-monopoly shares sum to <= 1 (+rounding)") {
    val sums = model("daily_payout")
      .groupBy($"date_key")
      .agg(sum($"post_monopoly_share".cast("double")).as("s"))
    assert(sums.filter($"s" > 1.000001).count() == 0)
  }

  test("capped_aub <= active_users * cap and <= aub") {
    val a = model("active_user_balance")
    assert(a.filter($"capped_aub" > $"aub").count() == 0)
    assert(a.filter(
      $"capped_aub" > ($"active_users" * 1000).cast("decimal(38,2)"))
      .count() == 0)
  }

  test("volatility factor is non-negative and average_price positive") {
    val v = model("volatility_factor")
    assert(v.filter($"volatility_factor" < 0).count() == 0)
    assert(v.filter($"average_price" <= 0).count() == 0)
  }

  test("rolling 7d actives >= daily actives for every day") {
    val daily = model("daily_distinct_wallets")
      .select($"date_key", $"active_wallets".as("d"))
    val rolling = ActivityModels.rolling7dActive(model("fact_txn"))
      .select($"date_key", $"active_wallets_7d".as("r"))
    assert(daily.join(rolling, Seq("date_key"))
      .filter($"r" < $"d").count() == 0)
  }

  test("LSH candidate pairs have Jaccard consistent with band sharing") {
    // any pair sharing an exact minhash band must share >= 1 shingle
    val pairs = DedupModels.lshNearDupPairs(spark, sfDir)
    assert(pairs.filter($"inter_count" <= 0).count() == 0)
    assert(pairs.filter($"jaccard" > 1 || $"jaccard" < 0).count() == 0)
  }
}
