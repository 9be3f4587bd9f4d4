package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.models.{CompositeModels, SketchModels}

/** The HLL-sketch scale path must track the exact rolling
  * active-accounts operator within sketch error. At sf0.01
  * cardinalities, lgConfigK=12 HLL is still in sparse/near-exact
  * territory, so the bound here is tight; the point of the spec is
  * that the two-layer sketch pipeline computes the SAME QUANTITY
  * (dedup across window, per role, 0 when a role is absent), not a
  * subtly different one.
  */
class SketchSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"
  private def factTxn =
    graft.runner.ModelRegistry.sessionResolver(spark, sfDir)("fact_txn")

  test("sketch MAU estimates track the exact operator (30-day, per app)") {
    val fact = factTxn
    val exact = CompositeModels.activeAccountsAppFrom(fact, 29)
    val est = SketchModels.activeAccountsAppSketch(fact, 29)
    val joined = exact.join(est, Seq("date_key", "app_id"))
      .select($"active_users", $"active_users_est",
        $"active_spenders", $"active_spenders_est",
        $"active_earners", $"active_earners_est")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(joined.nonEmpty)
    // same row set: every exact row has an estimate and vice versa
    assert(exact.count() == est.count())
    def ok(ex: Long, es: Long): Boolean =
      math.abs(es - ex) <= math.max(2L, (ex * 0.05).toLong)
    val bad = joined.filter { case (u, ue, s, se, e, ee) =>
      !(ok(u, ue) && ok(s, se) && ok(e, ee))
    }
    assert(bad.isEmpty, s"estimates off: ${bad.take(5).mkString(", ")}")
  }

  test("daily sketch layer is mergeable: union of per-day = multi-day") {
    // two days for one app; the union of the two daily sketches must
    // estimate the distinct union of wallets (the property incremental
    // materialization depends on: append days, never re-read raw)
    val fact = Seq(
      ("2024-01-01", 1L, 10L, "purchase"),
      ("2024-01-01", 1L, 11L, "purchase"),
      ("2024-01-02", 1L, 11L, "purchase"), // overlap
      ("2024-01-02", 1L, 12L, "view"))
      .toDF("dk", "app_id", "wallet_id", "txn_type")
      .select(to_date($"dk").as("date_key"), $"app_id", $"wallet_id",
        $"txn_type")
    val daily = SketchModels.dailyActiveSketches(fact)
    assert(daily.count() == 2)
    val unioned = daily.groupBy($"app_id")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk_users))").as("u"),
        expr("hll_sketch_estimate(hll_union_agg(sk_spenders))").as("s"))
      .select($"u", $"s").as[(Long, Long)].head()
    assert(unioned == ((3L, 2L))) // wallets {10,11,12}; spenders {10,11}
  }
}
