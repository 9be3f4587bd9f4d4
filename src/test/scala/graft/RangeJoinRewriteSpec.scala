package graft

import java.sql.Date
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The §4-optional planner component: a naive constant-width BETWEEN
  * range join — which Spark plans as a BroadcastNestedLoopJoin — must
  * become the explode-to-equi linear plan under `RangeJoinRewrite`,
  * with identical results and surviving extra conjuncts.
  *
  * Two sessions: `ruled` is the standard GraftSession bootstrap (rule
  * installed, as Verify/Bench run); `bare` (`TestSpark.bare`) shows
  * Spark's native nested-loop plan for the same query — the before
  * side of each before/after pair, and the source of expected rows.
  */
class RangeJoinRewriteSpec extends AnyFunSuite {
  val ruled: SparkSession = TestSpark.spark
  val bare: SparkSession = TestSpark.bare

  private def day(i: Int): Date =
    Date.valueOf(LocalDate.parse("2024-01-01").plusDays(i.toLong))

  private def price(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 60).map(i => (day(i), i * 1.0)).toDF("date_key", "price")
  }
  private def anchors(s: SparkSession): DataFrame = {
    import s.implicits._
    (30 until 60).map(i => Tuple1(day(i))).toDF("anchor_date")
  }
  // anchors with a tail past the price calendar — outer-join tests need
  // preserved rows with genuinely no match in their window
  private def anchorsWithGap(s: SparkSession): DataFrame = {
    import s.implicits._
    ((30 until 60) ++ (100 until 105)).map(i => Tuple1(day(i)))
      .toDF("anchor_date")
  }

  private def naiveRangeJoin(s: SparkSession,
      extra: Boolean = false): DataFrame = {
    import s.implicits._
    val cond = $"date_key" >= date_sub($"anchor_date", 29) &&
      $"date_key" <= $"anchor_date"
    price(s).join(anchors(s), if (extra) cond && $"price" > 5.0 else cond)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("BETWEEN join becomes explode-to-equi: no nested loop, same rows") {
    val before = naiveRangeJoin(bare)
    assert(before.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val after = naiveRangeJoin(ruled)
    val phys = after.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") &&
      !phys.contains("CartesianProduct"), phys)
    assert(phys.contains("Generate"), phys)
    assert(rows(after) == rows(before))
    // each of the 30 anchors sees exactly its 30-day window
    assert(after.count() == 30L * 30L)
  }

  test("extra conjuncts survive the rewrite") {
    val expected = rows(naiveRangeJoin(bare, extra = true))
    val after = naiveRangeJoin(ruled, extra = true)
    assert(!after.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    assert(rows(after) == expected)
  }

  private def naiveShiftedJoin(s: SparkSession): DataFrame = {
    import s.implicits._
    // the reference's weekly-payout window shape: d BETWEEN a-8 AND a-2
    price(s).join(anchors(s), $"date_key" >= date_sub($"anchor_date", 8) &&
      $"date_key" <= date_sub($"anchor_date", 2))
  }

  test("shifted BETWEEN window (a-k1 .. a-k2) rewrites too") {
    val before = naiveShiftedJoin(bare)
    assert(before.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val after = naiveShiftedJoin(ruled)
    val phys = after.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") &&
      !phys.contains("CartesianProduct"), phys)
    assert(phys.contains("Generate"), phys)
    assert(rows(after) == rows(before))
    // each of the 30 anchors sees exactly its 7-day shifted window
    assert(after.count() == 30L * 7L)
  }

  test("q29 weekly payout plans with no nested-loop join (rule not needed)") {
    // the hand-written model derives each payout row's unique served
    // Monday as a scalar (week(d+8)) — the last BNLJ in the repo, gone
    val plan = SparkEntry.rawQueries("q29_kre_weekly_payout")(
        ruled, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  // the reference's left-range shape (daily_active_user_balance_by_app
  // .sql:47-49): preserved anchors LEFT JOIN date-carrying rows. The
  // 100.. anchors sit past the price calendar, so they must survive as
  // exactly one null-extended row each.
  private def naiveLeftRangeJoin(s: SparkSession): DataFrame = {
    import s.implicits._
    anchorsWithGap(s).join(price(s),
      $"date_key" >= date_sub($"anchor_date", 29) &&
        $"date_key" <= $"anchor_date",
      "left")
  }

  test("LEFT range join rewrites when the date side is non-preserved") {
    val before = naiveLeftRangeJoin(bare)
    assert(before.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    val after = naiveLeftRangeJoin(ruled)
    val phys = after.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") &&
      !phys.contains("CartesianProduct"), phys)
    assert(phys.contains("Generate"), phys)
    assert(rows(after) == rows(before))
    // 30 matched anchors × 30-day window + 5 unmatched anchors kept
    // as exactly one null-extended row each
    assert(after.count() == 30L * 30L + 5L)
  }

  test("RIGHT range join rewrites when the date side is non-preserved") {
    def naive(s: SparkSession): DataFrame = {
      import s.implicits._
      price(s).join(anchorsWithGap(s),
        $"date_key" >= date_sub($"anchor_date", 29) &&
          $"date_key" <= $"anchor_date",
        "right")
    }
    val expected = rows(naive(bare))
    val after = naive(ruled)
    val phys = after.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") &&
      !phys.contains("CartesianProduct"), phys)
    assert(rows(after) == expected)
  }

  test("outer range join with the date on the PRESERVED side stays put") {
    // exploding the preserved side would emit spurious null-extended
    // copies for partially-matched rows — the rule must not touch it
    def naive(s: SparkSession): DataFrame = {
      import s.implicits._
      price(s).join(anchors(s),
        $"date_key" >= date_sub($"anchor_date", 29) &&
          $"date_key" <= $"anchor_date",
        "left")
    }
    val after = naive(ruled)
    assert(!after.queryExecution.optimizedPlan.toString.contains("Generate"))
    assert(rows(after) == rows(naive(bare)))
  }

  test("non-range joins and open-ended ranges are left untouched") {
    import ruled.implicits._
    // plain equi join: no Generate must appear
    val equi = price(ruled).join(anchors(ruled),
      $"date_key" === $"anchor_date")
    assert(!equi.queryExecution.optimizedPlan.toString.contains("Generate"))
    // one-sided range (no lower bound): not rewritable, still correct
    val open = price(ruled).join(anchors(ruled),
      $"date_key" <= $"anchor_date")
    assert(!open.queryExecution.optimizedPlan.toString.contains("Generate"))
    assert(open.count() == (30 until 60).map(i => i + 1).sum.toLong)
  }
}
