package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r16 long-cents aggregation rewrites (graft.models.Cents,
  * q08's hi/lo split, the t07/t08/t11 micros fold, the ADC long fold)
  * row-identical to the decimal formulations they replaced —
  * independent of the DuckDB oracle, on crafted frames that exercise
  * the edges the bounds proofs call out: negatives, nulls on one or
  * both operands, all-null groups, and values at the top of the
  * documented magnitude envelope.
  */
class CentsEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.models.Cents

  private val Money = DecimalType(18, 2)

  test("asMoney(sum(cents(x))) equals sum(x) for nulls, negatives, and 10^8-cent rows") {
    val rows = Seq[(String, java.lang.Double)](
      ("a", 1.01), ("a", -999.85), ("a", 999999.99), ("a", null),
      ("b", null), ("b", null), // all-null group -> NULL sum
      ("c", 0.0), ("c", 0.005), // HALF_UP cast edge off the double
      ("d", 104999.91)).toDF("k", "v")
      .withColumn("amount", $"v".cast(Money))
    val dec = rows.groupBy($"k")
      .agg(sum($"amount").cast(DecimalType(38, 2)).as("s"))
    val lng = rows.groupBy($"k")
      .agg(Cents.asMoney(sum(Cents.cents($"amount"))).as("s"))
    assert(dec.exceptAll(lng).isEmpty && lng.exceptAll(dec).isEmpty)
  }

  test("q08 hi/lo split equals the decimal two-side sum, null sides included") {
    // lineitem-shaped: null price nulls both sides; null discount nulls
    // only side B — the exact conditions the when/coalesce algebra
    // distinguishes
    val li = Seq[(String, java.lang.Double, java.lang.Double)](
      ("2024-01-01", 900.68, 0.10), ("2024-01-01", 104999.91, 0.0),
      ("2024-01-01", null, 0.05), // both sides null
      ("2024-01-02", 1000.0, null), // side B null, side A live
      ("2024-01-03", null, null) // group all-null on both sides
    ).toDF("d", "p", "disc")
      .select(to_timestamp($"d").as("l_shipdate"),
        $"p".as("l_extendedprice"), $"disc".as("l_discount"))
    val got = graft.models.TpchModels.unionAllBalancesFrom(li)
    // the replaced decimal formulation, verbatim
    val exp = li.select(to_date($"l_shipdate").as("date_key"),
      $"l_extendedprice".cast(Money).cast(DecimalType(24, 4)).as("bal_a"),
      ($"l_extendedprice".cast(Money) *
        (lit(1d) - $"l_discount").cast(DecimalType(4, 2)))
        .cast(DecimalType(24, 4)).as("bal_b"))
      .groupBy($"date_key")
      .agg((count(lit(1)) * 2).as("obs_count"),
        when(sum($"bal_a").isNull && sum($"bal_b").isNull, lit(null))
          .otherwise(
            coalesce(sum($"bal_a"), lit(0).cast(DecimalType(24, 4))) +
              coalesce(sum($"bal_b"), lit(0).cast(DecimalType(24, 4))))
          .as("bal_sum"))
      .withColumn("avg_balance",
        (expr("cast(bal_sum * 1000000 as bigint) div obs_count")
          .cast(DecimalType(20, 0)) *
          lit(new java.math.BigDecimal("0.000001")).cast(DecimalType(7, 6)))
          .cast(DecimalType(24, 6)))
      .select($"date_key", $"obs_count", $"avg_balance")
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty)
  }

  test("long_to_decimal(sum(unscaled_long(x)), 28, 6) equals sum(x) for signed 6dp decimals") {
    val rows = Seq[(Long, java.lang.Double)](
      (1L, -12.345678), (1L, -0.000001), (1L, 3.5),
      (2L, -99.999999), (2L, -99.999999))
      .toDF("doc", "v")
      .withColumn("logp", round($"v", 6).cast(DecimalType(18, 6)))
    val dec = rows.groupBy($"doc").agg(sum($"logp").as("s"))
    val lng = rows.groupBy($"doc")
      .agg(call_function("long_to_decimal",
        sum(call_function("unscaled_long", $"logp")), lit(28), lit(6))
        .as("s"))
    assert(dec.exceptAll(lng).isEmpty && lng.exceptAll(dec).isEmpty)
    // and the micros long itself matches the old (x * 1e6).cast(long) idiom
    val a = rows.select(call_function("unscaled_long", $"logp").as("m"))
    val b = rows.select(($"logp" * 1000000).cast(LongType).as("m"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("the long ADC fold equals a decimal sum over the same LUT slots") {
    // 8 subspaces, k=4: codes pick one slot per subspace; the packed
    // long fold must reproduce the decimal per-(row) sum exactly
    val k = 4
    val lutVals = (0 until 8 * k).map(i =>
      BigDecimal((i * 7919 % 997) - 498) / BigDecimal(1000000000L) * 511)
    val lutLong = lutVals.map(v =>
      (v.setScale(9, BigDecimal.RoundingMode.HALF_UP)
        * BigDecimal(1000000000L)).toLongExact)
    val codes = Seq(Seq(0L, 1L, 2L, 3L, 0L, 1L, 2L, 3L),
      Seq(3L, 3L, 3L, 3L, 3L, 3L, 3L, 3L))
    val df = codes.toDF("codes")
      .withColumn("lut", typedLit(lutLong))
    // expected: decimal sum of the selected 9dp values
    val expected = codes.map { cs =>
      cs.zipWithIndex.map { case (c, m) =>
        BigDecimal(lutLong(m * k + c.toInt)) / BigDecimal(1000000000L)
      }.sum.setScale(9)
    }
    val terms = (0 until 8).map { i =>
      element_at($"lut",
        (element_at($"codes", i + 1) + lit(i.toLong * k + 1))
          .cast(IntegerType))
    }
    val folded = df.select(
      call_function("long_to_decimal",
        terms.reduce(_ + _), lit(28), lit(9)).as("adc"))
      .as[java.math.BigDecimal].collect().toSeq
    assert(folded.map(BigDecimal(_)) == expected)
  }

  test("a Cents long sum past Long.MaxValue raises ARITHMETIC_OVERFLOW (ANSI pinned)") {
    // out of contract on purpose: ten DECIMAL(18,2) maxima are ~10^19
    // cents, past Long.MaxValue ≈ 9.2×10^18 — under the pinned ANSI the
    // long buffer must fail the query, never wrap into a wrong total
    val max = new java.math.BigDecimal("9999999999999999.99")
    val rows = Seq.fill(10)(max).toDF("v")
      .withColumn("amount", $"v".cast(Money))
    val e = intercept[Exception] {
      rows.agg(Cents.asMoney(sum(Cents.cents($"amount")))).collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => String.valueOf(t.getMessage)
      .contains("ARITHMETIC_OVERFLOW")), e.toString)
  }
}
