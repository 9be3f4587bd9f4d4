package graft.models

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Long-cents aggregation (guide §2.3 "narrower types" — the q24
  * pattern, generalized in r16). A grouped `sum` over DECIMAL(18,2)
  * money plans a DECIMAL(28,2) buffer — past Spark's compact-long limit
  * (18 digits) — so EVERY per-row buffer update round-trips a
  * byte-array-backed BigDecimal. Where bounds math proves a group's sum
  * fits in 64-bit cents, the aggregate sums [[cents]] instead — the
  * decimal's unscaled long (scale 2 ⇒ exact cents; `unscaled_long` is
  * catalyst's own `UnscaledValue`, the expression Spark's
  * `DecimalAggregates` rule routes small-precision decimal sums
  * through) — one codegen long add per row, and [[asMoney]]
  * reconstructs the EXACT decimal the replaced aggregate produced
  * (cent integers are exact; ×0.01 is an exact scale-2 decimal
  * multiply; the final cast restores the old Sum's result type so
  * downstream typing is unchanged). The double→DECIMAL(18,2) input
  * cast stays — its HALF_UP-on-shortest-repr rounding is the
  * cross-engine contract (see the oracle-parity notes) — only the
  * per-row aggregation op narrows.
  *
  * EVERY call site carries its own overflow proof. The blanket
  * convention (q24 scaladoc): money < 10^6 ⇒ < 10^8 cents/row, and a
  * calendar-day group at 100 TB holds ~10^9 fact rows ⇒ day sums
  * ≤ 10^17 cents — 92× inside Long.MaxValue ≈ 9.2×10^18; monthly
  * grains reach ~3×10^18 (3× margin — still inside, documented where
  * used). Groups NOT calendar-bounded (per-account lifetime sums, q21;
  * unbounded balance rollups) and bases whose proof fails outright
  * keep DECIMAL — or split the basis so each long stays inside the
  * proof (q08's hi/lo ten-thousandths). Posture past the proven bound:
  * the old decimal sum was exact (or overflowed a declared cast to
  * NULL); the long sum fails the query with ARITHMETIC_OVERFLOW under
  * the ANSI mode `GraftSession` pins (CentsEquivalenceSpec) — a run
  * that was correct becomes a run that fails, which is why a site
  * without a written proof must not convert.
  */
private[graft] object Cents {
  /** The unscaled long of a scale-2 decimal = exact cents. Null-safe
    * (null in → null out — same rows a decimal sum would skip). */
  def cents(money: Column): Column = call_function("unscaled_long", money)

  /** Summed cents back to the DECIMAL(precision,2) the replaced decimal
    * Sum (or its explicit output cast) produced — exact at any long
    * magnitude ((20,2) holds all 19 digits of a long at scale 2).
    * `long_to_decimal` is catalyst's MakeDecimal: it WRAPS the long
    * (no BigDecimal arithmetic), so even groups-≈-rows grains (q06's
    * (day, wallet)) pay nothing here. Runs once per GROUP, never per
    * row. */
  def asMoney(sumCents: Column, precision: Int = 38): Column =
    call_function("long_to_decimal", sumCents, lit(20), lit(2))
      .cast(DecimalType(precision, 2))
}
