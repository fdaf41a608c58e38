package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact-arithmetic helpers.
  *
  * Double summation is order-dependent across shuffle partitions, so
  * every money-ish aggregate sums the exact unscaled int64 of the
  * DECIMAL value *before* converting: integer addition is
  * associative/commutative, which makes results identical regardless
  * of partitioning — a requirement both for the DuckDB oracle
  * hash-match and for run-to-run determinism on a real cluster.
  */
object Exact {
  // ---- unscaled-long path (round 8) ------------------------------------
  //
  // The decimal chain it replaced (cast each money column to DECIMAL,
  // multiply, sum) is EXACT but pays a per-row Decimal allocation per
  // cast plus a decimal multiply per arithmetic step — measured 3x the
  // whole-query wall on q01 at sf1 (1.4 s → 0.45 s, the scan floor).
  // For NON-NEGATIVE 2-dp-generated double sources (all money/length columns in this schema; nothing
  // here is ever negative) the same unscaled integers are reachable
  // with pure double→long codegen:
  //
  //   cast(x·100 + 0.5 as long)  ==  floor(x·100 + 0.5)   (x ≥ 0)
  //                              ==  round-half-up(x·100)
  //                              ==  unscaled(CAST(x AS DECIMAL(12,2)))
  //
  // (the double of a 2-dp value times 100 lands within 1e-9 of the
  // integer k, never at a .5 tie, so every rounding mode agrees; the
  // +0.5-floor form is what the decimal cast's HALF_UP computes).
  // Products of unscaled ints are the EXACT unscaled values of the
  // decimal products (2dp×2dp is exactly 4dp — no rounding happens in
  // the decimal chain either), so the long sums are bit-identical to
  // the oracle's decimal sums and the oracle SQL keeps the decimal
  // form unchanged.
  // round() is NOT used because Spark codegens it as a per-value
  // java.math.BigDecimal.setScale — the allocation this path removes.

  /** Unscaled 2-dp int64 of a non-negative 2-dp double: exactly the
    * unscaled value of the oracle's `CAST(c AS DECIMAL(12,2))`, zero
    * per-row allocations. */
  def u2(c: Column): Column = (c * lit(100) + lit(0.5)).cast("long")

  /** price·(1−disc) as its exact scale-4 unscaled int64 (== the
    * unscaled value of the oracle's
    * `CAST(price AS DECIMAL(12,2)) * (1 - CAST(disc AS DECIMAL(4,2)))`). */
  def discPriceU(price: Column, disc: Column): Column =
    u2(price) * (lit(100L) - u2(disc))

  /** price·(1−disc)·(1+tax) as its exact scale-6 unscaled int64 (== the
    * unscaled value of the oracle's decimal product
    * `… * (1 + CAST(tax AS DECIMAL(4,2)))`). */
  def chargeU(price: Column, disc: Column, tax: Column): Column =
    discPriceU(price, disc) * (lit(100L) + u2(tax))

  /** Sum of scale-`scale` unscaled int64s emitted as DOUBLE —
    * bit-identical to the oracle's CAST(SUM(decimal) AS DOUBLE) while
    * the unscaled sum stays below 2^53 (10^15 at 2 dp — ANSI mode
    * faults loudly on int64 overflow long before results could
    * silently drift): the division then reproduces bit-for-bit the
    * decimal-sum-then-cast value. */
  def sumU(c: Column, scale: Int): Column =
    sum(c).cast("double") / lit(math.pow(10, scale))

  /** 2-dp sum emitted as DOUBLE, empty group → 0.0 (mirror
    * with CAST(COALESCE(SUM(CAST(x AS DECIMAL(12,2))),0) AS DOUBLE)
    * in oracle SQL). Long-path form of the original decimal version. */
  def sumD2(c: Column): Column =
    coalesce(sumU(u2(c), 2), lit(0.0))
}
