package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-engine-exact arithmetic helpers.
  *
  * Large floating-point SUMs are order-dependent: a 32-partition Spark
  * hash aggregate and a single-threaded oracle will disagree in the last
  * few ULPs, which breaks hash-equality checks. All fixture money-like
  * columns carry at most 2 decimal digits, so summing them as DECIMAL is
  * exact and engine-order-independent; the final CAST back to DOUBLE is
  * exact as long as the scaled integer magnitude stays below 2^53
  * (totals here are ≤ ~1e10 at scale 6 → ≤ 1e16 units; per-group totals
  * are far smaller).
  *
  * Every oracle SQL string mirrors these casts 1:1 (DuckDB DECIMAL
  * multiply widens precision the same way up to 38), so both engines do
  * the same exact integer arithmetic and produce bit-identical doubles.
  */
object Exact {
  /** 2-dp money column widened for exact decimal arithmetic. */
  def money(c: Column): Column = c.cast(DecimalType(12, 2))
  /** 2-dp rate column (discount/tax ∈ [0,1]). */
  def rate(c: Column): Column = c.cast(DecimalType(5, 2))

  /** Exact SUM of a 2-dp double column, returned as DOUBLE. */
  def dsum(c: Column): Column = sum(money(c)).cast(DoubleType)

  /** Exact AVG: decimal sum divided by count in double space — both
    * engines divide the same two exact numbers, so results are
    * bit-identical. (Decimal division itself rounds differently across
    * engines; double division does not.)
    */
  def davg(c: Column): Column =
    sum(money(c)).cast(DoubleType) / count(c)

  /** Exact SUM(price * (1 - disc)) — decimal(12,2)*decimal(6,2) stays
    * well inside 38 digits in both engines. */
  def dsumRevenue(price: Column, disc: Column): Column =
    sum(money(price) * (lit(1).cast(DecimalType(5, 2)) - rate(disc)))
      .cast(DoubleType)

  /** Exact SUM(price * (1 - disc) * (1 + tax)). */
  def dsumCharge(price: Column, disc: Column, tax: Column): Column =
    sum(money(price)
        * (lit(1).cast(DecimalType(5, 2)) - rate(disc))
        * (lit(1).cast(DecimalType(5, 2)) + rate(tax)))
      .cast(DoubleType)

  /** SQL fragments mirroring the above for the DuckDB oracle. */
  def sqlDsum(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(12,2))) AS DOUBLE)"
  def sqlDavg(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(12,2))) AS DOUBLE) / COUNT($col)"
  def sqlDsumRevenue(price: String, disc: String): String =
    s"CAST(SUM(CAST($price AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,2)) - CAST($disc AS DECIMAL(5,2)))) AS DOUBLE)"
  def sqlDsumCharge(price: String, disc: String, tax: String): String =
    s"CAST(SUM(CAST($price AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(5,2)) - CAST($disc AS DECIMAL(5,2))) * (CAST(1 AS DECIMAL(5,2)) + CAST($tax AS DECIMAL(5,2)))) AS DOUBLE)"
}
