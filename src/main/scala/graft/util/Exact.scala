package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Helpers for oracle-exact aggregation over doubles.
  *
  * Summing doubles distributed (partial aggregation across shuffle
  * partitions) is order-dependent, so a Spark `sum(double)` and a DuckDB
  * `SUM(double)` can differ in the last bits — enough to break a
  * hash-match gate. Routing the sum through a wide decimal makes it
  * exact and order-independent on both engines: the per-row double →
  * decimal(30,10) cast is deterministic (same IEEE double in, same
  * decimal out), decimal addition is exact, and the final decimal →
  * double cast is again deterministic.
  */
object Exact {
  /** Order-independent, engine-portable sum of a double column.
    * DuckDB mirror: CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE).
    *
    * Scale 6 (not higher) is deliberate: DuckDB's double→decimal cast
    * scales by 10^s in floating point, so for values around 1e5 a scale
    * of 10 pushes past 2^53 and the last decimal digit goes lossy.
    * All testdata value columns carry <= 4 true decimal places, so
    * scale 6 is exact on both engines. */
  def exactSum(c: Column): Column =
    sum(c.cast(DecimalType(30, 6))).cast(DoubleType)

  /** [[exactSum]] for terms with 9 decimals (products, ratios, trig
    * values), each rounded to 9 places first. DuckDB mirror:
    * CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(38,9))) AS DOUBLE). */
  def exactSum9(c: Column): Column =
    sum(round(c, 9).cast(DecimalType(38, 9))).cast("double")

  /** exactSum / count — portable mean.
    * DuckDB mirror: CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE)/COUNT(x). */
  def exactAvg(c: Column): Column =
    exactSum(c) / count(c)

  /** Driver-side mirrors of Spark SQL's round() on doubles (BigDecimal
    * HALF_UP over the shortest decimal representation) — for operators
    * that iterate on bounded collected state (Preference, Journey) and
    * must land on the exact value a SQL replay of `round(x, n)`
    * produces. */
  def round9(x: Double): Double =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  def round6(x: Double): Double =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}
