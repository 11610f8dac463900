package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine numeric parity helpers.
  *
  * Double-typed SUMs are order-dependent (floating-point addition is not
  * associative), so a Spark shuffle-ordered sum and a DuckDB sequential sum
  * can differ in the last ulp. To make the DuckDB-oracle hash compare exact
  * we sum in DECIMAL (exact, order-independent) and render the final value
  * back as DOUBLE — a single, deterministic rounding on both engines.
  */
object Parity {
  def dec(c: Column, scale: Int = 2): Column = c.cast(DecimalType(18, scale))

  /** Exact decimal sum of a (double) column, rendered back as double.
    * Oracle-side equivalent: CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE).
    */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")
}
