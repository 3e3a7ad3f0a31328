package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Row-level coercion expressions with the reference's exact null/garbage
  * semantics (ssg-etl `dags/hanger_lane.py:380-433`, SURVEY §2.3 F16-F19).
  *
  * The reference coerces each row in driver-side Python; here each guard is a
  * pure codegen-friendly `Column` expression, so the same semantics run
  * vectorized inside whole-stage codegen with no UDF.
  */
object Coercions {

  /** F17: `int(x) if x and str(x).isdigit() else 0`.
    *
    * Faithfully quirky: `isdigit` rejects signs and decimals, so "-5" and
    * "3.2" coerce to the default — observable reference behavior
    * (`dags/hanger_lane.py:384`), preserved deliberately. `try_cast` keeps
    * the guard total under ANSI mode (Spark 4 default) without a UDF.
    */
  def digitGuardInt(c: Column, default: Int = 0): Column =
    // outer coalesce: an all-digit string beyond int range overflows
    // try_cast to null — the guard stays total and yields the default
    coalesce(when(c.cast("string").rlike("^[0-9]+$"), c.cast("string").try_cast("int"))
      .otherwise(lit(default)), lit(default))

  /** F17: `float(x) or 0.0` — null/unparsable/zero all collapse to default. */
  def floatOrDefault(c: Column, default: Double = 0.0): Column = {
    val d = c.try_cast("double")
    when(d.isNotNull && d =!= 0.0, d).otherwise(lit(default))
  }

  /** F17: `str(x) or None` — empty string becomes null. */
  def strOrNull(c: Column): Column = {
    val s = c.cast("string")
    when(s.isNotNull && s =!= "", s)
  }

  /** F17: `bool(x)` with null → false. */
  def boolOrFalse(c: Column): Column =
    coalesce(c.try_cast("boolean"), lit(false))

  /** F18: `astype(float).astype(int)` chain
    * (`dags/automate_etl_with_airflow.py:131-132`). */
  def floatThenInt(c: Column): Column =
    c.try_cast("double").try_cast("int")
}
