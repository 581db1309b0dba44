package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic (order-independent) aggregates over floating-point columns.
  *
  * Summing doubles is order-dependent: with N partitions the partial-sum
  * combine order varies run to run, so `sum(double)` is not reproducible —
  * a correctness hazard for any engine that retries/replans tasks (AQE,
  * speculative execution) and a blocker for oracle comparison. The fix is
  * the classic one: cast each addend to a fixed-scale decimal *before*
  * summing. Decimal addition is exact and associative, so the result is
  * bit-identical regardless of partitioning — on `local[32]` and on a
  * 1000-executor cluster alike.
  *
  * Each helper has an exact ANSI-SQL twin (see [[sql]]) so DuckDB computes
  * the identical value: the per-element double→decimal cast rounds to
  * nearest (no double lands exactly on a decimal tie, so HALF_UP vs
  * HALF_EVEN cannot diverge), decimal sums are exact, and the final
  * decimal→double / double arithmetic is IEEE-identical when the
  * expression shape matches.
  *
  * Cost: the exact sum ([[graft.expressions.DetSum]]) converts each
  * element once to its unscaled decimal value and sums primitive longs
  * inside whole-stage codegen and partial (map-side) aggregation; at
  * scale the shuffle carries five buffer fields (four longs and a flag)
  * per sum per group.
  */
object DetAgg {
  /** 6 fractional digits; 32 integral digits — enough for sums of 1e12
    * values of magnitude 1e12 without overflow.
    *
    * Cross-engine caveat (input side): keep per-element magnitudes below
    * ~1e9. A double's shortest decimal representation carries ~17
    * significant digits, and Java's double→BigDecimal conversion rounds
    * via that representation while DuckDB rounds the exact binary value —
    * above ~1e11 the 6th fraction digit can differ between engines.
    * Normalize large values (e.g. epoch micros → day fraction) before
    * aggregating. (The OUTPUT side — decimal sum back to double — is
    * exact at every magnitude; see [[sql.dsumD]] for the DuckDB subtlety.) */
  val Dec: DecimalType = DecimalType(38, 6)

  /** Exact, order-independent sum; returns DECIMAL(38,6), bit-identical
    * to `sum(CAST(c AS DECIMAL(38,6)))` ([[sql.dsum]]) over the whole
    * DECIMAL(38,6) range: one [[graft.expressions.DetSum]] aggregate,
    * which converts each element once to its 128-bit unscaled value and
    * sums primitive longs inside whole-stage codegen. An element or a
    * group total beyond DECIMAL(38,6) throws, never wraps. Works as a
    * window function too (`dsum(c).over(w)`). */
  def dsum(c: Column): Column = graft.expressions.DetSum(c)

  /** Order-independent sum as double (single deterministic final cast). */
  def dsumD(c: Column): Column = dsum(c).cast("double")

  /** Order-independent average: exact decimal sum, one double division. */
  def davg(c: Column): Column = dsum(c).cast("double") / count(c)

  /** x² for the x² leg of [[dstddev]]: integral inputs
    * square as exact decimals ([[graft.expressions.WidenIntegral]]),
    * floating inputs in their own type. */
  private def square(c: Column): Column = {
    val w = graft.expressions.WidenIntegral(c)
    w * w
  }

  /** Order-independent sample stddev via exact decimal sums of x and x².
    * Shape mirrored exactly in [[sql.dstddev]] so the IEEE ops match. */
  def dstddev(c: Column): Column = {
    val n  = count(c).cast("double")
    val s1 = dsum(c).cast("double")
    val s2 = dsum(square(c)).cast("double")
    when(count(c) > 1, sqrt((s2 - s1 * s1 / n) / (n - lit(1.0d))))
  }

  /** ANSI-SQL twins for DuckDB oracle queries. `e` is the SQL expression
    * string for the aggregated value. */
  object sql {
    def dsum(e: String): String  = s"sum(CAST(($e) AS DECIMAL(38,6)))"
    /** The final decimal→double goes through VARCHAR: DuckDB's direct
      * DECIMAL→DOUBLE cast converts the scaled int128 to double BEFORE
      * unscaling, so any sum whose scaled value exceeds 2^53 (i.e. sum >
      * ~9e9 at scale 6) loses its low bits. Parsing the exact decimal
      * string rounds correctly to nearest — matching Java's
      * BigDecimal→double on the Spark side at every magnitude. */
    def dsumD(e: String): String = s"CAST(CAST(${dsum(e)} AS VARCHAR) AS DOUBLE)"
    def davg(e: String): String  = s"(${dsumD(e)} / count($e))"
    def dstddev(e: String): String = {
      val n  = s"CAST(count($e) AS DOUBLE)"
      val s1 = dsumD(e)
      // integral e promotes to an exact decimal before squaring (the
      // WidenIntegral twin); a double plus the decimal zero stays double
      val w  = s"(($e) + CAST(0 AS DECIMAL(19,0)))"
      val s2 = dsumD(s"$w * $w")
      s"CASE WHEN count($e) > 1 THEN sqrt(($s2 - $s1 * $s1 / $n) / ($n - 1.0)) END"
    }
  }
}
