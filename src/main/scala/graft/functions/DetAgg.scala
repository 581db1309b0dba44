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
  * Cost: decimal aggregation is ~2-3× slower per value than double sum but
  * stays inside whole-stage codegen and partial (map-side) aggregation —
  * at scale the shuffle still carries one 16-byte value per group.
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

  /** Exact, order-independent sum; returns DECIMAL(38,6).
    *
    * Since the r17 optimization round this no longer buffers a
    * precision-38 decimal per group: a `sum(decimal(38,6))` stores its
    * accumulator as a serialized BigDecimal, so EVERY ROW pays a
    * BigDecimal.add plus a byte-array write-back into the aggregation
    * buffer — measured 1.3 s of q01's 1.8 s at sf0.1 (plain double
    * sums: 0.52 s). Instead each element converts ONCE to its exact
    * unscaled-micros long ([[graft.expressions.UnscaledMicros]] — the
    * identical `BigDecimal.valueOf(d).setScale(6, HALF_UP)` chain the
    * decimal cast runs, so the value is the cast's unscaled long to
    * the bit) and is split into three non-overflowing parts
    * (u>>44, (u>>22)&(2^22−1), u&(2^22−1) — a two's-complement
    * decomposition), each summed as a PLAIN LONG inside whole-stage
    * codegen's primitive fast path. The parts recombine per GROUP in
    * BigInteger ([[graft.expressions.Dec128FromParts]]), yielding the
    * identical DECIMAL(38,6).
    *
    * Exactness envelope: per-element |v| ≤ 9.2e12 (longValueExact
    * throws loudly beyond — callers are bounded at ~1e9 by the
    * cross-engine contract above anyway), ≤ 2.2e12 non-null elements
    * per group before a part sum could overflow (the documented
    * "sums of 1e12 values" design point; the wide-range x² legs of
    * [[dstddev]]/[[dvarPop]] stay on [[dsumWide]]). Associativity and
    * order-independence are inherited from integer addition, so the
    * result is bit-identical on local[32] and a 1000-executor cluster
    * — the same guarantee, ~3× cheaper per row. */
  def dsum(c: Column): Column = {
    val m = lit(0x3FFFFFL)
    val u = graft.expressions.UnscaledMicros(c)
    graft.expressions.Dec128FromParts(
      sum(shiftright(u, 44)),
      sum(shiftright(u, 22).bitwiseAND(m)),
      sum(u.bitwiseAND(m)))
  }

  /** The pre-r17 wide-range form: per-element decimal(38,6) cast,
    * decimal-buffered sum. Slower per row (BigDecimal add + buffer
    * serialization every row) but handles per-element magnitudes up to
    * 1e32 — the x² legs of [[dstddev]]/[[dvarPop]] and the integer
    * OLS product sums (q89's m·v, q113's x·y — bounded ≤ ~2e14 by
    * their own docs, beyond [[dsum]]'s 9.2e12) need it. Identical
    * result to [[dsum]] wherever both ranges admit the input. */
  def dsumWide(c: Column): Column = sum(c.cast(Dec))

  /** [[dsumWide]] as double — the wide-range twin of [[dsumD]]. */
  def dsumWideD(c: Column): Column = dsumWide(c).cast("double")

  /** Order-independent sum as double (single deterministic final cast). */
  def dsumD(c: Column): Column = dsum(c).cast("double")

  /** Order-independent average: exact decimal sum, one double division. */
  def davg(c: Column): Column = dsum(c).cast("double") / count(c)

  /** x² for the wide legs of [[dstddev]]/[[dvarPop]]: integral inputs
    * square as exact decimals ([[graft.expressions.WidenIntegral]]),
    * floating inputs in their own type. */
  private def square(c: Column): Column = {
    val w = graft.expressions.WidenIntegral(c)
    w * w
  }

  /** Order-independent sample stddev via exact decimal sums of x and x².
    * Shape mirrored exactly in [[sql.dstddev]] so the IEEE ops match.
    * The x² leg stays on the wide decimal path: squared magnitudes
    * exceed the fast path's unscaled-long range. */
  def dstddev(c: Column): Column = {
    val n  = count(c).cast("double")
    val s1 = dsum(c).cast("double")
    val s2 = dsumWide(square(c)).cast("double")
    when(count(c) > 1, sqrt((s2 - s1 * s1 / n) / (n - lit(1.0d))))
  }

  /** Order-independent population variance, same technique. */
  def dvarPop(c: Column): Column = {
    val n  = count(c).cast("double")
    val s1 = dsum(c).cast("double")
    val s2 = dsumWide(square(c)).cast("double")
    when(count(c) > 0, (s2 - s1 * s1 / n) / n)
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
