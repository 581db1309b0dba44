package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector primitives over `array<float>` embedding columns, built from
  * Spark's higher-order functions (zip_with / aggregate / transform) —
  * codegen'd, no UDF, no serialization off the Tungsten rows.
  *
  * All arithmetic is double-precision after an explicit element cast, so
  * results don't depend on whether the source column was float or double.
  */
object VectorOps {

  /** Element-wise cast to double. */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Dot product — a codegen'd Catalyst expression
    * ([[graft.expressions.VecDot]]); same sequential fold order as the
    * higher-order-function formulation but ~100× faster per pair, which
    * is what makes all-pairs similarity feasible at bench scale. */
  def dot(a: Column, b: Column): Column = graft.expressions.VecDot(a, b)

  /** Interpreted reference implementation (used in tests to pin VecDot's
    * semantics to the composable form). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), _ * _), lit(0.0d), _ + _)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, rounded to `scale` decimals. Rounding makes the
    * value portable across engines/fold orders (differences live at the
    * 1e-15 level; 6 decimals is far above it). */
  def cosine(a: Column, b: Column, scale: Int = 6): Column =
    round(dot(a, b) / (norm(a) * norm(b)), scale)

  /** Hyperplane signatures support vectors up to this many dims (the sign
    * matrices are baked as plan literals of this length). */
  val MaxSigDims = 1024

  /** Random-hyperplane LSH signature: the sign of plane p at dim j is the
    * parity of the first md5 hex nibble of "p|j", so every executor (and
    * every run) builds the same planes with zero driver-side state to
    * broadcast — and the sign is identically computable in ANSI
    * SQL/DuckDB, which is what gives q39 a full value-hash oracle. Bit
    * p = 1 iff sum_j v_j * sign(p, j) > 0. The float fold order matters
    * for the sign test at the last ulp: both Spark's `aggregate` and
    * DuckDB's `list_sum` are strict sequential left folds (verified
    * bit-exact over every (vector, plane) pair in the test corpus).
    *
    * The sign of (plane, dim) does not depend on the row, so the matrix
    * is evaluated ONCE on the driver and embedded as array literals —
    * the per-row work is pure multiply-add, no hashing. (The original
    * formulation hashed per (row × plane × dim): measured 8 planes ×
    * 64 dims = 512 hashes/row on the q39 hot path for values that never
    * change.) */
  def hyperplaneSignature(v: Column, planes: Int): Column = {
    val dv = asDouble(v)
    val bits = (0 until planes).map { p =>
      val signs = typedLit((0 until MaxSigDims).map(j => planeSign(p, j)))
      val proj = aggregate(
        zip_with(dv, slice(signs, lit(1), size(v)), _ * _),
        lit(0.0d), _ + _)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }
    // a vector longer than the baked sign matrix must fail loud, not hash
    // to a null-poisoned signature
    when(size(v) <= MaxSigDims,
      bits.reduce((x, y) => x.bitwiseOR(y)))
      .otherwise(raise_error(concat(
        lit(s"hyperplane signature supports at most $MaxSigDims dims, got "),
        size(v).cast("string"))))
  }

  private def planeSign(p: Int, j: Int): Double = {
    val hx = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p|$j".getBytes("UTF-8"))
    if ((((hx(0) >> 4) & 0xf) % 2) == 0) 1.0d else -1.0d
  }
}
