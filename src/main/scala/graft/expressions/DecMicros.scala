package graft.expressions

import java.math.{BigInteger, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** The per-element half of the fast deterministic sum
  * ([[graft.functions.DetAgg.dsum]]): the input value as an "unscaled
  * micros" long — EXACTLY the unscaled value of Spark's
  * `CAST(v AS DECIMAL(_, 6))`, produced through the same Java call
  * chain (`BigDecimal.valueOf(double)` = shortest-decimal
  * representation, then `setScale(6, HALF_UP)`), so summing these
  * longs is bit-equivalent to summing the decimals.
  *
  * Why it exists (optimization r17, guide §1.2 "per-task work"): a
  * `sum(CAST(x AS DECIMAL(38,6)))` buffers a precision-38 decimal,
  * which Spark stores as a serialized BigDecimal — every row pays a
  * BigDecimal.add plus a byte-array write-back into the aggregation
  * buffer, and q01's five decimal sums measured 1.3 s of the query's
  * 1.8 s at sf0.1 (vs 0.52 s with plain double sums). Summing the
  * unscaled value as three overflow-safe longs (see
  * [[graft.functions.DetAgg.dsum]]) keeps the whole update inside
  * whole-stage codegen's primitive fast path while preserving exact,
  * order-independent arithmetic.
  *
  * Range contract: |v| must fit the unscaled long, i.e. |v| ≤ 9.2e12 —
  * four orders of magnitude above DetAgg's documented ~1e9 cross-engine
  * input bound; `longValueExact` throws loudly (never truncates) if a
  * caller feeds a wider value, and such callers (the x² legs of
  * dstddev/dvarPop) stay on the wide decimal path instead.
  *
  * Integral inputs skip the BigDecimal entirely: v·1e6 is exact in a
  * long for the same range, `multiplyExact` guarding the bound. */
case class UnscaledMicros(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "unscaled_micros"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType | FloatType | LongType | IntegerType | ShortType | ByteType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"unscaled_micros expects a double/float/integral input, got ${t.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = child.dataType match {
    case DoubleType  => UnscaledMicros.toMicros(v.asInstanceOf[Double])
    case FloatType   => UnscaledMicros.toMicros(v.asInstanceOf[Float].toDouble)
    case LongType    => Math.multiplyExact(v.asInstanceOf[Long], 1000000L)
    case IntegerType => v.asInstanceOf[Int].toLong * 1000000L
    case ShortType   => v.asInstanceOf[Short].toLong * 1000000L
    case ByteType    => v.asInstanceOf[Byte].toLong * 1000000L
    case t => throw new IllegalStateException(s"unreachable: $t")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.dataType match {
      case DoubleType =>
        defineCodeGen(ctx, ev, c =>
          s"graft.expressions.UnscaledMicros.toMicros($c)")
      case FloatType =>
        defineCodeGen(ctx, ev, c =>
          s"graft.expressions.UnscaledMicros.toMicros((double) $c)")
      case LongType =>
        defineCodeGen(ctx, ev, c => s"java.lang.Math.multiplyExact($c, 1000000L)")
      case _ =>
        defineCodeGen(ctx, ev, c => s"((long) $c) * 1000000L")
    }

  override protected def withNewChildInternal(newChild: Expression): UnscaledMicros =
    copy(child = newChild)
}

object UnscaledMicros {
  /** The double→unscaled-micros conversion — the SAME rounding chain as
    * Spark's double→decimal cast (`BigDecimal.valueOf` = shortest
    * decimal representation of the double; `HALF_UP` at scale 6), so
    * the long is the cast's unscaled value to the bit. NaN/Infinity
    * throw (as the decimal cast would under ANSI); values beyond the
    * long's unscaled range throw via longValueExact rather than
    * truncate. */
  def toMicros(d: Double): Long =
    java.math.BigDecimal.valueOf(d)
      .setScale(6, RoundingMode.HALF_UP)
      .unscaledValue()
      .longValueExact()

  def apply(c: Column): Column =
    ColumnBridge.column(UnscaledMicros(ColumnBridge.expression(c)))
}

/** The per-group recombination half of the fast deterministic sum: the
  * three 22-bit-split part sums (see [[graft.functions.DetAgg.dsum]])
  * back into one DECIMAL(38,6). Exact by construction — the parts are
  * a two's-complement decomposition (u = (u>>44)·2^44 + ((u>>22)&M)·2^22
  * + (u&M)), so Σu = s2·2^44 + s1·2^22 + s0, computed here in
  * BigInteger (once per GROUP, never per row). Null (empty group)
  * propagates — matching `sum`'s null-on-empty semantics. */
case class Dec128FromParts(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = DecimalType(38, 6)
  override def prettyName: String = "dec128_from_parts"

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dec128_from_parts expects three longs, got " +
        children.map(_.dataType.simpleString).mkString(", "))

  override def nullSafeEval(s2: Any, s1: Any, s0: Any): Any =
    Dec128FromParts.combine(s2.asInstanceOf[Long], s1.asInstanceOf[Long],
      s0.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.expressions.Dec128FromParts.combine($a, $b, $c)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Dec128FromParts =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object Dec128FromParts {
  def combine(s2: Long, s1: Long, s0: Long): org.apache.spark.sql.types.Decimal = {
    val unscaled = BigInteger.valueOf(s2).shiftLeft(44)
      .add(BigInteger.valueOf(s1).shiftLeft(22))
      .add(BigInteger.valueOf(s0))
    org.apache.spark.sql.types.Decimal(
      new java.math.BigDecimal(unscaled, 6), 38, 6)
  }

  def apply(s2: Column, s1: Column, s0: Column): Column =
    ColumnBridge.column(Dec128FromParts(
      ColumnBridge.expression(s2), ColumnBridge.expression(s1),
      ColumnBridge.expression(s0)))
}

/** The operand of [[graft.functions.DetAgg]]'s x² legs: integral inputs
  * widen to DECIMAL(20,0) (every long fits), so their square is exact
  * and cannot overflow the column's own type (under ANSI an int squared
  * throws above 46,340, a long above 3.04e9); floating and decimal
  * inputs pass through untouched, so their squares stay bit-identical.
  * The SQL twin gets the same promotion from adding a DECIMAL(19,0) zero. */
case class WidenIntegral(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType => DecimalType(20, 0)
    case t => t
  }
  override def prettyName: String = "widen_integral"

  override def nullSafeEval(v: Any): Any = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType =>
      Decimal(v.asInstanceOf[Number].longValue)
    case _ => v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        defineCodeGen(ctx, ev, c =>
          s"org.apache.spark.sql.types.Decimal.apply((long) $c)")
      case _ => defineCodeGen(ctx, ev, c => c)
    }

  override protected def withNewChildInternal(newChild: Expression): WidenIntegral =
    copy(child = newChild)
}

object WidenIntegral {
  def apply(c: Column): Column =
    ColumnBridge.column(WidenIntegral(ColumnBridge.expression(c)))
}
