package graft.expressions

import java.math.{BigInteger, RoundingMode, BigDecimal => JBigDecimal}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** The one exact, order-independent sum behind
  * [[graft.functions.DetAgg.dsum]]: bit-identical to
  * `sum(CAST(x AS DECIMAL(38,6)))`, but summed in primitive longs.
  *
  * A `sum(decimal(38,6))` buffers a serialized BigDecimal, so every row
  * pays a BigDecimal add plus a byte-array write-back into the
  * aggregation buffer. Here each element converts ONCE to its unscaled
  * value at scale 6 — the 128-bit integer the decimal cast stores,
  * through the cast's own rounding chain ([[DetSum.toMicros]]) — and
  * the buffer is four longs plus a `seen` flag:
  *   - p0, p1, p2: the 22-, 22- and 20-bit parts of the low 64 bits,
  *     read as unsigned (each addend < 2^22, so 2^41 rows per group
  *     before a part could overflow);
  *   - p3: the signed high 64 bits.
  * The value is p3·2^64 + p2·2^44 + p1·2^22 + p0, recombined once per
  * group ([[DetSum.combine]]). Every add is exact (`addExact`): p3 can
  * only overflow past ~1.7e38 unscaled, already outside DECIMAL(38,6),
  * and a group total above DECIMAL(38,6) throws in the recombine, so
  * overflow is always loud. Integer addition is associative, so the
  * result is bit-identical on any partitioning. Empty and all-null
  * groups yield null (`sum` semantics).
  *
  * Inputs: floating (through the double→decimal cast's chain), integral
  * (exact: v·10^6 as a 128-bit product) and decimal (rounded HALF_UP to
  * scale 6, as the cast does). An element beyond DECIMAL(38,6) throws. */
case class DetSum(child: Expression) extends DeclarativeAggregate
    with UnaryLike[Expression] {

  override def dataType: DataType = DecimalType(38, 6)
  override def nullable: Boolean = true
  override def prettyName: String = "dsum"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"dsum expects a numeric input, got ${t.simpleString}")
  }

  private lazy val parts =
    Seq.tabulate(4)(i => AttributeReference(s"p$i", LongType, nullable = false)())
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = parts :+ seen

  override lazy val initialValues: Seq[Expression] =
    Seq.fill(4)(Literal(0L)) :+ Literal(false)

  private def exactAdd(a: Expression, b: Expression): Expression =
    Add(a, b, NumericEvalContext(EvalMode.ANSI))

  /** `DetSum.<fn>(args)`, overloaded by input type; a null input reads
    * 0, so it adds nothing. */
  private def word(fn: String, args: Expression*): Expression =
    Coalesce(Seq(StaticInvoke(classOf[DetSum], LongType, fn, args), Literal(0L)))

  // `low` is the one per-element conversion; subexpression elimination
  // evaluates it once for all four slots
  override lazy val updateExpressions: Seq[Expression] = {
    val low = word("low", child)
    val mask = Literal(0x3FFFFFL)
    val addends = Seq(
      BitwiseAnd(low, mask),
      BitwiseAnd(ShiftRightUnsigned(low, Literal(22)), mask),
      ShiftRightUnsigned(low, Literal(44)),
      word("high", child, low))
    parts.zip(addends).map { case (p, a) => exactAdd(p, a) } :+
      Or(seen, IsNotNull(child))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    parts.map(p => exactAdd(p.left, p.right)) :+ Or(seen.left, seen.right)

  override lazy val evaluateExpression: Expression =
    If(seen,
      StaticInvoke(classOf[DetSum], dataType, "combine", parts, returnNullable = false),
      Literal(null, dataType))

  override protected def withNewChildInternal(newChild: Expression): DetSum =
    copy(child = newChild)
}

object DetSum {
  /** Below this magnitude a double's unscaled value fits a long. */
  private val FastBound = 9.2e12

  /** The double→unscaled-micros conversion for |d| < 9.2e12 — the SAME
    * rounding chain as Spark's double→decimal cast
    * (`BigDecimal.valueOf` = the double's shortest decimal
    * representation; `HALF_UP` at scale 6), so the long is the cast's
    * unscaled value to the bit. NaN/Infinity throw, as the cast does
    * under ANSI. */
  def toMicros(d: Double): Long =
    JBigDecimal.valueOf(d).setScale(6, RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** The unscaled value at scale 6 of any element; beyond DECIMAL(38,6)
    * it throws the same error as the cast. */
  private def unscaled(b: JBigDecimal): BigInteger =
    Decimal(b, 38, 6).toJavaBigDecimal.unscaledValue()

  /** An element's unscaled value at scale 6 as its low 64 bits (two's
    * complement) and its signed high 64 bits. Floats widen to double,
    * smaller integrals to long; an integral's is the exact 128-bit
    * product v·10^6. A value whose unscaled form fits a long has the
    * sign extension of its low word as high word, so only wider values
    * convert a second time. */
  def low(d: Double): Long =
    if (Math.abs(d) < FastBound) toMicros(d)
    else unscaled(JBigDecimal.valueOf(d)).longValue()
  def low(v: Long): Long = v * 1000000L
  def low(d: Decimal): Long = unscaled(d.toJavaBigDecimal).longValue()

  def high(d: Double, low: Long): Long =
    if (Math.abs(d) < FastBound) low >> 63
    else unscaled(JBigDecimal.valueOf(d)).shiftRight(64).longValue()
  def high(v: Long, low: Long): Long = Math.multiplyHigh(v, 1000000L)
  def high(d: Decimal, low: Long): Long = {
    val b = d.toJavaBigDecimal
    if (b.precision - b.scale <= 12) low >> 63
    else unscaled(b).shiftRight(64).longValue()
  }

  /** The four slot sums back into one DECIMAL(38,6), once per group;
    * a total beyond DECIMAL(38,6) throws. */
  def combine(p0: Long, p1: Long, p2: Long, p3: Long): Decimal = {
    val u = BigInteger.valueOf(p3).shiftLeft(64)
      .add(BigInteger.valueOf(p2).shiftLeft(44))
      .add(BigInteger.valueOf(p1).shiftLeft(22))
      .add(BigInteger.valueOf(p0))
    Decimal(new JBigDecimal(u, 6), 38, 6)
  }

  def apply(c: Column): Column =
    ColumnBridge.column(DetSum(ColumnBridge.expression(c)).toAggregateExpression())
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
