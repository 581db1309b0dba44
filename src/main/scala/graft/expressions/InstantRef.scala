package graft.expressions

import java.time.Instant

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, TimestampType}

/** A fixed TIMESTAMP that generated code reads by reference.
  *
  * `current_timestamp()` folds to a TIMESTAMP literal, and codegen writes
  * a long literal into the Java source as `<micros>L`. A plan stamped
  * with it therefore has new source on every run and never hits the
  * codegen cache: each ingest micro-batch recompiled its fact write,
  * quarantine write and the ~100-buffer stats aggregate. This leaf puts
  * the instant in the generated class's `references` array instead, so
  * every micro-batch over one schema reuses the classes the first one
  * compiled. It is not foldable, or constant folding would turn it back
  * into a literal. */
case class InstantRef(micros: Long) extends LeafExpression {

  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def prettyName: String = "instant_ref"

  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("instant", micros, "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref;", isNull = FalseLiteral)
  }
}

object InstantRef {
  def column(at: Instant): Column =
    ColumnBridge.column(InstantRef(DateTimeUtils.instantToMicros(at)))
}
