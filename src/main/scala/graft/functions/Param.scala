package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, TimestampType}

/** A bound scalar parameter: evaluates to `value` like a literal, but
  * its generated code reads the value from the `references` array
  * instead of inlining it as a Java constant, so two plans that differ
  * only in a parameter's value generate the SAME source and share one
  * compiled class (Spark's codegen cache is keyed by source text).
  *
  * A streaming trigger re-plans the same query with a new `now` and
  * retention horizon every batch; written as `lit`, each trigger's
  * values become new Java constants and every stage compiles again.
  * Non-foldable on purpose: constant folding would turn an expression
  * over it back into a literal.
  *
  * `dataType` is LongType or TimestampType (microseconds since the
  * epoch), both `long` in generated code.
  */
case class Param(value: Long, dataType: DataType) extends LeafExpression {
  require(dataType == LongType || dataType == TimestampType,
    s"param supports bigint and timestamp, got $dataType")

  override def foldable: Boolean = false
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Long.valueOf(value), "java.lang.Long")
    ExprCode.forNonNullValue(JavaCode.global(s"$ref.longValue()", dataType))
  }

  override def toString: String = s"param($value)"
}

object Param {

  /** A bigint parameter column. */
  def long(v: Long): Column = ColumnBridge.column(Param(v, LongType))

  /** A timestamp parameter column, `t` at microsecond precision (the
    * same conversion `lit(t)` applies).
    */
  def timestamp(t: java.sql.Timestamp): Column =
    timestampMicros(DateTimeUtils.fromJavaTimestamp(t))

  /** A timestamp parameter column from microseconds since the epoch. */
  def timestampMicros(us: Long): Column = ColumnBridge.column(Param(us, TimestampType))
}
