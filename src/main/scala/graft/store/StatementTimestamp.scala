package graft.store

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, TimestampType}

/** One write statement's timestamp (`createdAt`/`updatedAt`), bound as a
  * value rather than inlined as a constant.
  *
  * `current_timestamp()` folds into a long literal that whole-stage codegen
  * writes into the generated source, so every statement compiles classes
  * no later statement can reuse. This leaf is not foldable, and its code
  * reads the value from the generated class's references array: two
  * statements that differ only in their timestamp share one class. The
  * value is drawn once per statement, so every row a statement writes
  * carries the same timestamp. */
final case class StatementTimestamp(micros: Long) extends LeafExpression {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "statement_timestamp"

  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("statementTs", java.lang.Long.valueOf(micros))
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

object StatementTimestamp {
  /** A fresh statement timestamp: the column to write and the same instant
    * as a driver-side value (for rows built on the driver). */
  def draw(): (Column, java.sql.Timestamp) = {
    val micros = DateTimeUtils.instantToMicros(java.time.Instant.now())
    (ColumnBridge.column(StatementTimestamp(micros)), DateTimeUtils.toJavaTimestamp(micros))
  }
}
