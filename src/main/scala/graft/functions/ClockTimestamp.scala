package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftGlue
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, TimestampType}

/** The wall clock at the moment a row is evaluated, truncated to
  * milliseconds, as a UTC `TimestampType` — Postgres' `clock_timestamp()`.
  *
  * `current_timestamp()` is fixed once per query and folded into a literal,
  * and the literal is inlined into the generated code, so every query (every
  * streaming micro-batch) that carries it compiles new classes. This leaf
  * reads the clock in its generated code instead: the code is the same for
  * every query, so Spark's codegen cache serves it after the first compile.
  * It is non-deterministic, so the optimizer neither folds it nor copies it
  * into a second place where it would read the clock again.
  */
case class ClockTimestamp() extends LeafExpression with Nondeterministic {

  override def nullable: Boolean = false
  override def dataType: DataType = TimestampType
  override def prettyName: String = "clock_timestamp"

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  override protected def evalInternal(input: InternalRow): Any = ClockTimestamp.nowMicros()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ev.copy(code = code"final long ${ev.value} = graft.functions.ClockTimestamp.nowMicros();",
      isNull = FalseLiteral)
}

object ClockTimestamp {

  /** Microseconds since the epoch, at millisecond precision. */
  def nowMicros(): Long = System.currentTimeMillis() * 1000L

  /** Column wrapper: `clock_timestamp()` */
  def clockTimestamp(): Column = GraftGlue.toColumn(ClockTimestamp())
}
