package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the reference's 64-bit record hash
  * (murmur3 x64_128 seed 0, first word — `core/Hash.h:23-29`): accepts
  * binary or string input, codegens to a static call so it stays inside
  * whole-stage codegen (no UDF serialization, no row boxing).
  */
case class ThemisMurmur64(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType | StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"themis_murmur64 requires binary or string input, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "themis_murmur64"

  override protected def nullSafeEval(input: Any): Any = child.dataType match {
    case BinaryType => ThemisMurmur3.hash64(input.asInstanceOf[Array[Byte]])
    case StringType => ThemisMurmur3.hash64(input.asInstanceOf[UTF8String].getBytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val toBytes = child.dataType match {
      case BinaryType => (v: String) => v
      case StringType => (v: String) => s"$v.getBytes()"
    }
    nullSafeCodeGen(ctx, ev, v => code"""
      ${ev.value} = graft.functions.ThemisMurmur3.hash64(${toBytes(v)});
    """.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): ThemisMurmur64 =
    copy(child = newChild)
}

object ThemisMurmur64 {
  /** Column-API surface: `themis_murmur64($"key")`. */
  def apply(c: Column): Column =
    column(ThemisMurmur64(expression(c)))
}
