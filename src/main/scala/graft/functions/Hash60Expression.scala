package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's portable 60-bit content hash (`Qdsl.hash60`: first 15 hex
  * digits of md5, read base-16) as ONE codegen'd native expression.
  * Bit-identical to the `conv(substring(md5(x), 1, 15), 16, 10)`
  * composition it replaces — the DuckDB oracle mirror
  * (`CAST('0x' || substring(md5(x),1,15) AS BIGINT)`) is unchanged — but
  * skips the 32-char hex-string materialization, the substring copy, and
  * the base-conversion parse that composition pays per value. hash60 runs
  * per token/shingle in every dedup and sampling path, so this is the
  * hottest scalar in the engine.
  */
case class GraftHash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType | StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_hash60 requires binary or string input, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash60"

  override protected def nullSafeEval(input: Any): Any = child.dataType match {
    case BinaryType => GraftHash60.hash(input.asInstanceOf[Array[Byte]])
    case StringType => GraftHash60.hash(input.asInstanceOf[UTF8String].getBytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val toBytes = child.dataType match {
      case BinaryType => (v: String) => v
      case StringType => (v: String) => s"$v.getBytes()"
    }
    nullSafeCodeGen(ctx, ev, v => code"""
      ${ev.value} = graft.functions.GraftHash60.hash(${toBytes(v)});
    """.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): GraftHash60 =
    copy(child = newChild)
}

object GraftHash60 {
  // MessageDigest is stateful; one instance per task thread
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(data): bytes 0-6 in full plus the high nibble
    * of byte 7 — exactly the integer the first 15 hex digits spell. */
  def hash(data: Array[Byte]): Long = {
    val d = md.get()
    d.reset()
    val dig = d.digest(data)
    var v = 0L
    var i = 0
    while (i < 7) {
      v = (v << 8) | (dig(i) & 0xffL)
      i += 1
    }
    (v << 4) | ((dig(7) & 0xf0L) >>> 4)
  }

  /** Column-API surface: `GraftHash60(col)`. */
  def apply(c: Column): Column =
    column(GraftHash60(expression(c)))
}
