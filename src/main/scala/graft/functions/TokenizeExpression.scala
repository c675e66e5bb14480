package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine tokenizer (reference WordTokenizer delimiter class,
  * `WordTokenizer.cc:27-70`) as ONE fused native expression.
  *
  * Token-identical to the composition it replaces —
  * `filter(split(translate(regexp_replace(c, "\\\\n", " n"),
  * "\".,/()?;", "        "), " "), _ =!= "")`, which the DuckDB oracle
  * mirror (`Qdsl.wordsSqlDoc`) still spells — but in a single byte walk:
  * the composition pays a regex engine pass, two full string copies
  * (replace + translate), a split allocation, and a filter lambda per
  * token, PER ROW, and tokenization runs under every text query in the
  * engine. All delimiters are ASCII, so the byte-level scan is UTF-8
  * safe (multi-byte code points never contain ASCII bytes).
  *
  * Parity is triple-pinned: TokenizerFidelitySpec fuzzes this kernel
  * against both the Spark composition and an independent imperative
  * re-implementation of the C++ semantics.
  */
case class GraftTokenize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_tokenize requires string input, got $other")
  }
  // containsNull = true matches the filter∘split composition's type
  // exactly (no null element is ever produced)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_tokenize"

  override protected def nullSafeEval(input: Any): Any =
    GraftTokenize.tokenize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.GraftTokenize.tokenize($v);")

  override protected def withNewChildInternal(newChild: Expression): GraftTokenize =
    copy(child = newChild)
}

object GraftTokenize {

  /** boundary(b) for ASCII bytes: the delimiter class ` ".,/()?;`. */
  private val boundary: Array[Boolean] = {
    val b = new Array[Boolean](128)
    " \".,/()?;".foreach(c => b(c) = true)
    b
  }

  def tokenize(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[UTF8String](8)
    var start = 0
    var i = 0
    while (i < n) {
      val c = bytes(i)
      if (c >= 0 && boundary(c)) {
        if (i > start) out.add(UTF8String.fromBytes(bytes, start, i - start))
        i += 1
        start = i
      } else if (c == '\\' && i + 1 < n && bytes(i + 1) == 'n') {
        // reference stop character: the token ends BEFORE the backslash
        // and scanning resumes AT the `n`, which begins the next token
        if (i > start) out.add(UTF8String.fromBytes(bytes, start, i - start))
        i += 1
        start = i
      } else i += 1
    }
    if (n > start) out.add(UTF8String.fromBytes(bytes, start, n - start))
    new GenericArrayData(out.toArray)
  }

  /** Column-API surface: `GraftTokenize(col)`. */
  def apply(c: Column): Column =
    column(GraftTokenize(expression(c)))
}
