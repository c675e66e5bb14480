package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Fused integer vector kernels for the ANN/k-means paths.
  *
  * The composition they replace — `aggregate(zip_with(a, b, f), 0, +)` —
  * materializes a DIM-length intermediate array and walks two
  * higher-order lambdas PER ROW PAIR; in a brute-force or IVF candidate
  * join that's the innermost loop of queries×candidates evaluations.
  * These expressions run the same Long arithmetic as one allocation-free
  * loop over the unsafe array data, callable from whole-stage codegen
  * like every other native scalar — including ANSI overflow semantics
  * (`multiplyExact`/`addExact` throw exactly where the composition's
  * ANSI-mode `*`/`+` would, so a value that overflows cannot silently
  * diverge from the DuckDB oracle's exact 128-bit view).
  *
  * Both require equal-length non-null-element arrays — the canonical
  * (vid, v, n2) vector frames guarantee it; unequal lengths AND null
  * slots fail loudly (named index in the message) instead of zip_with's
  * silent null or a garbage unsafe-word read. */
object GraftVec {
  def dot(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"graft_dot: length mismatch $n vs ${b.numElements()}")
    var s = 0L
    var i = 0
    while (i < n) {
      // null slots fail LOUDLY: checkInputDataTypes accepts
      // array<bigint> with nullable elements (parquet reads report
      // containsNull=true even for clean data), but a raw getLong on a
      // null slot reads garbage from UnsafeArrayData — a dirty vector
      // would yield a silently wrong norm/cosine. The composition this
      // kernel replaced returned NULL there; an explicit error names
      // the dirty row's slot instead of letting it rank.
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft_dot: null element at index $i — clean the vector " +
            "column (the aggregate(zip_with) composition would return " +
            "NULL here; this kernel refuses to score dirty vectors)")
      s = Math.addExact(s, Math.multiplyExact(a.getLong(i), b.getLong(i)))
      i += 1
    }
    s
  }

  def affineMin(hs: ArrayData, a: Long, b: Long, p: Long): Long = {
    val n = hs.numElements()
    var m = Long.MaxValue
    var seen = false
    var i = 0
    while (i < n) {
      // skip null slots like array_min does — reading them as getLong
      // garbage would silently corrupt a signature
      if (!hs.isNullAt(i)) {
        val v = Math.addExact(Math.multiplyExact(hs.getLong(i), a), b) % p
        if (v < m) m = v
        seen = true
      }
      i += 1
    }
    require(seen, "graft_affine_min: no non-null elements (the " +
      "composition would yield null — filter empties before the fold)")
    m
  }

  /** argmin over a broadcast center table: the cid of the center with
    * the lexicographically least (squared-L2, cid) — EXACTLY the
    * `Window.orderBy(dist, cid)` / `MIN({'d':…,'c':…})` contract of the
    * coarse-quantizer assignment, fused. The join+window form this
    * replaces materializes an n×k row frame (93M rows at the r13 drive's
    * 205k vectors, O(n^1.5) at SemDeDup's k=⌈√n⌉) and pushes it through
    * map-side sorts under WindowGroupLimit; this kernel runs the same
    * Long arithmetic scan-locally — n rows stay n rows, no sort, no
    * exchange, no intermediate allocation. ANSI overflow parity via the
    * shared [[l2]] (multiplyExact/addExact throw where ANSI `*`/`+`
    * would). */
  def nearestCell(v: ArrayData, centers: ArrayData): Long = {
    val k = centers.numElements()
    require(k > 0,
      "graft_nearest_cell: empty center table (the window form would " +
        "drop every row — an empty quantizer is a bug upstream)")
    var bestD = Long.MaxValue
    var bestC = Long.MaxValue
    var first = true
    var i = 0
    while (i < k) {
      // null centers fail LOUDLY like every kernel here: a silent skip
      // would assign vectors against a partial codebook
      if (centers.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft_nearest_cell: null center struct at index $i")
      val c = centers.getStruct(i, 2)
      if (c.isNullAt(0) || c.isNullAt(1))
        throw new IllegalArgumentException(
          s"graft_nearest_cell: null cid or cv at index $i")
      val cid = c.getLong(0)
      val d = l2(v, c.getArray(1))
      if (first || d < bestD || (d == bestD && cid < bestC)) {
        bestD = d; bestC = cid; first = false
      }
      i += 1
    }
    bestC
  }

  def l2(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"graft_l2: length mismatch $n vs ${b.numElements()}")
    var s = 0L
    var i = 0
    while (i < n) {
      // see dot: refuse null slots loudly rather than reading garbage
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft_l2: null element at index $i — clean the vector " +
            "column (the aggregate(zip_with) composition would return " +
            "NULL here; this kernel refuses to score dirty vectors)")
      val d = Math.subtractExact(a.getLong(i), b.getLong(i))
      s = Math.addExact(s, Math.multiplyExact(d, d))
      i += 1
    }
    s
  }
}

sealed abstract class GraftVecExpr extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> inputs, got $l, $r")
    }
  override def dataType: DataType = LongType
  protected def kernel: String // static method name on GraftVec

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.GraftVec.$kernel($a, $b);")
}

/** min((h·a + b) mod p) over an array<bigint> column — one MinHash
  * permutation's signature fold, fused: the
  * `array_min(transform(hs, h => (h*a+b) % p))` composition it replaces
  * materializes the transformed array per (document, permutation) pair,
  * and the signature stage IS the cost of MinHash dedup at 100 TB
  * (SURVEY §8.2). ANSI overflow parity via multiplyExact/addExact.
  * Requires a non-empty array (signature callers filter size ≥ 2 docs;
  * the composition would yield null — fail loudly instead). */
case class GraftAffineMin(child: Expression, a: Long, b: Long, p: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_affine_min requires array<bigint> input, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_affine_min"
  override protected def nullSafeEval(input: Any): Any =
    GraftVec.affineMin(input.asInstanceOf[ArrayData], a, b, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.GraftVec.affineMin($v, ${a}L, ${b}L, ${p}L);")
  override protected def withNewChildInternal(newChild: Expression): GraftAffineMin =
    copy(child = newChild)
}

object GraftAffineMin {
  def apply(c: Column, a: Long, b: Long, p: Long): Column =
    column(GraftAffineMin(expression(c), a, b, p))
}

/** Σ a(i)·b(i) over two array<bigint> columns. */
case class GraftDot(left: Expression, right: Expression) extends GraftVecExpr {
  override def prettyName: String = "graft_dot"
  override protected def kernel: String = "dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftVec.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): GraftDot = copy(left = l, right = r)
}

object GraftDot {
  def apply(a: Column, b: Column): Column =
    column(GraftDot(expression(a), expression(b)))
}

/** Σ (a(i)−b(i))² over two array<bigint> columns. */
case class GraftL2(left: Expression, right: Expression) extends GraftVecExpr {
  override def prettyName: String = "graft_l2"
  override protected def kernel: String = "l2"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftVec.l2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): GraftL2 = copy(left = l, right = r)
}

object GraftL2 {
  def apply(a: Column, b: Column): Column =
    column(GraftL2(expression(a), expression(b)))
}

/** argmin cid by (squared-L2 to `v`, cid) over a broadcast center table
  * — see [[GraftVec.nearestCell]]. Left: the vector (array<bigint>);
  * right: the center table as array<struct<cid: bigint, cv:
  * array<bigint>>> (one `collect_list` row cross-joined broadcast, so
  * every scan task holds the codebook once). Codegen'd like the other
  * kernels — the coarse-quantizer assignment stays inside
  * whole-stage codegen with NO n×k row frame. */
case class GraftNearestCell(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _),
          ArrayType(StructType(Array(
            StructField(_, LongType, _, _),
            StructField(_, ArrayType(LongType, _), _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_cell requires (array<bigint>, " +
          s"array<struct<bigint, array<bigint>>>), got $l, $r")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_nearest_cell"
  override protected def nullSafeEval(v: Any, cs: Any): Any =
    GraftVec.nearestCell(v.asInstanceOf[ArrayData], cs.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cs) =>
      s"${ev.value} = graft.functions.GraftVec.nearestCell($v, $cs);")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): GraftNearestCell = copy(left = l, right = r)
}

object GraftNearestCell {
  def apply(v: Column, cs: Column): Column =
    column(GraftNearestCell(expression(v), expression(cs)))
}
