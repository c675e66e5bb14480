package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._

/** Partition id of a key under a decided boundary list — the count of
  * boundaries ≤ key — found by LOWER-BOUND BINARY SEARCH over the sorted
  * broadcast array, the reference's
  * `KeyPartitioner::globalPartition` → `KeyList::findLowerBound`
  * (`mapreduce/common/boundary/KeyPartitioner.cc:115-117`,
  * `KeyList.cc`): O(log P) comparisons per record where the naive
  * `size(filter(bounds, _ <= key))` scan is O(P). At the 100 TB posture
  * SURVEY §10 plans for (~800k partitions) that is the difference
  * between ~20 comparisons per record and ~800k.
  *
  * The boundary array is embedded once per codegen'd stage as a
  * reference object (the reference broadcasts the same decided list to
  * every peer) and the search runs as a static call inside whole-stage
  * codegen — no UDF serialization, no row boxing, same pattern as
  * [[GraftHash60]].
  *
  * Bounds are external JVM values (what [[graft.api.Boundaries.load]]
  * returns); they are converted to Catalyst form and defensively sorted
  * once at first evaluation — identical semantics to the filter-count
  * form, which never depended on input order.
  */
case class GraftBoundaryId(child: Expression, rawBounds: Seq[Any])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_boundary_id"

  @transient private lazy val ordering: Ordering[AnyRef] =
    TypeUtils.getInterpretedOrdering(child.dataType)
      .asInstanceOf[Ordering[AnyRef]]

  @transient private lazy val bounds: Array[AnyRef] = {
    val conv = CatalystTypeConverters.createToCatalystConverter(child.dataType)
    rawBounds.map(b => conv(b).asInstanceOf[AnyRef]).toArray.sorted(ordering)
  }

  override protected def nullSafeEval(input: Any): Any =
    GraftBoundaryId.search(input.asInstanceOf[AnyRef], bounds, ordering)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boundsRef = ctx.addReferenceObj("graftBounds", bounds, "java.lang.Object[]")
    val ordRef = ctx.addReferenceObj("graftBoundsOrd", ordering, "scala.math.Ordering")
    // box primitive key values for the generic comparator; string/binary/
    // decimal children are already objects
    val box: String => String = child.dataType match {
      case BooleanType => v => s"java.lang.Boolean.valueOf($v)"
      case ByteType => v => s"java.lang.Byte.valueOf($v)"
      case ShortType => v => s"java.lang.Short.valueOf($v)"
      case IntegerType | DateType => v => s"java.lang.Integer.valueOf($v)"
      case LongType | TimestampType | TimestampNTZType =>
        v => s"java.lang.Long.valueOf($v)"
      case FloatType => v => s"java.lang.Float.valueOf($v)"
      case DoubleType => v => s"java.lang.Double.valueOf($v)"
      case _ => v => v
    }
    nullSafeCodeGen(ctx, ev, v => code"""
      ${ev.value} = graft.functions.GraftBoundaryId.search(${box(v)}, $boundsRef, $ordRef);
    """.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): GraftBoundaryId =
    copy(child = newChild)
}

object GraftBoundaryId {

  /** Lower-bound binary search: first index whose bound is > key, which
    * equals the count of bounds ≤ key — `KeyList::findLowerBound`'s loop
    * shape. O(log n) comparisons (spec-asserted with a counting
    * comparator in BoundariesSpec). */
  def search(key: AnyRef, bounds: Array[AnyRef], ord: Ordering[AnyRef]): Int = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ord.compare(bounds(mid), key) <= 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Column-API surface: `GraftBoundaryId($"key", boundsSeq)`. */
  def apply(c: Column, bounds: Seq[Any]): Column =
    column(GraftBoundaryId(expression(c), bounds))
}
