package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StructType

/** Deferred sink→source pipeline stage: a whole-operator extension
  * (logical node + strategy + physical node, wired through
  * [[graft.functions.GraftExtensions]]) for queries whose semantics are
  * "materialize files, then read them back" — the text-line / CSV /
  * Hive-partitioned round-trips that pin codec and layout fidelity.
  *
  * Why a custom plan: the read side's files do not exist until the write
  * runs, so a plain DataFrame constructor would have to execute the
  * write job at CONSTRUCTION time — a side effect before any action, a
  * job the caller never asked for, and a cost billed outside the plan.
  * This node keeps construction pure: the `body` thunk (write files →
  * build the read plan) runs on the driver inside `doExecute()`, i.e.
  * exactly when the enclosing query executes, like every other operator.
  * The reference's analogous shape is the phase boundary between a
  * writer stage and the next job's reader stage
  * (`mapreduce/workers/writer/Writer.cc` feeding a later
  * `ByteStreamReader`), which its coordinator also sequences at RUN
  * time, not at job-graph build time.
  *
  * The declared schema is the contract: `body`'s result is projected
  * positionally, so it must produce exactly these columns in order (the
  * call sites `select` explicitly). Statistics advertise an unknown
  * (large) size so Catalyst never plans a broadcast from a side that
  * does not exist yet.
  */
object DeferredIngest {

  /** A DataFrame whose execution first runs `body` (typically: write a
    * directory, return the read-back plan) and then streams the result
    * rows. Construction is job-free. */
  def apply(s: SparkSession, ddl: String)(body: => DataFrame): DataFrame =
    org.apache.spark.sql.GraftPlanBridge.ofRows(s,
      DeferredIngestNode(
        DataTypeUtils.toAttributes(StructType.fromDDL(ddl)), () => body))

  /** Seconds spent inside deferred bodies (the WRITE leg of a
    * write-then-read query) since the last [[resetBodyNanos]] —
    * Bench reads this per query so the round-trip headlines report
    * their construction cost as an explicit `construction` field next
    * to the timed read leg, instead of a note in BENCH_LOCAL.md.
    * Driver-side only (bodies run on the driver), so a plain atomic. */
  private val bodyNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def resetBodyNanos(): Unit = bodyNanos.set(0L)
  private[graft] def bodySeconds(): Double = bodyNanos.get() / 1e9
  private[graft] def addBodyNanos(n: Long): Unit = bodyNanos.addAndGet(n)
}

/** Logical leaf: just the output attributes and the deferred body.
  * `body` (here and on the exec) runs on the driver only and captures a
  * session that may not serialize (`observe()` leaves an
  * `ObservationManager` on it), so a plan shipped to executors drops it. */
final case class DeferredIngestNode(
    output: Seq[Attribute],
    @transient body: () => DataFrame) extends LeafNode {
  // size unknown until the write runs — report "big" so no broadcast of
  // this side is ever planned
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(Long.MaxValue) / 4)
}

/** Physical leaf: runs the body (driver-side, possibly submitting its
  * own write jobs) at execute time, then hands off the read plan's row
  * RDD. Re-execution re-runs the body — an overwrite-mode write makes
  * that idempotent. */
final case class DeferredIngestExec(
    output: Seq[Attribute],
    @transient body: () => DataFrame) extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] = {
    val t0 = System.nanoTime()
    val df = body()
    DeferredIngest.addBodyNanos(System.nanoTime() - t0)
    require(df.schema.length == output.length,
      s"DeferredIngest body produced ${df.schema.length} columns, " +
        s"declared ${output.length}")
    // rows hand off positionally as InternalRows: a type (or order) drift
    // between the declared DDL and the read-back plan would surface far
    // away as corrupted values or opaque casts — fail loudly here instead
    require(output.map(_.dataType) == df.schema.map(_.dataType),
      s"DeferredIngest body schema ${df.schema.map(_.dataType).mkString(",")} " +
        s"does not match declared ${output.map(_.dataType).mkString(",")}")
    df.queryExecution.toRdd
  }
}

/** Planner strategy mapping the logical node to its exec. */
object DeferredIngestStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DeferredIngestNode(out, body) => DeferredIngestExec(out, body) :: Nil
    case _ => Nil
  }
}
