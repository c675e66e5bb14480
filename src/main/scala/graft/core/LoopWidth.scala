package graft.core

import org.apache.spark.sql.DataFrame

/** Shuffle widths for iterative operators whose per-round state is a
  * small DERIVED structure (a duplicate graph, a BFS frontier, a peeled
  * edge list) rather than the corpus: running their per-round joins at
  * the corpus-tuned `spark.sql.shuffle.partitions` pays task-scheduling
  * overhead per round for partitions that are nearly empty. [[Fixpoint]]
  * runs a loop's rounds at the width these rules derive.
  *
  * At 100 TB the same rule holds with a bigger constant: width ∝ the
  * derived structure's size, never the corpus's. */
object LoopWidth {
  /** Session shuffle width — the corpus-tuned ceiling every derived
    * width is clamped to (at production scale the size-driven term
    * exceeds it, so the adaptive rules below reduce to today's
    * session-width behavior and only ever NARROW tiny-structure loops). */
  private def sessionWidth(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** Loop width from a MATERIALIZED row count (the caller already paid a
    * count() to pin its cached edge list): one partition per
    * `rowsPerPartition` rows of per-round state, clamped to [1, session
    * width]. The target trades the measured ~0.1–0.3 s fixed cost a task
    * pays at any size (task-binary deserialization, codegen wait,
    * shuffle-file creation) against ≥ that much real work per task —
    * 256k narrow rows is ~0.1–0.5 s of join+agg. A 32-wide round over a
    * few-hundred-edge dup graph pays 32 fixed costs per round for
    * microseconds of work; the same rule at a 10^9-edge graph clamps to
    * the session width and changes nothing. */
  def forRows(df: DataFrame, rows: Long, rowsPerPartition: Long = 1L << 18): Int = {
    require(rows >= 0 && rowsPerPartition > 0)
    val need = (rows + rowsPerPartition - 1) / rowsPerPartition
    math.max(1L, math.min(need, sessionWidth(df).toLong)).toInt
  }

  /** Loop width from the ANCHOR TABLE's on-disk bytes (driver-side file
    * listing, no job — the same size-derivation the scan planner itself
    * uses): one partition per `bytesPerPartition` of anchor input,
    * clamped to [1, session width]. Derived loop structures (edge lists,
    * frontiers, label tables) are bounded by a projection of their
    * anchor, so anchor bytes is a safe over-estimate; 4 MB of compressed
    * anchor input is roughly the 256k-row target of [[forRows]]. */
  def forBytes(df: DataFrame, anchorBytes: Long, bytesPerPartition: Long = 4L << 20): Int = {
    require(anchorBytes >= 0 && bytesPerPartition > 0)
    val need = (anchorBytes + bytesPerPartition - 1) / bytesPerPartition
    math.max(1L, math.min(need, sessionWidth(df).toLong)).toInt
  }
}
