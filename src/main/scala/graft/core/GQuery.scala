package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine capability exposed through the driver contract
  * (`graft.SparkEntry`). `run` builds the DataFrame for a given scale-factor
  * directory; `oracle`, when present, is the equivalent ANSI SQL executed by
  * DuckDB over the same parquet tables for the correctness gate.
  *
  * Column names of the Spark result and the oracle SQL MUST match — the
  * driver sorts columns by name before hashing values.
  *
  * Determinism contract for oracle-checked queries:
  *   - no floating-point output unless the true value lies on a decimal grid
  *     and is rounded to that grid (see Relational.scala notes), or the exact
  *     same sequence of double ops is forced on both engines;
  *   - any LIMIT/top-k is fully tie-broken by a unique key.
  */
final case class GQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    // headline queries are the ones perfbench times
    headline: Boolean = false)

object GQuery {
  /** Assemble a registry, failing fast on duplicate names. */
  def registry(groups: Seq[GQuery]*): Seq[GQuery] = {
    val all = groups.flatten
    val dups = all.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(",")}")
    all
  }
}
