package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, count, lit}

/** The one hot-key guard: count rows per key, keep the keys over a cap,
  * and split a frame on membership — the skew posture Themis takes once
  * in its Phase 0 sample, here shared by every operator that must keep a
  * pathological key (a boilerplate band bucket, a corpus-scale user, a
  * dominant language) out of a per-key task.
  *
  * [[census]] is a hash aggregation (map-side combined, so the count
  * itself is skew-immune); its output holds at most rows/cap keys, so
  * [[divert]] always broadcasts it. Membership is NULL-SAFE (`<=>`): a
  * hot all-NULL key diverts like any other, where an equi-join would
  * silently leave it on the cold leg.
  */
object HotKeys {

  /** The keys of `df` (columns `keys`) holding more than `cap` rows, with
    * their row count `n`. */
  def census(df: DataFrame, keys: Seq[String], cap: Long): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > cap)

  /** `(cold, hot)`: the rows of `df` whose key is not / is in `hot` (any
    * frame carrying the `keys` columns, typically a [[census]]). Both legs
    * keep `df`'s schema. */
  def divert(df: DataFrame, hot: DataFrame,
      keys: Seq[String]): (DataFrame, DataFrame) = {
    val h = broadcast(hot.select(keys.map(k => col(k).as(s"__hot_$k")): _*))
    val on = keys.map(k => col(k) <=> col(s"__hot_$k")).reduce(_ && _)
    (df.join(h, on, "left_anti"), df.join(h, on, "left_semi"))
  }
}
