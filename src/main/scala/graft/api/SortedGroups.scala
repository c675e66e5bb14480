package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.functions.col

/** The reference's reducer contract — `reduce(key, iterator, writer)` over
  * one key group of a sorted partition, values ordered by an optional
  * secondary key, emitting any number of records (SURVEY.md §2.3;
  * reference `mapreduce/workers/reducer/Reducer.cc:94-101`,
  * `ReduceKVPairIterator.cc:16-102`) — re-expressed Spark-first:
  *
  *   repartition(key) + sortWithinPartitions(key, secondary…) +
  *   mapPartitions(run-length group scan)
  *
  * One shuffle, no per-group state on the driver, groups never leave the
  * executor. Group rows are buffered (the reference's iterator is
  * resettable/two-pass, so callers expect re-iterable values — matching
  * `ReduceKVPairIterator::reset`); callers with giant groups should
  * pre-aggregate first, as the reference's phase 3 does.
  */
object SortedGroups {

  /** Run `f(keyRow, groupRows)` over each key group. `keyCols` drive the
    * shuffle; `orderCols` are the secondary sort within each group. */
  def flatMapSortedGroups[O: Encoder](
      df: DataFrame, keyCols: Seq[String], orderCols: Seq[String])(
      f: (Row, Seq[Row]) => Iterator[O]): Dataset[O] =
    flatMapSortedGroupsPrePartitioned(
      df.repartition(keyCols.map(col): _*), keyCols, orderCols)(f)

  /** Same contract over an input the caller already partitioned (any
    * key-preserving partitioner: hash, range, murmur-range, single).
    * Each key group must be wholly contained in one partition — true for
    * every [[graft.api.ThemisJob.PartitionFn]] except RandomPartition,
    * which the reference likewise only uses for phase-0 sample scatter,
    * never ahead of a reduce. */
  def flatMapSortedGroupsPrePartitioned[O: Encoder](
      df: DataFrame, keyCols: Seq[String], orderCols: Seq[String])(
      f: (Row, Seq[Row]) => Iterator[O]): Dataset[O] =
    scanGroups(df, keyCols, orderCols)((key, rows) => f(key, rows.toSeq))

  /** Single-pass variant for giant groups: the reducer sees each group as
    * a lazy iterator that is never materialized — a group larger than
    * executor memory streams through (the scalable analog of the
    * reference's phase-3 multi-buffer reduce, `main.cc:794-806`). The
    * trade: no re-iteration (the reference's two-pass reducers like
    * InvertedIndex need [[flatMapSortedGroups]] instead); whatever the
    * reducer leaves unconsumed is skipped before the next group. */
  def flatMapStreamingGroups[O: Encoder](
      df: DataFrame, keyCols: Seq[String], orderCols: Seq[String])(
      f: (Row, Iterator[Row]) => Iterator[O]): Dataset[O] =
    scanGroups(df.repartition(keyCols.map(col): _*), keyCols, orderCols)(f)

  /** The one group scan: sort each partition by key then `orderCols`,
    * and hand `f` the first row of each key run plus a lazy iterator
    * over the run. */
  private def scanGroups[O: Encoder](
      df: DataFrame, keyCols: Seq[String], orderCols: Seq[String])(
      f: (Row, Iterator[Row]) => Iterator[O]): Dataset[O] = {
    val sorted = df
      .sortWithinPartitions((keyCols ++ orderCols).map(col): _*)
    val names = sorted.columns
    val kpos = keyCols.map(c => names.indexOf(c))
    require(kpos.forall(_ >= 0), s"key columns $keyCols not all in ${names.mkString(",")}")
    // value equality that works for binary keys too (Array[Byte] has
    // reference equality under Seq.==)
    def keyOf(r: Row): Seq[Any] = kpos.map(r.get(_) match {
      case b: Array[Byte] => b.toSeq
      case v => v
    })
    sorted.mapPartitions { it =>
      val buf = it.buffered
      new Iterator[Iterator[O]] {
        def hasNext: Boolean = buf.hasNext
        def next(): Iterator[O] = {
          val key = keyOf(buf.head)
          val groupIt = new Iterator[Row] {
            def hasNext: Boolean = buf.hasNext && keyOf(buf.head) == key
            def next(): Row = buf.next()
          }
          val out = f(buf.head, groupIt)
          // exhaust any unconsumed remainder so the outer iterator always
          // lands on the next group boundary
          new Iterator[O] {
            def hasNext: Boolean = {
              val h = out.hasNext
              if (!h) while (groupIt.hasNext) groupIt.next()
              h
            }
            def next(): O = out.next()
          }
        }
      }.flatten
    }
  }
}
