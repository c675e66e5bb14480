package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.core.HotKeys

/** The one hot-key guard every skew-guarded operator shares: the cap is
  * strict (`> cap` diverts), the split loses and duplicates nothing, NULL
  * keys divert like any other, multi-column keys match column-wise, and
  * an empty input yields two empty legs of the input's schema (the
  * streaming index merger seeds its state from `batch.limit(0)`). */
class HotKeysSpec extends SparkSpec {
  import spark.implicits._

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  private def split(df: DataFrame, keys: Seq[String], cap: Long) =
    HotKeys.divert(df, HotKeys.census(df, keys, cap), keys)

  test("a key with exactly cap rows stays cold; cap + 1 rows divert") {
    val df = (Seq.fill(3)("at_cap") ++ Seq.fill(4)("over") ++ Seq("one"))
      .zipWithIndex.toDF("k", "rid")
    val census = HotKeys.census(df, Seq("k"), 3L).collect()
    assert(census.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("over", 4L)))
    val (cold, hot) = split(df, Seq("k"), 3L)
    assert(hot.select("k").distinct().as[String].collect().toSeq == Seq("over"))
    assert(cold.select("k").distinct().as[String].collect().toSet ==
      Set("at_cap", "one"))
  }

  test("cold ⊎ hot equals the input as a multiset") {
    // duplicate rows on both legs: the split must keep every copy
    val df = (Seq.fill(5)(("h", 1)) ++ Seq.fill(2)(("c", 2)) ++
      Seq(("h", 3), ("c", 2))).toDF("k", "v")
    val (cold, hot) = split(df, Seq("k"), 4L)
    assert(hot.count() == 6 && cold.count() == 3)
    assert(multiset(cold.unionByName(hot)) == multiset(df))
  }

  test("a hot NULL key diverts") {
    val df = (Seq.fill(4)(Option.empty[String]) ++ Seq(Some("a"), Some("b")))
      .zipWithIndex.toDF("k", "rid")
    val (cold, hot) = split(df, Seq("k"), 2L)
    assert(hot.count() == 4 && hot.filter($"k".isNotNull).count() == 0)
    assert(cold.select("k").as[String].collect().toSet == Set("a", "b"))
  }

  test("a three-column key (band, x, y) matches column-wise") {
    // (0, 1, 2) is hot; rows sharing two of its three columns stay cold
    val df = (Seq.fill(3)((0, 1L, 2L)) ++
      Seq((0, 1L, 3L), (0, 9L, 2L), (1, 1L, 2L), (1, 1L, 2L)))
      .zipWithIndex.map { case ((b, x, y), d) => (b, x, y, d.toLong) }
      .toDF("band", "x", "y", "doc_id")
    val (cold, hot) = split(df, Seq("band", "x", "y"), 2L)
    assert(hot.select("doc_id").as[Long].collect().toSet == Set(0L, 1L, 2L))
    assert(cold.select("doc_id").as[Long].collect().toSet == Set(3L, 4L, 5L, 6L))
  }

  test("an empty input gives two empty legs with the input's schema") {
    val df = Seq((0, 1L, 2L, 7L)).toDF("band", "x", "y", "doc_id").limit(0)
    val (cold, hot) = split(df, Seq("band", "x", "y"), 0L)
    assert(cold.schema == df.schema && hot.schema == df.schema)
    assert(cold.count() == 0 && hot.count() == 0)
  }
}
