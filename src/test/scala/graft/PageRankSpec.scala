package graft

import org.apache.spark.sql.functions._

import graft.queries.Iterative

/** Parity between the integer-exact PageRank (oracle form, ranks scaled by
  * 1e6 with DIV truncation) and the production double-rank variant: the
  * two must agree on which nodes matter, even though the double form's
  * summation order is not bit-reproducible.
  */
class PageRankSpec extends SparkSpec {

  test("double-rank variant agrees with the integer form on the top nodes") {
    val top = 20
    val intTop = Iterative.pagerank(spark, sfDir)
      .orderBy(col("rank").desc, col("node")).limit(top)
      .select(col("node")).collect().map(_.getLong(0)).toSet
    val dblTop = Iterative.pagerankDouble(spark, sfDir, iters = 3)
      .orderBy(col("rank").desc, col("node")).limit(top)
      .select(col("node")).collect().map(_.getLong(0)).toSet
    val overlap = intTop.intersect(dblTop).size
    assert(overlap >= top - 2,
      s"top-$top rank-order drift too large: only $overlap nodes shared")
  }

  test("hits ranks the star center above the leaf on a controlled graph") {
    import spark.implicits._
    // part 1 buys from suppliers 10, 11, 12; part 2 only from 10:
    // hub(1) > hub(2); supplier 10 (bought by both) out-ranks 11/12
    val base = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L))
      .toDF("p", "sup")
    val out = Iterative.hitsGraph(base, width = 2).collect()
    def score(role: String, node: Long): Long =
      out.find(r => r.getString(0) == role && r.getLong(1) == node)
        .map(_.getLong(2)).getOrElse(fail(s"missing $role $node"))
    assert(score("hub", 1L) == 1000000L, "dominant hub normalizes to 1e6")
    assert(score("authority", 10L) == 1000000L,
      "dominant authority normalizes to 1e6")
    assert(score("hub", 1L) > score("hub", 2L))
    assert(score("authority", 10L) > score("authority", 11L))
    assert(score("authority", 11L) == score("authority", 12L),
      "symmetric leaves must score identically")
    assert(out.forall(_.getLong(2) > 0L), "scores stay positive")
  }

  test("checkpoint-every-k long run converges (rank mass conserved-ish)") {
    val r = Iterative.pagerankDouble(spark, sfDir, iters = 7, checkpointEvery = 2)
      .agg(sum(col("rank")).as("mass"), count(lit(1)).as("n"))
      .collect().head
    val mass = r.getDouble(0)
    val n = r.getLong(1)
    // every node holds 0.15 + 0.85 * (received share); on this graph (no
    // dangling nodes) total mass stays within a loose band of n
    assert(n > 0 && mass > 0.5 * n && mass < 1.5 * n)
  }
}
