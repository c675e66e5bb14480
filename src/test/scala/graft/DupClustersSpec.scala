package graft

import org.apache.spark.sql.functions._

import graft.queries.TextPipeline

/** Hash-min label propagation semantics: after k rounds every node holds
  * the minimum id within k hops, so a component is fully labeled exactly
  * when k reaches its diameter — asserted on a path graph (the worst
  * case) and a clique (the near-dup shape, diameter 1).
  */
class DupClustersSpec extends SparkSpec {
  import spark.implicits._

  private def components(nodeIds: Seq[Long], pairs: Seq[(Long, Long)], iters: Int) =
    TextPipeline.hashMinComponents(
      nodeIds.toDF("doc_id"),
      pairs.toDF("doc_a", "doc_b"),
      iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("path graph: k rounds reach exactly k hops") {
    // path 1-2-3-4-5-6-7 has diameter 6: node 7 sees min=2 after 5 rounds
    // (5 hops back), min=1 only after 6
    val nodes = (1L to 7L)
    val path = (1L to 6L).map(i => (i, i + 1))
    val after5 = components(nodes, path, iters = 5)
    assert(after5(7L) == 2L, "5 rounds propagate exactly 5 hops")
    assert(after5(6L) == 1L)
    val after6 = components(nodes, path, iters = 6)
    assert(after6(7L) == 1L, "6 rounds cover the full diameter")
    assert((1L to 7L).forall(after6(_) == 1L))
  }

  test("clique and singletons: one round suffices, singletons keep their id") {
    val nodes = Seq(10L, 11L, 12L, 99L)
    val clique = Seq((10L, 11L), (11L, 12L), (10L, 12L))
    val lbl = components(nodes, clique, iters = 1)
    assert(Seq(10L, 11L, 12L).forall(lbl(_) == 10L))
    assert(lbl(99L) == 99L)
  }

  test("converged and fixed-round variants agree on the corpus census") {
    val a = TextPipeline.dupClusters(spark, sfDir)
    val b = TextPipeline.dupClustersStar(spark, sfDir)
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  test("star rewriting labels a long path inside its O(log^2 n) budget") {
    // 200-path: hash-min would need 199 rounds; large-star/small-star
    // must collapse it to a single star within the 30-round default
    val nodes = (0L until 200L)
    val path = (0L until 199L).map(i => (i, i + 1))
    val lbl = TextPipeline.starComponents(
      nodes.toDF("doc_id"), path.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nodes.forall(lbl(_) == 0L),
      "star fixpoint must label the whole 200-path with its minimum")
    // two components + singletons: labels stay within each component
    val two = TextPipeline.starComponents(
      (0L to 6L).toDF("doc_id"),
      Seq((1L, 2L), (2L, 3L), (5L, 4L)).toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(two(_) == 1L))
    assert(Seq(4L, 5L).forall(two(_) == 4L))
    assert(two(0L) == 0L && two(6L) == 6L)
  }

  test("star rewriting fails loudly when the round budget is exhausted") {
    // maxIters = 1 cannot reach the star fixpoint of a 50-path; the
    // member/center read-off would silently mislabel, so the loop must
    // raise instead of returning (the budget-exhaustion guard)
    val nodes = (0L until 50L).toDF("doc_id")
    val path = (0L until 49L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      TextPipeline.starComponents(nodes, path, maxIters = 1)
    }
    assert(e.getMessage.contains("fixpoint"))
  }

  test("star rewriting equals a union-find on the heavy-tailed power-law graph") {
    // ~1k-edge hub-dominated graph (sf0.001 slice of the generator):
    // star rewriting exercises real high-degree star formation here, not
    // just the small near-clique dup groups
    val pairs = graft.queries.GraphText.powerlawEdges(spark, sfDir)
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b")))
      .distinct()
    val star = TextPipeline.starComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side union-find over the collected edges, the minimum id
    // of each set as its label
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.collect().foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val expect = parent.keys.map(x => x -> find(x)).toMap
    assert(expect.size > 100 && expect.values.toSet.size < expect.size,
      "the fixture must hold real components")
    assert(star == expect,
      "star rewriting disagrees with the union-find component labels")
  }

  test("census over the corpus partitions all documents") {
    val out = TextPipeline.dupClusters(spark, sfDir)
    val total = out.agg(sum(col("n_docs"))).head().getLong(0)
    val nDocs = graft.core.Tables.documents(spark, sfDir).count()
    assert(total == nDocs, "every document lands in exactly one cluster")
    // cluster representative is the minimum member: rep*n <= id_sum
    assert(out.filter(col("id_sum") < col("cluster_rep") * col("n_docs"))
      .count() == 0)
  }

  test("keep-best: exactly one survivor per cluster, every doc censused") {
    val kept = graft.queries.TextPipeline.dedupKeepBest(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    val nClusters = graft.queries.TextPipeline.dupClusters(spark, sfDir).count()
    val nDocs = graft.core.Tables.documents(spark, sfDir).count()
    graft.core.Caches.release()
    // the argmax window picks rn = 1 once per label: survivors == clusters
    assert(kept.map(_._2).sum == nClusters,
      s"${kept.map(_._2).sum} survivors for $nClusters clusters")
    assert(kept.map(_._1).sum == nDocs, "every document censused once")
    assert(kept.map(_._1).sum > kept.map(_._2).sum,
      "the fixture must actually contain duplicates to drop")
  }
}
