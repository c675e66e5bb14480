package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{Corpus, Tuning, Vectors}

/** The production PQ dial (Similarity.pqSearch behind
  * Vectors.pqTopK): wider codebooks, multi-round Lloyd training, and the
  * exact-cosine IndexRefine stage. Recall movement is gated at sf0.1 by
  * BenchGate (ann_pq_256*); this spec pins the mechanics on synthetic
  * vectors. */
class PqProductionSpec extends SparkSpec {
  import spark.implicits._

  /** 320 vectors in 8 well-separated 64-dim clusters + jitter. */
  private def base: DataFrame = {
    val rows = Seq.tabulate(320) { i =>
      val c = i % 8
      val v = Array.tabulate(64) { d =>
        val center = if (d / 8 == c) 1.0f else 0.0f
        center + ((i * 131 + d * 17) % 7 - 3) * 0.02f
      }
      (i.toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def queries: DataFrame = base.filter(col("vec_id") < 16)

  private def hits(res: DataFrame): Map[(Long, Long), Long] =
    res.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("default dials reproduce the legacy pqTopK shape exactly") {
    val legacy = Vectors.pqTopK(base, queries, k = 3)
      .select("query_id", "rank", "neighbor_id")
    val viaProd = Vectors.pqTopK(base, queries, k = 3,
      centroids = 16, rounds = 0, rerank = 0)
      .select("query_id", "rank", "neighbor_id")
    assert(hits(viaProd) === hits(legacy))
  }

  test("production dial is deterministic across runs") {
    def run() = hits(Vectors.pqTopK(base, queries, k = 3,
      centroids = 64, rounds = 2, rerank = 0)
      .select("query_id", "rank", "neighbor_id"))
    assert(run() === run())
  }

  test("refined search recovers at least the unrefined recall") {
    val truth = hits(Vectors.cosineTopK(base, queries, k = 3)
      .select("query_id", "rank", "neighbor_id")).values.toSet ->
      hits(Vectors.cosineTopK(base, queries, k = 3)
        .select("query_id", "rank", "neighbor_id")).map {
        case ((q, _), n) => (q, n)
      }.toSet
    def recall(res: DataFrame): Double = {
      val got = hits(res.select("query_id", "rank", "neighbor_id")).map {
        case ((q, _), n) => (q, n)
      }.toSet
      got.intersect(truth._2).size.toDouble / truth._2.size
    }
    val plain = recall(Vectors.pqTopK(base, queries, k = 3))
    val refined = recall(Vectors.pqTopK(base, queries, k = 3,
      centroids = 64, rounds = 2, rerank = 10))
    assert(refined >= plain,
      s"refined recall $refined fell below plain PQ $plain")
    assert(refined > 0.9, s"refined recall $refined on separable clusters")
  }

  test("rerank output ranks by exact cosine, descending") {
    val res = Vectors.pqTopK(base, queries, k = 3,
      centroids = 64, rounds = 1, rerank = 8)
    assert(res.columns.contains("cos"))
    val byQuery = res.select("query_id", "rank", "cos").collect()
      .groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(1)).map(_.getDouble(2))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("every query returns exactly k rows under all dials") {
    Seq((16, 0, 0), (64, 2, 0), (64, 3, 10)).foreach {
      case (c, r, rr) =>
        val res = Vectors.pqTopK(base, queries, k = 3,
          centroids = c, rounds = r, rerank = rr)
        assert(res.groupBy("query_id").count()
          .filter(col("count") =!= 3).count() === 0L)
    }
  }

  test("Tuning.pqCentroids floors to corpus/8 and caps at 256") {
    assert(Tuning.pqCentroids(40L) === 5)
    assert(Tuning.pqCentroids(2000L) === 250)
    assert(Tuning.pqCentroids(100000L) === 256)
    assert(Tuning.pqCentroids(100000000000L) === 256)
  }
}
