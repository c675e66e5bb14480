package graft

import org.apache.spark.sql.functions._

import graft.queries.{Similarity, TextPipeline}

/** Hot-bucket guards: an adversarial corpus that collapses into one LSH
  * bucket must not re-create the O(n²) pair join the bucketing exists to
  * prevent. The guard drops over-cap buckets before any self-join; benign
  * corpora (bucket sizes under the cap) are untouched.
  */
class LshGuardSpec extends SparkSpec {
  import spark.implicits._

  private val nDocs = 50

  private def identicalCorpus = {
    (0L until nDocs.toLong)
      .map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
  }

  test("minhash guard drops the degenerate all-identical bucket") {
    val pairs = TextPipeline.dedupMinhashDocs(identicalCorpus, cap = 16)
    assert(pairs.count() == 0,
      "an all-identical corpus must produce no pair-join work under the cap")
  }

  test("minhash guard is inert when buckets fit the cap") {
    val pairs = TextPipeline.dedupMinhashDocs(identicalCorpus, cap = nDocs)
    // every pair collides in all 4 bands with a full 8/8 signature match
    assert(pairs.count() == nDocs.toLong * (nDocs - 1) / 2)
    assert(pairs.filter(col("n_match") =!= 8).count() == 0)
  }

  test("ann guard drops the degenerate all-identical bucket") {
    val all = (0L until 60L)
      .map(i => (i, Seq.fill(64)(1000L)))
      .toDF("vid", "v")
      .withColumn("n2", lit(64L * 1000 * 1000))
    def annLsh(cap: Long) = Similarity.lshSearch(all,
      all.filter(col("vid") < 20), k = 3, bits = 6, tables = 1, hamming = 0,
      cap = cap)
    assert(annLsh(cap = 16).count() == 0)
    // under a permissive cap the same corpus yields top-3 per query
    assert(annLsh(cap = 512).count() == 20 * 3)
  }

  test("a query in an over-cap bucket probes nothing, not even its cold Hamming-1 neighbour") {
    // the oracle draws multi-probe queries from the GUARDED index: a
    // query whose own bucket is over the cap is dropped before its
    // probes fan out. Plant an over-cap bucket (30 copies of u) one sign
    // flip away from a cold bucket (3 copies of u'), found on the driver
    // with the engine's hyperplanes
    def scaled(x: Float) = math.floor(x.toDouble * 1000000).toLong
    def bucket(e: Array[Float]) = (0 until 6).map { b =>
      val d = (1 to 64).map(i =>
        Similarity.lshWeight(b, i) * scaled(e(i - 1))).sum
      if (d > 0) 1L << b else 0L
    }.sum
    val rnd = new scala.util.Random(7)
    val pool = Seq.fill(64)(Array.fill(64)((rnd.nextInt(2001) - 1000) / 1000f))
    val (u, u2) = (for (a <- pool; b <- pool
      if java.lang.Long.bitCount(bucket(a) ^ bucket(b)) == 1) yield (a, b)).head
    val vectors = ((0L until 30L).map(i => (i, u)) ++
      (100L until 103L).map(i => (i, u2))).toDF("vec_id", "embedding")
    val queries = vectors.filter(col("vec_id") === 0L || col("vec_id") === 100L)
    def neighbors(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      try df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      finally graft.core.Caches.release()
    val multiprobe = neighbors(Similarity.lshSearch(
      Similarity.canonical(vectors, "vec_id", "embedding"),
      Similarity.canonical(queries, "vec_id", "embedding"),
      k = 3, bits = 6, tables = 1, hamming = 1, cap = 16))
    val facade = neighbors(graft.api.Vectors.lshTopK(vectors, queries, k = 3,
      bits = 6, tables = 1, hamming = 1, bucketCap = 16))
    Seq(multiprobe, facade).foreach { got =>
      // the hot-bucket query is gone; the cold query still finds its
      // bucket-mates (its Hamming-1 probe into the hot bucket finds none)
      assert(got == Map(100L -> Set(101L, 102L)), s"got $got")
    }
  }
}
