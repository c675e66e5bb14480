package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.api.Corpus
import graft.streaming.ChunkStore

/** The stream-driven CDC chunk store: folding document micro-batches via
  * foreachBatch equals the from-scratch batch distinct-chunk build after
  * every prefix of batches, and a re-delivered (lightly edited) document
  * adds ONLY its changed chunks — the cross-batch CDC dedup property. */
class ChunkStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tokensFrom(seed: Long, n: Int): String =
    (1 to n).map(i => s"t${(i * i * 2654435761L + seed) % 97}").mkString(" ")

  private def storeCensus(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("chash").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("stream store equals batch distinct chunks after every batch; edits add only changed chunks") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("chunkstore").toString

    val base = tokensFrom(7, 240)
    val edited = "crawl noise prefix xyz " + base // the recrawl shape
    val batches = Seq(
      Seq((1L, base), (2L, tokensFrom(3, 120))),
      Seq((3L, edited), (4L, tokensFrom(11, 120))),
      Seq((5L, base))) // exact re-delivery: contributes nothing

    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(ChunkStore.cdcWriter(dir))
      .start()
    try {
      var delivered = Seq.empty[(Long, String)]
      var sizes = Seq.empty[Long]
      batches.foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
        delivered ++= b
        val Some(store) = ChunkStore.latest(spark, dir)
        val rebuilt = Corpus.cdcChunks(delivered.toDF("doc_id", "text"))
          .groupBy(col("chash")).agg(min(col("clen")).as("clen"))
          .select(col("chash"), col("clen"))
        assert(storeCensus(store) === storeCensus(rebuilt),
          s"stream store diverged from batch rebuild after ${delivered.size} docs")
        sizes :+= store.count()
      }
      // batch 2's edited redelivery grew the store by only the edit-front
      // chunks, far fewer than doc 3's total chunk count
      val doc3Chunks = Corpus.cdcChunks(Seq((3L, edited)).toDF("doc_id", "text")).count()
      val grewBy = sizes(1) - sizes(0)
      val freshDocChunks = Corpus.cdcChunks(
        Seq((4L, tokensFrom(11, 120))).toDF("doc_id", "text")).count()
      assert(grewBy < doc3Chunks + freshDocChunks,
        s"edited redelivery re-added everything: +$grewBy for $doc3Chunks + $freshDocChunks chunks")
      // batch 3 is an exact re-delivery: the store must not grow at all
      assert(sizes(2) == sizes(1),
        s"exact re-delivery grew the store: ${sizes(1)} -> ${sizes(2)}")
    } finally q.stop()
  }

  test("latest skips a non-numeric v entry under chunks/") {
    val dir = java.nio.file.Files.createTempDirectory("chunkstore_debris").toString
    Seq((11L, 3L)).toDF("chash", "clen")
      .write.parquet(s"$dir/chunks/v3")
    // debris a crashed writer or an operator could leave next to the
    // versions; a numeric parse of it would throw
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "chunks", "vtmp"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "chunks", "v9.bak"))
    val Some(store) = ChunkStore.latest(spark, dir)
    assert(storeCensus(store) === Seq((11L, 3L)))
    assert(ChunkStore.latest(spark, dir, Some(3L)).isEmpty,
      "no numeric version lies below 3")
  }
}
