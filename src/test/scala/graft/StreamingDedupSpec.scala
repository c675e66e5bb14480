package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.Sessions

/** Streaming exact dedup: keep-first within the watermark window, one
  * output row per key, suppression across batches while state is live.
  */
class StreamingDedupSpec extends SparkSpec {

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("dropDuplicatesWithinWatermark suppresses dupes across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, Timestamp, Double)]
    val dedup = Sessions.dedupStream(
      input.toDF().toDF("k", "ts", "v"), "10 minutes", Seq("k"))
    val q = dedup.writeStream.format("memory")
      .queryName("dedup_test").outputMode("append").start()
    try {
      input.addData((1L, ts(0), 1.0), (1L, ts(1), 2.0), (2L, ts(2), 3.0))
      q.processAllAvailable()
      val afterFirst = spark.table("dedup_test")
        .select("k").collect().map(_.getLong(0)).toSeq
      assert(afterFirst.sorted == Seq(1L, 2L),
        s"one row per key expected, got $afterFirst")

      // a later duplicate of key 1, still inside the watermark window —
      // state is live, so it must be suppressed
      input.addData((1L, ts(3), 4.0))
      q.processAllAvailable()
      val afterSecond = spark.table("dedup_test")
        .filter($"k" === 1L).count()
      assert(afterSecond == 1, "duplicate within the watermark must not re-emit")

      // a brand-new key always passes
      input.addData((3L, ts(4), 5.0))
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() == 3)
    } finally q.stop()
  }

  test("a restarted dedup stream resumes from its checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("dedup_restart").toString
    assert(CheckpointFileManager.create(new Path(ckpt), spark.sessionState.newHadoopConf())
      .isInstanceOf[FileSystemBasedCheckpointFileManager])

    val input = MemoryStream[(Long, Timestamp, Double)]
    val emitted = mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    def start() = Sessions.dedupStream(input.toDF().toDF("k", "ts", "v"), "10 minutes", Seq("k"))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        emitted.synchronized { emitted += id -> batch.select("k").as[Long].collect().toSeq.sorted }
        ()
      }.start()

    val first = start()
    try {
      input.addData((1L, ts(1), 1.0), (2L, ts(2), 2.0))
      first.processAllAvailable()
      input.addData((3L, ts(3), 3.0), (1L, ts(3), 4.0))
      first.processAllAvailable()
    } finally first.stop()
    assert(emitted.toSeq == Seq(0L -> Seq(1L, 2L), 1L -> Seq(3L)))

    // the same checkpoint and source: keys 1..3 are still in state, so
    // only the new keys pass, in the batch after the last committed one
    val second = start()
    try {
      input.addData((2L, ts(4), 5.0), (3L, ts(4), 6.0), (4L, ts(5), 7.0), (5L, ts(5), 8.0))
      second.processAllAvailable()
    } finally second.stop()
    assert(emitted.toSeq == Seq(0L -> Seq(1L, 2L), 1L -> Seq(3L), 2L -> Seq(4L, 5L)))
  }

  test("classifier quality filter runs unchanged on a stream (stateless scan op)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the model-based quality filter is one scan-local expression, so the
    // SAME facade call compiles into a streaming plan with zero state —
    // the online-ingest filtering mode of the batch q_quality_classifier
    val input = MemoryStream[(Long, String)]
    val scored = graft.api.Corpus.classifierLogit(
      input.toDF().toDF("my_id", "body"), id = "my_id", text = "body")
    val q = scored.writeStream.format("memory")
      .queryName("clf_stream").outputMode("append").start()
    try {
      val batch = Seq(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different content with more words here"),
        (3L, ""))
      input.addData(batch: _*)
      q.processAllAvailable()
      val got = spark.table("clf_stream").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      val expect = graft.api.Corpus.classifierLogit(
          batch.toDF("my_id", "body"), id = "my_id", text = "body")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
        .toMap
      assert(got == expect, s"stream and batch scoring diverged: $got vs $expect")
      assert(got(3L)._1 == 0L && !got(3L)._2, "empty doc scores 0 and drops")
    } finally q.stop()
  }
}
