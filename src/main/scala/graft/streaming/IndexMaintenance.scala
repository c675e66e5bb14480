package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.Corpus
import graft.queries.TextPipeline

/** The index-maintenance family ([[graft.api.Corpus.minhashIndex]] /
  * minhashIndexMerge / dedupAgainstIndex) driven by a STREAM — the
  * nightly-compaction shape as a `foreachBatch` sink. Each micro-batch of
  * documents folds into the running (index, hot census) pair via the same
  * oracle-checked merge the batch job runs (q_dedup_index_merge's
  * merge == rebuild law), so after any prefix of batches the persisted
  * state is row-for-row what a from-scratch build over the delivered
  * documents would produce — including buckets that cross the cap only
  * mid-stream, which tombstone into the census and NEVER resurrect in a
  * later batch (StreamingIndexMergeSpec pins both laws).
  *
  * State is versioned parquet under `stateDir` (`idx/v<batchId>`,
  * `hot/v<batchId>`): a batch writes its OWN version and readers take the
  * max, so a retried micro-batch overwrites its version instead of
  * double-merging — idempotent replay, the foreachBatch exactly-once
  * discipline. The un-versioned alternative (overwrite one dir in place)
  * reads and writes the same files in one job, which Spark forbids.
  * Old versions are the retention knob a deployment trims by age.
  *
  * Batches must carry doc ids DISJOINT from history — the documented
  * [[graft.api.Corpus.minhashIndexMerge]] precondition (anti-join the
  * feed upstream if it can re-deliver). */
object IndexMaintenance {

  /** The foreachBatch function: fold each arriving (id, text) micro-batch
    * into the versioned (index, census) state under `stateDir`.
    * {{{
    * docsStream.writeStream
    *   .foreachBatch(IndexMaintenance.minhashMerger(dir, "doc_id", "text"))
    *   .start()
    * }}} */
  def minhashMerger(stateDir: String, id: String = "doc_id",
      text: String = "text", bucketCap: Int = TextPipeline.LshBucketCap)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    val spark = batch.sparkSession
    // read the newest version STRICTLY BEFORE this batch id: a retried
    // batch must fold into its predecessor's state, not into its own
    // first attempt (reading v<batchId> is what makes replay idempotent)
    val (idx0, hot0) = read(spark, stateDir, Some(batchId)).getOrElse {
      // schema-correct empty state from the build legs themselves
      (Corpus.minhashIndex(batch.limit(0), id, text, bucketCap),
        Corpus.minhashHotCensus(batch.limit(0), id, text, bucketCap))
    }
    val (idx1, hot1) =
      Corpus.minhashIndexMerge(idx0, hot0, batch, id, text, bucketCap)
    idx1.write.mode("overwrite").parquet(s"$stateDir/idx/v$batchId")
    hot1.write.mode("overwrite").parquet(s"$stateDir/hot/v$batchId")
  }

  /** The newest persisted (index, hot census) pair, ready for
    * [[graft.api.Corpus.dedupAgainstIndex]] serving — None before the
    * first batch commits. Only versions present in BOTH legs count: the
    * two parquet writes are separate jobs, so a crash between them
    * leaves a half-written version that readers must skip (the previous
    * complete pair keeps serving until the replay overwrites it). */
  def latest(spark: SparkSession, stateDir: String)
      : Option[(DataFrame, DataFrame)] = read(spark, stateDir, None)

  private def read(spark: SparkSession, stateDir: String,
      below: Option[Long]): Option[(DataFrame, DataFrame)] = {
    val conf = spark.sessionState.newHadoopConf()
    val complete = versions(s"$stateDir/idx", conf, below)
      .intersect(versions(s"$stateDir/hot", conf, below))
    complete.maxOption.map { v =>
      (spark.read.parquet(s"$stateDir/idx/v$v"),
        spark.read.parquet(s"$stateDir/hot/v$v"))
    }
  }

  /** The retention knob: drop all but the newest `keep` state versions
    * (both legs). `keep` must be >= 2: a retried micro-batch reads the
    * newest version strictly BELOW its own id, so with only its own
    * (possibly half-written) version on disk a replay would fall back to
    * the empty state and silently reset the index — two retained
    * versions ride out one in-flight batch plus its predecessor. Only
    * numeric `v<k>` entries are touched (non-numeric debris is left
    * alone, matching the readers). Returns the number of versions
    * removed. */
  def prune(spark: SparkSession, stateDir: String, keep: Int = 2): Int = {
    require(keep >= 2,
      s"keep must be >= 2 (replay reads the version below its own): $keep")
    val conf = spark.sessionState.newHadoopConf()
    Seq(s"$stateDir/idx", s"$stateDir/hot").map { dir =>
      val p = new Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0
      else {
        val stale = versions(dir, conf, None).sorted.dropRight(keep)
        stale.foreach(v => fs.delete(new Path(p, s"v$v"), true))
        stale.size
      }
    }.sum
  }

  /** The numeric `v<k>` version ids under `dir` (below `below` when
    * given); non-numeric debris is skipped. Shared with [[ChunkStore]]. */
  private[streaming] def versions(dir: String,
      conf: org.apache.hadoop.conf.Configuration,
      below: Option[Long]): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("v"))
      .flatMap(n => scala.util.Try(n.drop(1).toLong).toOption)
      .filter(v => below.forall(v < _))
  }
}
