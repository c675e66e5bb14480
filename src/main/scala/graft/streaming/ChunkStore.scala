package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Corpus

/** A content-defined chunk store driven by a document STREAM — the
  * recrawl-ingest shape as a `foreachBatch` sink. Each micro-batch chunks
  * scan-locally ([[graft.api.Corpus.cdcChunks]], the oracle-checked
  * q_cdc_chunks internals) and folds ONLY previously-unseen chunk hashes
  * into the store, so a re-delivered or lightly-edited document
  * contributes just its changed chunks — the CDC dedup property applied
  * across batches. After any prefix of batches the store is exactly the
  * distinct-chunk set a from-scratch batch build over the delivered
  * documents would produce (stream ≡ batch, ChunkStoreSpec pins it).
  *
  * State is versioned parquet (`chunks/v<batchId>`) exactly like
  * [[IndexMaintenance]]: a batch reads the newest version STRICTLY before
  * its own id and overwrites its own version, so a retried micro-batch
  * replays idempotently instead of double-folding. The rewrite-the-store
  * layout is spec-scale convenience; a deployment appends a per-batch
  * delta (the `fresh` frame below, already delta-sized) and compacts on
  * the q_compaction_plan schedule instead of copying the store per batch.
  */
object ChunkStore {

  /** The foreachBatch function: fold each arriving (id, text) micro-batch's
    * unseen chunks into the versioned store under `stateDir`.
    * {{{
    * docsStream.writeStream
    *   .foreachBatch(ChunkStore.cdcWriter(dir, "doc_id", "text")).start()
    * }}} */
  def cdcWriter(stateDir: String, id: String = "doc_id",
      text: String = "text"): (DataFrame, Long) => Unit = { (batch, batchId) =>
    val spark = batch.sparkSession
    val prev = latest(spark, stateDir, Some(batchId)).getOrElse(
      Corpus.cdcChunks(batch.limit(0), id, text)
        .select(col("chash"), col("clen")))
    // one row per distinct new hash: in-batch duplicates collapse via
    // min(clen) (equal anyway for equal content) before the store union
    val fresh = Corpus.cdcChunks(batch, id, text)
      .join(prev.select("chash"), Seq("chash"), "left_anti")
      .groupBy(col("chash")).agg(min(col("clen")).as("clen"))
      .select(col("chash"), col("clen"))
    prev.unionByName(fresh)
      .write.mode("overwrite").parquet(s"$stateDir/chunks/v$batchId")
  }

  /** The newest persisted chunk store — strictly before `beforeBatch` when
    * given (the replay-idempotence read), else the global newest; None
    * before the first batch commits. Non-numeric `v…` entries are
    * skipped, as [[IndexMaintenance]]'s readers skip them. */
  def latest(spark: SparkSession, stateDir: String,
      beforeBatch: Option[Long] = None): Option[DataFrame] =
    IndexMaintenance.versions(s"$stateDir/chunks",
      spark.sessionState.newHadoopConf(), beforeBatch).maxOption
      .map(v => spark.read.parquet(s"$stateDir/chunks/v$v"))
}
