package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface for the engine's stream-shaped workloads.
  *
  * The reference is batch-only with hard phase barriers (`THEMIS_README:
  * 39-40`); its one stream-shaped workload is click-log sessionization
  * (`ClickLogSessionSummarizerReduceFunction.cc`). Here the same
  * aggregations run unmodified over `readStream` sources — the transforms
  * are written against DataFrame, so one definition serves batch (the
  * oracle-checked `q_sessionize_gap` / `q_wordcount`) and streaming (these
  * entry points, exercised with MemoryStream in StreamingSpec).
  *
  * Watermarking bounds state: sessions older than the watermark are
  * finalized and evicted, which is what makes the operator viable on an
  * unbounded 100 TB/day stream.
  */
object Sessions {

  /** Gap-based session aggregation. Works on a batch OR streaming frame
    * with columns (user_id, ts, value). On a stream, `withWatermark`
    * must already be applied by the caller (see [[sessionizeStream]]). */
  def sessionize(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Streaming form: watermark + session window. Late events beyond
    * `lateness` are dropped and closed sessions are emitted exactly once
    * (append mode). */
  def sessionizeStream(events: DataFrame, gap: String, lateness: String): DataFrame =
    sessionize(events.withWatermark("ts", lateness), gap)

  /** Streaming word count over a (ts, text) stream: tumbling-window word
    * frequencies — the reference's WordCount as a continuous query. */
  def wordCountStream(lines: DataFrame, window: String, lateness: String): DataFrame =
    lines.withWatermark("ts", lateness)
      .select(col("ts"), explode(split(col("text"), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("word"), col("cnt"))

  /** Streaming exact dedup with bounded state — the unbounded-stream form
    * of `q_dedup_exact`'s keep-first rule: duplicates of a key arriving
    * within the watermark delay are suppressed, and per-key state older
    * than the watermark is evicted, so state size tracks the key arrival
    * rate × delay window, never the stream's history. The batch form
    * (`dropDuplicates`) keeps all keys forever; this is the only version
    * that survives a 100 TB/day feed. */
  def dedupStream(events: DataFrame, lateness: String, keys: Seq[String]): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-static enrichment join: each micro-batch of the stream joins
    * the (batch) dimension frame — Spark re-plans the static side per
    * batch, broadcasting it whenever it fits, and the streaming side
    * keeps NO join state (unlike stream-stream joins there is nothing to
    * watermark), so an unbounded event feed enriches against a
    * billion-row dimension at the cost of one batch-side lookup join per
    * micro-batch. Exercised in StreamingEnrichSpec against the
    * equivalent batch join. */
  def enrichStream(events: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    events.join(dim, keys)

  /** Stream-STREAM interval join (click→purchase attribution as two live
    * feeds): each purchase joins the clicks by the same user that landed
    * inside the preceding `windowMs` milliseconds. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can evict buffered rows once the watermark passes the interval
    * — per-key state is O(arrival rate × window), never stream history;
    * without BOTH the watermarks and the time-range predicate the state
    * store grows unboundedly (the classic stream-join failure at scale).
    * Inner join in append mode: a match emits exactly once, when both
    * sides have arrived. Exercised in StreamingJoinSpec against the
    * identical batch join. */
  def intervalJoinStreams(clicks: DataFrame, purchases: DataFrame,
      lateness: String, windowMs: Long): DataFrame = {
    val c = clicks.withWatermark("ts", lateness)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val p = purchases.withWatermark("ts", lateness)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    p.join(c,
      col("c_user") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMs MILLISECONDS"))
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("click_ts"), col("purchase_value"), col("click_value"))
  }

  /** File-source streaming ingest of an events directory: the engine's
    * `readStream` entry for parquet drops. The `ts` physical type differs
    * across testdata generations (TIMESTAMP(NANOS)-as-long vs native
    * micros); probe the first file's footer like `core/Tables.events` and
    * surface a uniform microsecond timestamp either way. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.Tables
    val storage = Tables.probeTsStorage(dir)
    Tables.readsNanos(spark, storage)
    val tsDdl = Tables.eventsTsDdl(storage)
    val raw = spark.readStream
      .schema(s"event_id LONG, $tsDdl, user_id LONG, event_type STRING, value DOUBLE, props STRING")
      .parquet(dir)
    storage match {
      case Tables.TsNanosAsLong =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case Tables.TsNativeTimestamp(_) =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
}
