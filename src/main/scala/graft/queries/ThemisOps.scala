package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions._

import graft.api.SortedGroups
import graft.core.{GQuery, HotKeys, Tables}
import graft.core.Caches.TrackedOps
import Qdsl._

/** The reference's user-visible MapReduce function library re-expressed as
  * declarative Spark plans (SURVEY.md §2.2/§2.3). Each query names the
  * reference operator it covers in its Scaladoc; the map-side combining the
  * reference hand-rolls (`AggregatingHashCounter.h:15-130`) is Spark's
  * partial hash aggregation, so every groupBy below ships only partial
  * aggregates through the shuffle.
  */
object ThemisOps {

  /** WordCount(+Combining) (`WordCountMapFunction.cc:74-114`,
    * `WordCountReduceFunction.cc:6-35`): tokenize → explode → count.
    * Flows as scan → generate → partial agg → 1 shuffle → final agg. */
  def wordCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(words(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  private val wordCountSql =
    """SELECT word, COUNT(*) AS cnt FROM (
      |  SELECT unnest(list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), w -> w != '')) AS word
      |  FROM documents) t
      |GROUP BY word""".stripMargin

  /** NGram (`NGramMapFunction.cc:9-51`): sliding word window → count.
    * The window is built with array higher-order functions, so it stays
    * inside whole-stage codegen (no UDF). */
  def ngramCount(s: SparkSession, dir: String): DataFrame = {
    // tokenize once per row into a materialized column — indexing the
    // tokenizer expression inside the transform lambda would re-split the
    // document per n-gram position
    val w = col("w")
    val grams = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
      .otherwise(array().cast("array<string>"))
    Tables.documents(s, dir)
      .select(words(col("text")).as("w"))
      .select(explode(grams).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("cnt"))
  }

  private val ngramCountSql =
    """SELECT ngram, COUNT(*) AS cnt FROM (
      |  SELECT unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS ngram
      |  FROM (SELECT list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), w -> w != '') AS ws
      |        FROM documents) d) t
      |GROUP BY ngram""".stripMargin

  /** InvertedIndex (`InvertedIndexMapFunction.cc:12-49`,
    * `InvertedIndexReduceFunction.cc:6-45`): word → posting-list stats.
    * The reference concatenates postings after a two-pass group scan; the
    * aggregate form ships constant-size state per word instead of the
    * full posting list (what you want at 100 TB — the full list variant is
    * collect_list, demonstrated in tests). */
  def invertedIndex(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("tf"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  private val invertedIndexSql =
    """SELECT word, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS tf,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM (SELECT doc_id,
      |        unnest(list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), w -> w != '')) AS word
      |      FROM documents) t
      |GROUP BY word""".stripMargin

  /** Grep (`GrepMapFunction.cc:15-22`): selective substring filter. The
    * predicate pushes to the scan; output order-free. */
  def grep(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("text").contains("merge sort"))
      .select(col("doc_id"), col("n_chars"),
        locate("merge sort", col("text")).as("pos"))

  private val grepSql =
    """SELECT doc_id, n_chars, strpos(text, 'merge sort') AS pos
      |FROM documents WHERE text LIKE '%merge sort%'""".stripMargin

  /** TupleLengthCounter (`TupleLengthCounterMapFunction.cc:9-43`): length
    * histograms over the corpus — one row per (metric, bucket). */
  def lengthHistogram(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val chars = d.select(lit("chars").as("metric"),
      (length(col("text")).cast("long") / 50).cast("long").as("bucket"))
    val tokens = d.select(lit("tokens").as("metric"),
      (size(words(col("text"))).cast("long") / 10).cast("long").as("bucket"))
    chars.union(tokens).groupBy(col("metric"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  private val lengthHistogramSql =
    """SELECT metric, bucket, COUNT(*) AS cnt FROM (
      |  SELECT 'chars' AS metric, length(text) // 50 AS bucket FROM documents
      |  UNION ALL
      |  SELECT 'tokens' AS metric,
      |    len(list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), w -> w != '')) // 10 AS bucket
      |  FROM documents) t
      |GROUP BY metric, bucket""".stripMargin

  /** CountDuplicateKeys (`CountDuplicateKeysReduceFunction.cc:4-26`):
    * emit keys appearing more than once. */
  def dupKeys(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("value"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  private val dupKeysSql =
    """SELECT value, COUNT(*) AS n FROM events GROUP BY value HAVING COUNT(*) > 1""".stripMargin

  /** SumValues (`SumValuesReduceFunction.cc:7-38`): per-key value sums over
    * the event stream, keyed by user. */
  def sumValues(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(sumDec(col("value")).as("sum_value"),
        count(lit(1)).as("n_events"))

  private val sumValuesSql =
    """SELECT user_id, CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY user_id""".stripMargin

  /** Gap-based sessionization — the Spark-native `session_window` form of
    * `ClickLogSessionSummarizerReduceFunction.cc` (which is span-based; see
    * [[sessionizeThemis]] for the bit-parity variant). Batch session_window
    * here; the identical plan runs under Structured Streaming (see
    * graft.streaming.SessionStream). Gap = 6h; a new session starts when
    * the inter-event gap is >= the window gap (session_window windows are
    * end-exclusive). */
  def sessionizeGap(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n_events"),
        min(epochMs(col("ts"))).as("start_ms"),
        max(epochMs(col("ts"))).as("end_ms"),
        sumDec(col("value")).as("sum_value"))
      .select(col("user_id"), col("start_ms"), col("end_ms"),
        col("n_events"), col("sum_value"))

  /** [[sessionizeGap]] through the hot-user guard — the sessionization
    * member of the segmented window family (winsorize = ranks, asof =
    * carries, scd2 = adjacency, funnel = automata; here BOTH a carry and
    * a distributed cumsum): value-identical, registered against the SAME
    * oracle SQL, with a cap that splits the sf0.01 users across legs. */
  def sessionizeGuarded(s: SparkSession, dir: String): DataFrame =
    sessionizeGuardedOf(Tables.events(s, dir)
      .select(col("user_id"), epochMs(col("ts")).as("ms"), col("value")),
      cap = 60L)

  private[graft] def sessionizeGuardedOf(ev0: DataFrame,
      cap: Long = 1000000L, gapMs: Long = SessionGapMs): DataFrame = {
    val ev = ev0.trackedPersist()
    val (cold, hot) = HotKeys.divert(ev,
      HotKeys.census(ev, Seq("user_id"), cap), Seq("user_id"))
    sessionizeWindowOf(cold, gapMs)
      .unionByName(sessionizeSegmentedOf(hot, gapMs))
  }

  /** The lag-gap + running-boundary-count window form over a canonical
    * (user_id, ms, value) frame — the oracle SQL's own shape (equivalent
    * to the session_window plan the headline query runs, which the
    * driver's gate already pins). */
  private[graft] def sessionizeWindowOf(ev: DataFrame,
      gapMs: Long = SessionGapMs): DataFrame = {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ms"))
    val wRun = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    ev
      .withColumn("new_s",
        when(col("ms") - lag(col("ms"), 1).over(wOrd) >= gapMs, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(wRun))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"),
        count(lit(1)).as("n_events"), sumDec(col("value")).as("sum_value"))
      .select(col("user_id"), col("start_ms"), col("end_ms"),
        col("n_events"), col("sum_value"))
  }

  private val SessionGapMs = 21600000L // 6 hours

  /** Segmented gap sessionization: no per-user window task. A session
    * boundary is a property of (row, predecessor) alone, so slices need
    * TWO carried facts — the previous slice's last timestamp (the scd2
    * carry, deciding the slice's first-row boundary flag) and the count
    * of boundaries before the slice (the token-budget exclusive prefix
    * sum, offsetting local session ids to global ones). Both live on the
    * cells table (per-(user, slice), metadata-sized); every window runs
    * within (slice, user). Equal timestamps may straddle slices freely:
    * their gap is 0, so boundary flags are invariant under tie order. */
  private[graft] def sessionizeSegmentedOf(ev: DataFrame,
      gapMs: Long = SessionGapMs): DataFrame = {
    val wLocOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid"), col("user_id")).orderBy(col("ms"))
    val wLocRun = wLocOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    // within-slice flags; the first row's flag is resolved after the
    // carry join (its predecessor lives in the previous slice). The
    // CACHE sits here — after the lag window, not before it — so the
    // slice-local sort+lag over the hot rows runs once and both readers
    // (the cells aggregation and the final join) reuse it; it also
    // pins pid
    val local = graft.core.Caches.tracked(ev
      .repartitionByRange(col("user_id"), col("ms"))
      .withColumn("pid", spark_partition_id())
      .withColumn("prev_ms", lag(col("ms"), 1).over(wLocOrd))
      .withColumn("inner_s",
        when(col("ms") - col("prev_ms") >= gapMs, 1).otherwise(0)))
    val cells = local.groupBy(col("user_id"), col("pid"))
      .agg(min(col("ms")).as("first_ms"), max(col("ms")).as("last_ms"),
        sum(col("inner_s")).as("inner_bnd"))
    val wCells = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("pid"))
    val carried = cells
      .withColumn("carry_ms", lag(col("last_ms"), 1).over(wCells))
      .withColumn("first_s",
        when(col("first_ms") - col("carry_ms") >= gapMs, 1L)
          .otherwise(0L))
      .withColumn("sid_off",
        coalesce(sum(col("inner_bnd") + col("first_s")).over(
          wCells.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("user_id").as("__cu"), col("pid").as("__cp"),
        col("carry_ms"), col("sid_off"))
    local.join(carried,
        col("user_id") <=> col("__cu") && col("pid") === col("__cp"))
      .drop("__cu", "__cp")
      .withColumn("new_s",
        when(col("prev_ms").isNotNull, col("inner_s"))
          .otherwise(when(col("ms") - col("carry_ms") >= gapMs, 1)
            .otherwise(0)))
      .withColumn("sid", col("sid_off") + sum(col("new_s")).over(wLocRun))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"),
        count(lit(1)).as("n_events"), sumDec(col("value")).as("sum_value"))
      .select(col("user_id"), col("start_ms"), col("end_ms"),
        col("n_events"), col("sum_value"))
  }

  private val sessionizeGapSql =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) AS ms, value FROM events),
      |m AS (
      |  SELECT user_id, ms, value,
      |    CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) >= 21600000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |s AS (
      |  SELECT user_id, ms, value,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms
      |                     ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id, MIN(ms) AS start_ms, MAX(ms) AS end_ms,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** Bit-parity Themis sessionization
    * (`ClickLogSessionSummarizerReduceFunction.cc:10-65`): a session closes
    * when the NEXT event's span from session *start* reaches the threshold
    * (not the idle gap) — stateful scan over each user's time-sorted events
    * via the sorted-group reducer contract (SortedGroups). Not expressible
    * as single-pass ANSI SQL window functions (the boundary is recursive),
    * the oracle is a recursive CTE re-deriving each user's
    * session-start chain; SessionizeParitySpec additionally checks an
    * in-memory reference implementation. */
  def sessionizeThemis(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val threshold = 6L * 3600 * 1000 // ms
    val e = Tables.events(s, dir)
      .select(col("user_id"), epochMs(col("ts")).as("ms"), col("event_type"))
    SortedGroups.flatMapSortedGroups[(Long, Long, Long, Long, String, String)](
      e, Seq("user_id"), Seq("ms", "event_type")) { (keyRow, rows) =>
      val user = keyRow.getLong(0)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, String, String)]
      var start = -1L; var last = -1L; var n = 0L
      var firstTy = ""; var lastTy = ""
      for (r <- rows) {
        val ms = r.getLong(1); val ty = r.getString(2)
        if (start < 0) { start = ms; firstTy = ty; n = 0 }
        else if (ms - start >= threshold) {
          out += ((user, start, last, n, firstTy, lastTy))
          start = ms; firstTy = ty; n = 0
        }
        last = ms; lastTy = ty; n += 1
      }
      if (start >= 0) out += ((user, start, last, n, firstTy, lastTy))
      out.iterator
    }.toDF("user_id", "start_ms", "end_ms", "n_events", "first_type", "last_type")
  }

  /** InvertedIndex in the reference's true output shape
    * (`InvertedIndexReduceFunction.cc:6-45` concatenates every posting
    * into one record per word): word → sorted posting array. Sorted so
    * the array is deterministic; bounded here by the corpus vocabulary —
    * at 100 TB hot words make posting arrays the classic skew object, so
    * the stats form (q_inverted_index) is the headline and this is the
    * exact-shape variant. */
  def postingLists(s: SparkSession, dir: String): DataFrame =
    postingListArrays(s, dir)
      // canonical string form: the driver's pandas compare cannot sort/hash
      // array cells, so the checked surface serializes the sorted postings;
      // the true array shape stays spec-covered (ThemisOpsSpec)
      .select(col("word"), concat_ws(",", col("postings")).as("postings"),
        col("df"))

  /** True array-shaped posting lists (the reference's record layout);
    * spec-checked — the driver oracle checks the string rendering above. */
  def postingListArrays(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .distinct()
      .groupBy(col("word"))
      .agg(sort_array(collect_list(col("doc_id"))).as("postings"),
        count(lit(1)).as("df"))

  private val postingListsSql =
    """SELECT word,
      |  array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings,
      |  COUNT(DISTINCT doc_id) AS df
      |FROM (SELECT doc_id,
      |        unnest(list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), w -> w != '')) AS word
      |      FROM documents) t
      |GROUP BY word""".stripMargin

  /** Inverted-index MAINTENANCE: the posting lists of history and an
    * arriving batch (in-plan 0.8·max doc_id split) are built separately
    * and MERGED — and because each segment owns a disjoint, ordered
    * doc-id range, the merge is a sorted-run concatenation (the LSM
    * segment-merge shape: no re-sort, df adds). Oracle is DELIBERATELY
    * the q_posting_lists SQL: merging segments must be row-for-row the
    * index built in one shot — the third leg of the merge ≡ rebuild
    * family (MinHash bands, HLL registers, postings). At 100 TB each
    * crawl increment becomes one segment; the full-outer word join is
    * the compaction, touching only word rows, never documents. */
  def postingsMerge(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tDf = docs.agg(expr("MAX(doc_id)*4 DIV 5").as("t"))
    def postingsOf(d: DataFrame): DataFrame = d
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .distinct()
      .groupBy(col("word"))
      .agg(sort_array(collect_list(col("doc_id"))).as("postings"),
        count(lit(1)).as("df"))
    val tagged = docs.crossJoin(broadcast(tDf))
    val hist = postingsOf(tagged.filter(col("doc_id") < col("t")).drop("t"))
      .select(col("word"), col("postings").as("hp"), col("df").as("hdf"))
    val batch = postingsOf(tagged.filter(col("doc_id") >= col("t")).drop("t"))
      .select(col("word"), col("postings").as("bp"), col("df").as("bdf"))
    val emptyIds = expr("CAST(array() AS ARRAY<BIGINT>)")
    hist.join(batch, Seq("word"), "full_outer")
      .select(col("word"),
        concat_ws(",", concat(coalesce(col("hp"), emptyIds),
          coalesce(col("bp"), emptyIds))).as("postings"),
        (coalesce(col("hdf"), lit(0L)) + coalesce(col("bdf"), lit(0L)))
          .as("df"))
  }

  /** Multi-level aggregation (ROLLUP) over the order lifecycle — a free
    * Spark capability with no reference counterpart (Themis has no
    * grouping sets), included for engine completeness. */
  def rollupOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sumDec(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("sum_price"))

  private val rollupOrdersSql =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin


  private val sessionizeThemisSql =
    """WITH RECURSIVE e AS (
      |  SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
      |starts AS (
      |  SELECT user_id, MIN(ms) AS start_ms FROM e GROUP BY user_id
      |  UNION ALL
      |  SELECT s.user_id,
      |    (SELECT MIN(ms) FROM e WHERE e.user_id = s.user_id AND e.ms >= s.start_ms + 21600000)
      |  FROM starts s
      |  WHERE EXISTS (SELECT 1 FROM e WHERE e.user_id = s.user_id AND e.ms >= s.start_ms + 21600000))
      |SELECT s.user_id, s.start_ms, MAX(e.ms) AS end_ms, COUNT(*) AS n_events,
      |  (SELECT e2.event_type FROM e e2 WHERE e2.user_id = s.user_id
      |     AND e2.ms >= s.start_ms AND e2.ms < s.start_ms + 21600000
      |   ORDER BY e2.ms, e2.event_type LIMIT 1) AS first_type,
      |  (SELECT e2.event_type FROM e e2 WHERE e2.user_id = s.user_id
      |     AND e2.ms >= s.start_ms AND e2.ms < s.start_ms + 21600000
      |   ORDER BY e2.ms DESC, e2.event_type DESC LIMIT 1) AS last_type
      |FROM starts s JOIN e ON e.user_id = s.user_id
      |  AND e.ms >= s.start_ms AND e.ms < s.start_ms + 21600000
      |GROUP BY s.user_id, s.start_ms""".stripMargin

  val defs: Seq[GQuery] = Seq(
    GQuery("q_posting_lists", postingLists, Some(postingListsSql)),
    // same SQL as q_posting_lists BY DESIGN: merging per-segment indexes
    // must be value-identical to the one-shot build
    GQuery("q_postings_merge", postingsMerge, Some(postingListsSql)),
    GQuery("q_rollup_orders", rollupOrders, Some(rollupOrdersSql)),
    GQuery("q_wordcount", wordCount, Some(wordCountSql), headline = true),
    GQuery("q_ngram", ngramCount, Some(ngramCountSql)),
    GQuery("q_inverted_index", invertedIndex, Some(invertedIndexSql)),
    GQuery("q_grep", grep, Some(grepSql)),
    GQuery("q_length_hist", lengthHistogram, Some(lengthHistogramSql)),
    GQuery("q_dup_keys", dupKeys, Some(dupKeysSql)),
    GQuery("q_sum_values", sumValues, Some(sumValuesSql)),
    GQuery("q_sessionize_gap", sessionizeGap, Some(sessionizeGapSql), headline = true),
    GQuery("q_sessionize_guarded", sessionizeGuarded, Some(sessionizeGapSql)),
    GQuery("q_sessionize_themis", sessionizeThemis, Some(sessionizeThemisSql)))

}
