package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Caches
import graft.core.Caches.TrackedOps
import graft.queries.{Qdsl, TextPipeline}

/** The library facade for corpus processing over ARBITRARY DataFrames —
  * the oracle-checked `q_*` queries demonstrate these operators against
  * the driver testdata; this object is the surface a user points at their
  * own tables (any id/text column names). Every method returns a lazy
  * DataFrame plan built from the same scale-shaped internals the checked
  * queries run (guarded LSH bands, pre-partitioned iterative joins,
  * scan-local chunking), so the 100 TB posture documented in SURVEY §9
  * carries over unchanged. Generality is spec-pinned in CorpusApiSpec on
  * synthetic frames that never touch the testdata.
  */
object Corpus {

  /** Canonical (doc_id, text) projection for any column naming. */
  private def canon(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).cast("long").as("doc_id"),
      col(text).cast("string").as("text"))

  /** The engine tokenizer (reference WordTokenizer delimiter class). */
  def tokenize(c: Column): Column = Qdsl.words(c)

  /** Heuristic function-word language ID over a free-text column — the
    * q_lang_id marker rule as a reusable scalar (all codegen'd string
    * ops, so it rides inside any scan). */
  def languageId(text: Column): Column = {
    val t = concat(lit(" "), text, lit(" "))
    when(t.contains(" the "), "en")
      .when(t.contains(" der ") || t.contains(" und "), "de")
      .when(t.contains(" el ") || t.contains(" los "), "es")
      .when(t.contains(" le ") || t.contains(" les "), "fr")
      .otherwise("und")
  }

  /** Scan-local quality signals for a text column as one struct:
    * token count, distinct-token count, and stopword rate (per-mille,
    * integer-exact) — the q_text_quality signals in reusable form. */
  def qualitySignals(text: Column): Column = {
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val w = tokenize(text)
    struct(
      size(w).cast("long").as("n_tokens"),
      size(array_distinct(w)).cast("long").as("n_distinct"),
      call_function("div",
        size(filter(w, t => t.isInCollection(stop))).cast("long") * 1000L,
        greatest(size(w), lit(1)).cast("long")).as("stopword_per_mille"))
  }

  /** MinHash/LSH near-dup candidate pairs (doc_a, doc_b, n_match of 8
    * signature mins) with the hot-bucket guard at `bucketCap`. */
  def minhashPairs(docs: DataFrame, id: String = "doc_id",
      text: String = "text",
      bucketCap: Int = TextPipeline.LshBucketCap): DataFrame =
    TextPipeline.dedupMinhashDocs(canon(docs, id, text), bucketCap)

  /** The build leg of incremental dedup: a flat MinHash band index over
    * a historical corpus — one row per (band, bucket key, member doc)
    * carrying the full signature, hot buckets (> bucketCap members)
    * excluded at build time. Persist it like any table; serve batches
    * against it with [[dedupAgainstIndex]]. The oracle-checked
    * q_dedup_incremental pins the build+serve semantics end to end. */
  def minhashIndex(history: DataFrame, id: String = "doc_id",
      text: String = "text",
      bucketCap: Int = TextPipeline.LshBucketCap): DataFrame =
    TextPipeline.minhashIndex(canon(history, id, text), bucketCap)

  /** Keep-best near-dup canonicalization over any corpus, row level:
    * dup clusters from the guarded MinHash pairs (signature agreement ≥
    * `minAgreement` of 8), each cluster's survivor the
    * highest-classifier-logit member (ties by lowest id) — the
    * keep-the-best-copy policy the oracle-checked q_dedup_keep_best
    * censuses. Output one row per document: (doc_id, cluster, is_kept,
    * logit); filter `is_kept` for the cleaned corpus. */
  def dedupKeepBest(docs: DataFrame, id: String = "doc_id",
      text: String = "text", minAgreement: Int = 6,
      bucketCap: Int = TextPipeline.LshBucketCap): DataFrame =
    TextPipeline.keepBestRows(canon(docs, id, text), bucketCap, minAgreement)

  /** The tombstone side of [[minhashIndex]]: (band, x, y, bucket_n) for
    * every bucket the build EXCLUDED (≤ 4n/bucketCap rows). Persist it
    * next to the index — [[minhashIndexMerge]] needs it to keep merge
    * exactly equal to rebuild (a hot bucket has no rows left to count). */
  def minhashHotCensus(history: DataFrame, id: String = "doc_id",
      text: String = "text",
      bucketCap: Int = TextPipeline.LshBucketCap): DataFrame =
    TextPipeline.minhashHotCensus(canon(history, id, text), bucketCap)

  /** Index maintenance: fold an arriving batch into a prebuilt
    * (index, hot census) pair without rescanning history — the nightly
    * compaction job. Returns the merged (index, census); the pair is
    * row-for-row what [[minhashIndex]]/[[minhashHotCensus]] would build
    * from scratch on history ∪ batch (the law q_dedup_index_merge checks
    * against a DuckDB rebuild, including buckets that cross the cap only
    * at merge time).
    *
    * PRECONDITION: batch ids must be disjoint from the ids already in
    * the index — re-merging a delivered doc double-counts its band rows
    * and silently breaks the merge==rebuild law. If the upstream feed
    * can re-deliver, anti-join the batch on its id column against the
    * served-id set first (kept outside this operator so merge work stays
    * ∝ batch size). */
  def minhashIndexMerge(index: DataFrame, hotCensus: DataFrame,
      batch: DataFrame, id: String = "doc_id", text: String = "text",
      bucketCap: Int = TextPipeline.LshBucketCap): (DataFrame, DataFrame) =
    TextPipeline.minhashIndexMerge(index, hotCensus,
      canon(batch, id, text), bucketCap)

  /** The serve leg: near-dup candidates (doc_a from the index, doc_b
    * from the batch, max signature agreement of 8) of `batch` against a
    * prebuilt [[minhashIndex]] — live or read back from storage. Serve
    * work ∝ batch size; the indexed corpus is never rescanned. Works
    * unchanged inside `foreachBatch` for a document stream
    * (StreamingFacadeSpec). */
  def dedupAgainstIndex(index: DataFrame, batch: DataFrame,
      id: String = "doc_id", text: String = "text"): DataFrame =
    TextPipeline.serveAgainstIndex(index, canon(batch, id, text))

  /** Key-skew census over ANY frame and key column — the salting
    * planner behind the oracle-checked q_key_skew: top-`topK` keys by
    * row count with per-mille share and the integer salt factor
    * ceil(rows·keys/total) (= [[Tuning.saltFactor]]), ready to feed
    * [[Salting.adaptiveSaltedJoin]]'s hotThreshold choice. Map-side
    * combined counts, a 1-row totals broadcast, TakeOrdered head.
    * Shares its census body with the oracle-checked query
    * ([[graft.queries.Analytics.keySkewOf]]) so the two cannot drift. */
  def keySkewCensus(df: DataFrame, key: String, topK: Int = 10): DataFrame =
    graft.queries.Analytics.keySkewOf(
      df.select(col(key).cast("string").as("key")), topK)

  /** ANALYZE TABLE over any frame: per-column (n_rows, n_nulls,
    * n_distinct, rendered min/max) in ONE aggregation over one scan,
    * unpivoted to a row per column — the stats table a planner reads to
    * pick broadcast sides and spot skew. Defaults to
    * `approx_count_distinct` (constant HLL state per column, no Expand —
    * the 100 TB form); `exactNdv = true` switches to exact distincts,
    * which is what the oracle-checked q_table_stats runs
    * ([[graft.queries.Analytics.tableStatsOf]] — shared body, the two
    * cannot drift; TableStatsSpec pins approx within HLL tolerance of
    * exact). Renders numerics with fractional types through
    * DECIMAL(12,2) and timestamps as `yyyy-MM-dd HH:mm:ss`; pass `cols`
    * to restrict the censused columns (default: all). */
  def analyzeTable(df: DataFrame, cols: Seq[String] = Nil,
      exactNdv: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types._
    val names = if (cols.nonEmpty) cols else df.schema.fieldNames.toSeq
    val specs = names.map { n =>
      val render = df.schema(n).dataType match {
        case DoubleType | FloatType | _: DecimalType =>
          graft.queries.Analytics.statRenderDec
        case TimestampType | TimestampNTZType =>
          graft.queries.Analytics.statRenderTs
        case _ => graft.queries.Analytics.statRenderId
      }
      graft.queries.Analytics.StatCol(n, render)
    }
    graft.queries.Analytics.tableStatsOf(df, specs, exactNdv)
  }

  /** Winsorized (outlier-clipped) value census over any frame: clip
    * `value` to its per-`group` [p05, p95] band with DISCRETE
    * order-statistic bounds at integer-exact ranks (ties by `id`) and
    * account the clipped mass — the robust-statistics step before
    * training on a heavy-tailed metric, as the oracle-checked
    * q_winsorize pins ([[graft.queries.Analytics.winsorizeOf]]).
    *
    * The hot-group straggler guard is AUTOMATIC: group populations are
    * censused in-plan (map-side-combined counts, the keySkewCensus
    * measurement folded into the operator) and any group over `hotCap`
    * rows takes a distributed-rank path instead of serializing in one
    * window task — value-identical, straggler-bounded
    * ([[graft.queries.Analytics.winsorizeGuardedOf]]; the driver pins
    * the equivalence every round via q_winsorize_guarded against
    * q_winsorize's own oracle SQL). */
  def winsorize(df: DataFrame, group: String, value: String,
      id: String, hotCap: Long = graft.queries.Analytics.GroupHotCap): DataFrame =
    graft.queries.Analytics.winsorizeGuardedOf(
      df.select(col(group).cast("string").as("grp"),
        col(id).cast("long").as("rid"),
        col(value).cast("decimal(12,2)").as("v")), hotCap)
      .withColumnRenamed("grp", group)

  /** As-of join over any event frame: each row whose `kind` column
    * equals `right` picks the latest `left`-kind row by the same `key`
    * at-or-before its `ts` (ties: left-before-right at the same ts,
    * then by `id`). The single-hash-exchange running-window shape the
    * oracle-checked q_asof_join pins, with the hot-key straggler guard
    * AUTOMATIC ([[graft.queries.Temporal.asofGuardedOf]]): keys over
    * `hotCap` rows take a segmented scan bounded by range slices, the
    * rest keep the plain window, value-identically (q_asof_guarded pins
    * the split against q_asof_join's own oracle SQL). Output (id, key,
    * right ts, matched left id/ts, gap). */
  def asofJoin(df: DataFrame, key: String, ts: String, kind: String,
      left: String, right: String, id: String,
      hotCap: Long = 1000000L): DataFrame = {
    require(left != right,
      s"left and right kinds must differ (got '$left' for both)")
    graft.queries.Temporal.asofGuardedOf(
      df.filter(col(kind).isin(left, right))
        .select(col(id).as("event_id"),
          col(key).as("user_id"),
          when(col(kind) === left, lit("click")).otherwise(lit("purchase"))
            .as("event_type"),
          col(ts).cast("long").as("ms")), hotCap)
      .select(col("event_id").as(id), col("user_id").as(key),
        col("purchase_ms").as(s"${right}_$ts"),
        col("click_id").as(s"${left}_$id"),
        col("click_ms").as(s"${left}_$ts"),
        col("gap_ms").as("gap"))
  }

  /** SCD Type-2 state history over any (key, state, ts, id) change log:
    * one interval row per state RUN with version numbers, valid_from/to
    * horizons, and an is_current flag — the oracle-checked
    * q_scd2_intervals shape, with the hot-key change-detection guard
    * AUTOMATIC ([[graft.queries.Temporal.scd2GuardedOf]], pinned by
    * q_scd2_guarded against the same oracle SQL). */
  def scd2(df: DataFrame, key: String, state: String, ts: String,
      id: String, hotCap: Long = 1000000L): DataFrame =
    graft.queries.Temporal.scd2GuardedOf(
      df.select(col(key).as("user_id"),
        col(state).cast("string").as("event_type"),
        col(ts).cast("long").as("ms"),
        col(id).as("event_id")), hotCap)
      .withColumnRenamed("user_id", key)

  /** Ordered N-stage funnel depth per key over any event frame: stage
    * counts how far each key progressed through `stages` IN ORDER
    * (stage k requires a `stages(k-1)` event after the event that
    * completed stage k-1) — the oracle-checked q_funnel shape
    * generalized to any DISTINCT stage list, with the hot-key guard
    * AUTOMATIC: heavy keys decompose into per-slice automaton
    * transition functions composed in order
    * ([[graft.queries.Temporal.funnelSegmentedN]]; the 3-stage instance
    * is pinned by q_funnel_guarded against q_funnel's oracle SQL).
    * Output (key, stage ∈ 0..N). */
  def funnelStages(df: DataFrame, key: String, kind: String, ts: String,
      id: String, stages: Seq[String], hotCap: Long = 1000000L): DataFrame = {
    require(stages.length >= 2 && stages.distinct.length == stages.length,
      s">= 2 DISTINCT ordered stages required, got $stages")
    graft.queries.Temporal.funnelStagesGuardedN(
      df.filter(col(kind).isin(stages: _*))
        .select(col(id).as("event_id"),
          col(key).as("user_id"),
          col(kind).cast("string").as("event_type"),
          col(ts).cast("long").as("ms")), stages, hotCap)
      .withColumnRenamed("user_id", key)
  }

  /** Gap sessionization over any (key, timestamp-ms, value) frame: one
    * row per session — a maximal run of events whose inter-event gaps
    * stay under `gapMs` — with start/end, event count, and a
    * DECIMAL(12,2)-exact value sum (cast to double at the edge), the
    * oracle-checked q_sessionize_gap shape at an arbitrary gap. The
    * hot-key guard is AUTOMATIC
    * ([[graft.queries.ThemisOps.sessionizeGuardedOf]], pinned by
    * q_sessionize_guarded): keys over `hotCap` events take the
    * segmented path — slices carry the previous slice's last timestamp
    * and an exclusive boundary-count prefix, so a session spanning
    * slices stitches back exactly. */
  def sessionize(df: DataFrame, key: String, ts: String, value: String,
      gapMs: Long, hotCap: Long = 1000000L): DataFrame =
    graft.queries.ThemisOps.sessionizeGuardedOf(
      df.select(col(key).as("user_id"),
        col(ts).cast("long").as("ms"), col(value).as("value")),
      hotCap, gapMs)
      .withColumnRenamed("user_id", key)

  /** Drift census between two corpus snapshots, grouped by any column
    * (language, source, domain): per group, doc/token/quality mass on
    * each side plus per-mille composition shares and their delta — the
    * pre-mix monitoring gate the oracle-checked q_corpus_drift pins.
    * One scan per side, a groups-sized exchange, a 1-row totals
    * broadcast; all integer-exact. */
  def driftCensus(history: DataFrame, batch: DataFrame,
      group: String = "lang", text: String = "text"): DataFrame = {
    def c(df: DataFrame) = df.select(col(group).cast("string").as("grp"),
      col(text).cast("string").as("text"))
    TextPipeline.driftCensusTagged(
      TextPipeline.driftTag(c(history), col("grp"), lit(false))
        .unionByName(TextPipeline.driftTag(c(batch), col("grp"), lit(true))))
      .withColumnRenamed("grp", group)
  }

  /** Exact-Jaccard near-dup pairs at `threshold`, candidates from the
    * guarded LSH bands (never an all-pairs join). */
  def jaccardPairs(docs: DataFrame, id: String = "doc_id",
      text: String = "text", threshold: Double = 0.8,
      bucketCap: Int = TextPipeline.LshBucketCap): DataFrame =
    TextPipeline.verifiedPairsDocs(canon(docs, id, text), bucketCap)
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Asymmetric containment pairs (|A∩B| / min(|A|,|B|) ≥ threshold) —
    * catches near-subset duplication symmetric Jaccard misses. */
  def containmentPairs(docs: DataFrame, id: String = "doc_id",
      text: String = "text", threshold: Double = 0.9,
      bucketCap: Int = TextPipeline.LshBucketCap): DataFrame =
    TextPipeline.verifiedPairsDocs(canon(docs, id, text), bucketCap)
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          least(col("na"), col("nb")).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)

  /** Connected components over an undirected pair list: every node gets
    * the minimum reachable node id as `component`. Large-star/small-star
    * rewriting to fixpoint ([[TextPipeline.starComponents]]) — O(log² n)
    * rounds, each edge-proportional over a shrinking edge list.
    *
    * Vertex-set contract: the component universe is `nodes` ∪ every id
    * appearing in `pairs` — pair endpoints OUTSIDE `nodes` participate
    * as real vertices (a–x–b with x ∉ nodes connects a and b, and an
    * outside id can be the emitted minimum label). Only rows for ids in
    * `nodes` are RETURNED. Semi-join `pairs` against `nodes` on both
    * endpoints first if edges mentioning unknown ids should be ignored
    * instead. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      nodeCol: String = "node", aCol: String = "a",
      bCol: String = "b"): DataFrame =
    TextPipeline.starComponents(
      nodes.select(col(nodeCol).cast("long").as("doc_id")),
      pairs.select(col(aCol).cast("long").as("doc_a"),
        col(bCol).cast("long").as("doc_b")))
      .select(col("doc_id").as(nodeCol), col("lbl").as("component"))

  /** Keep-first exact dedup: one survivor per key set, the row with the
    * smallest `orderCol` (deterministic tie-break). One hash shuffle —
    * the keep-first rule every dedup pipeline starts with.
    *
    * By default (`hashKey = true`) the exchange/sort key is a 16-byte
    * md5 digest of the key tuple, NOT the raw columns: when the key is
    * document text, sorting the window on a multi-kilobyte string pays a
    * full-text comparator per row pair, while the digest is a fixed
    * 16-byte memcmp — the scale-safe form the oracle query's own
    * scaladoc prescribes (TextPipeline.dedupExact: "at 100 TB you'd
    * group by md5(text)"). The digested encoding is INJECTIVE over key
    * tuples — each component length-prefixed ("len:value", NULL → "N;",
    * the ThemisJob.HashedRangePartition canonicalization), so NULLs,
    * empty strings, and separator-looking content cannot alias within or
    * across columns (a bare separator join would both skip NULLs and
    * admit separator collisions). Two DISTINCT keys then collide only by
    * md5 collision, ~n²/2¹²⁹ — at 10¹² rows that is ~10⁻¹⁵, below
    * hardware corruption rates. Pass `hashKey = false` to group on the
    * raw columns (exact-by-construction; right when keys are already
    * short codes). */
  def exactDedup(df: DataFrame, keyCols: Seq[String], orderCol: String,
      hashKey: Boolean = true): DataFrame = {
    val canonKey = concat(keyCols.map { c =>
      val s = col(c).cast("string")
      coalesce(concat(length(s).cast("string"), lit(":"), s), lit("N;"))
    }: _*)
    val keyed =
      if (hashKey) df.withColumn("__k", unhex(md5(canonKey)))
      else df.withColumn("__k", struct(keyCols.map(col): _*))
    val w = Window.partitionBy(col("__k")).orderBy(col(orderCol))
    keyed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__k")
  }

  /** Quality-weighted deterministic Bernoulli sampling: keep each row
    * with probability `weight/1000` (weights in permille, capped at
    * 1000), derandomized on `hash(idCol)` so the drawn sample is
    * identical on any rerun, engine, or cluster layout. Scan-local —
    * adds a codegen'd comparison, no shuffle. */
  def weightedSample(df: DataFrame, weightPermille: Column,
      id: String = "doc_id"): DataFrame =
    df.filter(Qdsl.hashMod(col(id)) % 1000 <
      least(greatest(weightPermille, lit(0L)), lit(1000L)))

  /** BM25 scores of every document against a fixed set of query terms
    * (k1 = 1.2, b = 0.75 as exact rationals; deterministic — see
    * q_bm25_topk). Returns (term, doc id, score) for documents containing
    * the term; rank with a per-term window for top-k. The term list
    * broadcasts, so scoring cost ∝ the terms' postings, not vocabulary. */
  def bm25(docs: DataFrame, terms: Seq[String], id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tf = canon(docs, id, text)
      .select(col("doc_id"), explode(tokenize(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .trackedPersist()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("ltot"))
    val qterms = terms.toDF("term").join(dfreq, "term")
    tf.join(broadcast(qterms), "term")
      .join(dl, "doc_id")
      .crossJoin(stats)
      .select(col("term"), col("doc_id"),
        Qdsl.bm25Score(col("tf"), col("df"), col("dl"), col("nd"), col("ltot"))
          .as("score"))
      .withColumnRenamed("doc_id", id)
  }

  /** Temperature-flattened mixture sampling (α = 0.5, the mT5/XLM-R
    * recipe) over any frame: each `group`'s keep rate is
    * 1000·√(n_min/n_group) per-mille — the smallest group is kept whole,
    * larger ones are √-flattened — and the per-row draw is the engine's
    * derandomized hash threshold on `id`, so the drawn sample is
    * identical on any rerun, engine, or cluster layout. Returns the kept
    * rows with the input schema. Scale shape: group counts are one tiny
    * aggregation (∝ groups), the rate table joins back group-keyed (AQE
    * broadcasts it at any corpus size), the draw never shuffles. The
    * oracle-checked census form is q_temperature_mix. A NULL `group`
    * value is its own stratum (the join is null-safe, so such rows are
    * sampled at the null-group's rate rather than silently dropped);
    * internal columns are `__graft_`-prefixed, so any user column not
    * starting with that prefix is collision-safe. */
  def temperatureSample(df: DataFrame, group: String,
      id: String = "doc_id"): DataFrame = {
    val counts = df.groupBy(col(group).as("__graft_g"))
      .agg(count(lit(1)).as("__graft_n"))
    val rates = counts
      .crossJoin(counts.agg(min(col("__graft_n")).as("__graft_n_min")))
      .select(col("__graft_g"),
        least(lit(1000L),
          floor(sqrt(col("__graft_n_min").cast("double") /
              col("__graft_n").cast("double"))
            * 1000.0).cast("long")).as("__graft_rate_pm"))
    df.join(rates, df(group) <=> rates("__graft_g"))
      .filter(Qdsl.hashMod(col(id)) % 1000 < col("__graft_rate_pm"))
      .select(df.columns.toIndexedSeq.map(df(_)): _*)
  }

  /** Reciprocal-rank fusion of any number of ranked candidate lists —
    * the calibration-free way to combine retrieval towers (BM25 +
    * dense, multiple indexes, query rewrites). Each input frame carries
    * (`query`, `id`, `rank`) rows; a candidate's fused score is
    * Σ 1/(k + rank) over the lists that surfaced it, and the top `topK`
    * per query are returned with the count of contributing lists. The
    * oracle-checked two-tower form is q_hybrid_rrf. Scale shape: rank
    * lists are (queries × depth)-sized metadata regardless of corpus
    * size, so the union + fused aggregation never touches corpus rows.
    * Determinism: per-candidate contributions are folded in SORTED
    * order (collect → array_sort → fold), so the fused double is
    * bit-identical on any engine, run, or partitioning for ANY list
    * count — a plain SUM would drift in the last ulps with ≥ 3 lists;
    * rank ties under fusion break on id. Duplicate (`query`, `id`) rows
    * WITHIN one list collapse to that list's best (lowest) rank before
    * fusion, so a list contributes at most once per candidate and the
    * per-candidate fold stays bounded by `lists.size` elements. */
  def rrfFuse(lists: Seq[DataFrame], query: String = "q_id",
      id: String = "doc_id", rank: String = "rank", k: Int = 60,
      topK: Int = 10): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    val contrib = lists.map(_.select(
        col(query).as("__q"), col(id).as("__id"),
        (lit(1.0) / (col(rank).cast("long") + k.toLong).cast("double"))
          .as("__c"))
      // per-list dedup: rank lists are metadata-sized, so this agg is
      // free; max(__c) ≡ min(rank) since the contribution is monotone
      .groupBy(col("__q"), col("__id")).agg(max(col("__c")).as("__c")))
      .reduce(_.unionByName(_))
    val w = Window.partitionBy(col("__q"))
      .orderBy(col("rrf").desc, col("__id"))
    contrib.groupBy(col("__q"), col("__id"))
      .agg(aggregate(array_sort(collect_list(col("__c"))), lit(0.0),
          (acc, x) => acc + x).as("rrf"),
        count(lit(1)).as("n_lists"))
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= topK)
      .select(col("__q").as(query), col("fused_rank"), col("__id").as(id),
        col("rrf"), col("n_lists"))
  }

  /** Model-based quality score for any (id, text) frame: one row per
    * document with its hashed-feature linear `logit` and the `keep`
    * decision (logit > 0) — the fastText-style classifier filter (CCNet /
    * FineWeb-Edu / DCLM recipes). The score is ONE codegen'd array
    * aggregate inside the scan: no vocabulary join, no explode, zero
    * shuffles — point it at 100 TB and the cost is the scan. The weight
    * expression is [[Qdsl.hashedLogit]], shared with the oracle-checked
    * q_quality_classifier (swap in trained bucket weights there and both
    * surfaces move together). */
  def classifierLogit(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    canon(docs, id, text)
      .select(col("doc_id").as(id),
        Qdsl.hashedLogit(tokenize(col("text"))).as("logit"))
      .withColumn("keep", col("logit") > 0)

  /** Exact substring-span duplication per document (the ExactSubstr pass
    * of Lee et al., arXiv:2107.06499): one row per document owning at
    * least one 16-token window that recurs ANYWHERE in the corpus, with
    * the count of recurring windows and the interval-UNION token mass
    * they cover (the measure the paper trims). Runs the HOT-WINDOW
    * GUARDED plan ([[graft.queries.TextPipeline.spanDupStatsGuarded]],
    * value-identical to the oracle-checked q_substring_dedup form —
    * q_substring_dedup_guarded pins that): a production corpus with a
    * 1000×-repeated boilerplate block keeps bounded per-key window
    * tasks instead of a straggler, with no manual boilerplateTop pass
    * needed first; documents absent from the result have zero
    * duplicated spans. */
  def substringSpans(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    TextPipeline.spanDupStatsGuarded(
      canon(docs, id, text)
        .select(col("doc_id"), tokenize(col("text")).as("w"))
        .withColumn("n", size(col("w")).cast("long")),
      Nil)
      .select(col("doc_id").as(id), col("n_wins").as("n_dup_windows"),
        col("dup_tok").as("n_dup_tokens"))

  /** Boilerplate census for any (id, text) frame: the `topK`
    * most-recurring 16-token windows with their spread (occurrences,
    * distinct docs) and earliest (doc, position) exemplar — the discovery
    * dial for navigation chrome / license headers / templated footers
    * that [[substringSpans]]' removal measure assumes someone inspected.
    * Shares the oracle-checked q_boilerplate_top plan: scan-local window
    * hashing, one count-by-key agg, TakeOrdered top-k. */
  def boilerplate(docs: DataFrame, id: String = "doc_id",
      text: String = "text", topK: Int = 10): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    TextPipeline.boilerplateTopDocs(canon(docs, id, text), topK)
      .withColumnRenamed("first_doc", s"first_$id")
  }

  /** Deterministic training-shard export manifest for any (id, text)
    * frame: (id, shard, n_tokens, offset) — shard by id-hash,
    * pseudo-random stable order within shard, exclusive cumulative token
    * offsets (where each document's tokens start in its shard file).
    * Shares the oracle-checked q_shard_manifest plan
    * ([[graft.queries.Mixing.shardOffsets]]): ONE exchange — the
    * export's own — with the prefix-sum window riding it. The offset
    * sweep is sequential WITHIN a shard (exact file offsets are
    * inherently a per-file scan, the same serialization the shard
    * writer itself pays), so parallelism = `shards`: size it to the
    * cluster width (hundreds–thousands at 100 TB), not the default
    * 64. */
  def shardManifest(docs: DataFrame, id: String = "doc_id",
      text: String = "text", shards: Int = 64): DataFrame = {
    require(shards > 0, s"shards must be positive: $shards")
    graft.queries.Mixing.shardOffsets(
      canon(docs, id, text)
        .select(col("doc_id"),
          size(tokenize(col("text"))).cast("long").as("n_tok")),
      shards)
      .select(col("doc_id").as(id), col("shard"),
        col("n_tok").as("n_tokens"), col("offset"))
  }

  /** Content-defined chunk rows for any (id, text) frame: 8-token
    * rolling windows cut where their hash hits the mask, so chunk
    * boundaries survive insertions/deletions (an edit only disturbs
    * chunks until the next content cut — the rsync/FastCDC property a
    * recrawl-heavy dedup store needs; fixed-offset chunking re-keys the
    * whole tail). Output one row per chunk: (id, clen tokens, chash —
    * the store key). Shares the oracle-checked q_cdc_chunks internals
    * ([[graft.queries.Cdc.chunkRows]]); everything before the caller's
    * own aggregation is scan-local. */
  def cdcChunks(docs: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    graft.queries.Cdc.chunkRows(
      canon(docs, id, text).withColumn("source", lit("")))
      .select(col("doc_id").as(id), col("clen"), col("chash"))

  /** C4-style keep-first dedup WITH document reconstruction for any
    * (id, text) frame: every `chunkTokens`-token chunk keeps only its
    * globally-first occurrence and each document is rebuilt from its
    * surviving chunks in original order. Output (id, n_chunks_kept,
    * n_tokens, clean_text); documents whose every chunk recurs earlier
    * vanish — and so do ZERO-TOKEN documents (nothing to chunk, so they
    * contribute no surviving chunk to rebuild from). Shares the
    * oracle-checked q_dedup_rewrite internals
    * ([[graft.queries.Curation.rebuildDocs]]). */
  def dedupRewrite(docs: DataFrame, id: String = "doc_id",
      text: String = "text", chunkTokens: Int = 10): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    graft.queries.Curation.rebuildDocs(
      canon(docs, id, text)
        .select(col("doc_id"), tokenize(col("text")).as("ws")),
      Nil, chunkTokens)
      .select(col("doc_id").as(id), col("n_kept").as("n_chunks_kept"),
        col("toks").as("n_tokens"), col("clean_text"))
  }

  /** CCNet-style perplexity bucketing for any (id, text) frame: each
    * document's unigram-LM score (average corpus-wide scaled token
    * frequency — high = fluent/common, low = rare/garbled) and its
    * exact global `k`-quantile bucket (k−1 = most fluent). Output
    * (id, doc_score, bucket). The bucket rank runs the distributed
    * two-phase cumsum, never a global sort — the oracle-checked
    * q_ccnet_buckets internals ([[graft.queries.Curation.tercile]]). */
  def perplexityBuckets(docs: DataFrame, id: String = "doc_id",
      text: String = "text", k: Int = 3): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    graft.queries.Curation.tercile(
      graft.queries.Curation.unigramScores(
        canon(docs, id, text)
          .select(col("doc_id"), tokenize(col("text")).as("ws")), Nil),
      "doc_score", k)
      .select(col("doc_id").as(id), col("doc_score"), col("bucket"))
  }

  /** DSIR importance weights (Xie et al., arXiv:2302.03169) for any
    * (id, text) frame: `isTarget` marks the rows defining the target
    * distribution; every document gets the integer-scaled average
    * target/source ratio of its hashed-bigram features (1024 buckets —
    * the model table always broadcasts). Output (id, weight); documents
    * with fewer than two tokens are dropped. Shares the oracle-checked
    * q_dsir_weights internals ([[graft.queries.Curation.dsirWeight]]). */
  def dsirWeights(docs: DataFrame, isTarget: Column,
      id: String = "doc_id", text: String = "text"): DataFrame =
    graft.queries.Curation.dsirWeight(
      docs.select(col(id).cast("long").as("doc_id"),
        tokenize(col(text).cast("string")).as("ws"), isTarget.as("__tgt")),
      col("__tgt"), Nil)
      .select(col("doc_id").as(id), col("weight"))

  /** BPE merge-rule training over any (id, text) frame: `rounds`
    * argmax-merge iterations on the corpus vocabulary (words of length
    * 2–64), returning one row per learned rule — exactly the rule
    * table a tokenizer trainer checkpoints. Every round is
    * vocabulary-sized, never corpus-sized. Runs the census passes when
    * called ([[graft.queries.Tokenizer.bpeTrainRulesBatched]] reads each
    * pass's argmaxes driver-side).
    *
    * `batchSize` is the production dial toward 10k+ merge counts: each
    * census pass applies up to that many top pairs WHEN provably
    * equivalent to the sequential replay, and one argmax otherwise, so
    * the rules never depend on it; batchSize = 1 (default) takes one
    * argmax per pass, the oracle-checked sequential trainer. Output
    * (round, pair, pair_count, final_checksum, pass): `final_checksum`
    * is the end vocabulary state, `pass` the census pass that learned
    * the rule (rules sharing a pass were batch-applied). */
  def bpeMerges(docs: DataFrame, id: String = "doc_id",
      text: String = "text", rounds: Int = 3,
      batchSize: Int = 1): DataFrame = {
    val vocab = canon(docs, id, text)
      .select(explode(tokenize(col("text"))).as("raw"))
      .filter(length(col("raw")) >= 2 &&
        length(col("raw")) <= graft.queries.Tokenizer.MaxWordLen)
      .groupBy(col("raw")).agg(count(lit(1)).as("freq"))
    graft.queries.Tokenizer.bpeTrainRulesBatched(vocab, rounds, batchSize)
  }

  /** Cluster-aware leak-free train/val/test assignment for any
    * (id, text) frame: near-dup clusters (guarded MinHash pairs at
    * signature agreement ≥ `minAgreement`, star-rewriting components)
    * hash as a UNIT into splits, so eval can never see a near-copy of a
    * training document — the scheme the oracle-checked q_split_leakfree
    * proves structurally leak-free while measuring what the naive
    * shuffle-split leaks. Output (id, split) with split ∈ 0 (train,
    * 800‰), 1 (val, 100‰), 2 (test, 100‰). */
  def assignSplits(docs: DataFrame, id: String = "doc_id",
      text: String = "text", minAgreement: Int = 6): DataFrame = {
    val c = canon(docs, id, text)
    val pairs = minhashPairs(c).filter(col("n_match") >= minAgreement)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val comps = connectedComponents(c.select(col("doc_id").as("node")), pairs)
    val h = Qdsl.hash60(col("component")) % 1000L
    comps.select(col("node").as(id),
      when(h < 800, lit(0)).when(h < 900, lit(1)).otherwise(lit(2))
        .as("split"))
  }

  /** Overlapping context-window chunking: (doc, chunk_idx, chunk,
    * n_tokens) rows, `window` tokens at `stride` — scan-local
    * sequence+explode, no shuffle. */
  def chunk(docs: DataFrame, id: String = "doc_id", text: String = "text",
      window: Int = 32, stride: Int = 24): DataFrame =
    canon(docs, id, text)
      .select(col("doc_id"), tokenize(col("text")).as("w"))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")), lit(stride))).as("s"),
        col("w"))
      .select(col("doc_id"),
        expr(s"(s - 1) DIV $stride").as("chunk_idx"),
        concat_ws(" ", slice(col("w"), col("s"), lit(window))).as("chunk"),
        least(lit(window), size(col("w")) - col("s") + 1).cast("long")
          .as("n_tokens"))
}

/** Vector-search facades over arbitrary (id, Array[Float]) frames.
  * Embedding floats are scaled to exact integers (floor(x·1e6)) so
  * scores are deterministic across engines and runs — the same
  * construction the oracle-checked q_knn/q_ann queries pin.
  *
  * ID-SPACE CONVENTION shared by every `*TopK` search: queries and base
  * vectors are assumed to share one id space, and a candidate whose id
  * equals the query's id is excluded as "the query finding itself" (the
  * self-search shape the oracle-checked q_ann_* queries pin). If your
  * query frame has its OWN id sequence, a coincidental id collision
  * would silently drop one true neighbor — pass `excludeSelf = false`
  * (every `*TopK` takes it) or offset the query ids into a disjoint
  * range first. */
object Vectors {

  private val S = graft.queries.Similarity

  /** Exact cosine top-k: every query row against the full vector set,
    * query side broadcast (its purpose — bulk all-pairs goes through the
    * LSH/IVF paths instead) — [[graft.queries.Similarity.exactSearch]],
    * the search q_knn_brute pins. Output (query_id, rank, neighbor_id,
    * cos). */
  def cosineTopK(vectors: DataFrame, queries: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding",
      excludeSelf: Boolean = true): DataFrame =
    S.exactSearch(S.canonical(vectors, id, vec),
      S.canonical(queries, id, vec), k, excludeSelf)
      .withColumnRenamed("q_id", "query_id")

  /** NDCG@k rank-quality of ANY retrieval result against ANY truth
    * ranking — both as (query id, rank, neighbor id) frames, e.g. an
    * [[lshTopK]]/[[ivfTopK]] output against [[cosineTopK]] ground truth,
    * or a hybrid lexical run against human labels. Gains: truth rank r
    * is worth k+1−r, anything outside the truth top-k is worth 0;
    * discounts are the 1e6-scaled integer ladder (driver-rounded once, so
    * results are engine-exact — at k = 3 it reproduces the oracle-checked
    * q_ndcg_eval's pinned constants and shares that query's body,
    * [[graft.queries.Similarity.ndcgOf]]). Output one row per query:
    * (q_id, dcg_scaled, ndcg_ppm). Eval cost ∝ queries×k — corpus-size
    * independent. */
  def ndcgAtK(results: DataFrame, truth: DataFrame, k: Int,
      queryId: String = "q_id", rank: String = "rank",
      neighborId: String = "neighbor_id"): DataFrame = {
    def canonR(df: DataFrame) = df.select(
      col(queryId).cast("long").as("q_id"),
      col(rank).cast("long").as("rank"),
      col(neighborId).cast("long").as("neighbor_id"))
    S.ndcgOf(canonR(results), canonR(truth), k)
  }

  /** Semantic dedup (SemDeDup) over any vector frame: cluster into
    * coarse cells, then mark the higher id of every within-cell pair at
    * cosine ≥ `tau` as dropped. Returns one row per vector:
    * (id, cell, is_dropped) — filter `!is_dropped` for the survivors.
    * Cross-cell pairs are never materialized (the SemDeDup scaling
    * contract: cells grow ∝ √n so pair volume stays O(n^1.5)), and the
    * pair scan is q_semdedup's ([[graft.queries.Similarity.semDroppedOf]]):
    * a cell over `SemCellCap` members is block-decomposed, so one giant
    * near-dup clique cannot serialize into a single task.
    *
    * By DEFAULT (`k = 0`) the quantizer is TRAINED, the q_semdedup
    * contract: ⌈√n⌉ expected seed cells are drawn by an in-plan hash
    * threshold on the id (density-free — ids need not be dense or start
    * at 0), then refined by one integer-exact Lloyd update. Everything
    * derives in-plan from a 1-row count, so construction stays job-free
    * and the cell count tracks the corpus at any size. An explicit
    * `k > 0` overrides with k lowest-id UNtrained seed cells — a debug /
    * tiny-corpus shortcut, not the production path (fixed k re-creates
    * the quadratic in-cell risk the √n rule exists to avoid). */
  def semDedup(vectors: DataFrame, k: Int = 0, tau: Double = 0.3,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val base = S.canonical(vectors, id, vec).trackedPersist()
    val centers = if (k > 0) S.lowestCenters(base, k) else {
      // expected ⌈√n⌉ seeds: keep vid iff hash60(vid) < 2^60·k/n, both
      // factors from the same 1-row broadcast — no driver-side count
      val stats = base.agg(count(lit(1)).as("__graft_n"),
        ceil(sqrt(count(lit(1)).cast("double"))).cast("long").as("__graft_k"),
        min(col("vid")).as("__graft_min_vid"))
      val c0 = base.crossJoin(broadcast(stats))
        .filter(Qdsl.hash60(col("vid")) <
            (lit(1L << 60) / col("__graft_n")) * col("__graft_k") ||
          // the min id always seeds, so a tiny corpus (where the
          // expected-√n draw can come up empty) still gets one cell
          col("vid") === col("__graft_min_vid"))
        .select(col("vid").as("cid"), col("v").as("cv"))
      S.lloydCenters(base, c0)
    }
    // semDroppedOf's rows carry the id as vec_id
    val assigned = S.nearestAssign(base, centers, "cell")
      .withColumnRenamed("vid", "vec_id").trackedPersist()
    assigned.join(S.semDroppedOf(assigned, tau), Seq("vec_id"), "left")
      .select(col("vec_id").as(id), col("cell"),
        col("is_dropped").isNotNull.as("is_dropped"))
  }

  /** LSH top-k similarity search over arbitrary (id, Array[Float])
    * vector and query frames — the (bits, tables, Hamming-probe)
    * production dial as one call, sharing the hyperplane family,
    * hot-bucket guard, and score-then-dedup internals the oracle-checked
    * q_ann_lsh* queries pin ([[graft.queries.Similarity.lshSearch]]).
    * Output (query_id, rank, neighbor_id, cos). `bits = 0` degenerates
    * to exact brute-force search — the law CorpusApiSpec anchors the
    * index to. Vectors must be 64-dim (the engine's fixed hyperplane
    * family). `tables` buys recall with index memory, `hamming = 1`
    * buys it with probe work — tune whichever resource binds.
    *
    * `bucketCap` is UNBOUNDED by default: the hot-bucket guard DROPS
    * over-cap buckets from the index (adversarial-corpus hygiene, see
    * the oracle-checked queries which run cap=512 at 6 bits), so a cap
    * smaller than the natural n/2^bits occupancy silently empties the
    * results — size it against expected occupancy before turning it
    * on. */
  def lshTopK(vectors: DataFrame, queries: DataFrame, k: Int = 3,
      bits: Int = 6, tables: Int = 4, hamming: Int = 1,
      id: String = "vec_id", vec: String = "embedding",
      bucketCap: Long = Long.MaxValue,
      excludeSelf: Boolean = true): DataFrame =
    S.lshSearch(S.canonical(vectors, id, vec), S.canonical(queries, id, vec),
      k, bits, tables, hamming, bucketCap, excludeSelf)
      .withColumnRenamed("q_id", "query_id")

  /** IVF top-k similarity search over arbitrary (id, Array[Float])
    * vector and query frames — the (cells, nprobe) dial the
    * oracle-checked q_ann_ivf / q_ann_ivf_nprobe4 queries pin
    * ([[graft.queries.Similarity.ivfSearch]]). Centers seed from the
    * `cells` lowest-id vectors and broadcast; assignment is a map-side
    * integer-L2 argmin; the probe join is an equi-join on cell id.
    * Recall climbs with nprobe (measured 0.58 → 0.75 → 0.87 at
    * nprobe 1/2/4 of 8 at sf0.1, gated by BenchGate) while query cost grows
    * ∝ nprobe/cells; at nprobe = cells the result is exactly
    * [[cosineTopK]] (CorpusApiSpec pins the identity). Output
    * (query_id, rank, neighbor_id, cos); vectors must be 64-dim. */
  def ivfTopK(vectors: DataFrame, queries: DataFrame, k: Int = 3,
      cells: Int = 8, nprobe: Int = 2,
      id: String = "vec_id", vec: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    require(cells > 0, s"cells must be positive: $cells")
    require(nprobe > 0 && nprobe <= cells,
      s"nprobe must be in 1..$cells: $nprobe")
    val base = S.canonical(vectors, id, vec)
    S.ivfSearch(base, S.canonical(queries, id, vec),
      S.lowestCenters(base, cells), k, nprobe, excludeSelf)
      .withColumnRenamed("q_id", "query_id")
  }

  /** IVF drift census over arbitrary (id, Array[Float]) resident and
    * arriving frames — the retrain trigger the oracle-checked
    * q_ivf_append pins: centers fix on the resident side, both
    * populations assign by the same broadcast argmin, and a cell whose
    * arriving mean distance outgrows its resident mean is collecting
    * vectors the fixed codebook no longer represents. Output
    * (cell, n_resident, n_arriving, resident_dist_sum,
    * arriving_dist_sum), integer-exact. */
  def ivfDriftCensus(resident: DataFrame, arriving: DataFrame,
      cells: Int = 8, id: String = "vec_id",
      vec: String = "embedding"): DataFrame =
    S.ivfDriftCensusOf(
      S.canonical(resident, id, vec), S.canonical(arriving, id, vec), cells)

  /** PQ/ADC top-k similarity search over arbitrary (id, Array[Float])
    * vector and query frames: the base's 16 lowest-id vectors seed the
    * per-subspace codebooks, every vector compresses to 8 nibble codes,
    * and queries rank candidates by the 8-integer-add asymmetric
    * distance — the bandwidth-compressed serving path the
    * oracle-checked q_ann_pq pins. Output (query_id, rank, neighbor_id,
    * adc); vectors must be 64-dim.
    *
    * The PRODUCTION dials are arguments of the one PQ pipeline
    * ([[graft.queries.Similarity.pqSearch]], gated as the ann_pq_256*
    * telemetry keys): `centroids` per subspace codebook
    * ([[Tuning.pqCentroids]] — 256 in production; the default 16 is the
    * q_ann_pq shape), `rounds` Lloyd refinements, and `rerank` > 0 for
    * an exact-cosine re-rank of the ADC shortlist (output scores become
    * `cos`). */
  def pqTopK(vectors: DataFrame, queries: DataFrame, k: Int = 3,
      id: String = "vec_id", vec: String = "embedding",
      centroids: Int = 16, rounds: Int = 0, rerank: Int = 0,
      excludeSelf: Boolean = true): DataFrame = {
    require(centroids > 0, s"centroids must be positive: $centroids")
    require(rounds >= 0 && rerank >= 0, "rounds/rerank must be >= 0")
    val base = S.canonical(vectors, id, vec)
    S.pqSearch(base, S.canonical(queries, id, vec), S.pqLowest(base, centroids),
      rounds, k, rerank, excludeSelf).withColumnRenamed("q_id", "query_id")
  }

  /** Johnson-Lindenstrauss sign projection 64 → 16 for any
    * (id, Array[Float]) frame: milli-scaled exact-integer dot products
    * against the fixed ±1 matrix the oracle-checked q_embed_project
    * derives from the portable hash
    * ([[graft.queries.Curation.projectExpr]]). Output (id, projection:
    * array<bigint>[16]) — entirely scan-local, zero added shuffle; the
    * dimensionality-reduction front end for the LSH/IVF index builds. */
  def project(df: DataFrame, id: String = "vec_id",
      vec: String = "embedding"): DataFrame =
    df.select(col(id).cast("long").as("vid"),
        expr(s"transform($vec, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
          .as("v"))
      .select(col("vid").as(id),
        graft.queries.Curation.projectExpr(col("v")).as("projection"))
}
