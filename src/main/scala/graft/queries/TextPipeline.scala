package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Caches, Fixpoint, GQuery, HotKeys, LoopWidth, Tables, Widen}
import graft.core.Caches.TrackedOps
import Qdsl._

/** Training-data pipeline operators over the `documents` corpus: exact and
  * near deduplication (MinHash+LSH, SimHash, n-gram Jaccard), text quality
  * scoring, language-ID, tokenization, and document fingerprinting.
  *
  * These extend the reference's word-oriented map/reduce library
  * (`WordCountMapFunction.cc`, `NGramMapFunction.cc` — SURVEY.md §2.2) to
  * the operations a large-scale LLM-data pipeline needs. Everything is
  * declarative DataFrame code: one explode + one hash-partitioned
  * aggregation per stage, so each query is a constant number of shuffles
  * regardless of corpus size, and all heavy per-row math (md5, regex,
  * array ops) runs inside whole-stage codegen.
  *
  * Determinism: every hash is [[Qdsl.hash60]] (md5-based, portable to the
  * DuckDB oracle bit-for-bit); ratios are single IEEE divisions of exact
  * integers, identical on both engines.
  */
object TextPipeline {

  /** Non-empty whitespace tokens of `text`. */
  private def ws: Column = words(col("text"))

  // ---------------------------------------------------------------- exact

  /** Exact deduplication, keep-first semantics: group by a normalized key
    * (here the first 3 tokens — the full-text variant is identical code on
    * a corpus with true byte dups), keep the minimum doc_id, count the
    * rest. One hash shuffle; at 100 TB you'd group by md5(text) so the
    * shuffle key is 16 bytes, not the document. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(concat_ws(" ", slice(ws, 1, 3)).as("key"), col("doc_id"))
      .groupBy(col("key"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)

  private val dedupExactSql =
    """SELECT key, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs FROM (
      |  SELECT array_to_string(list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), w -> w != '')[1:3], ' ') AS key, doc_id
      |  FROM documents) t
      |GROUP BY key HAVING COUNT(*) > 1""".stripMargin

  // -------------------------------------------------------------- minhash

  /** The 8 affine re-hash constants (a, b) for the MinHash signature. */
  private val minhashAB: Seq[(Int, Int)] =
    Seq((2, 1), (3, 7), (5, 11), (7, 19), (11, 23), (13, 31), (17, 43), (19, 57))

  /** The band-bucket key of a band row: band i holds slots (m2i, m2i+1). */
  private val BandKey = Seq("band", "x", "y")

  /** The signature columns m0..m7 of a band row. */
  private def sigCols: Seq[Column] = minhashAB.indices.map(i => col(s"m$i"))

  /** Oracle twin of the signature: one `MIN((a*h+b) % p) AS m<i>` per
    * permutation over a shingle-hash column `h`. */
  private val minsSql = minhashAB.zipWithIndex.map { case ((a, b), i) =>
    s"MIN(($a*h+$b) % 1000000007) AS m$i" }.mkString(", ")

  /** Oracle twin of `n_match`: slot agreement of signatures `a` and `b`. */
  private val eqsSql = minhashAB.indices.map(i =>
    s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")

  /** Band buckets bigger than this are dropped before the pair self-join.
    * A degenerate bucket of size m (boilerplate text, adversarial spam, an
    * all-identical corpus) would contribute O(m²) pairs — the exact blowup
    * LSH bucketing exists to prevent. Pairs inside a dropped bucket can
    * still surface via their other 3 bands; true giant duplicate clusters
    * belong to the exact-dedup path (q_dedup_exact), not the pair join.
    * Measured at sf0.1 the hottest bucket holds 207 docs vs p99 = 15, so
    * 64 trims only the degenerate tail. Mirrored in the oracle SQL. */
  private[graft] val LshBucketCap = 64

  /** (doc_id, sh): the distinct word-2-gram shingles of every doc with
    * ≥ 2 tokens (shorter docs have none and carry no row) — the set the
    * MinHash signature sketches, shared with the calibration census and
    * fuzzy decontamination's confirm join. */
  private def shingles(docs: DataFrame): DataFrame = {
    val w = col("w")
    docs.select(col("doc_id"), ws.as("w"))
      .filter(size(w) >= 2)
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(1), size(w) - 1),
        i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
        .as("sh"))
  }

  /** The ONE MinHash band builder: per-doc signature over distinct
    * word-2-gram shingles, exploded into the persisted index schema
    * (band, x, y, doc_id, m0..m7) — 4 bands of 2 slots, every row
    * carrying the full signature so pair agreement needs no lookup join.
    * Pairs, index, census, merge, serve and fuzzy decontamination all
    * read this frame; it is tracked once, so one corpus's bands are
    * built once per action whichever of them ask (Caches dedupes by
    * plan).
    *
    * The signature is computed entirely SCAN-LOCAL: the shingle array and
    * its hash60 array are each projected once per row (referencing a
    * lambda-built expression in later lambdas would re-evaluate it per
    * element — the quadratic-per-row trap measured at 2.5× in r4), then
    * the 8 signature mins are fused affine-min folds over the materialized
    * hash array (the same Long math the oracle spells, MIN((a*h+b) % p),
    * with no per-(doc, permutation) intermediate array). No exchange: at
    * 100 TB the shingle-hash traffic IS the cost of the signature stage.
    * Docs with < 2 tokens have no shingles and carry no band rows. */
  private def minhashBands(docs: DataFrame): DataFrame = {
    val mins = minhashAB.zipWithIndex.map { case ((a, b), i) =>
      graft.functions.GraftAffineMin(col("hs"), a, b, P).as(s"m$i")
    }
    val bandKeys = array((0 until 4).map(i => struct(lit(i).as("band"),
      col(s"m${2 * i}").as("x"), col(s"m${2 * i + 1}").as("y"))): _*)
    shingles(docs)
      .select(col("doc_id"), transform(col("sh"), s => hashMod(s)).as("hs"))
      .select(col("doc_id") +: mins: _*)
      .select(col("doc_id") +: sigCols :+ explode(bandKeys).as("bk"): _*)
      .select(BandKey.map(k => col(s"bk.$k").as(k)) ++
        (col("doc_id") +: sigCols): _*)
      .trackedPersist()
  }

  /** The hot-bucket guard of a band frame: (index, census) — the band
    * rows outside over-cap buckets, and the over-cap buckets themselves
    * as (band, x, y, bucket_n), the persisted tombstone schema. */
  private def bandIndex(bands: DataFrame, cap: Int): (DataFrame, DataFrame) = {
    val hot = HotKeys.census(bands, BandKey, cap)
      .withColumnRenamed("n", "bucket_n")
    (HotKeys.divert(bands, hot, BandKey)._1, hot)
  }

  /** The ONE band join: `probe` band rows meet `index` band rows on
    * (band, x, y) under the extra condition `cond` (over aliases `l` =
    * index, `r` = probe); each meeting scores its signature agreement and
    * multi-band collisions collapse to (doc_a = index doc, doc_b = probe
    * doc, max agreement `n_match`) in one aggregation. The equi-join
    * hash-partitions buckets across the cluster — no O(n²) pair
    * enumeration ever materializes. */
  private def bandJoin(probe: DataFrame, index: DataFrame,
      cond: Column = lit(true)): DataFrame = {
    val nMatch = minhashAB.indices.map(i =>
      when(col(s"l.m$i") === col(s"r.m$i"), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    index.as("l").join(probe.as("r"),
        BandKey.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _) && cond)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        nMatch.as("m"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("m")).as("n_match"))
  }

  /** MinHash + LSH near-dup candidates: 8-hash signature, 4 bands of 2,
    * bucket self-join, per-pair signature agreement count. */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    dedupMinhashDocs(Tables.documents(s, dir), LshBucketCap)

  /** [[dedupMinhash]] over an explicit corpus with an explicit bucket cap
    * (spec surface — the adversarial-corpus guard test drives this). The
    * guarded band rows feed both sides of the self-join — one lazy cache
    * computes them once per action instead of once per side. */
  private[graft] def dedupMinhashDocs(docs: DataFrame, cap: Int): DataFrame = {
    val guarded = Caches.tracked(bandIndex(minhashBands(docs), cap)._1)
    bandJoin(guarded, guarded, col("l.doc_id") < col("r.doc_id"))
  }

  private val dedupMinhashSql =
    s"""WITH ws AS (
      |  SELECT doc_id, list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), w -> w != '') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS sh
      |  FROM ws WHERE len(w) >= 2),
      |h AS (
      |  SELECT doc_id, CAST('0x' || substring(md5(sh),1,15) AS BIGINT) % 1000000007 AS h FROM sh),
      |sig AS (SELECT doc_id, $minsSql FROM h GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, unnest([[0,m0,m1],[1,m2,m3],[2,m4,m5],[3,m6,m7]]) AS bk FROM sig),
      |okb AS (
      |  SELECT bk FROM bands GROUP BY bk HAVING COUNT(*) <= $LshBucketCap),
      |guarded AS (SELECT bands.doc_id, bands.bk FROM bands JOIN okb USING (bk)),
      |pairs AS (
      |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      |  FROM guarded l JOIN guarded r ON l.bk = r.bk AND l.doc_id < r.doc_id)
      |SELECT doc_a, doc_b, CAST($eqsSql AS BIGINT) AS n_match
      |FROM pairs JOIN sig a ON doc_a = a.doc_id JOIN sig b ON doc_b = b.doc_id""".stripMargin

  // --------------------------------------------- incremental dedup serve

  /** The persisted MinHash band-bucket INDEX over a historical corpus:
    * one flat parquet-friendly row per (band bucket, member doc) carrying
    * the full 8-hash signature, hot buckets (> cap members) excluded at
    * BUILD time — boilerplate buckets are an index-construction decision,
    * not a per-batch one (re-censusing history per increment would cost a
    * corpus scan, the thing the index exists to avoid). */
  private[graft] def minhashIndex(docs: DataFrame, cap: Int): DataFrame =
    bandIndex(minhashBands(docs), cap)._1

  /** The tombstone side of the index: (band, x, y, bucket_n) for every
    * bucket the build EXCLUDED — tiny by construction (≤ 4n/cap rows).
    * Without it an index cannot be MERGED correctly: a bucket that was
    * hot at build time has no rows left to count, so a later increment
    * would resurrect it below cap. Persist it next to the index. */
  private[graft] def minhashHotCensus(docs: DataFrame, cap: Int): DataFrame =
    bandIndex(minhashBands(docs), cap)._2

  /** Index MAINTENANCE: merge an arriving batch into a prebuilt
    * (index, hot census) pair without rescanning history. The merged
    * bucket count is rows-present + tombstoned count (exact in every
    * case: a hist-hot bucket keeps its full count in the census, a
    * hist-cold bucket keeps all its rows in the index), so
    *
    *   merge(index(h), census(h), b)  ==  (index(h∪b), census(h∪b))
    *
    * as multisets of rows — the incremental build IS the batch build
    * (IncrementalDedupSpec proves the law on a cap-crossing fixture;
    * q_dedup_index_merge proves it against the DuckDB rebuild). Work is
    * ∝ batch bands + index size, one census shuffle; at 100 TB this is
    * the nightly compaction job, with the full rebuild reserved for
    * shingle/hash version bumps.
    *
    * PRECONDITION: the batch's doc_ids must be DISJOINT from the ids
    * already indexed (the daily-crawl contract — each doc arrives once).
    * Re-merging an already-indexed doc unions duplicate band rows and
    * double-counts bucket sizes, silently breaking the merge==rebuild
    * law; anti-join the batch against served ids first if re-delivery
    * is possible upstream (kept out of this operator so merge work
    * stays ∝ batch, not ∝ index). */
  private[graft] def minhashIndexMerge(idx: DataFrame, hot: DataFrame,
      batch: DataFrame, cap: Int): (DataFrame, DataFrame) = {
    val allRows = idx.unionByName(minhashBands(batch)).trackedPersist()
    val mergedCounts = allRows
      .groupBy(BandKey.map(col): _*)
      .agg(count(lit(1)).as("n_present"))
      .join(hot.select(BandKey.map(col) :+ col("bucket_n").as("n_tomb"): _*),
        BandKey, "full_outer")
      .select(col("band"), col("x"), col("y"),
        (coalesce(col("n_present"), lit(0L)) +
          coalesce(col("n_tomb"), lit(0L))).as("bucket_n"))
    val newHot = mergedCounts.filter(col("bucket_n") > cap).trackedPersist()
    (HotKeys.divert(allRows, newHot, BandKey)._1, newHot)
  }

  /** Incremental near-dup detection: dedup a NEW document batch against a
    * PERSISTED MinHash index of the historical corpus — the daily-crawl
    * production shape, where history is indexed once and each increment
    * pays only its own size. The corpus splits at t = ⌈0.8·max(doc_id)⌉
    * derived IN-PLAN (1-row broadcast, construction job-free): doc_id < t
    * is history, the rest is the arriving batch. History's band rows are
    * written to parquet inside a [[graft.plans.DeferredIngest]] stage and
    * READ BACK for serving (the q_ann_pq_served contract: the index is an
    * ordinary partitionable table, not driver state); the batch computes
    * its signatures scan-local and equi-joins the index on the band key.
    *
    * Scale shape: serve work ∝ batch bands × bucket occupancy — the
    * historical corpus is touched only through the index partitions the
    * join prunes to, never rescanned; the build-side hot-bucket cap
    * bounds per-band-row fan-out at cap, so candidates ≤ 4·batch·cap.
    * Output matches q_dedup_minhash's orientation: (doc_a hist, doc_b
    * new, max signature agreement); IncrementalDedupSpec proves the pair
    * set dominates the from-scratch run restricted to hist×new pairs and
    * agrees exactly on every shared pair. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tDf = docs.agg(expr("MAX(doc_id)*4 DIV 5").as("t"))
    val out = graft.core.Scratch.dir("mhidx", dir)
    val idxSchema = "band INT, x BIGINT, y BIGINT, doc_id BIGINT, " +
      minhashAB.indices.map(i => s"m$i BIGINT").mkString(", ")
    // ONE band build over the full corpus, shared by the index leg and
    // the serve leg: signatures are per-doc, so slicing the bands at t is
    // exactly the bands of the slice
    val split = minhashBands(docs).crossJoin(broadcast(tDf))
    val idx = graft.plans.DeferredIngest(s, idxSchema) {
      bandIndex(split.filter(col("doc_id") < col("t")).drop("t"),
          LshBucketCap)._1
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .select(BandKey.map(col) ++ (col("doc_id") +: sigCols): _*)
    }
    bandJoin(split.filter(col("doc_id") >= col("t")).drop("t"), idx)
  }

  /** The serve leg alone: near-dup candidates of `batch` docs against a
    * prebuilt band index (live [[minhashIndex]] output or the same rows
    * read back from storage) — the `Corpus.dedupAgainstIndex` facade,
    * including its foreachBatch streaming use. It is [[bandJoin]] over
    * the batch's bands, the same path the oracle-checked
    * [[dedupIncremental]] serves through — the semDedup-drift lesson. */
  private[graft] def serveAgainstIndex(idx: DataFrame,
      batch: DataFrame): DataFrame =
    bandJoin(minhashBands(batch), idx)

  private val dedupIncrementalSql =
    s"""WITH ws AS (
      |  SELECT doc_id, list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), w -> w != '') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS sh
      |  FROM ws WHERE len(w) >= 2),
      |h AS (
      |  SELECT doc_id, CAST('0x' || substring(md5(sh),1,15) AS BIGINT) % 1000000007 AS h FROM sh),
      |sig AS (SELECT doc_id, $minsSql FROM h GROUP BY doc_id),
      |t AS (SELECT MAX(doc_id)*4 // 5 AS t FROM documents),
      |bands AS (
      |  SELECT doc_id, unnest([[0,m0,m1],[1,m2,m3],[2,m4,m5],[3,m6,m7]]) AS bk FROM sig),
      |okb AS (
      |  SELECT bk FROM bands CROSS JOIN t WHERE doc_id < t
      |  GROUP BY bk HAVING COUNT(*) <= $LshBucketCap),
      |idx AS (
      |  SELECT bands.doc_id, bands.bk FROM bands JOIN okb USING (bk)
      |  CROSS JOIN t WHERE doc_id < t),
      |newb AS (SELECT doc_id, bk FROM bands CROSS JOIN t WHERE doc_id >= t),
      |pairs AS (
      |  SELECT DISTINCT i.doc_id AS doc_a, nb.doc_id AS doc_b
      |  FROM idx i JOIN newb nb ON i.bk = nb.bk)
      |SELECT doc_a, doc_b, CAST($eqsSql AS BIGINT) AS n_match
      |FROM pairs JOIN sig a ON doc_a = a.doc_id JOIN sig b ON doc_b = b.doc_id""".stripMargin

  /** Merge-equals-rebuild, proven against an independent engine: Spark
    * builds (index, hot census) over HISTORY only, MERGES the batch in
    * via [[minhashIndexMerge]], and censuses the result per band;
    * DuckDB REBUILDS from the full corpus directly. Equality of the
    * per-band censuses (row count, bucket count, doc-id checksum,
    * tombstone count and mass) is the maintenance law the incremental
    * index path relies on, checked end to end. */
  def dedupIndexMerge(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tDf = docs.agg(expr("MAX(doc_id)*4 DIV 5").as("t"))
    val hist = docs.crossJoin(broadcast(tDf))
      .filter(col("doc_id") < col("t")).drop("t")
    val batch = docs.crossJoin(broadcast(tDf))
      .filter(col("doc_id") >= col("t")).drop("t")
    val (hIdx, hHot) = bandIndex(minhashBands(hist), LshBucketCap)
    val (mIdx, mHot) = minhashIndexMerge(hIdx, hHot, batch, LshBucketCap)
    val idxAgg = mIdx.groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("x"), col("y")).as("n_buckets"),
        sum(col("doc_id")).as("doc_id_sum"))
    val hotAgg = mHot.groupBy(col("band").cast("long").as("band"))
      .agg(count(lit(1)).as("hot_buckets"),
        sum(col("bucket_n")).as("hot_n_sum"))
    idxAgg.join(hotAgg, Seq("band"), "full_outer")
      .select(col("band"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_buckets"), lit(0L)).as("n_buckets"),
        coalesce(col("doc_id_sum"), lit(0L)).as("doc_id_sum"),
        coalesce(col("hot_buckets"), lit(0L)).as("hot_buckets"),
        coalesce(col("hot_n_sum"), lit(0L)).as("hot_n_sum"))
  }

  private val dedupIndexMergeSql =
    s"""WITH ws AS (
      |  SELECT doc_id, list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), w -> w != '') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS sh
      |  FROM ws WHERE len(w) >= 2),
      |h AS (
      |  SELECT doc_id, CAST('0x' || substring(md5(sh),1,15) AS BIGINT) % 1000000007 AS h FROM sh),
      |sig AS (SELECT doc_id, $minsSql FROM h GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, unnest([[0,m0,m1],[1,m2,m3],[2,m4,m5],[3,m6,m7]]) AS bk FROM sig),
      |bc AS (
      |  SELECT bk, COUNT(*) AS n, SUM(doc_id) AS ds FROM bands GROUP BY bk),
      |cold AS (
      |  SELECT bk[1] AS band, CAST(SUM(n) AS BIGINT) AS n_rows,
      |    CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |    CAST(SUM(ds) AS BIGINT) AS doc_id_sum
      |  FROM bc WHERE n <= $LshBucketCap GROUP BY bk[1]),
      |hot AS (
      |  SELECT bk[1] AS band, CAST(COUNT(*) AS BIGINT) AS hot_buckets,
      |    CAST(SUM(n) AS BIGINT) AS hot_n_sum
      |  FROM bc WHERE n > $LshBucketCap GROUP BY bk[1])
      |SELECT COALESCE(c.band, hot.band) AS band,
      |  COALESCE(n_rows, 0) AS n_rows,
      |  COALESCE(n_buckets, 0) AS n_buckets,
      |  COALESCE(doc_id_sum, 0) AS doc_id_sum,
      |  COALESCE(hot_buckets, 0) AS hot_buckets,
      |  COALESCE(hot_n_sum, 0) AS hot_n_sum
      |FROM cold c FULL JOIN hot ON c.band = hot.band""".stripMargin

  // --------------------------------------------- minhash calibration

  /** MinHash estimator calibration — the dedup leg's analogue of the ANN
    * recall telemetry: for every LSH candidate pair, the signature
    * agreement estimate (n_match/8) is compared against the EXACT Jaccard
    * of the same 2-gram shingle sets the signature sketches, censused by
    * agreement level (ratio-of-sums mean per level). Estimator drift — a
    * hash change, a band re-tune, a shingle definition forked on one
    * side — pulls mean_jaccard away from est_jaccard at some level while
    * every membership-based gate stays green. Integer sums are exact;
    * the two doubles are single IEEE divisions of exact integers.
    *
    * Scale shape: candidates come from the guarded LSH join (never the
    * pair space), the shingle sets join back by doc id (hash equi-joins),
    * and the census is ≤ 9 rows. At 100 TB the shingle arrays would be
    * replaced by their hash60 arrays on both sides of the intersect —
    * same join shape, 8-byte elements. */
  def minhashCalibration(s: SparkSession, dir: String): DataFrame =
    minhashCalibrationDocs(Tables.documents(s, dir))

  private[graft] def minhashCalibrationDocs(docs: DataFrame): DataFrame =
    minhashCalibrationFrom(dedupMinhashDocs(docs, LshBucketCap), shingles(docs))

  /** Census stage over explicit (doc_a, doc_b, n_match) candidates and
    * per-doc shingle sets. */
  private def minhashCalibrationFrom(cand: DataFrame, sh: DataFrame): DataFrame =
    cand
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("n_match"),
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("long")
          .as("ninter"),
        (size(col("a.sh")) + size(col("b.sh"))).cast("long").as("nsum"))
      .groupBy(col("n_match"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("ninter")).as("inter_sum"),
        sum(col("nsum") - col("ninter")).as("union_sum"))
      .select(col("n_match"), col("n_pairs"), col("inter_sum"),
        col("union_sum"),
        (col("inter_sum").cast("double") / col("union_sum").cast("double"))
          .as("mean_jaccard"),
        (col("n_match").cast("double") / 8.0).as("est_jaccard"))

  private val minhashCalibrationSql =
    s"""WITH ws AS (
      |  SELECT doc_id, list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), w -> w != '') AS w FROM documents),
      |shl AS (
      |  SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS sh
      |  FROM ws WHERE len(w) >= 2),
      |hh AS (
      |  SELECT doc_id, CAST('0x' || substring(md5(t.s),1,15) AS BIGINT) % 1000000007 AS h
      |  FROM shl, unnest(sh) AS t(s)),
      |sig AS (SELECT doc_id, $minsSql FROM hh GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, unnest([[0,m0,m1],[1,m2,m3],[2,m4,m5],[3,m6,m7]]) AS bk FROM sig),
      |okb AS (
      |  SELECT bk FROM bands GROUP BY bk HAVING COUNT(*) <= $LshBucketCap),
      |guarded AS (SELECT bands.doc_id, bands.bk FROM bands JOIN okb USING (bk)),
      |pairs AS (
      |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      |  FROM guarded l JOIN guarded r ON l.bk = r.bk AND l.doc_id < r.doc_id),
      |pm AS (
      |  SELECT doc_a, doc_b, CAST($eqsSql AS BIGINT) AS n_match
      |  FROM pairs JOIN sig a ON doc_a = a.doc_id JOIN sig b ON doc_b = b.doc_id),
      |j AS (
      |  SELECT pm.n_match,
      |    CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS BIGINT) AS ninter,
      |    CAST(len(a.sh) + len(b.sh) AS BIGINT) AS nsum
      |  FROM pm JOIN shl a ON doc_a = a.doc_id JOIN shl b ON doc_b = b.doc_id)
      |SELECT n_match, COUNT(*) AS n_pairs,
      |  CAST(SUM(ninter) AS BIGINT) AS inter_sum,
      |  CAST(SUM(nsum - ninter) AS BIGINT) AS union_sum,
      |  CAST(SUM(ninter) AS DOUBLE) / CAST(SUM(nsum - ninter) AS DOUBLE) AS mean_jaccard,
      |  CAST(n_match AS DOUBLE) / 8.0 AS est_jaccard
      |FROM j GROUP BY n_match""".stripMargin

  // -------------------------------------------------------------- simhash

  /** 32-bit SimHash per document over the word multiset: per-word md5-hash,
    * ±1 vote per bit position weighted by occurrence, majority sign forms
    * the fingerprint. Computed SCAN-LOCAL like [[minhashBands]]: the word
    * hashes are projected once per row, then each bit's vote balance is
    * an `aggregate` fold over that array — no ×32 bit explode, no
    * (doc, bit) exchange; the fingerprint never leaves its scan task.
    * (The exploded form shuffled 32 rows per document twice — pure
    * signature-traffic overhead at scale.) Docs with no tokens carry no
    * fingerprint, matching the exploded form's dropped groups. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhashDocs(Tables.documents(s, dir), 32)

  /** Width-parameterized SimHash fingerprint over an arbitrary
    * (doc_id, text) frame. 32-bit: per-word hash60 mod 2³² (md5-parity
    * with the DuckDB oracle — the width the oracle rows pin). 64-bit:
    * per-word xxhash64 (codegen'd builtin, full word) — the
    * [[graft.api.Tuning.simBits]] production width, no oracle twin by
    * design (the scheme is identical, only the word-hash and bit count
    * change; TextPipelineSpec pins Hamming-≤3 exhaustiveness at BOTH
    * widths). Vote folds stay scan-local either way: one `aggregate`
    * per bit over the projected hash array, never a ×bits explode. */
  private[graft] def simhashDocs(docs: DataFrame, width: Int): DataFrame = {
    require(width == 32 || width == 64, s"simhash width must be 32|64: $width")
    val bits = (0 until width).map { i =>
      // logical shift: identical to the arithmetic form at 32 bits
      // (fingerprint-nonnegative), correct for bit 63 at 64
      when(aggregate(col("hs"), lit(0L),
        (acc, h) => acc +
          when(shiftrightunsigned(h, i).bitwiseAND(lit(1L)) === 1, 1L)
            .otherwise(-1L)) > 0,
        lit(1L << i)).otherwise(lit(0L))
    }
    val wordHash: Column => Column =
      if (width == 32) (w => hash60(w) % 4294967296L) else (w => xxhash64(w))
    docs
      .select(col("doc_id"), ws.as("w"))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), transform(col("w"), wordHash).as("hs"))
      .select(col("doc_id"), bits.reduce(_ + _).as("simhash"))
  }

  private val dedupSimhashSql =
    """WITH w AS (
      |  SELECT doc_id, unnest(list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), x -> x != '')) AS word
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, CAST('0x' || substring(md5(word),1,15) AS BIGINT) % 4294967296 AS h32 FROM w),
      |b AS (
      |  SELECT doc_id, t.i, CASE WHEN (h32 >> t.i) & 1 = 1 THEN 1 ELSE -1 END AS v
      |  FROM h CROSS JOIN range(32) t(i)),
      |s AS (SELECT doc_id, i, SUM(v) AS s FROM b GROUP BY doc_id, i)
      |SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT) AS simhash
      |FROM s GROUP BY doc_id""".stripMargin

  /** 6-block split of the 32-bit fingerprint (widths 6,6,5,5,5,5) and
    * the C(6,3) = 20 three-block subsets — the Manku/Jain/Das Sarma
    * combinatorial probing tables (WWW'07, the production SimHash
    * candidate scheme). A pair within Hamming distance 3 differs in at
    * most 3 blocks, so it is IDENTICAL on some 3-block subset — every
    * ≤3-distance pair shares at least one of the 20 combo keys
    * (pigeonhole, exhaustive). The r12 4×8-bit band scheme was also
    * exhaustive but its key space was 4×256: random candidate volume
    * n²·4/2·256 — 2.5 BILLION pair rows at the r13 drive's 565k docs.
    * The combo keys carry ~16 bits each, cutting random collisions
    * ~100× (20/2¹⁶ vs 4/2⁸) and spreading an identical-fingerprint
    * clique over 20 keys instead of 4. Shared by the Column builder and
    * the DuckDB oracle so the two candidate schemes cannot drift. */
  private val simBlockOff = Vector(0, 6, 12, 17, 22, 27)
  private val simBlockMod = Vector(64L, 64L, 32L, 32L, 32L, 32L)
  /** The 64-bit twin (Manku's production width, [[graft.api.Tuning
    * .simBits]]): widths 11,11,11,11,10,10 — 3-block combo keys carry
    * 31–33 bits, cutting the random-collision constant another ~2^16
    * below the 32-bit tables and deferring fingerprint-space clique
    * saturation (∝ n²/2^w) past any driveable corpus. Same C(6,3) = 20
    * combo enumeration; the pigeonhole exhaustiveness argument is
    * width-independent (≤3 flipped bits touch ≤3 of 6 blocks). */
  // private[graft]: RealCodec's image near-dup rides the same 64-bit
  // Manku tables on dHash fingerprints — one banding scheme engine-wide
  private[graft] val simBlockOff64 = Vector(0, 11, 22, 33, 44, 54)
  private[graft] val simBlockMod64 = Vector(2048L, 2048L, 2048L, 2048L, 1024L, 1024L)
  private[graft] val simCombos: Seq[(Int, Seq[Int])] =
    (0 until 6).combinations(3).toSeq.map(_.toSeq).zipWithIndex
      .map { case (c, i) => (i, c) }

  /** The ONE Manku band-key builder every Hamming-≤3 candidate join uses
    * (SimHash at both widths; RealCodec's image near-dup on dHash):
    * explodes a fingerprint column into its 20 3-of-6-block combo keys.
    * Bitwise AND, not %: the block mods are powers of two, and a signed
    * % on a NEGATIVE 64-bit fingerprint (bit 63 set) gives a negative
    * remainder — a cross-sign pair with identical low block bits would
    * key DIFFERENTLY and be silently missed (caught r14 by
    * q_image_neardup's brute-force oracle; TextPipelineSpec pins the
    * exact caught pair). 32-bit fingerprints are nonnegative, where
    * & == %, so the oracle-pinned 32-bit keys are unchanged. */
  private[graft] def simBandKeys(fpCol: String,
      offs: IndexedSeq[Int], mods: IndexedSeq[Long]): org.apache.spark.sql.Column =
    explode(array(simCombos.map { case (ci, blocks) =>
      struct(lit(ci).as("c") +: blocks.zipWithIndex.map { case (b, i) =>
        (expr(s"shiftrightunsigned($fpCol, ${offs(b)})")
          .bitwiseAND(lit(mods(b) - 1))).as(s"v$i")
      }: _*)
    }: _*))

  /** SimHash near-dup pairs: candidates share at least one of the 20
    * combinatorial 3-block keys of the 32-bit fingerprint ([[simCombos]]
    * — exhaustive for Hamming ≤ 3 by pigeonhole), then exact Hamming ≤ 3
    * via bit_count on the XOR. Same ban-the-cross-join shape as MinHash:
    * band equi-join, never O(n²) — and the wide keys keep the random-
    * collision constant survivable at replica-drive volume. An
    * identical-fingerprint clique still owes all its pairs (the output
    * is exact); the 20 keys parallelize that debt, they cannot shrink
    * it. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    simhashPairsDocs(Tables.documents(s, dir), 32)

  /** [[simhashPairs]] over an arbitrary (doc_id, text) frame at either
    * fingerprint width — the 20-combo candidate join against the
    * width's block tables, then exact Hamming ≤ 3 on the XOR. 32 is the
    * oracle-pinned test width; 64 is the [[graft.api.Tuning.simBits]]
    * production width the simhash_tuned gate telemetry measures. */
  private[graft] def simhashPairsDocs(docs: DataFrame,
      width: Int): DataFrame = {
    val (offs, mods) =
      if (width == 64) (simBlockOff64, simBlockMod64)
      else (simBlockOff, simBlockMod)
    // lazy cache: one fingerprint computation feeding both join sides
    val sig = simhashDocs(docs, width).trackedPersist()
    val bands = sig.select(col("doc_id"), col("simhash"),
      simBandKeys("simhash", offs, mods).as("bk"))
    bands.as("l").join(bands.as("r"),
        col("l.bk") === col("r.bk") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        expr("bit_count(l.simhash ^ r.simhash)").cast("long").as("hamming"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("hamming")).as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** The width dial measured end-to-end (the `ann_lsh_tuned` pattern):
    * fingerprint width from [[graft.api.Tuning.simBits]] at the corpus'
    * row count, then the full candidate-join + exact-Hamming pair
    * pipeline at that width. Emits ONE row (bits, n_pairs) — gated by
    * [[graft.BenchGate]] as the simhash_tuned key. At sf0.1 simBits lands on 32, so
    * n_pairs is exactly q_simhash_pairs' row count (the band is exact:
    * everything is deterministic); at the 100× drive the dial crosses
    * to 64 and the candidate volume drop is the recorded measurement.
    *
    * `nDocs` arrives from the caller ([[graft.BenchGate.violations]]
    * hoists ONE shared column-pruned count) rather than a
    * per-call `docs.count()` action here — the width picks between two
    * PLAN SHAPES (32- vs 64-bit block tables), so unlike
    * sqrtNCenters' ⌈√n⌉ count it cannot fold into the plan as a
    * column; hoisting the action is the honest equivalent. */
  def simhashTuned(s: SparkSession, dir: String, nDocs: Long): DataFrame = {
    val bits = graft.api.Tuning.simBits(nDocs)
    simhashPairsDocs(Tables.documents(s, dir), bits)
      .agg(count(lit(1)).as("n_pairs"))
      .select(lit(bits).cast("long").as("bits"), col("n_pairs"))
  }

  /** SimHash estimator calibration — the fingerprint-side twin of
    * [[minhashCalibration]]: for every Hamming-≤3 candidate pair, the
    * exact distinct-word Jaccard (the set the fingerprint's votes
    * sketch), censused by Hamming distance. Together the three dials
    * (ANN recall, MinHash agreement, SimHash distance) give every
    * approximate index in the engine an exact-truth readout; the gate
    * value is curve stability across rounds. */
  def simhashCalibration(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), array_distinct(ws).as("w"))
    simhashPairs(s, dir)
      .join(d.as("a"), col("doc_a") === col("a.doc_id"))
      .join(d.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("hamming"),
        size(array_intersect(col("a.w"), col("b.w"))).cast("long")
          .as("ninter"),
        (size(col("a.w")) + size(col("b.w"))).cast("long").as("nsum"))
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("ninter")).as("inter_sum"),
        sum(col("nsum") - col("ninter")).as("union_sum"))
      .select(col("hamming"), col("n_pairs"), col("inter_sum"),
        col("union_sum"),
        (col("inter_sum").cast("double") / col("union_sum").cast("double"))
          .as("mean_jaccard"))
  }

  // the oracle mirrors the same 20-combo candidate scheme (same
  // simCombos table, interpolated — the two sides cannot drift); the
  // 4×8-bit band form ground DuckDB at replica-drive volume exactly
  // like the Spark side
  private val simhashPairsSql = {
    val comboRows = simCombos.map { case (ci, blocks) =>
      val vals = blocks.map(b => s"${simBlockOff(b)}, ${simBlockMod(b)}")
        .mkString(", ")
      s"($ci, $vals)"
    }.mkString(",\n      |    ")
    s"""WITH sig AS ($dedupSimhashSql),
      |combos(ci, o0, m0, o1, m1, o2, m2) AS (VALUES
      |    $comboRows),
      |bands AS (
      |  SELECT doc_id, simhash,
      |    [ci, (simhash >> o0) % m0, (simhash >> o1) % m1,
      |     (simhash >> o2) % m2] AS bk
      |  FROM sig CROSS JOIN combos)
      |SELECT doc_a, doc_b, hamming FROM (
      |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
      |    MIN(CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT)) AS hamming
      |  FROM bands l JOIN bands r ON l.bk = r.bk AND l.doc_id < r.doc_id
      |  GROUP BY l.doc_id, r.doc_id) t
      |WHERE hamming <= 3""".stripMargin
  }

  private val simhashCalibrationSql =
    s"""WITH p AS (SELECT * FROM ($simhashPairsSql)),
      |dw AS (
      |  SELECT doc_id, list_distinct($wordsSqlDoc) AS w FROM documents),
      |j AS (
      |  SELECT p.hamming,
      |    CAST(len(list_distinct(list_intersect(a.w, b.w))) AS BIGINT) AS ninter,
      |    CAST(len(a.w) + len(b.w) AS BIGINT) AS nsum
      |  FROM p JOIN dw a ON p.doc_a = a.doc_id JOIN dw b ON p.doc_b = b.doc_id)
      |SELECT hamming, COUNT(*) AS n_pairs,
      |  CAST(SUM(ninter) AS BIGINT) AS inter_sum,
      |  CAST(SUM(nsum - ninter) AS BIGINT) AS union_sum,
      |  CAST(SUM(ninter) AS DOUBLE) / CAST(SUM(nsum - ninter) AS DOUBLE) AS mean_jaccard
      |FROM j GROUP BY hamming""".stripMargin

  // -------------------------------------------------- n-gram jaccard dedup

  /** Guarded-LSH candidate pairs joined back to their distinct word sets
    * with the exact intersection and both set sizes — the ONE shared
    * verification scaffold the symmetric (Jaccard) and asymmetric
    * (containment) measures both read, so a tokenizer or candidate-join
    * change can never drift the two gates apart. */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    verifiedPairsDocs(Tables.documents(s, dir), LshBucketCap)

  /** [[verifiedPairs]] over an explicit corpus (the generic form
    * `api.Corpus` exposes — any (doc_id, text) frame works). */
  private[graft] def verifiedPairsDocs(docs: DataFrame, cap: Int): DataFrame = {
    // referenced twice (a/b verification sides) — cache or the corpus
    // re-tokenizes once per side
    val d = docs.select(col("doc_id"), array_distinct(ws).as("w"))
      .trackedPersist()
    val cand = dedupMinhashDocs(docs, cap)
      .select(col("doc_a"), col("doc_b"))
    cand
      .join(d.as("a"), col("doc_a") === col("a.doc_id"))
      .join(d.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("a.w"), col("b.w"))).cast("long").as("n_inter"),
        size(col("a.w")).cast("long").as("na"),
        size(col("b.w")).cast("long").as("nb"))
  }

  /** Candidate pairs + exact word-set Jaccard verification. The block key
    * is the guarded MinHash band bucket (never a raw attribute like
    * (lang, source): raw-attribute blocks grow linearly with the corpus,
    * so the in-block pair join grows quadratically — the LSH bucket stays
    * O(1)-ish per band by construction, and over-cap buckets are dropped).
    * Candidates are then exactly verified: distinct-word intersection /
    * union as exact integers, one IEEE division, keep ≥ 0.8. */
  def jaccardNeardup(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("na") + col("nb") - col("n_inter")).as("n_union"),
        (col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.8)

  /** Shared oracle CTE chain: documents → word lists (`d`), MinHash
    * signatures, guarded band buckets, candidate pairs (`cand`) — the
    * DuckDB mirror of [[dedupMinhashDocs]]'s candidate generation. */
  private def lshCandSql: String =
    s"""d AS (
      |  SELECT doc_id, lang, source,
      |    list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), w -> w != '') AS w
      |  FROM documents),
      |shng AS (
      |  SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS sh
      |  FROM d WHERE len(w) >= 2),
      |hh AS (
      |  SELECT doc_id, CAST('0x' || substring(md5(sh),1,15) AS BIGINT) % 1000000007 AS h FROM shng),
      |sig AS (SELECT doc_id, $minsSql FROM hh GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, unnest([[0,m0,m1],[1,m2,m3],[2,m4,m5],[3,m6,m7]]) AS bk FROM sig),
      |okb AS (SELECT bk FROM bands GROUP BY bk HAVING COUNT(*) <= $LshBucketCap),
      |guarded AS (SELECT bands.doc_id, bands.bk FROM bands JOIN okb USING (bk)),
      |cand AS (
      |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      |  FROM guarded l JOIN guarded r ON l.bk = r.bk AND l.doc_id < r.doc_id)""".stripMargin

  /** Exact verification clause over `cand` + `d`: intersection size and
    * both distinct-set sizes (the DuckDB mirror of [[verifiedPairs]],
    * shared by the Jaccard pair query, the containment query, and the
    * composed pipeline's losers CTE). */
  private val jaccardVerifySql =
    """SELECT c.doc_a, c.doc_b,
      |    CAST(len(list_distinct(list_intersect(a.w, b.w))) AS BIGINT) AS n_inter,
      |    CAST(len(list_distinct(a.w)) AS BIGINT) AS na,
      |    CAST(len(list_distinct(b.w)) AS BIGINT) AS nb
      |  FROM cand c
      |  JOIN d a ON c.doc_a = a.doc_id
      |  JOIN d b ON c.doc_b = b.doc_id""".stripMargin

  private val jaccardNeardupSql =
    s"""WITH $lshCandSql
      |SELECT doc_a, doc_b, n_inter, na + nb - n_inter AS n_union,
      |  CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE) AS jaccard
      |FROM (
      |  $jaccardVerifySql) t
      |WHERE CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE) >= 0.8""".stripMargin

  /** Asymmetric CONTAINMENT near-dup: |A∩B| / min(|A|,|B|) ≥ 0.9 while
    * Jaccard < 0.8 — the near-SUBSET duplication symmetric Jaccard
    * structurally misses (a short document quoted wholesale inside a
    * longer one shares ~all of the smaller side's words, but the union
    * is large so Jaccard stays low; 291 such pairs exist at sf0.01).
    * Boilerplate/quotation scrubbing needs exactly this measure. Same
    * guarded-MinHash candidate generation and exact verification as
    * [[jaccardNeardup]] — only the acceptance measure differs. */
  def containmentNeardup(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        least(col("na"), col("nb")).as("n_min"),
        (col("n_inter").cast("double") /
          least(col("na"), col("nb")).cast("double")).as("containment"),
        (col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")).cast("double")).as("jaccard"))
      .filter(col("containment") >= 0.9 && col("jaccard") < 0.8)

  private val containmentNeardupSql =
    s"""WITH $lshCandSql,
      |v AS (
      |  $jaccardVerifySql)
      |SELECT doc_a, doc_b, n_inter, LEAST(na, nb) AS n_min,
      |  CAST(n_inter AS DOUBLE) / CAST(LEAST(na, nb) AS DOUBLE) AS containment,
      |  CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE) AS jaccard
      |FROM v
      |WHERE CAST(n_inter AS DOUBLE) / CAST(LEAST(na, nb) AS DOUBLE) >= 0.9
      |  AND CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE) < 0.8""".stripMargin

  // -------------------------------------------------------- text analysis

  /** Per-document quality signals: token counts, distinct ratio, mean token
    * length, stopword ratio. Pure map-side projection — no shuffle at all,
    * embarrassingly parallel at any scale. */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in")
    val nStop = size(filter(ws, w => w.isInCollection(stop))).cast("long")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(ws).cast("long").as("n_tokens"),
        size(array_distinct(ws)).cast("long").as("n_distinct"),
        nStop.as("n_stop"),
        (size(array_distinct(ws)).cast("double") / size(ws).cast("double"))
          .as("distinct_ratio"),
        ((length(col("text")) - size(ws) + 1).cast("double") /
          size(ws).cast("double")).as("mean_token_len"),
        (nStop.cast("double") / size(ws).cast("double")).as("stop_ratio"))
  }

  private val textQualitySql =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST(len(w) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
      |  CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in'))) AS BIGINT) AS n_stop,
      |  CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS distinct_ratio,
      |  CAST(length(text) - len(w) + 1 AS DOUBLE) / CAST(len(w) AS DOUBLE) AS mean_token_len,
      |  CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
      |    / CAST(len(w) AS DOUBLE) AS stop_ratio
      |FROM (SELECT doc_id, text,
      |        list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), x -> x != '') AS w
      |      FROM documents) t""".stripMargin

  /** Language-ID by stopword heuristic (the n-gram-profile shape of a real
    * lang-ID, reduced to deterministic marker words), reported as a
    * confusion matrix against the labeled `lang` column. */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val t = concat(lit(" "), col("text"), lit(" "))
    val predicted = when(t.contains(" the "), "en")
      .when(t.contains(" der ") || t.contains(" und "), "de")
      .when(t.contains(" el ") || t.contains(" los "), "es")
      .when(t.contains(" le ") || t.contains(" les "), "fr")
      .otherwise("und")
    Tables.documents(s, dir)
      .select(col("lang"), predicted.as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  private val langIdSql =
    """SELECT lang,
      |  CASE WHEN t LIKE '% the %' THEN 'en'
      |       WHEN t LIKE '% der %' OR t LIKE '% und %' THEN 'de'
      |       WHEN t LIKE '% el %' OR t LIKE '% los %' THEN 'es'
      |       WHEN t LIKE '% le %' OR t LIKE '% les %' THEN 'fr'
      |       ELSE 'und' END AS predicted,
      |  COUNT(*) AS n
      |FROM (SELECT lang, ' ' || text || ' ' AS t FROM documents) d
      |GROUP BY 1, 2""".stripMargin

  /** BPE-ish tokenization: alpha runs, digit runs, and single non-alnum
    * marks, counted per document (regex identical under Java regex and
    * RE2). */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("n_bpe"),
        size(ws).cast("long").as("n_ws"))

  private val tokenCountSql =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe,
      |  CAST(len(list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), w -> w != '')) AS BIGINT) AS n_ws
      |FROM documents""".stripMargin

  /** Order-sensitive document fingerprint: polynomial rolling hash over the
    * word-hash sequence, `fp = fold(0, (acc, h) -> (acc*31 + h) mod p)`.
    * Runs entirely inside the scan projection (array fold, no shuffle). */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        aggregate(transform(ws, w => hashMod(w)), lit(0L),
          (acc, h) => (acc * 31 + h) % P).as("fp"))

  private val fingerprintSql =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), w -> w != ''),
      |        w -> CAST('0x' || substring(md5(w),1,15) AS BIGINT) % 1000000007)),
      |    (acc, h) -> (acc*31 + h) % 1000000007) AS fp
      |FROM documents""".stripMargin

  /** TF-IDF top terms: term frequency per (doc, word) joined with
    * document frequency, scored with a rational idf (N·1e6 DIV df —
    * integer-exact; `ln` is not correctly-rounded-portable across
    * engines), top-3 terms per doc. The df table is vocabulary-sized, so
    * it gets NO broadcast hint (billions of terms at 100 TB would OOM a
    * pinned broadcast — AQE broadcasts it only when stats say it fits);
    * the corpus size joins in as a 1-row aggregate instead of a
    * driver-side count(), keeping the whole query one lazy plan. */
  def tfidfTop(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val n6 = d.agg((count(lit(1)) * 1000000L).as("n6"))
    // lazily cached: tf feeds both the df aggregation and the scoring
    // join — uncached, the tokenize/explode/agg subtree runs twice
    val tf = d.select(col("doc_id"), explode(ws).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .trackedPersist()
    val df = tf.groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("word"))
    tf.join(df, "word")
      .crossJoin(n6)
      .select(col("doc_id"), col("word"),
        (col("tf") * expr("n6 DIV df")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("word"), col("score"))
  }

  private val tfidfTopSql =
    """WITH tf AS (
      |  SELECT doc_id, word, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), w -> w != '')) AS word
      |    FROM documents) t
      |  GROUP BY doc_id, word),
      |dfreq AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY word),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, word, tf * ((n.n * 1000000) // df) AS score
      |  FROM tf JOIN dfreq USING (word) CROSS JOIN n)
      |SELECT doc_id, CAST(rank AS BIGINT) AS rank, word, score FROM (
      |  SELECT doc_id, word, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rank
      |  FROM scored) t WHERE rank <= 3""".stripMargin

  // ------------------------------------------------ composed clean pipeline

  /** The end-to-end corpus-cleaning workflow a training-data pipeline
    * runs, composed from the stages above: quality gate (token count and
    * stopword ratio) → near-dup removal (drop the higher doc_id of every
    * Jaccard-0.8 pair — keep-first) → fingerprint the survivors. Output
    * is the per-(lang, source) survivor census with a corpus checksum.
    * Plan shape: one scan feeds the gate; the pair join is block-local;
    * the anti-join removes losers; one final aggregation. */
  def pipelineClean(s: SparkSession, dir: String): DataFrame = {
    val quality = Tables.documents(s, dir)
      .withColumn("w", ws)
      .filter(size(col("w")) >= 10 &&
        size(filter(col("w"), w => w.isInCollection(Seq("the", "a", "of"))))
          .cast("double") / size(col("w")).cast("double") < 0.5)
    val losers = jaccardNeardup(s, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    quality.join(losers, Seq("doc_id"), "left_anti")
      .select(col("lang"), col("source"), col("doc_id"),
        aggregate(transform(col("w"), w => hashMod(w)), lit(0L),
          (acc, h) => (acc * 31 + h) % P).as("fp"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("fp")).as("fp_checksum"),
        min(col("doc_id")).as("first_doc"))
  }

  private val pipelineCleanSql =
    s"""WITH $lshCandSql,
      |q AS (
      |  SELECT * FROM d
      |  WHERE len(w) >= 10
      |    AND CAST(len(list_filter(w, x -> x IN ('the','a','of'))) AS DOUBLE)
      |        / CAST(len(w) AS DOUBLE) < 0.5),
      |losers AS (
      |  SELECT DISTINCT doc_b AS doc_id FROM (
      |  $jaccardVerifySql) v
      |  WHERE CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE) >= 0.8),
      |kept AS (
      |  SELECT q.lang, q.source, q.doc_id,
      |    list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(q.w, x -> CAST('0x' || substring(md5(x),1,15) AS BIGINT) % 1000000007)),
      |      (acc, h) -> (acc*31 + h) % 1000000007) AS fp
      |  FROM q ANTI JOIN losers ON q.doc_id = losers.doc_id)
      |SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(fp) AS BIGINT) AS fp_checksum,
      |  MIN(doc_id) AS first_doc
      |FROM kept GROUP BY lang, source""".stripMargin

  // ------------------------------------------------- near-dup clustering

  /** Connected components over the strong near-dup graph (candidate pairs
    * agreeing on ≥ 6 of 8 MinHash signatures): 5 rounds of hash-min label
    * propagation give every document the minimum doc_id reachable within
    * 5 hops. Near-dup clusters are dense quasi-cliques (diameter 1–2), so
    * 5 rounds is convergence with margin — and a FIXED round count keeps
    * the result deterministic and oracle-mirrorable (the DuckDB side
    * unrolls the same 5 steps). Each round is one equi-join + one min
    * aggregation over label rows — work ∝ edges, never edges² — the same
    * iterative layout as q_pagerank. For graphs with unbounded diameter
    * production swaps in the large-star/small-star alternation (Kiveris
    * et al., "Connected Components in MapReduce and Beyond" — O(log n)
    * rounds of the identical per-round shape). Output is the cluster
    * census, singletons included: the canonicalization step a dedup
    * pipeline runs to pick one representative per duplicate group. */
  def dupClusters(s: SparkSession, dir: String): DataFrame =
    dupClusterCensus(s, dir, hashMinComponents(_, _, iters = 5))

  /** The cluster census shared by both component loops: strong
    * near-dup pairs (agreement ≥ 6 of 8) → `components(nodes, pairs)`'s
    * (doc_id, lbl) labels → (cluster_rep, n_docs, id_sum) per label,
    * singletons included. */
  private def dupClusterCensus(s: SparkSession, dir: String,
      components: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val pairs = dedupMinhash(s, dir)
      .filter(col("n_match") >= 6)
      .select(col("doc_a"), col("doc_b"))
    val nodes = Tables.documents(s, dir).select(col("doc_id"))
    components(nodes, pairs)
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .select(col("lbl").as("cluster_rep"), col("n_docs"), col("id_sum"))
  }

  /** Hash-min label propagation: after `iters` rounds each node's `lbl`
    * is the minimum doc_id within `iters` hops (= its component id once
    * iters ≥ diameter). `nodes` is one `doc_id` per row; `pairs` holds
    * undirected edges (symmetrized here). Spec surface for
    * [[dupClusters]]. */
  private[graft] def hashMinComponents(
      nodes: DataFrame, pairs: DataFrame, iters: Int): DataFrame = {
    val edges = dupEdges(pairs)
    // loop at the edges' own layout width so per-round joins reuse the
    // cached hash partitioning instead of re-exchanging the edge list
    Fixpoint(nodes.sparkSession, edges.rdd.getNumPartitions, edges) { loop =>
      // Only nodes incident to an edge can ever change label, so the
      // loop iterates over V(E) — the edge endpoints — and the (usually
      // vast) singleton majority is attached AFTER the loop with one
      // label-side-broadcast join. In a near-dup graph V(E) is the set
      // of documents with at least one duplicate — orders of magnitude
      // below the corpus — so per-round state shrinks from corpus-sized
      // to duplicate-graph-sized. (Callers pass nodes ⊇ V(E); edges
      // naming ids outside `nodes` would now propagate their labels,
      // where before they were ignored.)
      //
      // labels is referenced TWICE per round (neighbor-min build + the
      // carry-forward join), so a lazily-chained loop would duplicate the
      // whole upstream subtree each round — 2^iters plan growth (measured:
      // 5 lazy rounds benched 15 s vs 2 s checkpointed). Materialize each
      // round; the per-round job is join + agg over label rows only.
      val loopEdges = loop(edges)
      val labels = loop.rounds(loop.checkpoint(vertexLabels(loopEdges)), iters) {
        (labels, _) =>
          // A union-form carry (labels ∪ contrib → one MIN agg, saving
          // the second join) was A/B'd in r17 and LOST (1.81 → 2.10 s
          // same-window at sf0.1) — the join form stays.
          labels.join(neighborMin(loopEdges, labels),
              col("doc_id") === col("dst"), "left")
            .select(col("doc_id"),
              least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      }.last
      withSingletons(nodes, labels)
    }
  }

  /** Every endpoint of the symmetrized `edges` as its own label. */
  private def vertexLabels(edges: DataFrame): DataFrame =
    edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("lbl"))

  /** Per node `dst`, the minimum label `nlbl` among its neighbors —
    * shuffle-hash-joined on the small label side (same reasoning as the
    * PageRank iteration: SMJ would re-sort the cached edges every
    * round). */
  private def neighborMin(edges: DataFrame, labels: DataFrame): DataFrame =
    edges.join(labels.hint("shuffle_hash"), col("src") === col("doc_id"))
      .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))

  /** A label for every node of `nodes`: the loop's labels cover V(E),
    * every other node labels itself. */
  private def withSingletons(nodes: DataFrame, labels: DataFrame): DataFrame =
    nodes.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("lbl"))

  /** Symmetrized dup-graph edge list, hash-partitioned on src at a
    * SIZE-ADAPTIVE loop width and MATERIALIZED before the loop starts:
    * the corpus-proportional upstream (MinHash bands, signature pair agg)
    * must plan at the session width — only the derived edge list and the
    * label rounds are narrow. Symmetrization is ONE explode
    * pass: a union of two projections would evaluate that upstream twice
    * (DataFrames share no common subplans). The width derives from the
    * edge COUNT the materialization already pays
    * ([[LoopWidth.forRows]], session-width-clamped at scale —
    * replaces the fixed 8): the raw list is cached once at its upstream
    * layout, counted, and the narrow re-hash then reads that cache, so
    * the extra step costs one metadata-sized job, not a recompute.
    * The loop unpersists it (the raw cache is dropped here). */
  private def dupEdges(pairs: DataFrame): DataFrame = {
    val raw = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    val n = raw.count() // materialize now, at session width
    val w = LoopWidth.forRows(raw, n)
    val edges = raw.repartition(w, col("src")).persist()
    edges.count() // re-layout narrow off the raw cache
    raw.unpersist(blocking = false)
    edges
  }

  /** Connected components by LARGE-STAR / SMALL-STAR rewriting (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC '14),
    * iterated to a fixpoint — the converging components loop, behind
    * q_dup_clusters_conv, q_dup_clusters_star, q_split_leakfree and
    * `Corpus.connectedComponents`. Instead of propagating labels over a
    * FIXED edge list (hash-min), each round REWRITES the edge list
    * itself toward a forest of stars centered at the component minima.
    * Large-star re-hangs every neighbor LARGER than u onto
    * m(u) = min(Γ(u) ∪ {u}); small-star re-hangs the smaller neighbors
    * (and u itself) onto m(u). Both ops preserve connectivity and never
    * grow the edge count, and the pair converges in O(log² n) rounds.
    * Loop state is the CURRENT edge list, which SHRINKS as stars form —
    * no node-sized table rides through the rounds. Per round each op is
    * one window minimum, edge-proportional, at the dup-graph loop
    * width. A budget of `maxIters` rounds that ends short of the
    * fixpoint throws. */
  private[graft] def starComponents(
      nodes: DataFrame, pairs: DataFrame, maxIters: Int = 30): DataFrame = {
    val edges = dupEdges(pairs)
    Fixpoint(nodes.sparkSession, edges.rdd.getNumPartitions, edges) { loop =>
      // the label universe is V(E) of the INPUT graph (star rounds rewrite
      // the edge list, so the final list names only star endpoints);
      // `edges` arrives symmetrized, so src alone covers every endpoint
      val vset = loop.checkpoint(loop(edges).select(col("src").as("doc_id")).distinct())
      // canonical undirected pairs (a < b); input has no self-loops
      val e0 = loop.checkpoint(loop(edges).filter(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b"))
        .distinct())
      // fixpoint probe, collected by the round's checkpoint action. A
      // (count, checksum) collision could only stop EARLY on a
      // non-fixpoint — the census oracle (exact transitive closure)
      // would catch that; rounds only rewrite monotonically toward
      // stars, they never oscillate. BOTH ids are pmod-reduced BEFORE the
      // multiply-add (a·1000003 alone overflows Long above ~9.2e12 ids),
      // so every term is < 1e15+1e9 and the SUM stays inside Long at any
      // id magnitude (the 100× skew drive overflowed the unbounded
      // a*1000003+b sum under ANSI at 2.1e9 doc_ids); ≡ (a*1000003+b)
      // mod M by modular arithmetic
      val M = lit(1000000007L)
      val e = loop.converge(e0, maxIters, count(lit(1)).as("n"),
          coalesce(sum(pmod(pmod(col("a"), M) * 1000003L + pmod(col("b"), M),
            M)), lit(0L)).as("sig")) { e =>
        // One FUSED action per round (was three: e1 checkpoint, e2
        // checkpoint, probe agg — at derived loop widths the round cost
        // is per-stage fixed overhead, so action and exchange count IS
        // the runtime; r17 A/B at sf0.1: 2.23 s → ~1.1 s for the
        // headline). Both star ops become whole-partition window minima
        // — one exchange each instead of groupBy-agg + re-hang join —
        // and large-star's output feeds small-star LAZILY: in window form
        // it is referenced exactly once, so nothing re-executes without
        // the intermediate checkpoint. Its `distinct` is dropped too:
        // sym.filter(v > u) emits exactly one row per canonical edge
        // (rows never duplicate, only their (m, v) VALUES can — min is
        // duplicate-insensitive and e2's distinct collapses the values),
        // so the round's edge SETS are exactly the classic alternation's
        // (validated round-by-round against the 3-action form at sf0.1:
        // identical per-round counts and signatures, identical census).
        //
        // LARGE-STAR over symmetric neighborhoods: v > u re-hangs onto
        // m(u) = min(Γ(u) ∪ {u}); m(u) ≤ u < v keeps the output
        // canonical and loop-free.
        val sym = e.select(explode(array(
            struct(col("a").as("u"), col("b").as("v")),
            struct(col("b").as("u"), col("a").as("v")))).as("x"))
          .select(col("x.u").as("u"), col("x.v").as("v"))
        val wU = Window.partitionBy(col("u"))
        val e1 = sym
          .withColumn("m", least(min(col("v")).over(wU), col("u")))
          .filter(col("v") > col("u"))
          .select(col("m").as("a"), col("v").as("b"))
        // SMALL-STAR over canonical pairs, grouped at the LARGER
        // endpoint: its strictly-smaller neighbors (and itself) re-hang
        // onto the minimum one; m < every emitted partner, canonical
        // again. Exactly one row per b-partition has a == m (m is that
        // partition's min), so the per-b center edge (m, b) is emitted
        // from that row and the others emit their (m, a) re-hang — one
        // pair per row, no explode.
        val wB = Window.partitionBy(col("b"))
        e1.withColumn("m", min(col("a")).over(wB))
          .select(when(col("a") === col("m"),
              struct(col("m").as("a"), col("b").as("b")))
            .otherwise(struct(col("m").as("a"), col("a").as("b"))).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .distinct()
      }
      // at the fixpoint every canonical edge is (center, member): a
      // member's label is its (unique) center, a center labels itself
      // (the read-off is only valid AT the fixpoint, which converge()
      // guarantees by failing on an exhausted budget)
      val memberLbl = e.groupBy(col("b")).agg(min(col("a")).as("lbl"))
        .select(col("b").as("doc_id"), col("lbl"))
      withSingletons(nodes, vset.join(memberLbl, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("lbl")))
    }
  }

  /** [[dupClusters]] computed by star rewriting to the fixpoint. Its
    * oracle is NOT the 5-round unrolling (that would silently disagree
    * on any component whose node sits > 5 hash-min hops from its
    * minimum — exactly the case a converging loop exists for) but the
    * exact-at-any-diameter transitive closure. Registered twice:
    * q_dup_clusters_star (the headline) and q_dup_clusters_conv. */
  def dupClustersStar(s: SparkSession, dir: String): DataFrame =
    dupClusterCensus(s, dir, starComponents(_, _))

  /** The 5-round hash-min label CTE chain shared by the cluster oracles
    * (l0 = every doc its own label, l5 = the settled labels).
    * AS MATERIALIZED is load-bearing: each step references l(i-1) twice
    * and DuckDB inlines CTEs per reference, so the unmaterialized chain
    * re-evaluates the whole pair pipeline 2^5 times — the q_hits lesson
    * (BENCH_LOCAL r10), re-found by the r12 100× drive where it turned
    * a seconds-long oracle into a >15-minute one. */
  private def labelStepsSql: String = (1 to 5).map { i =>
    s"""l$i AS MATERIALIZED (
      |  SELECT n.doc_id, LEAST(n.lbl, COALESCE(MIN(x.lbl), n.lbl)) AS lbl
      |  FROM l${i - 1} n
      |  LEFT JOIN e ON e.dst = n.doc_id
      |  LEFT JOIN l${i - 1} x ON x.doc_id = e.src
      |  GROUP BY n.doc_id, n.lbl)""".stripMargin
  }.mkString(",\n")

  private val dupClustersSql =
    s"""WITH mh AS MATERIALIZED ($dedupMinhashSql),
      |p AS MATERIALIZED (SELECT doc_a, doc_b FROM mh WHERE n_match >= 6),
      |e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM p
      |      UNION ALL SELECT doc_b, doc_a FROM p),
      |l0 AS (SELECT doc_id, doc_id AS lbl FROM documents),
      |$labelStepsSql
      |SELECT lbl AS cluster_rep, COUNT(*) AS n_docs,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |FROM l5 GROUP BY lbl""".stripMargin

  /** Row-level keep-best decisions over a canonical (doc_id, text)
    * frame: (doc_id, cluster, is_kept, logit) — shared by the
    * oracle-checked census query and `Corpus.dedupKeepBest` (a library
    * user wants the kept SET, not just the census). */
  private[graft] def keepBestRows(docs: DataFrame, cap: Int,
      minAgreement: Int): DataFrame = {
    val pairs = dedupMinhashDocs(docs, cap)
      .filter(col("n_match") >= minAgreement)
      .select(col("doc_a"), col("doc_b"))
    val lbls = hashMinComponents(docs.select(col("doc_id")), pairs, iters = 5)
    val scored = docs.select(col("doc_id"), Qdsl.hashedLogit(ws).as("logit"))
    val w = Window.partitionBy(col("lbl"))
      .orderBy(col("logit").desc, col("doc_id"))
    lbls.join(scored, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("lbl").as("cluster"),
        (col("rn") === 1).as("is_kept"), col("logit"))
  }

  /** Keep-BEST near-dup canonicalization: the same dup clusters as
    * q_dup_clusters (guarded MinHash pairs at agreement ≥ 6, hash-min
    * labels), but each cluster's survivor is chosen by QUALITY — the
    * hashed-feature classifier logit, ties by lowest doc_id — instead
    * of lowest id. C4 keeps first; modern pipelines keep the best copy
    * (a boilerplate dup often has a cleaner sibling). The census also
    * counts survivors that DIFFER from the keep-first choice — the
    * measurable value of the policy. Scale shape: one extra exchange
    * over q_dup_clusters (the per-cluster argmax window on the label
    * key); the logit is the scan-local classifier aggregate. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame =
    keepBestRows(Tables.documents(s, dir), LshBucketCap, minAgreement = 6)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("is_kept"), col("doc_id")).otherwise(0L))
          .as("kept_id_sum"),
        sum(when(col("is_kept") && col("doc_id") =!= col("cluster"), 1L)
          .otherwise(0L)).as("n_keep_not_first"))

  private val dedupKeepBestSql =
    s"""WITH mh AS MATERIALIZED ($dedupMinhashSql),
      |p AS MATERIALIZED (SELECT doc_a, doc_b FROM mh WHERE n_match >= 6),
      |e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM p
      |      UNION ALL SELECT doc_b, doc_a FROM p),
      |l0 AS (SELECT doc_id, doc_id AS lbl FROM documents),
      |$labelStepsSql,
      |d AS MATERIALIZED (
      |  SELECT doc_id, lang, $wordsSqlDoc AS w FROM documents),
      |lg AS (
      |  SELECT d.doc_id, d.lang, COALESCE(s.logit, 0) AS logit
      |  FROM d LEFT JOIN (
      |    SELECT doc_id,
      |      SUM(CAST('0x' || substring(md5(t.t),1,15) AS BIGINT) % 2001 - 1000)
      |        AS logit
      |    FROM d, unnest(w) AS t(t) GROUP BY doc_id) s
      |  ON d.doc_id = s.doc_id),
      |r AS (
      |  SELECT l5.doc_id, l5.lbl, lg.lang,
      |    row_number() OVER (PARTITION BY l5.lbl
      |                       ORDER BY lg.logit DESC, l5.doc_id) AS rn
      |  FROM l5 JOIN lg ON lg.doc_id = l5.doc_id)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN rn = 1 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum,
      |  CAST(SUM(CASE WHEN rn = 1 AND doc_id <> lbl THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_not_first
      |FROM r GROUP BY lang""".stripMargin

  /** Exact-at-any-diameter census oracle for [[dupClustersStar]]:
    * recursive transitive closure (UNION-dedup guarantees termination;
    * row count is Σ component², bounded at oracle scale), then min
    * reachable id per node — the true fixpoint the converging variant
    * must reach regardless of diameter. */
  private val dupClustersConvSql =
    s"""WITH RECURSIVE mh AS MATERIALIZED ($dedupMinhashSql),
      |p AS MATERIALIZED (SELECT doc_a, doc_b FROM mh WHERE n_match >= 6),
      |e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM p
      |      UNION ALL SELECT doc_b, doc_a FROM p),
      |reach(doc_id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT reach.doc_id, e.dst FROM reach JOIN e ON e.src = reach.r),
      |lbl AS (SELECT doc_id, MIN(r) AS lbl FROM reach GROUP BY doc_id)
      |SELECT lbl AS cluster_rep, COUNT(*) AS n_docs,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |FROM lbl GROUP BY lbl""".stripMargin

  // ------------------------------------------------- stratified sampling

  /** Deterministic stratified sampling / domain mixing: each language
    * stratum gets a per-mille keep-rate derived from its name hash (a
    * stand-in for the mixture weights a training run specifies), and a
    * document is kept iff its id-hash falls under the stratum's rate.
    * Pure map-side predicate — no shuffle until the census, no RNG
    * stream: the sample is a function of the data alone, so a 100 TB
    * rerun (or a different engine) reproduces the exact same sample —
    * the property curriculum mixing and ablation reruns need. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        (hashMod(col("lang")) % 700 + 100).as("rate"),
        (hashMod(col("doc_id")) % 1000).as("u"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("u") < col("rate"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("u") < col("rate"), col("doc_id"))).as("kept_id_sum"),
        min(col("rate")).as("rate_pm"))

  private val sampleStratifiedSql =
    """WITH d AS (
      |  SELECT lang, doc_id,
      |    CAST('0x' || substring(md5(lang),1,15) AS BIGINT) % 1000000007 % 700 + 100 AS rate,
      |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 1000000007 % 1000 AS u
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN u < rate THEN doc_id END) AS BIGINT) AS kept_id_sum,
      |  MIN(rate) AS rate_pm
      |FROM d GROUP BY lang""".stripMargin

  // --------------------------------------------------- URL canonical dedup

  /** URL canonicalization dedup — the single biggest dedup lever on web
    * crawls (the same page arrives under scheme-case, trailing-slash,
    * tracking-param and fragment variants). Noisy URLs are rendered
    * deterministically (the q_link_extract trick: scheme case by
    * doc_id%2, host case by %3, five path buckets per source so variants
    * of the same page genuinely exist, trailing slash, utm query,
    * fragment), then CANONICALIZED by parsing scheme/host/path
    * back out with regexp_extract, lowercasing scheme+host, and
    * stripping query+fragment+trailing slash — all codegen'd string ops
    * inside the scan. Census per source: pages, canonical URLs, and the
    * duplicate count the canonicalization recovered.
    *
    * Scale shape: canonicalization is scan-local; the dedup aggregation
    * shuffles (source, canonical) group rows — at 100 TB group on
    * hash60(canonical) so URLs never travel (same note as chunk dedup). */
  def urlDedup(s: SparkSession, dir: String): DataFrame = {
    val rendered = concat(
      when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
      when(col("doc_id") % 3 === 0, upper(col("source"))).otherwise(col("source")),
      lit(".example.com/a/"), hashMod(col("doc_id")) % 5,
      when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("?utm_source=feed")).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit("#section")).otherwise(lit("")))
    val canonical =
      concat(lower(regexp_extract(col("url"), "^([a-zA-Z]+)://", 1)), lit("://"),
        lower(regexp_extract(col("url"), "^[a-zA-Z]+://([^/?#]+)", 1)),
        regexp_replace(
          regexp_extract(col("url"), "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1),
          "/$", ""))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), rendered.as("url"))
      .select(col("source"), canonical.as("curl"))
      .groupBy(col("source"), col("curl"))
      .agg(count(lit(1)).as("grp"))
      .groupBy(col("source"))
      .agg(sum(col("grp")).as("n_pages"),
        count(lit(1)).as("n_canonical"),
        (sum(col("grp")) - count(lit(1))).as("n_dups"),
        max(col("grp")).as("max_group"),
        sum(hashMod(col("curl"))).as("url_checksum"))
  }

  private val urlDedupSql =
    """WITH u AS (
      |  SELECT doc_id, source,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
      |    (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END) ||
      |    '.example.com/a/' || CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 1000000007 % 5 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed' ELSE '' END) ||
      |    (CASE WHEN doc_id % 11 = 0 THEN '#section' ELSE '' END) AS url
      |  FROM documents),
      |c AS (
      |  SELECT source,
      |    lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) || '://' ||
      |    lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)) ||
      |    regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/$', '') AS curl
      |  FROM u),
      |g AS (SELECT source, curl, COUNT(*) AS grp FROM c GROUP BY 1, 2)
      |SELECT source, CAST(SUM(grp) AS BIGINT) AS n_pages,
      |  COUNT(*) AS n_canonical,
      |  CAST(SUM(grp) - COUNT(*) AS BIGINT) AS n_dups,
      |  CAST(MAX(grp) AS BIGINT) AS max_group,
      |  CAST(SUM(CAST('0x' || substring(md5(curl),1,15) AS BIGINT) % 1000000007) AS BIGINT) AS url_checksum
      |FROM g GROUP BY source""".stripMargin

  // ------------------------------------------------- weighted sampling

  /** Quality-weighted Bernoulli sampling: each document survives with
    * probability proportional to its own weight (here length-derived,
    * capped at 1000‰ — a real pipeline plugs in its quality score), via
    * the same derandomized hash-threshold trick as [[sampleStratified]]:
    * keep iff `hash(doc_id) mod 1000 < weight`. Upsampling high-quality
    * sources and downsampling boilerplate is how production mixtures
    * (e.g. the C4/Pile/Dolma recipes) shape training data; deterministic
    * hashing makes the drawn sample reproducible across reruns, engines
    * and cluster sizes.
    *
    * Scale shape: the draw is a scan-local comparison of two codegen'd
    * columns — zero shuffles before the per-language census aggregation;
    * the census carries the realized-vs-expected mass (`n_kept` vs
    * `sum_weight_pm`/1000) so sampler bias is audit-visible. */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        least(col("n_chars"), lit(1000L)).as("wt"),
        (hashMod(col("doc_id")) % 1000).as("u"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("wt")).as("sum_weight_pm"),
        sum(when(col("u") < col("wt"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("u") < col("wt"), col("n_chars"))).as("kept_chars"),
        sum(when(col("u") < col("wt"), col("doc_id"))).as("kept_id_sum"))

  private val sampleWeightedSql =
    """WITH d AS (
      |  SELECT lang, doc_id, n_chars,
      |    LEAST(n_chars, 1000) AS wt,
      |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT)
      |      % 1000000007 % 1000 AS u
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_total,
      |  CAST(SUM(wt) AS BIGINT) AS sum_weight_pm,
      |  CAST(SUM(CASE WHEN u < wt THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN u < wt THEN n_chars END) AS BIGINT) AS kept_chars,
      |  CAST(SUM(CASE WHEN u < wt THEN doc_id END) AS BIGINT) AS kept_id_sum
      |FROM d GROUP BY lang""".stripMargin

  // ----------------------------------------------------------- redaction

  /** PII-style redaction: emails and digit runs scrubbed with codegen'd
    * regexp_replace, censused per source. The synthetic corpus ships with
    * neither, so both are rendered on deterministically first (same trick
    * as q_link_extract's markup render). Map-only — scales like any scan
    * projection; the patterns live in the Java-regex ∩ RE2 common subset
    * so both engines match byte-for-byte. */
  def redact(s: SparkSession, dir: String): DataFrame = {
    val emailPat = "[a-z0-9_]+@[a-z][a-z.]*[a-z]"
    val rendered = concat(col("text"), lit(" contact user_"), col("doc_id"),
      lit("@mail.example.org ref "), (col("n_chars") * 37).cast("string"))
    Tables.documents(s, dir)
      .select(col("source"), rendered.as("t"))
      .withColumn("ne", size(expr(s"regexp_extract_all(t, '$emailPat', 0)")).cast("long"))
      .withColumn("t1", regexp_replace(col("t"), emailPat, "<EMAIL>"))
      .withColumn("nn", size(expr("regexp_extract_all(t1, '[0-9]+', 0)")).cast("long"))
      .withColumn("clean", regexp_replace(col("t1"), "[0-9]+", "<NUM>"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ne")).as("n_emails"),
        sum(col("nn")).as("n_nums"),
        sum(hashMod(col("clean"))).as("clean_checksum"))
  }

  private val redactSql =
    """WITH r AS (
      |  SELECT source,
      |    text || ' contact user_' || CAST(doc_id AS VARCHAR)
      |      || '@mail.example.org ref ' || CAST(n_chars*37 AS VARCHAR) AS t
      |  FROM documents),
      |e AS (
      |  SELECT source,
      |    len(regexp_extract_all(t, '[a-z0-9_]+@[a-z][a-z.]*[a-z]')) AS ne,
      |    regexp_replace(t, '[a-z0-9_]+@[a-z][a-z.]*[a-z]', '<EMAIL>', 'g') AS t1
      |  FROM r),
      |n AS (
      |  SELECT source, ne,
      |    len(regexp_extract_all(t1, '[0-9]+')) AS nn,
      |    regexp_replace(t1, '[0-9]+', '<NUM>', 'g') AS clean
      |  FROM e)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(ne) AS BIGINT) AS n_emails,
      |  CAST(SUM(nn) AS BIGINT) AS n_nums,
      |  CAST(SUM(CAST('0x' || substring(md5(clean),1,15) AS BIGINT) % 1000000007) AS BIGINT) AS clean_checksum
      |FROM n GROUP BY source""".stripMargin

  // ------------------------------------------------- chunk-level dedup

  /** Substring-level exact dedup: every document is cut into consecutive
    * 10-token chunks and the chunks are deduplicated GLOBALLY (across
    * documents) — the operation LLM pipelines run to strip repeated
    * boilerplate that document-level dedup cannot see. Output is the
    * duplication census: for each occurrence count, how many distinct
    * chunks occur that often, plus deterministic checksums of the chunk
    * set and of each chunk's first occurrence (min doc_id·1024+offset —
    * the keep-first rule).
    *
    * Scale shape: chunking is a scan-local explode (rows × ~n_tokens/10),
    * then two hash aggregations whose shuffled bytes are ∝ DISTINCT
    * chunks resp. distinct counts — never a self-join. At 100 TB the
    * chunk text itself should not travel: group on hash60(chunk) (64-bit
    * collision risk only), exactly what the checksum column already
    * demonstrates. */
  def chunkDedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"),
        // (size-1) DIV 10, integral — Column `/` would be double division
        posexplode(oracleCapped(
          transform(sequence(lit(0), expr("(size(ws) - 1) DIV 10")),
            i => array_join(slice(col("ws"), i * 10 + 1, lit(10)), " ")),
          1024, "chunk-dedup chunks")))
      .select(col("doc_id"), col("pos"), col("col").as("chunk"))
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("cnt"),
        min(col("doc_id") * 1024 + col("pos")).as("first_occ"))
      .groupBy(col("cnt"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(hashMod(col("chunk"))).as("chunk_checksum"),
        sum(col("first_occ")).as("first_occ_sum"))

  private val chunkDedupSql =
    s"""WITH w AS (
      |  SELECT doc_id, $wordsSqlDoc AS ws FROM documents),
      |c AS (
      |  SELECT doc_id, j.j AS pos,
      |    array_to_string(ws[j.j*10+1 : j.j*10+10], ' ') AS chunk
      |  FROM w CROSS JOIN range(1024) j(j)
      |  WHERE j.j <= (len(ws) - 1) // 10),
      |g AS (
      |  SELECT chunk, COUNT(*) AS cnt, MIN(doc_id*1024 + pos) AS first_occ
      |  FROM c GROUP BY chunk)
      |SELECT cnt, COUNT(*) AS n_chunks,
      |  CAST(SUM(CAST('0x' || substring(md5(chunk),1,15) AS BIGINT) % 1000000007) AS BIGINT) AS chunk_checksum,
      |  CAST(SUM(first_occ) AS BIGINT) AS first_occ_sum
      |FROM g GROUP BY cnt""".stripMargin

  // -------------------------------------------- exact substring spans

  /** Window length for exact substring-span dedup: 16 whitespace tokens,
    * the order of the ~50-BPE-token threshold the published algorithm
    * uses. */
  private val SpanL = 16

  /** Exact substring-level deduplication (the ExactSubstr pass of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): every [[SpanL]]-token window at stride 1 whose
    * content recurs ANYWHERE in the corpus — cross- or intra-document —
    * marks its [i, i+L) token span as duplicated, and a document's
    * duplicated mass is the interval UNION of its marked spans (the
    * measure the paper trims). This is span-level redundancy the rest of
    * the dedup family cannot see: exact/MinHash/SimHash judge whole
    * documents, chunk dedup judges disjoint stride-10 blocks, SemDeDup
    * judges embeddings; a 30-token boilerplate run straddling chunk
    * boundaries only shows up here.
    *
    * Plan shape, 100 TB posture: windows carry an 8-byte content hash
    * ([[Qdsl.hash60]] of the window string), never the window text, so
    * the corpus-sized exchange moves (doc_id, pos, key) triples only.
    * Recurrence detection is a count-over-key WINDOW on that one
    * exchange — no aggregate + self-join back. The span union is a
    * lag() interval sweep on a doc-partitioned second exchange:
    * identical-length intervals union as sum(min(L, start-gap)) with no
    * interval stack. Stride-1 windows cost O(corpus·L) hash bytes, the
    * same corpus-linear budget as the paper's suffix-array build, and
    * partial aggregation cannot help a mostly-unique key space — this IS
    * the honest price of exact span recall, pinned by fixed L. The
    * tokenized projection is built once and shared by the window explode
    * and the per-lang totals.
    *
    * Skew note: the count window serializes each wkey in one task, so a
    * window repeated ~corpus-scale times (pathological boilerplate) is a
    * straggler — trivial compute, spill-safe, but single-task. On such a
    * corpus run [[boilerplateTop]] FIRST (its count is a hash
    * aggregation, map-side-combined, skew-immune) and strip or cap the
    * offenders; the alternative plan (agg + join back) pays the same
    * exchange when the recurring-key table outgrows broadcast, which is
    * exactly when the straggler would bite. */
  def substringDedup(s: SparkSession, dir: String): DataFrame =
    substringDedupDocs(Tables.documentsWide(s, dir),
      spanDupStats(_, Seq("lang"), oracleCap = Some(4095)))

  /** [[substringDedup]] through the hot-window guard
    * ([[spanDupStatsGuarded]]) — value-identical output, straggler-bounded
    * plan; registered against the SAME oracle SQL so the driver itself
    * pins the equivalence every round. */
  def substringDedupGuarded(s: SparkSession, dir: String): DataFrame =
    substringDedupDocs(Tables.documentsWide(s, dir),
      spanDupStatsGuarded(_, Seq("lang"), oracleCap = Some(4095)))

  /** Per-document recurring-span stats over a tokenized projection `d`
    * with columns (doc_id, `carry`..., w, n): one row per document that
    * owns at least one recurring [[SpanL]]-token window, carrying
    * (doc_id, carry..., n_wins, dup_tok) where dup_tok is the interval
    * UNION of the marked spans. ONE definition shared by the
    * oracle-checked [[substringDedup]] census and the
    * `Corpus.substringSpans` facade so the two can never drift. */
  /** Stride-1 [[SpanL]]-token windows of a tokenized projection, each
    * carrying its 8-byte content hash — the shared front half of the
    * plain and guarded span-stats paths. `oracleCap` is Some(4095) from
    * the registered queries (DuckDB range(4096) mirror) and None from the
    * `Corpus` facades, which take arbitrary-length documents. */
  private[graft] def spanWindows(d: DataFrame, carry: Seq[String],
      oracleCap: Option[Int] = None): DataFrame = {
    val cs = carry.map(col)
    // sequence(1, n-L+1) only under n >= L: Spark's sequence DESCENDS
    // when start > stop, so an unguarded short doc would fabricate
    // windows instead of contributing none
    d.filter(col("n") >= SpanL)
      .select(col("doc_id") +: cs ++: Seq(col("w"),
        explode(oracleCapped(expr(s"sequence(1, size(w) - ${SpanL - 1})"),
          oracleCap, "substring-dedup windows")).as("i")): _*)
      .select(col("doc_id") +: cs ++: Seq(col("i"),
        hash60(concat_ws(" ", expr(s"slice(w, i, $SpanL)"))).as("wkey")): _*)
  }

  /** Equal-length interval union over recurring windows: sorted starts
    * i_1 < i_2 < … contribute min(L, i_k − i_{k−1}) each (first
    * contributes L); the groupBy reuses the lag window's doc_id
    * partitioning — no extra exchange (hash(doc_id) satisfies clustering
    * on (doc_id, carry…)). */
  private def spanUnion(dupWins: DataFrame, cs: Seq[Column]): DataFrame =
    dupWins
      .withColumn("gap", col("i") - lag(col("i"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("i"))))
      .groupBy(col("doc_id") +: cs: _*)
      .agg(count(lit(1)).as("n_wins"),
        sum(least(lit(SpanL.toLong), coalesce(col("gap"), lit(SpanL.toLong))))
          .as("dup_tok"))

  private[graft] def spanDupStats(d: DataFrame, carry: Seq[String],
      oracleCap: Option[Int] = None): DataFrame =
    spanUnion(
      spanWindows(d, carry, oracleCap)
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("wkey"))))
        .filter(col("cnt") >= 2)
        .drop("cnt"),
      carry.map(col))

  /** Hot-window population above which a key is diverted off the count
    * window onto the aggregate path — sized like [[LshBucketCap]]: far
    * above anything a benign corpus produces per key, low enough that a
    * boilerplate storm cannot serialize a task. */
  private[graft] val SpanHotCap = 256L

  /** [[spanDupStats]] with the hot-window straggler guard the plain
    * form's scaladoc prescribes as a manual posture ("run boilerplateTop
    * first"), automated: window keys with more than `cap` occurrences —
    * counted by a hash AGGREGATION, map-side-combined and skew-immune —
    * take the aggregate path (their recurrence is already proven by
    * kcnt > cap ≥ 2, no per-row count window needed), and only the
    * remaining keys, each now ≤ cap rows, go through the count window.
    * Unlike [[LshBucketCap]]'s drop, the diversion LOSES NOTHING: hot
    * windows still mark their spans, so the result is value-identical to
    * the unguarded form (q_substring_dedup_guarded pins that equivalence
    * against the SAME oracle SQL), while the worst per-key window task is
    * bounded by `cap` instead of corpus-scale. [[spanHotCensus]] reports
    * the diversion loudly. */
  private[graft] def spanDupStatsGuarded(d: DataFrame, carry: Seq[String],
      cap: Long = SpanHotCap, oracleCap: Option[Int] = None): DataFrame = {
    val cs = carry.map(col)
    // referenced three times (key census + both paths)
    val wins = spanWindows(d, carry, oracleCap).trackedPersist()
    val (cold, hot) = HotKeys.divert(wins,
      HotKeys.census(wins, Seq("wkey"), cap), Seq("wkey"))
    spanUnion(cold
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("wkey"))))
      .filter(col("cnt") >= 2)
      .drop("cnt")
      .unionByName(hot), cs)
  }

  /** The diversion census for [[spanDupStatsGuarded]]: how many window
    * keys and rows exceeded `cap` (took the aggregate path) and the
    * hottest key's population — the loud accounting that makes the guard
    * observable rather than silent. */
  private[graft] def spanHotCensus(d: DataFrame, carry: Seq[String],
      cap: Long = SpanHotCap): DataFrame =
    spanWindows(d, carry).groupBy(col("wkey")).agg(count(lit(1)).as("kcnt"))
      .agg(sum(when(col("kcnt") > cap, 1L).otherwise(0L)).as("n_hot_keys"),
        coalesce(sum(when(col("kcnt") > cap, col("kcnt"))), lit(0L))
          .as("n_hot_rows"),
        max(col("kcnt")).as("max_key_rows"))

  private[graft] def substringDedupDocs(docs: DataFrame,
      perDocOf: DataFrame => DataFrame = spanDupStats(_, Seq("lang"))): DataFrame = {
    val d = docs
      .select(col("doc_id"), col("lang"), ws.as("w"))
      .select(col("doc_id"), col("lang"), col("w"),
        size(col("w")).cast("long").as("n"))
      .trackedPersist()
    val perDoc = perDocOf(d)
    d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .join(perDoc.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_dup_docs"),
            sum(col("n_wins")).as("n_dup_windows"),
            sum(col("dup_tok")).as("n_dup_tokens"),
            sum(col("doc_id")).as("dup_doc_id_sum")),
        Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        coalesce(col("dup_doc_id_sum"), lit(0L)).as("dup_doc_id_sum"))
  }

  private val substringDedupSql =
    s"""WITH dn AS (
      |  SELECT doc_id, lang, $wordsSqlDoc AS w,
      |    CAST(len($wordsSqlDoc) AS BIGINT) AS n
      |  FROM documents),
      |wins AS (
      |  SELECT doc_id, lang, j.j AS i,
      |    CAST('0x' || substring(md5(array_to_string(w[j.j : j.j + ${SpanL - 1}], ' ')),1,15) AS BIGINT) AS wkey
      |  FROM dn CROSS JOIN range(4096) j(j)
      |  WHERE n >= $SpanL AND j.j BETWEEN 1 AND n - ${SpanL - 1}),
      |dup AS (
      |  SELECT * FROM (
      |    SELECT doc_id, lang, i, COUNT(*) OVER (PARTITION BY wkey) AS cnt
      |    FROM wins) t
      |  WHERE cnt >= 2),
      |gaps AS (
      |  SELECT doc_id, lang,
      |    LEAST($SpanL, COALESCE(i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i), $SpanL)) AS cov
      |  FROM dup),
      |per AS (
      |  SELECT doc_id, lang, COUNT(*) AS n_wins, SUM(cov) AS dup_tok
      |  FROM gaps GROUP BY doc_id, lang),
      |tot AS (
      |  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
      |  FROM dn GROUP BY lang),
      |pc AS (
      |  SELECT lang, COUNT(*) AS n_dup_docs,
      |    CAST(SUM(n_wins) AS BIGINT) AS n_dup_windows,
      |    CAST(SUM(dup_tok) AS BIGINT) AS n_dup_tokens,
      |    CAST(SUM(doc_id) AS BIGINT) AS dup_doc_id_sum
      |  FROM per GROUP BY lang)
      |SELECT tot.lang, n_docs, n_tokens,
      |  CAST(COALESCE(n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
      |  CAST(COALESCE(n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
      |  CAST(COALESCE(n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
      |  CAST(COALESCE(dup_doc_id_sum, 0) AS BIGINT) AS dup_doc_id_sum
      |FROM tot LEFT JOIN pc ON tot.lang = pc.lang""".stripMargin

  // --------------------------------------------- per-source curation report

  /** Per-source curation census — the report a curation decision is made
    * FROM: for every `source` (crawl/domain/provenance bucket), document
    * and token mass, byte-exact distinct-text count (upper bound on what
    * exact dedup retains), and the model-based keep rate
    * ([[qualityClassifier]]'s logit via the shared [[Qdsl.hashedLogit]]).
    * Everything per-row is scan-local (text hash + one array aggregate);
    * the exchanges move (source)-keyed partials and 8-byte text hashes,
    * never documents — the whole report costs one corpus scan at any
    * size. */
  def sourceCensus(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), hash60(col("text")).as("th"),
        Qdsl.hashedLogit(ws).as("logit"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("th")).as("n_distinct_texts"),
        sum(when(col("logit") > 0, 1L).otherwise(0L)).as("n_keep"),
        sum(col("logit")).as("logit_sum"))

  private val sourceCensusSql =
    s"""WITH d AS (
      |  SELECT source, doc_id,
      |    CAST('0x' || substring(md5(text),1,15) AS BIGINT) AS th,
      |    $wordsSqlDoc AS w
      |  FROM documents),
      |lg AS (
      |  SELECT d.source, d.doc_id, d.th, COALESCE(s.logit, 0) AS logit
      |  FROM d LEFT JOIN (
      |    SELECT doc_id,
      |      SUM(CAST('0x' || substring(md5(t.t),1,15) AS BIGINT) % 2001 - 1000)
      |        AS logit
      |    FROM d, unnest(w) AS t(t) GROUP BY doc_id) s
      |  ON d.doc_id = s.doc_id)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(COUNT(DISTINCT th) AS BIGINT) AS n_distinct_texts,
      |  CAST(SUM(CASE WHEN logit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      |  CAST(SUM(logit) AS BIGINT) AS logit_sum
      |FROM lg GROUP BY source""".stripMargin

  // ----------------------------------------------- corpus drift census

  /** The shared drift aggregation over a tagged (grp, is_batch,
    * n_tokens, logit) frame: per group, doc/token/quality mass on each
    * side plus per-mille share deltas — all integer-exact (shares are
    * floor divisions of non-negative counts, identical in Spark DIV and
    * DuckDB //). */
  private[graft] def driftCensusTagged(tagged: DataFrame): DataFrame = {
    val perGrp = tagged.groupBy(col("grp"))
      .agg(
        sum(when(!col("is_batch"), 1L).otherwise(0L)).as("hist_docs"),
        sum(when(col("is_batch"), 1L).otherwise(0L)).as("batch_docs"),
        sum(when(!col("is_batch"), col("n_tokens")).otherwise(0L))
          .as("hist_tokens"),
        sum(when(col("is_batch"), col("n_tokens")).otherwise(0L))
          .as("batch_tokens"),
        sum(when(!col("is_batch"), col("logit")).otherwise(0L))
          .as("hist_logit_sum"),
        sum(when(col("is_batch"), col("logit")).otherwise(0L))
          .as("batch_logit_sum"))
      // feeds both the totals row and the output join — cache so the
      // corpus scan + census agg runs once (plan-asserted: 1 exchange)
      .trackedPersist()
    val totals = perGrp.agg(sum(col("hist_docs")).as("hist_total"),
      sum(col("batch_docs")).as("batch_total"))
    perGrp.crossJoin(broadcast(totals))
      .select(col("grp"), col("hist_docs"), col("batch_docs"),
        expr("hist_docs*1000 DIV hist_total").as("hist_share_pm"),
        expr("batch_docs*1000 DIV batch_total").as("batch_share_pm"),
        expr("batch_docs*1000 DIV batch_total - hist_docs*1000 DIV hist_total")
          .as("share_delta_pm"),
        col("hist_tokens"), col("batch_tokens"),
        col("hist_logit_sum"), col("batch_logit_sum"))
  }

  private[graft] def driftTag(docs: DataFrame, grp: Column,
      isBatch: Column): DataFrame =
    docs.select(grp.as("grp"), isBatch.as("is_batch"),
      size(ws).cast("long").as("n_tokens"), Qdsl.hashedLogit(ws).as("logit"))

  /** Snapshot-over-snapshot drift census — the monitoring query a
    * production pipeline runs on every crawl increment BEFORE mixing it
    * in: per language, document/token/quality mass of the arriving batch
    * (doc_id ≥ the in-plan 0.8·max split) against history, with
    * per-mille composition shares and their delta. A language whose
    * share or quality mass moves is a scraper change, an extraction
    * regression, or genuine distribution shift — caught at census cost
    * (one corpus scan, a languages-sized exchange, a 1-row totals
    * broadcast), not model-retrain cost. Everything integer-exact so
    * the oracle is bit-stable. */
  def corpusDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(s, dir)
    val tDf = docs.agg(expr("MAX(doc_id)*4 DIV 5").as("t"))
    driftCensusTagged(driftTag(
      docs.crossJoin(broadcast(tDf)), col("lang"),
      col("doc_id") >= col("t")))
      .withColumnRenamed("grp", "lang")
  }

  private val corpusDriftSql =
    s"""WITH d AS (
      |  SELECT doc_id, lang, $wordsSqlDoc AS w FROM documents),
      |lg AS (
      |  SELECT d.doc_id, COALESCE(s.logit, 0) AS logit
      |  FROM d LEFT JOIN (
      |    SELECT doc_id,
      |      SUM(CAST('0x' || substring(md5(t.t),1,15) AS BIGINT) % 2001 - 1000)
      |        AS logit
      |    FROM d, unnest(w) AS t(t) GROUP BY doc_id) s
      |  ON d.doc_id = s.doc_id),
      |tt AS (SELECT MAX(doc_id)*4 // 5 AS t FROM documents),
      |tagged AS (
      |  SELECT lang, d.doc_id >= tt.t AS is_batch,
      |    CAST(len(w) AS BIGINT) AS n_tokens, lg.logit
      |  FROM d JOIN lg ON d.doc_id = lg.doc_id CROSS JOIN tt),
      |pl AS (
      |  SELECT lang,
      |    CAST(SUM(CASE WHEN is_batch THEN 0 ELSE 1 END) AS BIGINT) AS hist_docs,
      |    CAST(SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT) AS batch_docs,
      |    CAST(SUM(CASE WHEN is_batch THEN 0 ELSE n_tokens END) AS BIGINT) AS hist_tokens,
      |    CAST(SUM(CASE WHEN is_batch THEN n_tokens ELSE 0 END) AS BIGINT) AS batch_tokens,
      |    CAST(SUM(CASE WHEN is_batch THEN 0 ELSE logit END) AS BIGINT) AS hist_logit_sum,
      |    CAST(SUM(CASE WHEN is_batch THEN logit ELSE 0 END) AS BIGINT) AS batch_logit_sum
      |  FROM tagged GROUP BY lang),
      |tot AS (
      |  SELECT SUM(hist_docs) AS hist_total, SUM(batch_docs) AS batch_total
      |  FROM pl)
      |SELECT lang, hist_docs, batch_docs,
      |  CAST(hist_docs*1000 // hist_total AS BIGINT) AS hist_share_pm,
      |  CAST(batch_docs*1000 // batch_total AS BIGINT) AS batch_share_pm,
      |  CAST(batch_docs*1000 // batch_total - hist_docs*1000 // hist_total
      |    AS BIGINT) AS share_delta_pm,
      |  hist_tokens, batch_tokens, hist_logit_sum, batch_logit_sum
      |FROM pl CROSS JOIN tot""".stripMargin

  // ------------------------------------- model-based quality classifier

  /** Hashed-feature linear quality classifier — the MODEL-based filtering
    * step of modern pretraining pipelines (the fastText classifiers of
    * CCNet and the FineWeb-Edu / DCLM quality filters), as opposed to the
    * heuristic ratios of [[textQuality]]: each token hashes straight into
    * a weight slot (hashed features are what let fastText score without a
    * vocabulary join), the document's logit is the sum of its token
    * weights, and documents with a positive logit are kept. Census per
    * language: docs, kept docs, logit mass, kept-id checksum.
    *
    * The per-token weight derives deterministically from the term hash
    * (hash60 % 2001 − 1000 ∈ [−1000, 1000]) so the DuckDB oracle
    * reproduces the "model" bit-for-bit; a production deployment replaces
    * that one expression with its trained bucket weights. The plumbing is
    * the part that must survive 100 TB, and it is shaped for it: the
    * whole per-document score is ONE codegen'd aggregate over the token
    * array inside the scan — no explode, no per-doc shuffle — and the
    * only exchange is the languages-sized census. Integer weights make
    * the logit exact, so keep/drop never flips on float order. */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame =
    qualityClassifierDocs(Tables.documentsWide(s, dir))

  private[graft] def qualityClassifierDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), col("doc_id"), Qdsl.hashedLogit(ws).as("logit"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("logit") > 0, 1L).otherwise(0L)).as("n_keep"),
        sum(col("logit")).as("logit_sum"),
        coalesce(sum(when(col("logit") > 0, col("doc_id"))), lit(0L))
          .as("keep_id_sum"))

  private val qualityClassifierSql =
    s"""WITH d AS (
      |  SELECT doc_id, lang, $wordsSqlDoc AS w FROM documents),
      |lg AS (
      |  SELECT doc_id,
      |    SUM(CAST('0x' || substring(md5(t.t),1,15) AS BIGINT) % 2001 - 1000)
      |      AS logit
      |  FROM d, unnest(w) AS t(t) GROUP BY doc_id),
      |j AS (
      |  SELECT d.lang, d.doc_id, COALESCE(lg.logit, 0) AS logit
      |  FROM d LEFT JOIN lg ON d.doc_id = lg.doc_id)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN logit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      |  CAST(SUM(logit) AS BIGINT) AS logit_sum,
      |  CAST(COALESCE(SUM(CASE WHEN logit > 0 THEN doc_id END), 0) AS BIGINT)
      |    AS keep_id_sum
      |FROM j GROUP BY lang""".stripMargin

  // --------------------------------------------- boilerplate detection

  /** Boilerplate census: the 10 most-recurring [[SpanL]]-token windows in
    * the corpus. Navigation chrome, license headers, and templated
    * footers surface here long before any whole-document near-dup fires —
    * this is the discovery dial [[substringDedup]]'s removal measure
    * assumes someone looked at. Stride-1 windows hash to 8-byte keys
    * inside the scan (the same corpus·L budget note as substringDedup),
    * then ONE count-by-key aggregation and a global top-10 by
    * (occurrences, key) — a TakeOrdered over the aggregated key space,
    * never a global sort of the windows. Each row carries the window's
    * spread (total occurrences, distinct docs) and its earliest
    * (doc, position) exemplar so an operator can open the offending text
    * directly. */
  def boilerplateTop(s: SparkSession, dir: String): DataFrame =
    boilerplateTopDocs(Tables.documents(s, dir), 10, Some(4095))

  /** Core shared by the oracle-checked query (topK = 10, oracleCap
    * Some(4095) mirroring DuckDB's range(4096)) and the
    * `Corpus.boilerplate` facade (oracleCap None — arbitrary frames). */
  private[graft] def boilerplateTopDocs(docs: DataFrame, topK: Int,
      oracleCap: Option[Int] = None): DataFrame = {
    val wins = docs
      .select(col("doc_id"), ws.as("w"))
      .filter(size(col("w")) >= SpanL)
      .select(col("doc_id"),
        explode(oracleCapped(expr(s"sequence(1, size(w) - ${SpanL - 1})"),
          oracleCap, "boilerplate windows")).as("i"),
        col("w"))
      .select(col("doc_id"), col("i"),
        hash60(concat_ws(" ", expr(s"slice(w, i, $SpanL)"))).as("wkey"))
    wins.groupBy(col("wkey"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id"), col("i"))).as("f"))
      .filter(col("n_occ") >= 2)
      .select(col("wkey"), col("n_occ"), col("n_docs"),
        col("f.doc_id").as("first_doc"),
        col("f.i").cast("long").as("first_pos"))
      .orderBy(col("n_occ").desc, col("wkey"))
      .limit(topK)
  }

  private val boilerplateTopSql =
    s"""WITH d AS (
      |  SELECT doc_id, $wordsSqlDoc AS w FROM documents),
      |wins AS (
      |  SELECT doc_id, j.j AS i,
      |    CAST('0x' || substring(md5(array_to_string(w[j.j : j.j + ${SpanL - 1}], ' ')),1,15) AS BIGINT) AS wkey
      |  FROM d CROSS JOIN range(4096) j(j)
      |  WHERE len(w) >= $SpanL AND j.j BETWEEN 1 AND len(w) - ${SpanL - 1}),
      |agg AS (
      |  SELECT wkey, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs,
      |    MIN(doc_id) AS first_doc
      |  FROM wins GROUP BY wkey HAVING COUNT(*) >= 2),
      |fp AS (
      |  SELECT w.wkey, MIN(w.i) AS first_pos
      |  FROM wins w JOIN agg ON w.wkey = agg.wkey AND w.doc_id = agg.first_doc
      |  GROUP BY w.wkey)
      |SELECT agg.wkey, n_occ, n_docs, first_doc, first_pos
      |FROM agg JOIN fp ON agg.wkey = fp.wkey
      |ORDER BY n_occ DESC, agg.wkey LIMIT 10""".stripMargin

  // --------------------------------------------- per-group fixed sample

  /** Deterministic fixed-size per-stratum sample: the k=10 documents per
    * language with the smallest id-hash — the reservoir-sample twin of
    * [[sampleStratified]] (that one keeps a RATE per stratum; this one a
    * COUNT), reproducible at any scale because the "random" order is a
    * pure function of the data. Spark lowers the rank-filter to
    * WindowGroupLimit: each map task keeps only its local top-k before
    * the exchange, so the shuffle carries ≤ k·partitions rows per group,
    * not the group's full population. */
  def sampleGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("u"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), hashMod(col("doc_id")).as("u"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("lang"), col("rk"), col("doc_id"), col("u"))
  }

  private val sampleGroupSql =
    """SELECT lang,
      |  CAST(row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS INT) AS rk,
      |  doc_id, u
      |FROM (
      |  SELECT lang, doc_id,
      |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 1000000007 AS u
      |  FROM documents)
      |QUALIFY rk <= 10""".stripMargin

  // ----------------------------------------------------- vocab building

  /** Tokenizer-vocabulary construction: the top-100 corpus tokens by
    * frequency, assigned dense ids in (count desc, token) order — the
    * deterministic id assignment a tokenizer build emits. The heavy part
    * is the token-frequency aggregation (shuffled bytes ∝ distinct
    * tokens); the ranked id assignment runs on the aggregated table and
    * Spark lowers the rank filter to WindowGroupLimit, so each partition
    * forwards only its local top-100 candidates to the single ordering
    * task — the full vocabulary never concentrates. */
  def vocabBuild(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("n").desc, col("w"))
    Tables.documents(s, dir)
      .select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .withColumn("token_id", row_number().over(w))
      .filter(col("token_id") <= 100)
      .select(col("token_id"), col("w").as("token"), col("n"))
  }

  private val vocabBuildSql =
    s"""WITH toks AS (
      |  SELECT unnest($wordsSqlDoc) AS w FROM documents),
      |c AS (SELECT w, COUNT(*) AS n FROM toks GROUP BY w)
      |SELECT CAST(row_number() OVER (ORDER BY n DESC, w) AS INT) AS token_id,
      |  w AS token, n
      |FROM c QUALIFY token_id <= 100""".stripMargin

  // -------------------------------------------------- sequence packing

  /** Rows-per-language population above which [[langCumsumGuardedOf]]
    * diverts a language off the per-language cumsum window onto the
    * distributed two-phase path — sized like Analytics.GroupHotCap: far
    * above what the window's per-task serialization can comfortably hold,
    * low enough that ONE dominant language (half a 100 TB corpus is one
    * lang partition) cannot serialize a straggler. */
  private[graft] val PackHotCap = 262144L

  /** Per-language running token cumsum over a (lang, doc_id, n_tok) frame
    * — the single-window form: one hash exchange on lang, per-partition
    * window. Parallelism = #languages, so a dominant language is ONE
    * task; [[langCumsumGuardedOf]] is the production posture. */
  private[graft] def langCumsumOf(d: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum(col("n_tok")).over(w))
  }

  /** [[langCumsumOf]] with the AUTOMATIC hot-group straggler guard (the
    * winsorizeGuardedOf discipline): language populations are counted by
    * a map-side-combined hash aggregation; languages over `cap` rows
    * leave the per-language window — which serializes a whole language
    * per task — for the distributed two-phase cumsum
    * ([[langCumsumHotOf]]), and the two legs union. The hot list is
    * ≤ totalRows/cap entries by construction, so it broadcasts.
    * Value-identical to the window form (q_pack_sequences_guarded pins it
    * against the SAME oracle SQL every round; HotGroupGuardSpec plants a
    * 1000× language); the worst task is bounded by a range slice, not by
    * the most common language. Membership is NULL-SAFE (<=>): a hot
    * all-NULL language must divert like any other. */
  private[graft] def langCumsumGuardedOf(d0: DataFrame,
      cap: Long = PackHotCap): DataFrame = {
    val d = d0.trackedPersist()
    val (cold, hot) = HotKeys.divert(d, HotKeys.census(d, Seq("lang"), cap),
      Seq("lang"))
    langCumsumOf(cold).unionByName(langCumsumHotOf(hot))
  }

  /** The hot-language leg: a per-language running cumsum without a
    * per-language window — the q_token_budget two-phase shape, per group.
    * Phase 1: a range exchange on the full order key (lang, doc_id)
    * spreads even ONE corpus-sized language over every partition in
    * doc_id-sorted slices (cached so pid is well-defined across the two
    * readers). Phase 2: per-(lang, slice) token totals — partitions ×
    * hot-languages rows of metadata — become exclusive prefix offsets via
    * a window over that tiny table and broadcast back. Phase 3: the
    * cumsum window runs per (slice, lang) — every window partition at
    * most one range slice, bounded regardless of skew — offset by
    * phase 2. The result is a function of the (lang, doc_id) order alone,
    * so the sampled range boundaries never affect the output. */
  private def langCumsumHotOf(hot: DataFrame): DataFrame = {
    val ranked = Caches.tracked(hot
      .repartitionByRange(col("lang"), col("doc_id"))
      .withColumn("pid", spark_partition_id()))
    val wOff = Window.partitionBy(col("lang")).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = ranked.groupBy(col("lang"), col("pid"))
      .agg(sum(col("n_tok")).as("pt"))
      .withColumn("off", coalesce(sum(col("pt")).over(wOff), lit(0L)))
      .select(col("lang").as("__ol"), col("pid").as("__op"), col("off"))
    val wLoc = Window.partitionBy(col("pid"), col("lang"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.join(broadcast(offs),
        col("lang") <=> col("__ol") && col("pid") === col("__op"))
      .withColumn("cum", col("off") + sum(col("n_tok")).over(wLoc))
      .select(hot.columns.toIndexedSeq.map(col) :+ col("cum"): _*)
  }

  private def packTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tok"))

  private def packCensusOf(cum: DataFrame): DataFrame =
    cum.withColumn("bin", expr("(cum - 1) DIV 4096"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  /** Sequence packing: documents are packed in doc_id order into 4096-token
    * context windows per language — the running-cumsum binning
    * (`bin = (cumsum - 1) DIV 4096`) that approximates first-fit packing in
    * one linear pass, the way large pretraining pipelines actually pack.
    * The cumsum runs through the hot-language guard
    * ([[langCumsumGuardedOf]] at the production cap — at sf0.01 every
    * language is cold, so the oracle pins the window leg); nothing is
    * ever resorted globally. A document straddling a bin boundary is
    * attributed to its ENDING bin (where real packing would split it),
    * so census tokens-per-bin ≤ budget + one straddler. */
  def packSequences(s: SparkSession, dir: String): DataFrame =
    packCensusOf(langCumsumGuardedOf(packTokens(s, dir)))

  /** [[packSequences]] with a cap low enough that sf0.01's dominant
    * language (en, 218 docs) takes the HOT (distributed two-phase cumsum)
    * path while the rest stay cold — both legs AND their union are
    * value-pinned, registered against the SAME oracle SQL so the driver
    * itself pins the equivalence every round (the q_winsorize_guarded
    * discipline). */
  def packSequencesGuarded(s: SparkSession, dir: String): DataFrame =
    packCensusOf(langCumsumGuardedOf(packTokens(s, dir), cap = 100L))

  private val packSequencesSql =
    s"""WITH d AS (
      |  SELECT lang, doc_id,
      |    CAST(len($wordsSqlDoc) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT lang, doc_id, n_tok,
      |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d)
      |SELECT lang, CAST((cum - 1) // 4096 AS BIGINT) AS bin, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM c GROUP BY 1, 2""".stripMargin

  /** Overlapping context-window chunking — packing's inverse: long
    * documents SPLIT into 32-token windows at stride 24 (8-token overlap
    * so no boundary context is lost), the chunker RAG indexes and
    * long-document pretraining runs before packing. Chunk starts are a
    * scan-local `sequence()` + explode; every token lands in ≥ 1 chunk,
    * tail chunks may run short. Census per language: chunk count, token
    * total (> corpus tokens by exactly the overlap), and a chunk-text
    * checksum pinning the exact split points. */
  def chunkOverlap(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 1)
      .select(col("lang"), col("doc_id"), col("w"),
        explode(oracleCapped(sequence(lit(1), size(col("w")), lit(24)),
          4096, "chunk-overlap starts")).as("s"))
      .select(col("lang"), col("doc_id"),
        concat_ws(" ", slice(col("w"), col("s"), lit(32))).as("chunk"),
        // token count derived from the window bounds — re-splitting the
        // just-built chunk string would re-tokenize ~1.3× the corpus
        least(lit(32), size(col("w")) - col("s") + 1).cast("long").as("n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tok")).as("n_tokens"),
        sum(hashMod(col("chunk"))).as("chunk_checksum"))

  private val chunkOverlapSql =
    s"""WITH d AS (
      |  SELECT lang, doc_id, $wordsSqlDoc AS w FROM documents),
      |st AS (
      |  SELECT lang, doc_id, w, 1 + 24 * j.j AS s
      |  FROM d CROSS JOIN range(4096) j(j)
      |  WHERE len(w) >= 1 AND 1 + 24 * j.j <= len(w)),
      |ch AS (
      |  SELECT lang, doc_id, array_to_string(list_slice(w, s, s + 31), ' ') AS chunk,
      |    LEAST(32, len(w) - s + 1) AS n_tok
      |  FROM st)
      |SELECT lang, COUNT(*) AS n_chunks,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CAST('0x' || substring(md5(chunk),1,15) AS BIGINT) % 1000000007) AS BIGINT) AS chunk_checksum
      |FROM ch GROUP BY lang""".stripMargin

  // ----------------------------------------------- decontamination

  /** Benchmark decontamination: corpus documents sharing any 8-gram with
    * the held-out set (stand-in: doc_id ≡ 0 mod 101) are flagged — the
    * n-gram-overlap scrub every pretraining corpus runs against its eval
    * suites. Scale shape: the EVAL side is tiny by construction, so its
    * distinct 8-grams broadcast and the corpus side is one scan + explode
    * + broadcast semi-join — the 100 TB side never shuffles on gram text;
    * flagged ids then dedupe (∝ flagged docs, not grams). */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 8)
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id"), explode(grams8("ws")).as("g"))
    val evalGrams = grams(docs.filter(col("doc_id") % 101 === 0))
      .select(col("g")).distinct()
    val corpus = docs.filter(col("doc_id") % 101 =!= 0)
    val flagged = grams(corpus).join(broadcast(evalGrams), "g")
      .select(col("doc_id")).distinct().withColumn("flag", lit(1L))
    corpus.join(flagged, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("flag"), lit(0L))).as("n_flagged"),
        sum(when(col("flag").isNotNull, col("doc_id"))).as("flagged_id_sum"))
  }

  private val decontaminateSql =
    s"""WITH d AS (
      |  SELECT doc_id, lang, $wordsSqlDoc AS ws FROM documents),
      |dd AS (SELECT * FROM d WHERE len(ws) >= 8),
      |eg AS (
      |  SELECT DISTINCT array_to_string(ws[j.j : j.j + 7], ' ') AS g
      |  FROM dd CROSS JOIN range(4096) j(j)
      |  WHERE doc_id % 101 = 0 AND j.j BETWEEN 1 AND len(ws) - 7),
      |cg AS (
      |  SELECT doc_id, array_to_string(ws[j.j : j.j + 7], ' ') AS g
      |  FROM dd CROSS JOIN range(4096) j(j)
      |  WHERE doc_id % 101 != 0 AND j.j BETWEEN 1 AND len(ws) - 7),
      |f AS (SELECT DISTINCT doc_id FROM cg WHERE g IN (SELECT g FROM eg))
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN dd.doc_id END) AS BIGINT) AS flagged_id_sum
      |FROM dd LEFT JOIN f ON f.doc_id = dd.doc_id
      |WHERE dd.doc_id % 101 != 0
      |GROUP BY lang""".stripMargin

  /** Fuzzy benchmark decontamination — the near-match complement of
    * [[decontaminate]]'s exact 8-gram pass: a corpus document whose
    * 2-gram shingle set is Jaccard ≥ 0.5 similar to ANY eval-set
    * document is flagged, catching the lightly-paraphrased / reformatted
    * contamination an exact n-gram lookup misses (the reason eval suites
    * publish both exact and near-dup overlap numbers). Candidates come
    * from the MinHash band join — corpus bands against the BROADCAST
    * eval band set — and each candidate is CONFIRMED by exact integer
    * cross-multiplied Jaccard (2·|∩| ≥ |∪|), so band collisions can
    * only add work, never false flags. Census per language, same shape
    * as the exact pass.
    *
    * Scale shape: the eval side (signatures, bands, shingle sets) is
    * eval-suite-sized — it always broadcasts; corpus signatures are the
    * scan-local [[minhashBands]]; the confirm join touches only candidate
    * pairs. At 100 TB the shingle intersect runs on hash60 arrays
    * instead of strings — same plan, 8-byte elements. */
  def decontaminateFuzzy(s: SparkSession, dir: String): DataFrame =
    decontaminateFuzzyDocs(Tables.documents(s, dir))

  /** [[decontaminateFuzzy]] over an explicit (doc_id, lang, text) frame
    * (spec surface — sf0.01's eval split has no cross-split near-dups,
    * so the flag path is exercised on a planted corpus; sf0.1 carries a
    * real 0.99-Jaccard eval/corpus pair). */
  private[graft] def decontaminateFuzzyDocs(docs: DataFrame): DataFrame = {
    val bands = minhashBands(docs).select(col("doc_id") +: BandKey.map(col): _*)
    val evalBands = bands.filter(col("doc_id") % 101 === 0)
      .withColumnRenamed("doc_id", "e_id")
    val corpBands = bands.filter(col("doc_id") % 101 =!= 0)
    val cands = corpBands.join(broadcast(evalBands), BandKey)
      .select(col("doc_id"), col("e_id")).distinct()
    val shing = shingles(docs)
    val confirmed = cands
      .join(shing.select(col("doc_id"), col("sh").as("sa")), "doc_id")
      // only the EVAL slice broadcasts — broadcasting the unfiltered
      // shingle table would build a corpus-sized relation on the driver
      .join(broadcast(shing.filter(col("doc_id") % 101 === 0)
        .select(col("doc_id").as("e_id"), col("sh").as("sb"))),
        "e_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni",
        size(col("sa")).cast("long") + size(col("sb")).cast("long") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("doc_id")).distinct().withColumn("flag", lit(1L))
    docs.filter(col("doc_id") % 101 =!= 0)
      .select(col("doc_id"), col("lang"))
      .join(confirmed, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("flag"), lit(0L))).as("n_flagged"),
        sum(when(col("flag").isNotNull, col("doc_id"))).as("flagged_id_sum"))
  }

  private val decontaminateFuzzySql =
    s"""WITH ws0 AS (
      |  SELECT doc_id, lang, $wordsSqlDoc AS w FROM documents),
      |shs AS (
      |  SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS sh
      |  FROM ws0 WHERE len(w) >= 2),
      |h AS (
      |  SELECT doc_id, CAST('0x' || substring(md5(s.s),1,15) AS BIGINT) % 1000000007 AS h
      |  FROM (SELECT doc_id, unnest(sh) AS s FROM shs) s),
      |sig AS (SELECT doc_id, $minsSql FROM h GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, unnest([[0,m0,m1],[1,m2,m3],[2,m4,m5],[3,m6,m7]]) AS bk FROM sig),
      |eb AS (SELECT doc_id AS e_id, bk FROM bands WHERE doc_id % 101 = 0),
      |cb AS (SELECT doc_id, bk FROM bands WHERE doc_id % 101 != 0),
      |cand AS (SELECT DISTINCT cb.doc_id, eb.e_id FROM cb JOIN eb USING (bk)),
      |conf AS (
      |  SELECT DISTINCT c.doc_id
      |  FROM cand c JOIN shs a ON c.doc_id = a.doc_id
      |              JOIN shs b ON c.e_id = b.doc_id
      |  WHERE 2 * len(list_intersect(a.sh, b.sh))
      |      >= len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN conf.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  CAST(SUM(CASE WHEN conf.doc_id IS NOT NULL THEN ws0.doc_id END) AS BIGINT) AS flagged_id_sum
      |FROM ws0 LEFT JOIN conf ON conf.doc_id = ws0.doc_id
      |WHERE ws0.doc_id % 101 != 0
      |GROUP BY lang""".stripMargin

  /** Leak-free train/val/test splitting — the assignment step every
    * training pipeline runs after dedup, with the leakage it exists to
    * prevent MEASURED: scheme "random" assigns each document by
    * hash60(doc_id) (the common shuffle-split), scheme "cluster" assigns
    * by hash60(near-dup-cluster representative) so every member of a
    * duplicate cluster lands in the SAME split — eval can never see a
    * near-copy of a training document. Output: one row per scheme with
    * the 800/100/100‰ census (docs + tokens per split) and
    * `n_leaky_pairs`, the count of strong near-dup pairs (signature
    * agreement ≥ 6) whose endpoints straddle splits — structurally ZERO
    * for the cluster scheme (same component ⇒ same key ⇒ same split),
    * nonzero for the random scheme whenever dup clusters exist.
    *
    * Scale shape: pairs and components are the guarded-LSH + star-
    * rewriting machinery of q_dup_clusters_conv (edge-proportional
    * rounds); both schemes' split draws are scan-local hashes in ONE
    * cached (doc_id, n_tok, split per scheme) table, as the oracle's `sp`;
    * one leak audit joins the pair list (dup-graph-sized, not
    * corpus-sized) to two slim projections of it, and the per-scheme
    * rows unstack from one census row. */
  def splitLeakfree(s: SparkSession, dir: String): DataFrame = {
    val docsRaw = Tables.documents(s, dir)
    val pairs = dedupMinhashDocs(docsRaw, LshBucketCap)
      .filter(col("n_match") >= 6)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .trackedPersist()
    val comps = graft.api.Corpus.connectedComponents(
      docsRaw.select(col("doc_id").as("node")), pairs)
      .select(col("node").as("doc_id"), col("component"))
    def splitOf(c: Column): Column = {
      val h = hash60(c) % 1000L
      when(h < 800, lit(0)).when(h < 900, lit(1)).otherwise(lit(2))
    }
    val schemes = Seq("random" -> col("doc_id"), "cluster" -> col("component"))
    val sp = docsRaw
      .select(col("doc_id"), size(ws).cast("long").as("n_tok"))
      .join(comps, "doc_id")
      .select(col("doc_id") +: col("n_tok") +:
        schemes.map { case (n, key) => splitOf(key).as(n) }: _*)
      .trackedPersist()
    def end(e: String) = sp.select(col("doc_id").as(e) +:
      schemes.map { case (n, _) => col(n).as(s"${n}_$e") }: _*)
    def tally(c: Column, v: Column) = sum(when(c, v).otherwise(0L))
    def agg1(df: DataFrame, cs: Seq[Column]) = df.agg(cs.head, cs.tail: _*)
    val census = agg1(sp, schemes.map { case (n, _) =>
      val c = col(n)
      struct(lit(n).as("scheme"), tally(c === 0, lit(1L)).as("n_train"),
        tally(c === 1, lit(1L)).as("n_val"),
        tally(c === 2, lit(1L)).as("n_test"),
        tally(c === 0, col("n_tok")).as("tok_train"),
        tally(c =!= 0, col("n_tok")).as("tok_heldout")).as(n)
    })
    val leak = agg1(pairs.join(end("a"), "a").join(end("b"), "b"),
      schemes.map { case (n, _) =>
        coalesce(tally(col(s"${n}_a") =!= col(s"${n}_b"), lit(1L)), lit(0L))
          .as(s"${n}_leak")
      })
    census.crossJoin(leak)
      .select(explode(array(schemes.map { case (n, _) =>
        col(n).withField("n_leaky_pairs", col(s"${n}_leak"))
      }: _*)).as("r"))
      .select(col("r.*"))
  }

  private val splitLeakfreeSql = {
    def h1000(x: String) =
      s"CAST('0x' || substring(md5(CAST($x AS VARCHAR)),1,15) AS BIGINT) % 1000"
    def spCase(h: String) =
      s"CASE WHEN $h < 800 THEN 0 WHEN $h < 900 THEN 1 ELSE 2 END"
    def schemeSql(name: String, spCol: String) =
      s"""SELECT '$name' AS scheme,
        |  CAST(SUM(CASE WHEN $spCol = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |  CAST(SUM(CASE WHEN $spCol = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
        |  CAST(SUM(CASE WHEN $spCol = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
        |  CAST(SUM(CASE WHEN $spCol = 0 THEN n_tok ELSE 0 END) AS BIGINT) AS tok_train,
        |  CAST(SUM(CASE WHEN $spCol != 0 THEN n_tok ELSE 0 END) AS BIGINT) AS tok_heldout,
        |  (SELECT CAST(COALESCE(SUM(CASE WHEN a.$spCol != b.$spCol THEN 1 ELSE 0 END), 0) AS BIGINT)
        |   FROM p JOIN sp a ON p.doc_a = a.doc_id JOIN sp b ON p.doc_b = b.doc_id) AS n_leaky_pairs
        |FROM sp""".stripMargin
    s"""WITH RECURSIVE mh AS MATERIALIZED ($dedupMinhashSql),
      |p AS MATERIALIZED (SELECT doc_a, doc_b FROM mh WHERE n_match >= 6),
      |e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM p
      |      UNION ALL SELECT doc_b, doc_a FROM p),
      |reach(doc_id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT reach.doc_id, e.dst FROM reach JOIN e ON e.src = reach.r),
      |lbl AS (SELECT doc_id, MIN(r) AS lbl FROM reach GROUP BY doc_id),
      |d AS (SELECT doc_id, len($wordsSqlDoc) AS n_tok FROM documents),
      |sp AS (
      |  SELECT d.doc_id, d.n_tok,
      |    ${spCase(h1000("d.doc_id"))} AS sp_r,
      |    ${spCase(h1000("lbl.lbl"))} AS sp_c
      |  FROM d JOIN lbl USING (doc_id))
      |${schemeSql("random", "sp_r")}
      |UNION ALL
      |${schemeSql("cluster", "sp_c")}""".stripMargin
  }

  // ---------------------------------------------- unigram LM scoring

  /** Unigram language-model quality score (the CCNet-style LM filter with
    * the corpus itself as the model): each token scores its scaled corpus
    * frequency `(1e6·count) DIV total`, a document scores the integer
    * mean of its token scores, and documents are censused into score
    * bands per language. Two aggregations + one join: token counts
    * (shuffle ∝ vocabulary), then tokens↔counts — left unhinted so AQE
    * broadcasts the count table only while it fits (a 100 TB corpus has
    * a billions-row vocabulary; a forced broadcast is the q_tfidf_top
    * mistake this engine already removed). Integer DIV throughout keeps
    * the score exact across engines. */
  def unigramLm(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), explode(words(col("text"))).as("w"))
    val counts = toks.groupBy(col("w")).agg(count(lit(1)).as("n"))
      .crossJoin(toks.agg(count(lit(1)).as("tot")))
      .select(col("w"), expr("(1000000 * n) DIV tot").as("score"))
    toks.join(counts, "w")
      .groupBy(col("doc_id"), col("lang"))
      .agg(expr("SUM(score) DIV COUNT(*)").as("doc_score"))
      .groupBy(col("lang"), expr("doc_score DIV 5000").as("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_score")).as("score_sum"),
        min(col("doc_id")).as("min_doc"))
  }

  /** Bigram-LM quality score — the conditional upgrade of [[unigramLm]]:
    * each document scores the average scaled conditional frequency
    * p(w₂|w₁) = count(w₁w₂)/count(w₁·) of its bigrams, banded into a
    * per-language census. Fluent text rides common transitions and
    * scores high; shuffled/garbled text hits rare transitions and sinks
    * — the signal CCNet-style filters use, here integer-exact. Scale
    * shape: the bigram table is cached once (3 references), counts are
    * two hash aggs (∝ distinct bigrams/prefixes, not corpus size), and
    * the scoring join is bigram↔count equi-join left to AQE. */
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), ws.as("w"))
      .filter(size(col("w")) >= 2)
    val bg = d.select(col("doc_id"), col("lang"),
        explode(expr("transform(sequence(1, size(w) - 1), " +
          "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))")).as("b"))
      .withColumn("w1", substring_index(col("b"), " ", 1))
      .trackedPersist()
    val c2 = bg.groupBy(col("b")).agg(count(lit(1)).as("n2"))
      .withColumn("w1", substring_index(col("b"), " ", 1))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("n1"))
    val cond = c2.join(c1, "w1")
      .select(col("b"), expr("(1000000 * n2) DIV n1").as("score"))
    bg.join(cond, "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(expr("SUM(score) DIV COUNT(*)").as("doc_score"))
      .groupBy(col("lang"), expr("doc_score DIV 50000").as("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_score")).as("score_sum"),
        min(col("doc_id")).as("min_doc"))
  }

  private val bigramLmSql =
    s"""WITH d AS (
      |  SELECT doc_id, lang, $wordsSqlDoc AS w FROM documents),
      |bg AS (
      |  SELECT doc_id, lang,
      |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS b
      |  FROM d WHERE len(w) >= 2),
      |bgp AS (SELECT doc_id, lang, b, split_part(b, ' ', 1) AS w1 FROM bg),
      |c2 AS (SELECT b, split_part(b, ' ', 1) AS w1, COUNT(*) AS n2 FROM bgp GROUP BY b),
      |c1 AS (SELECT w1, COUNT(*) AS n1 FROM bgp GROUP BY w1),
      |cond AS (
      |  SELECT c2.b, (1000000 * c2.n2) // c1.n1 AS score
      |  FROM c2 JOIN c1 USING (w1)),
      |ds AS (
      |  SELECT doc_id, lang, SUM(score) // COUNT(*) AS doc_score
      |  FROM bgp JOIN cond USING (b) GROUP BY doc_id, lang)
      |SELECT lang, CAST(doc_score // 50000 AS BIGINT) AS band,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(doc_score) AS BIGINT) AS score_sum,
      |  MIN(doc_id) AS min_doc
      |FROM ds GROUP BY 1, 2""".stripMargin

  private val unigramLmSql =
    s"""WITH toks AS (
      |  SELECT doc_id, lang, unnest($wordsSqlDoc) AS w FROM documents),
      |c AS (
      |  SELECT w, (1000000 * COUNT(*)) // (SELECT COUNT(*) FROM toks) AS score
      |  FROM toks GROUP BY w),
      |d AS (
      |  SELECT t.doc_id, t.lang, SUM(c.score) // COUNT(*) AS doc_score
      |  FROM toks t JOIN c ON c.w = t.w
      |  GROUP BY t.doc_id, t.lang)
      |SELECT lang, CAST(doc_score // 5000 AS BIGINT) AS band,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(doc_score) AS BIGINT) AS score_sum,
      |  MIN(doc_id) AS min_doc
      |FROM d GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------- incremental dedup

  /** Incremental-ingest dedup: a new batch (stand-in: doc_id ≡ 0 mod 7)
    * checked against the accumulated corpus by content hash — the
    * daily-crawl-vs-history shape. The join carries only 60-bit content
    * hashes (never text), equi-keyed, so at 100 TB the history side is a
    * hash column scan and the shuffle is batch-sized + distinct-history-
    * hash-sized; in production the history hashes live pre-computed as
    * the fingerprint table this query's projection defines. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), hash60(col("text")).as("h"))
    val history = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("h")).distinct().withColumn("dup", lit(1L))
    docs.filter(col("doc_id") % 7 === 0)
      .join(history, Seq("h"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_batch"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dups"),
        sum(when(col("dup").isNull, col("doc_id"))).as("kept_id_sum"))
  }

  private val incrementalDedupSql =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST('0x' || substring(md5(text),1,15) AS BIGINT) AS h
      |  FROM documents),
      |hist AS (SELECT DISTINCT h FROM d WHERE doc_id % 7 != 0)
      |SELECT lang, COUNT(*) AS n_batch,
      |  CAST(SUM(CASE WHEN hist.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
      |  CAST(SUM(CASE WHEN hist.h IS NULL THEN doc_id END) AS BIGINT) AS kept_id_sum
      |FROM d LEFT JOIN hist ON hist.h = d.h
      |WHERE d.doc_id % 7 = 0
      |GROUP BY lang""".stripMargin

  // ------------------------------------------------ repetition scoring

  /** Intra-document repetition (the Gopher/C4 duplicate-n-gram filter):
    * per document, the fraction of 3-grams that are repeats, bucketed to
    * deciles and censused per source. Entirely scan-local — the n-gram
    * list, its distinct count, and the bucket are array expressions
    * inside the projection (no explode, no shuffle until the census), so
    * cost is linear in corpus bytes at any scale. */
  def repetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .withColumn("ngrams", expr(
        "transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', slice(ws, i, 3)))"))
      .select(col("source"), col("doc_id"),
        size(col("ngrams")).cast("long").as("n3"),
        (size(col("ngrams")) - size(array_distinct(col("ngrams")))).cast("long").as("dup3"))
      .withColumn("decile", expr("(dup3 * 10) DIV n3"))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dup3")).as("total_dup3"),
        sum(col("n3")).as("total_n3"))

  private val repetitionSql =
    s"""WITH d AS (
      |  SELECT source, doc_id, $wordsSqlDoc AS ws FROM documents),
      |g AS (
      |  SELECT source, doc_id,
      |    list_transform(generate_series(1, len(ws) - 2),
      |      i -> array_to_string(ws[i : i + 2], ' ')) AS ngrams
      |  FROM d WHERE len(ws) >= 3),
      |r AS (
      |  SELECT source, doc_id,
      |    CAST(len(ngrams) AS BIGINT) AS n3,
      |    CAST(len(ngrams) - len(list_distinct(ngrams)) AS BIGINT) AS dup3
      |  FROM g)
      |SELECT source, (dup3 * 10) // n3 AS decile, COUNT(*) AS n_docs,
      |  CAST(SUM(dup3) AS BIGINT) AS total_dup3,
      |  CAST(SUM(n3) AS BIGINT) AS total_n3
      |FROM r GROUP BY 1, 2""".stripMargin

  // -------------------------------------------------- full curation run

  /** The complete corpus-curation funnel in ONE declarative plan —
    * quality gate → exact dedup (keep-first) → benchmark decontamination
    * → stratified sampling → sequence packing — reported as a per-language
    * attrition census (how many documents each stage keeps, and the
    * packed-token outcome). This is the "a user could run their whole
    * pipeline" composition: every stage is the same machinery as its
    * standalone query, fused by Catalyst into a handful of shuffles
    * (content-hash agg for dedup, eval-gram broadcast semi-join, one
    * lang exchange for packing, two 5-row censuses). Nothing is
    * collected; stage flags are columns, so adding/removing a stage is a
    * one-line change. */
  def curate(s: SparkSession, dir: String): DataFrame = {
    // lazily cached: the tokenize+hash60 projection feeds the dedup agg,
    // the contamination explode AND the flag join — uncached, all three
    // re-tokenize the corpus. The scan is widened BELOW the tokenize so
    // the kernel (and the cached layout every downstream explode rides)
    // is parallel even when the table is a single scan split (guide §2).
    val docBytes = Tables.tableBytes(s, dir, "documents")
    val docs = Widen.forKernel(Tables.documents(s, dir)
        .filter(col("doc_id") % 101 =!= 0), docBytes) // the eval set is not corpus
      .select(col("doc_id"), col("lang"), words(col("text")).as("w"),
        hash60(col("text")).as("h"))
      .withColumn("n_tok", size(col("w")).cast("long"))
      .withColumn("q", col("n_tok") >= 10)
      .trackedPersist()
    // keep-first exact dedup among quality survivors
    val first = docs.filter(col("q"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    val evalDocs = Widen.forKernel(Tables.documents(s, dir)
        .filter(col("doc_id") % 101 === 0), docBytes / 64)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 8)
    val evalGrams = evalDocs.select(explode(grams8("w")).as("g")).distinct()
    val contaminated = docs.filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(grams8("w")).as("g"))
      .join(broadcast(evalGrams), "g")
      .select(col("doc_id")).distinct().withColumn("bad", lit(true))
    val flagged = docs
      .join(first, Seq("h"), "left")
      .withColumn("uniq", col("q") && col("doc_id") === col("keep_id"))
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("clean", col("uniq") && col("bad").isNull)
      .withColumn("sampled", col("clean") &&
        (hashMod(col("doc_id")) % 1000) < (hashMod(col("lang")) % 700 + 100))
    val stageCensus = flagged.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("uniq"), 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("clean"), 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
    // the packing leg rides the hot-language guard too (production cap:
    // all-cold at sf0.01, so the oracle pins the window leg; a dominant
    // language at 100 TB takes the distributed two-phase cumsum instead
    // of serializing through one window task)
    val packed = langCumsumGuardedOf(flagged.filter(col("sampled"))
        .select(col("lang"), col("doc_id"), col("n_tok")))
      .withColumn("bin", expr("(cum - 1) DIV 4096"))
      .groupBy(col("lang"))
      .agg(sum(col("n_tok")).as("tokens_packed"),
        (max(col("bin")) + 1).as("n_bins"))
    stageCensus.join(packed, Seq("lang"), "left")
      .select(col("lang"), col("n_total"), col("n_quality"), col("n_unique"),
        col("n_clean"), col("n_sampled"),
        coalesce(col("tokens_packed"), lit(0L)).as("tokens_packed"),
        coalesce(col("n_bins"), lit(0L)).as("n_bins"))
  }

  private val curateSql =
    s"""WITH d0 AS (
      |  SELECT doc_id, lang, $wordsSqlDoc AS w,
      |    CAST('0x' || substring(md5(text),1,15) AS BIGINT) AS h
      |  FROM documents WHERE doc_id % 101 != 0),
      |d AS (
      |  SELECT doc_id, lang, w, h, CAST(len(w) AS BIGINT) AS n_tok,
      |    len(w) >= 10 AS q
      |  FROM d0),
      |first AS (
      |  SELECT h, MIN(doc_id) AS keep_id FROM d WHERE q GROUP BY h),
      |ev AS (
      |  SELECT doc_id, $wordsSqlDoc AS w FROM documents
      |  WHERE doc_id % 101 = 0 AND len($wordsSqlDoc) >= 8),
      |eg AS (
      |  SELECT DISTINCT array_to_string(w[j.j : j.j + 7], ' ') AS g
      |  FROM ev CROSS JOIN range(4096) j(j)
      |  WHERE j.j BETWEEN 1 AND len(w) - 7),
      |bad AS (
      |  SELECT DISTINCT doc_id
      |  FROM d CROSS JOIN range(4096) j(j)
      |  WHERE len(w) >= 8 AND j.j BETWEEN 1 AND len(w) - 7
      |    AND array_to_string(w[j.j : j.j + 7], ' ') IN (SELECT g FROM eg)),
      |f AS (
      |  SELECT d.*,
      |    q AND d.doc_id = first.keep_id AS uniq,
      |    q AND d.doc_id = first.keep_id AND bad.doc_id IS NULL AS clean,
      |    q AND d.doc_id = first.keep_id AND bad.doc_id IS NULL
      |      AND CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)),1,15) AS BIGINT) % 1000000007 % 1000
      |        < CAST('0x' || substring(md5(lang),1,15) AS BIGINT) % 1000000007 % 700 + 100 AS sampled
      |  FROM d
      |  LEFT JOIN first ON first.h = d.h
      |  LEFT JOIN bad ON bad.doc_id = d.doc_id),
      |census AS (
      |  SELECT lang, COUNT(*) AS n_total,
      |    CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
      |    CAST(SUM(CASE WHEN uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |    CAST(SUM(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
      |    CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |  FROM f GROUP BY lang),
      |packed AS (
      |  SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS tokens_packed,
      |    CAST(MAX((cum - 1) // 4096) + 1 AS BIGINT) AS n_bins
      |  FROM (
      |    SELECT lang, n_tok,
      |      SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |    FROM f WHERE sampled) t
      |  GROUP BY lang)
      |SELECT c.lang, c.n_total, c.n_quality, c.n_unique, c.n_clean, c.n_sampled,
      |  COALESCE(p.tokens_packed, 0) AS tokens_packed,
      |  COALESCE(p.n_bins, 0) AS n_bins
      |FROM census c LEFT JOIN packed p ON p.lang = c.lang""".stripMargin

  val defs: Seq[GQuery] = Seq(
    GQuery("q_curate", curate, Some(curateSql), headline = true),
    GQuery("q_pipeline_clean", pipelineClean, Some(pipelineCleanSql), headline = true),
    GQuery("q_chunk_dedup", chunkDedup, Some(chunkDedupSql), headline = true),
    GQuery("q_vocab_build", vocabBuild, Some(vocabBuildSql)),
    GQuery("q_pack_sequences", packSequences, Some(packSequencesSql)),
    GQuery("q_pack_sequences_guarded", packSequencesGuarded,
      Some(packSequencesSql)),
    GQuery("q_chunk_overlap", chunkOverlap, Some(chunkOverlapSql)),
    GQuery("q_bigram_lm", bigramLm, Some(bigramLmSql)),
    GQuery("q_decontaminate", decontaminate, Some(decontaminateSql)),
    GQuery("q_decontaminate_fuzzy", decontaminateFuzzy, Some(decontaminateFuzzySql)),
    GQuery("q_split_leakfree", splitLeakfree, Some(splitLeakfreeSql)),
    GQuery("q_repetition", repetition, Some(repetitionSql)),
    GQuery("q_incremental_dedup", incrementalDedup, Some(incrementalDedupSql)),
    GQuery("q_unigram_lm", unigramLm, Some(unigramLmSql)),
    GQuery("q_sample_group", sampleGroup, Some(sampleGroupSql)),
    GQuery("q_dup_clusters", dupClusters, Some(dupClustersSql), headline = true),
    GQuery("q_dedup_keep_best", dedupKeepBest, Some(dedupKeepBestSql)),
    GQuery("q_dup_clusters_conv", dupClustersStar, Some(dupClustersConvSql)),
    GQuery("q_dup_clusters_star", dupClustersStar, Some(dupClustersConvSql), headline = true),
    GQuery("q_sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    GQuery("q_sample_weighted", sampleWeighted, Some(sampleWeightedSql)),
    GQuery("q_redact", redact, Some(redactSql)),
    GQuery("q_dedup_exact", dedupExact, Some(dedupExactSql)),
    GQuery("q_url_dedup", urlDedup, Some(urlDedupSql)),
    GQuery("q_dedup_minhash", dedupMinhash, Some(dedupMinhashSql), headline = true),
    GQuery("q_dedup_incremental", dedupIncremental, Some(dedupIncrementalSql),
      headline = true),
    GQuery("q_dedup_index_merge", dedupIndexMerge, Some(dedupIndexMergeSql)),
    GQuery("q_minhash_calibration", minhashCalibration,
      Some(minhashCalibrationSql)),
    GQuery("q_dedup_simhash", dedupSimhash, Some(dedupSimhashSql)),
    GQuery("q_simhash_pairs", simhashPairs, Some(simhashPairsSql)),
    GQuery("q_simhash_calibration", simhashCalibration,
      Some(simhashCalibrationSql)),
    GQuery("q_jaccard_neardup", jaccardNeardup, Some(jaccardNeardupSql)),
    GQuery("q_containment", containmentNeardup, Some(containmentNeardupSql)),
    GQuery("q_text_quality", textQuality, Some(textQualitySql)),
    GQuery("q_lang_id", langId, Some(langIdSql)),
    GQuery("q_token_count", tokenCount, Some(tokenCountSql)),
    GQuery("q_fingerprint", fingerprint, Some(fingerprintSql)),
    GQuery("q_substring_dedup", substringDedup, Some(substringDedupSql),
      headline = true),
    // deliberately the SAME oracle SQL: the guard must not change values
    GQuery("q_substring_dedup_guarded", substringDedupGuarded,
      Some(substringDedupSql)),
    GQuery("q_quality_classifier", qualityClassifier,
      Some(qualityClassifierSql), headline = true),
    GQuery("q_source_census", sourceCensus, Some(sourceCensusSql)),
    GQuery("q_corpus_drift", corpusDrift, Some(corpusDriftSql), headline = true),
    GQuery("q_boilerplate_top", boilerplateTop, Some(boilerplateTopSql)),
    GQuery("q_tfidf_top", tfidfTop, Some(tfidfTopSql)))
}
