package graft.queries

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Caches, GQuery, HotKeys, Tables}
import graft.core.Caches.TrackedOps
import Qdsl._

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the exactness baseline, a random-hyperplane
  * LSH bucketed variant as the 100 TB scale path, and cosine near-dup
  * detection — the embedding leg of a training-data dedup pipeline.
  *
  * Determinism strategy: embeddings are scaled to exact integers
  * (`floor(x * 1e6)`) so all dot products and squared distances are exact
  * integer arithmetic; the final cosine is built from those integers with
  * IEEE-exact ops only (divide, sqrt are correctly rounded), so Spark and
  * the DuckDB oracle produce bit-identical doubles and identical rankings.
  * Scalar vector math (dot, squared-L2) runs through the fused native
  * kernels [[graft.functions.GraftDot]]/[[graft.functions.GraftL2]] —
  * value-identical to the `zip_with` + `aggregate` composition the DuckDB
  * oracle mirrors (VectorKernelSpec pins the parity), without the
  * per-row-pair intermediate array; vector-VALUED math (residuals,
  * projections) stays on the higher-order functions. No UDFs anywhere.
  */
object Similarity {

  private val DIM = 64

  /** Integer-scaled embedding: exact on both engines. */
  private def ivec(c: Column): Column =
    transform(c, x => floor(x.cast("double") * 1000000).cast("long"))

  /** Fused integer dot product ([[graft.functions.GraftDot]]): identical
    * Long arithmetic to the `aggregate(zip_with(·,·,*))` composition the
    * oracle mirrors, minus the per-row-pair intermediate array — this is
    * the innermost loop of every queries×candidates join. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftDot(a, b)

  /** Fused integer squared-L2 ([[graft.functions.GraftL2]]), same parity
    * contract as [[dot]] (VectorKernelSpec pins both against the
    * composition). */
  private def l2s(a: Column, b: Column): Column =
    graft.functions.GraftL2(a, b)

  /** Canonical (vid, v, n2) rows of any (id, float-vector) frame: the
    * integer-scaled vector and its squared norm. Every search below
    * reads this shape; `graft.api.Vectors` canonicalizes through it. */
  private[graft] def canonical(df: DataFrame, id: String,
      vec: String): DataFrame =
    df.select(col(id).cast("long").as("vid"), ivec(col(vec)).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))

  /** The test corpus in canonical form, the shared scan. */
  private def corpus(s: SparkSession, dir: String): DataFrame =
    canonical(Tables.embeddings(s, dir), "vec_id", "embedding")

  /** The query set of every query form pinned to the test corpus: its
    * 20 lowest ids. */
  private def testQueries(base: DataFrame): DataFrame =
    base.filter(col("vid") < 20)

  /** cos(a, b) from exact integer dot and norms. */
  private def cosine(d: Column, n2a: Column, n2b: Column): Column =
    d.cast("double") / sqrt(n2a.cast("double")) / sqrt(n2b.cast("double"))

  /** Scan-local nearest-center assignment on the fused
    * [[graft.functions.GraftNearestCell]] kernel: the center table
    * `(cid, cv)` folds to ONE sorted-array row and cross-joins broadcast,
    * so every task holds the codebook once and the argmin stays inside
    * whole-stage codegen — no n×k distance frame, no per-vid sort window
    * (the O(n·k)-row shape whose removal measured q_semdedup 160 → 33 s
    * at the r13 100× drive). Value-identical to
    * `Window.orderBy(dist, cid)` rn = 1 — VectorKernelSpec pins the
    * parity including engineered distance ties. Appends `outCol` (the
    * winning cid) to `points`' columns; `points` carries the vector as
    * `vec`. With `keys` (PQ's subspace `m`) the centers fold to one
    * sorted array PER KEY, broadcast-joined on the keys, so each point
    * meets only its own key's codebook. An EMPTY center table fails
    * loudly inside the kernel when `points` is non-empty (the window
    * form silently dropped every row); an empty `points` side
    * short-circuits to zero rows as before. */
  private[graft] def nearestAssign(points: DataFrame, centers: DataFrame,
      outCol: String, vec: String = "v",
      keys: Seq[String] = Nil): DataFrame = {
    val carr = centers.groupBy(keys.map(col): _*).agg(sort_array(
      collect_list(struct(col("cid"), col("cv")))).as("cs"))
    (if (keys.isEmpty) points.crossJoin(broadcast(carr))
     else points.join(broadcast(carr), keys))
      .withColumn(outCol,
        graft.functions.GraftNearestCell(col(vec), col("cs")))
      .drop("cs")
  }

  private val ivecSql =
    "[CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) for x in embedding]"

  // ------------------------------------------------------- retrieval core
  //
  // Every search below is a candidate generator — brute force, LSH
  // buckets, IVF cells, PQ codes — feeding the one ranking step, [[topK]].
  // Query rows are (q_id, qv, qn2) and broadcast; base rows are
  // canonical (vid, v, n2); a candidate is (q_id, neighbor_id, score).

  /** The per-query ranking every search ends in: rows of `cands`
    * (q_id, neighbor_id, …) ranked within each q_id by `order`, the
    * neighbor id breaking ties last, ranks ≤ k kept. Emits (q_id,
    * rank: long, neighbor_id) followed by the remaining candidate
    * columns (the score, or what a probe leg carries). */
  private def topK(cands: DataFrame, k: Int,
      order: Column*): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(order :+ col("neighbor_id"): _*)
    val rest = cands.columns.filterNot(Set("q_id", "neighbor_id")).map(col)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(Seq(col("q_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id")) ++ rest: _*)
  }

  /** Query rows (q_id, qv, qn2) of canonical `queries`. */
  private def qside(queries: DataFrame): DataFrame =
    queries.select(col("vid").as("q_id"), col("v").as("qv"),
      col("n2").as("qn2"))

  /** The candidate filter dropping "the query finding itself". */
  private def notSelf(excludeSelf: Boolean): Column =
    if (excludeSelf) col("vid") =!= col("q_id") else lit(true)

  /** Exact-cosine candidates (q_id, neighbor_id, cos) of joined
    * (q_id, qv, qn2) × (vid, v, n2) pairs. */
  private def scored(pairs: DataFrame): DataFrame =
    pairs.select(col("q_id"), col("vid").as("neighbor_id"),
      cosine(dot(col("v"), col("qv")), col("n2"), col("qn2")).as("cos"))

  /** The oracle's (q_id, rank, neighbor_id) columns of a ranked search. */
  private def ids(ranked: DataFrame): DataFrame =
    ranked.select("q_id", "rank", "neighbor_id")

  /** Exact cosine top-k over canonical base/query frames: every query
    * against every base row, the query side broadcast so the base
    * streams once with no shuffle. The exactness baseline every index
    * is measured against; [[knnBrute]] pins it to the test corpus and
    * `Vectors.cosineTopK` exposes it. */
  private[graft] def exactSearch(base: DataFrame, queries: DataFrame,
      k: Int, excludeSelf: Boolean = true): DataFrame =
    topK(scored(base.join(broadcast(qside(queries)), notSelf(excludeSelf))),
      k, col("cos").desc)

  /** Exact-cosine re-rank of a (q_id, neighbor_id) shortlist (the FAISS
    * IndexRefine stage): codes find the neighborhood, a few exact
    * cosines per query fix the order quantization scrambled. The
    * shortlist streams and keeps its q_id partitioning, so the final
    * rank needs no second shuffle. */
  private def exactRerank(short: DataFrame, base: DataFrame,
      queries: DataFrame, k: Int): DataFrame =
    topK(scored(short.select(col("q_id"), col("neighbor_id").as("vid"))
      .join(base.select(col("vid"), col("v"), col("n2")), "vid")
      .join(broadcast(qside(queries)), "q_id")), k, col("cos").desc)

  // ------------------------------------------------------- coarse centres

  /** Centres (cid, cv) seeded from the rows with vid < n: the dense-id
    * seed of the test corpus. */
  private def firstCenters(base: DataFrame, n: Int): DataFrame =
    base.filter(col("vid") < n).select(col("vid").as("cid"), col("v").as("cv"))

  /** Centres seeded from the n lowest ids (sort-limit, so sparse ids
    * are safe). */
  private[graft] def lowestCenters(base: DataFrame, n: Int): DataFrame =
    base.orderBy(col("vid")).limit(n)
      .select(col("vid").as("cid"), col("v").as("cv"))

  /** ⌈√n⌉ centres — the production cell dial (`Tuning.ivfCells`) — with
    * the count derived IN-PLAN as a 1-row broadcast aggregate, so sizing
    * costs no driver-side action. Dense-id contract: seeds are the rows
    * with vid < ⌈√n⌉. */
  private[graft] def sqrtNCenters(base: DataFrame): DataFrame = {
    val kDf = base.agg(
      ceil(sqrt(count(lit(1)).cast("double"))).cast("long").as("kcells"))
    base.crossJoin(broadcast(kDf))
      .filter(col("vid") < col("kcells"))
      .select(col("vid").as("cid"), col("v").as("cv"))
  }

  /** One integer-exact Lloyd update: each centre named by `keys` moves
    * to the per-dim truncated mean of its members' `vec` arrays (both
    * engines truncate integer division identically, negatives
    * included), rebuilt in dim order as `cv`. A centre that loses all
    * members drops out, exactly like k-means. The one update behind IVF
    * training, SemDeDup and PQ codebook training. */
  private def lloydStep(members: DataFrame, vec: String,
      keys: String*): DataFrame = {
    val k = keys.map(col)
    members.select(k :+ posexplode(col(vec)): _*)
      .groupBy(k :+ col("pos"): _*)
      .agg(expr("SUM(col) DIV COUNT(*)").as("cx"))
      .groupBy(k: _*)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        e => e.getField("cx")).as("cv"))
  }

  /** `seed` centres after one Lloyd update over canonical `points`,
    * members assigned on the fused kernel. */
  private[graft] def lloydCenters(points: DataFrame,
      seed: DataFrame): DataFrame =
    lloydStep(nearestAssign(points.select(col("vid"), col("v")), seed, "cid"),
      "v", "cid")

  // ------------------------------------------------------------ brute kNN

  /** Brute-force cosine top-5 for each test query: [[exactSearch]] on
    * the test corpus. At scale this is the exact-search baseline the ANN
    * variants are measured against. */
  def knnBrute(s: SparkSession, dir: String): DataFrame = {
    val base = corpus(s, dir)
    ids(exactSearch(base, testQueries(base), 5))
  }

  private[queries] val knnBruteSql =
    s"""WITH iv AS (
      |  SELECT vec_id, $ivecSql AS v FROM embeddings),
      |n AS (
      |  SELECT vec_id, v, list_sum([v[i]*v[i] for i in range(1,${DIM + 1})]) AS n2 FROM iv),
      |q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2 FROM n WHERE vec_id < 20),
      |c AS (
      |  SELECT q_id, vec_id,
      |    CAST(list_sum([v[i]*qv[i] for i in range(1,${DIM + 1})]) AS DOUBLE)
      |      / sqrt(CAST(n2 AS DOUBLE)) / sqrt(CAST(qn2 AS DOUBLE)) AS cos
      |  FROM n CROSS JOIN q WHERE vec_id <> q_id)
      |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id FROM (
      |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM c) t WHERE rank <= 5""".stripMargin

  // -------------------------------------------------------------- LSH ANN

  private val LSH_BITS = 6

  /** Deterministic pseudo-random hyperplane weights, derived from the same
    * md5 construction as [[Qdsl.hash60]] so the oracle can recompute them:
    * w(b, d) = hash60("b_d") % 2001 - 1000. */
  private[graft] def lshWeight(b: Int, d: Int): Long = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${b}_$d".getBytes(StandardCharsets.UTF_8))
      .map(x => f"$x%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2001 - 1000
  }

  /** Hot-bucket guard for the ANN path: buckets beyond this population are
    * excluded from candidate generation. Benign corpora never hit it (the
    * synthetic embeddings max out at 64/bucket at sf0.1, and production
    * sizes LSH_BITS so buckets hold ~n/2^bits) — it exists so a degenerate
    * corpus (mass-duplicated embeddings collapsing into one bucket) cannot
    * turn the bucket join into an O(n·q) scan. Mirrored in the oracle. */
  private[graft] val AnnBucketCap = 512

  /** Sign-bit LSH signatures, one (t, bucket) row per table and input
    * row: table t hashes `v` with hyperplanes t·bits + b (b < bits), so
    * table 0 at 6 bits IS the [[annLsh]] index and a wider signature
    * refines its buckets rather than re-shuffling the space. The one
    * signature builder of every LSH path. */
  private def lshSigned(df: DataFrame, bits: Int,
      tables: Int = 1): DataFrame = {
    val sigs = array((0 until tables).map { t =>
      val bs = (0 until bits).map { b =>
        val w = array((1 to DIM).map(d => lit(lshWeight(t * bits + b, d))): _*)
        when(dot(w, col("v")) > 0, 1L << b).otherwise(0L)
      }
      struct(lit(t.toLong).as("t"), (lit(0L) +: bs).reduce(_ + _).as("bucket"))
    }: _*)
    df.select(col("*"), explode(sigs).as("x"))
      .select(df.columns.map(col) :+ col("x.t").as("t") :+
        col("x.bucket").as("bucket"): _*)
  }

  /** Exact-cosine top-k over each probe's bucket-mates: `index` rows
    * (vid, v, n2, t, bucket) meet the broadcast probe rows (q_id, qv,
    * qn2, qt, qbucket) on an equi-join. Across several tables a pair can
    * meet more than once, so it is deduplicated AFTER scoring (one
    * double per pair, never a vector payload); one table's buckets are
    * disjoint, Hamming probes included, and need no dedup shuffle. */
  private def lshRank(index: DataFrame, probes: DataFrame, k: Int,
      dedup: Boolean, excludeSelf: Boolean): DataFrame = {
    val cands = scored(index.join(broadcast(probes),
      col("t") === col("qt") && col("bucket") === col("qbucket") &&
        notSelf(excludeSelf)))
    topK(if (dedup) cands.groupBy(col("q_id"), col("neighbor_id"))
      .agg(max(col("cos")).as("cos")) else cands, k, col("cos").desc)
  }

  /** Generic LSH top-k search over canonical (vid, v, n2) base/query
    * frames — the (bits, tables, Hamming-probes) production dial as ONE
    * search under every LSH query form. The base is signed once (a
    * tables-element struct-array explode, lazily cached: it feeds the
    * guard and the candidate join), over-cap buckets are dropped, and
    * each query probes its own bucket plus, with `hamming = 1`, the
    * `bits` buckets one sign flip away (Lv et al., "Multi-Probe LSH",
    * VLDB 2007) — probes cost query work where tables cost index memory.
    * A query whose own bucket is over the cap probes nothing from that
    * table, not even its Hamming neighbours: the oracle draws queries
    * from the guarded index. `bits = 0` degenerates to exact brute-force
    * search (single bucket 0) — the spec law anchoring the index to the
    * exact baseline. Vectors must be 64-dim (the engine's fixed
    * hyperplane family); the query side broadcasts (tables ×
    * (1 + bits·hamming) probe rows per query). */
  private[graft] def lshSearch(base: DataFrame, queries: DataFrame,
      k: Int, bits: Int, tables: Int, hamming: Int, cap: Long,
      excludeSelf: Boolean = true): DataFrame = {
    require(bits >= 0 && bits <= 32, s"bits out of range: $bits")
    require(tables > 0, s"tables must be positive: $tables")
    require(hamming >= 0 && hamming <= 1, s"hamming ∈ {0, 1}: $hamming")
    def signed(df: DataFrame) =
      lshSigned(df.select(col("vid"), col("v"), col("n2")), bits, tables)
    val sig = signed(base).trackedPersist()
    val bucketKey = Seq("t", "bucket")
    val hot = HotKeys.census(sig, bucketKey, cap)
    def guarded(df: DataFrame) = HotKeys.divert(df, hot, bucketKey)._1
    val flips = lit(0L) +:
      (if (hamming >= 1) (0 until bits).map(b => lit(1L << b)) else Nil)
    val probes = guarded(signed(queries))
      .select(col("vid").as("q_id"), col("v").as("qv"), col("n2").as("qn2"),
        col("t").as("qt"), col("bucket").as("qb0"),
        explode(array(flips: _*)).as("flip"))
      .select(col("q_id"), col("qv"), col("qn2"), col("qt"),
        col("qb0").bitwiseXOR(col("flip")).as("qbucket"))
    lshRank(guarded(sig), probes, k, dedup = tables > 1, excludeSelf)
  }

  /** LSH-bucketed approximate nearest neighbors: 6 random-hyperplane sign
    * bits (wider at real scale — bits sized so buckets hold ~n/2^bits
    * candidates) form a bucket id; candidates are bucket-mates only,
    * ranked by exact cosine, top-3 per query. The bucket join is an
    * equi-join — at 100 TB each bucket holds ~n/2^16 vectors and no
    * cross-bucket pair is ever considered (vs the O(n·q) brute scan). */
  def annLsh(s: SparkSession, dir: String): DataFrame =
    annLshAt(s, dir, LSH_BITS, tables = 1, hamming = 0)

  /** [[lshSearch]] on the test corpus at the oracle's cap, top-3. */
  private def annLshAt(s: SparkSession, dir: String, bits: Int,
      tables: Int, hamming: Int): DataFrame = {
    val base = corpus(s, dir)
    ids(lshSearch(base, testQueries(base), 3, bits, tables, hamming,
      AnnBucketCap))
  }

  /** [[annLsh]] served FROM A PERSISTED INDEX — the [[annPqServed]]
    * build-once/serve-many contract on the LSH axis: the guarded
    * (vid, bucket) table — 16 bytes per vector, the whole index —
    * is written to parquet inside a deferred sink→source stage and read
    * back for serving; candidate vectors are fetched by id equi-join
    * against the live vector table (the posting-fetch a real serving
    * tier does) and ranked as in the live build. The oracle is
    * DELIBERATELY the [[annLsh]] SQL — persistence must not change a
    * row, and the hash gate proves it. */
  def annLshServed(s: SparkSession, dir: String): DataFrame = {
    val out = graft.core.Scratch.dir("lshidx", dir)
    val idx = graft.plans.DeferredIngest(s, "vid BIGINT, bucket BIGINT") {
      val sig = lshSigned(corpus(s, dir), LSH_BITS).trackedPersist()
      val key = Seq("t", "bucket")
      HotKeys.divert(sig, HotKeys.census(sig, key, AnnBucketCap), key)._1
        .select(col("vid"), col("bucket"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out).select(col("vid"), col("bucket"))
    }
    val live = corpus(s, dir).withColumnRenamed("vid", "lid")
    val index = Caches.tracked(
      idx.join(live, col("vid") === col("lid")).drop("lid"))
      .withColumn("t", lit(0L))
    val probes = testQueries(index).select(col("vid").as("q_id"),
      col("v").as("qv"), col("n2").as("qn2"), col("t").as("qt"),
      col("bucket").as("qbucket"))
    ids(lshRank(index, probes, 3, dedup = false, excludeSelf = true))
  }

  private def annLshSqlFor(bits: Int) =
    s"""WITH iv AS (
      |  SELECT vec_id, $ivecSql AS v FROM embeddings),
      |n AS (
      |  SELECT vec_id, v, list_sum([v[i]*v[i] for i in range(1,${DIM + 1})]) AS n2 FROM iv),
      |bits AS (
      |  SELECT vec_id, t.b,
      |    list_sum([(CAST('0x' || substring(md5(t.b::VARCHAR || '_' || i::VARCHAR),1,15) AS BIGINT) % 2001 - 1000) * v[i]
      |              for i in range(1,${DIM + 1})]) AS d
      |  FROM n CROSS JOIN range($bits) t(b)),
      |bk AS (
      |  SELECT vec_id, SUM(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS bucket
      |  FROM bits GROUP BY vec_id),
      |okb AS (SELECT bucket FROM bk GROUP BY bucket HAVING COUNT(*) <= $AnnBucketCap),
      |nv AS (SELECT n.vec_id, v, n2, bucket
      |       FROM n JOIN bk ON n.vec_id = bk.vec_id JOIN okb USING (bucket)),
      |q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2, bucket AS qbucket FROM nv WHERE vec_id < 20),
      |c AS (
      |  SELECT q_id, vec_id,
      |    CAST(list_sum([v[i]*qv[i] for i in range(1,${DIM + 1})]) AS DOUBLE)
      |      / sqrt(CAST(n2 AS DOUBLE)) / sqrt(CAST(qn2 AS DOUBLE)) AS cos
      |  FROM nv JOIN q ON bucket = qbucket AND vec_id <> q_id)
      |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id FROM (
      |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM c) t WHERE rank <= 3""".stripMargin

  private val annLshSql = annLshSqlFor(LSH_BITS)

  // ------------------------------------------------------ LSH bits axis

  /** The wide-signature bit count demonstrated at test scale. Production
    * sizes bits so buckets hold ~n/2^bits candidates (16+ bits at 100 TB);
    * doubling 6 → 12 here shows the occupancy/recall trade moving the
    * right way on a real corpus. */
  private val LSH_BITS_WIDE = 12

  /** Single-table LSH ANN at [[LSH_BITS_WIDE]] bits — the BITS axis of
    * the (bits, tables) dial (SURVEY §10's "6 bits at sf0.1 → 16+ at
    * 100 TB"), demonstrated rather than asserted: [[lshOccupancy]]
    * censuses how mean bucket occupancy falls ∝ 2^-bits while
    * single-table recall falls with it — the recall [[annLshMulti]]'s
    * table union buys back. The first six hyperplanes ARE the [[annLsh]]
    * signature, so each 12-bit bucket refines a 6-bit one. The
    * reference's analogous load-balance knob is the hashed-boundary
    * partition count (`HashedBoundaryListPartitionFunction.cc:9-33`). */
  def annLshWide(s: SparkSession, dir: String): DataFrame =
    annLshAt(s, dir, LSH_BITS_WIDE, tables = 1, hamming = 0)

  private val annLshWideSql = annLshSqlFor(LSH_BITS_WIDE)

  // ------------------------------------------------- multi-probe LSH ANN

  /** Hamming-1 multi-probe LSH ANN (Lv et al., "Multi-Probe LSH: Efficient
    * Indexing for High-Dimensional Similarity Search", VLDB 2007): ONE
    * 6-bit table — the exact [[annLsh]] index — but each query also probes
    * the [[LSH_BITS]] buckets at Hamming distance 1 from its own (one sign
    * bit flipped). A near neighbor that lands across a single hyperplane
    * from the query is recovered without building more tables: the recall
    * repair [[annLshMulti]] buys with 4× index memory, bought here with
    * probe fan-out instead — the production trade when index memory is the
    * constraint (probes cost query work, tables cost RAM; real deployments
    * tune both).
    *
    * Scale shape: the probe explosion rides the BROADCAST query side
    * (queries × (bits+1) rows — metadata-sized at any corpus); the index
    * side is the same guarded signed frame annLsh joins, scanned once.
    * Sign-LSH buckets are disjoint, so multi-probe candidates never
    * duplicate and need no dedup agg (unlike the multi-table union). */
  def annLshMultiProbe(s: SparkSession, dir: String): DataFrame =
    annLshAt(s, dir, LSH_BITS, tables = 1, hamming = 1)

  private val annLshMultiProbeSql =
    s"""WITH iv AS (
      |  SELECT vec_id, $ivecSql AS v FROM embeddings),
      |n AS (
      |  SELECT vec_id, v, list_sum([v[i]*v[i] for i in range(1,${DIM + 1})]) AS n2 FROM iv),
      |bits AS (
      |  SELECT vec_id, t.b,
      |    list_sum([(CAST('0x' || substring(md5(t.b::VARCHAR || '_' || i::VARCHAR),1,15) AS BIGINT) % 2001 - 1000) * v[i]
      |              for i in range(1,${DIM + 1})]) AS d
      |  FROM n CROSS JOIN range($LSH_BITS) t(b)),
      |bk AS (
      |  SELECT vec_id, SUM(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS bucket
      |  FROM bits GROUP BY vec_id),
      |okb AS (SELECT bucket FROM bk GROUP BY bucket HAVING COUNT(*) <= $AnnBucketCap),
      |nv AS (SELECT n.vec_id, v, n2, bucket
      |       FROM n JOIN bk ON n.vec_id = bk.vec_id JOIN okb USING (bucket)),
      |q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2, bucket AS qbucket FROM nv WHERE vec_id < 20),
      |probes AS (
      |  SELECT q_id, qv, qn2, xor(qbucket, f.f) AS pbucket
      |  FROM q CROSS JOIN (SELECT unnest([CAST(0 AS BIGINT)] ||
      |    [CAST(1 AS BIGINT) << b for b in range($LSH_BITS)]) AS f) f),
      |c AS (
      |  SELECT q_id, vec_id,
      |    CAST(list_sum([v[i]*qv[i] for i in range(1,${DIM + 1})]) AS DOUBLE)
      |      / sqrt(CAST(n2 AS DOUBLE)) / sqrt(CAST(qn2 AS DOUBLE)) AS cos
      |  FROM nv JOIN probes ON bucket = pbucket AND vec_id <> q_id)
      |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id FROM (
      |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM c) t WHERE rank <= 3""".stripMargin

  // ------------------------------------------------- product quantization

  /** Subspace count, dims per subspace, centroids per codebook. 8×8 over
    * 64 dims with 16 centroids = 8 nibble codes (4 bytes) per vector —
    * a 64× compression of the 256-byte float vector, the memory ratio
    * PQ deployments run for. */
  private val PQ_M = 8
  private val PQ_SUB = 8
  private val PQ_K = 16

  /** Product-quantization ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011) — the remaining piece of the
    * production ANN stack next to LSH (bits/tables/probes) and IVF
    * (cells/probes/training): vectors compress to [[PQ_M]] codebook codes
    * (one per [[PQ_SUB]]-dim subspace, [[PQ_K]] centroids each, codebook =
    * the subvectors of the 16 lowest-id pivot vectors, the untrained-seed
    * convention [[annIvf]] uses), and queries score candidates by
    * asymmetric distance (ADC): a per-query LUT of exact subspace
    * distances to every centroid, summed over the candidate's 8 codes —
    * 8 integer adds per candidate instead of 64 multiplies. Integer-exact
    * end to end, so the oracle replays encode+LUT+rank bit-for-bit.
    *
    * Scale shape: the codebook is PQ_M×PQ_K subvectors — broadcast at any
    * corpus size; encoding is scan-local against it (the fused
    * per-subspace argmin of [[nearestAssign]], no shuffle);
    * the LUT is (queries × PQ_M × PQ_K) rows — metadata-sized, broadcast;
    * the ADC sum is a map-side-partial agg of 8 rows per (query,
    * candidate). At 100 TB the serving scan reads 4-byte codes, not
    * 256-byte vectors — the bandwidth win that makes exhaustive ADC scans
    * viable where float scans are not; composing with the IVF cell filter
    * (scan only probed cells) is the same join with `cell` added to the
    * code key ([[annIvfPq]]). */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    val base = corpus(s, dir)
    ids(pqSearch(base, testQueries(base), pqPivots, rounds = 0, k = 3))
  }

  private val annPqSql =
    s"""WITH iv AS (
      |  SELECT vec_id, $ivecSql AS v FROM embeddings),
      |sv AS (
      |  SELECT vec_id, m.m AS m, v[m.m*$PQ_SUB+1 : m.m*$PQ_SUB+$PQ_SUB] AS vm
      |  FROM iv CROSS JOIN range($PQ_M) m(m)),
      |cb AS (SELECT m AS cm, vec_id AS cid, vm AS cv FROM sv WHERE vec_id < $PQ_K),
      |dists AS (
      |  SELECT sv.vec_id, sv.m, cb.cid,
      |    list_sum([(vm[i]-cv[i])*(vm[i]-cv[i]) for i in range(1,${PQ_SUB + 1})]) AS dist
      |  FROM sv JOIN cb ON sv.m = cb.cm),
      |codes AS (
      |  SELECT vec_id, m, cid AS code FROM (
      |    SELECT vec_id, m, cid,
      |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn
      |    FROM dists) t WHERE rn = 1),
      |lut AS (
      |  SELECT vec_id AS q_id, m AS lm, cid AS lcid, dist AS lutd
      |  FROM dists WHERE vec_id < 20),
      |adc AS (
      |  SELECT q_id, c.vec_id, CAST(SUM(lutd) AS BIGINT) AS adc
      |  FROM codes c JOIN lut l ON c.m = l.lm AND c.code = l.lcid
      |  GROUP BY q_id, c.vec_id),
      |ranked AS (
      |  SELECT q_id, vec_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rank
      |  FROM adc WHERE vec_id <> q_id)
      |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
      |FROM ranked WHERE rank <= 3""".stripMargin

  /** Per-(row, subspace) views (…, m, vm) of the vector `v`; every other
    * column of `df` is kept as a key. */
  private def pqSub(df: DataFrame): DataFrame = {
    val keys = df.columns.filter(_ != "v").map(col)
    df.select(keys :+ posexplode(expr(
      s"transform(sequence(0, ${PQ_M - 1}), m -> slice(v, m * $PQ_SUB + 1, $PQ_SUB))")): _*)
      .select(keys :+ col("pos").as("m") :+ col("col").as("vm"): _*)
  }

  private def asCodebook(sv: DataFrame): DataFrame =
    sv.select(col("m"), col("vid").as("cid"), col("vm").as("cv"))

  /** The test corpus' seed codebook (m, cid, cv): the subvectors of its
    * [[PQ_K]] lowest (dense) ids. */
  private def pqPivots(sv: DataFrame): DataFrame =
    asCodebook(sv.filter(col("vid") < PQ_K))

  /** A seed codebook from the `n` lowest ids of `base` (sort-limit, so
    * sparse ids are safe) — the `Vectors.pqTopK` seed. */
  private[graft] def pqLowest(base: DataFrame, n: Int): DataFrame => DataFrame =
    sv => asCodebook(sv.join(broadcast(base.orderBy(col("vid")).limit(n)
      .select(col("vid").as("pivot"))), col("vid") === col("pivot")))

  /** Nearest-centroid codes (…, m, vm, code) of the subvector rows `sv`
    * against codebook `cb` — the compressed index. The argmin is
    * [[nearestAssign]] keyed on the subspace: each subspace's codebook
    * folds to one sorted array, so a (vector, subspace) row runs K fused
    * distances in place (ties on cid) with no n·M·K row frame and no
    * shuffle. The subvector `vm` stays on the row for the Lloyd update. */
  private def pqEncode(sv: DataFrame, cb: DataFrame): DataFrame =
    nearestAssign(sv, cb, "code", vec = "vm", keys = Seq("m"))

  /** (vid, m, code) nibble codes of the test corpus under the pivot
    * codebook — the index [[annPqServed]] persists (spec surface). */
  private[graft] def pqCodes(s: SparkSession, dir: String): DataFrame = {
    val sv = pqSub(corpus(s, dir).select(col("vid"), col("v")))
    pqEncode(sv, pqPivots(sv)).select(col("vid"), col("m"), col("code"))
  }

  /** ADC candidates (q_id, neighbor_id, adc): the LUT rows (…, m, code,
    * lutd) of every query subvector row `qsv` against codebook `cb`
    * broadcast into the code rows on every column the two share (m and
    * code, plus cell for IVF-PQ), and each candidate's M looked-up
    * distances summed. LUT distances are slice-L2² on the fused kernel
    * (ZipWith is CodegenFallback). */
  private def pqAdc(codes: DataFrame, qsv: DataFrame, cb: DataFrame,
      excludeSelf: Boolean): DataFrame = {
    val keys = qsv.columns.filter(_ != "vm").map(col)
    val lut = qsv.join(broadcast(cb), "m")
      .select(keys :+ col("cid").as("code") :+
        l2s(col("vm"), col("cv")).as("lutd"): _*)
    codes.join(broadcast(lut), codes.columns.filter(lut.columns.contains).toSeq)
      .groupBy(col("q_id"), col("vid"))
      .agg(sum(col("lutd")).as("adc"))
      .filter(notSelf(excludeSelf))
      .select(col("q_id"), col("vid").as("neighbor_id"), col("adc"))
  }

  /** The serving half of the PQ pipeline: ADC top-k of `codes` for
    * `queries` against codebook `cb`; with `rerank` > 0 the ADC
    * top-max(rerank, k) shortlist is re-ranked by exact cosine
    * ([[exactRerank]]) and the score column is `cos` instead of `adc`. */
  private def pqRank(codes: DataFrame, cb: DataFrame, base: DataFrame,
      queries: DataFrame, k: Int, rerank: Int,
      excludeSelf: Boolean): DataFrame = {
    val adc = pqAdc(codes,
      pqSub(queries.select(col("vid").as("q_id"), col("v"))), cb, excludeSelf)
    if (rerank > 0)
      exactRerank(topK(adc, math.max(rerank, k), col("adc")), base, queries, k)
    else topK(adc, k, col("adc"))
  }

  /** Generic PQ/ADC top-k search over canonical (vid, v, n2) base/query
    * frames — the one pipeline under every PQ form: subvectors →
    * codebook (`seed`, refined by `rounds` integer-exact Lloyd updates,
    * [[lloydStep]] per subspace) → codes → per-query LUT → ADC top-k →
    * optional exact re-rank ([[pqRank]]). The production dials are
    * arguments: seed size (256 = the k* = 2⁸ the PQ paper standardizes
    * on; the code widens nibble → byte; [[graft.api.Tuning.pqCentroids]]
    * picks it from corpus size), rounds, and `rerank`. The PLANS do not
    * change with the dials — only the broadcast tables grow (codebook
    * M × centroids subvectors, LUT queries × M × centroids rows, ≈ 0.5 MB
    * per 20 queries at 256). Training is integer-exact with ties on
    * (dist, cid), so runs are deterministic on any cluster layout. The
    * subvectors and each round's codebook are cached: the tables are
    * tiny but anchor a corpus-sized assignment pass, and an uncached
    * chain would recompute round r−1 inside round r. `queries` must be
    * broadcast-sized (the LUT and shortlist key on it). Recall at the
    * 256-centroid dial is gated as ann_pq_256* next to the 16-centroid
    * keys (BenchGate). */
  private[graft] def pqSearch(base: DataFrame, queries: DataFrame,
      seed: DataFrame => DataFrame, rounds: Int, k: Int, rerank: Int = 0,
      excludeSelf: Boolean = true): DataFrame = {
    val sv = Caches.tracked(pqSub(base.select(col("vid"), col("v"))))
    val cb = (0 until rounds).foldLeft(seed(sv)) { (c, _) =>
      Caches.tracked(lloydStep(pqEncode(sv, c), "vm", "m", "code")
        .withColumnRenamed("code", "cid"))
    }
    pqRank(pqEncode(sv, cb), cb, base, queries, k, rerank, excludeSelf)
  }

  /** [[annPq]] served FROM A PERSISTED INDEX: the nibble codes are
    * written to parquet — the 4-bytes-per-vector index file a build job
    * ships — inside a deferred sink→source stage
    * ([[graft.plans.DeferredIngest]], construction job-free) and read
    * back for serving; the query-side LUT still computes from live
    * vectors. This is the build-once/serve-many deployment shape: the
    * index is an ordinary TABLE (partitionable, replaceable, scannable
    * at cluster width), not resident driver state. The oracle is
    * DELIBERATELY the [[annPq]] SQL — persistence must not change a
    * single row, and the hash gate proves it. */
  def annPqServed(s: SparkSession, dir: String): DataFrame = {
    val out = graft.core.Scratch.dir("pqidx", dir)
    val codes = graft.plans.DeferredIngest(s,
        "vid BIGINT, m INT, code BIGINT") {
      pqCodes(s, dir).write.mode("overwrite").parquet(out)
      s.read.parquet(out).select(col("vid"), col("m"), col("code"))
    }
    val base = corpus(s, dir)
    val cb = pqPivots(pqSub(base.select(col("vid"), col("v"))))
    ids(pqRank(codes, cb, base, testQueries(base), 3, rerank = 0,
      excludeSelf = true))
  }

  /** PQ with TRAINED codebooks — the [[annIvf]] → [[annIvfTrained]] lift
    * applied to the quantization axis: the pivot codebooks of [[annPq]]
    * are refined by ONE integer-exact Lloyd update per subspace (the
    * k-means step real PQ training iterates), then vectors re-encode and
    * queries score by ADC against the refined centroids; the oracle
    * replays train+encode+LUT+rank bit-for-bit. Scale shape: [[annPq]]
    * plus one (PQ_M×PQ_K×PQ_SUB)-row training agg whose table still
    * broadcasts at any corpus size. */
  def annPqTrained(s: SparkSession, dir: String): DataFrame = {
    val base = corpus(s, dir)
    ids(pqSearch(base, testQueries(base), pqPivots, rounds = 1, k = 3))
  }

  private val annPqTrainedSql =
    s"""WITH iv AS (
      |  SELECT vec_id, $ivecSql AS v FROM embeddings),
      |svl AS (
      |  SELECT vec_id, m.m AS m, i.i AS i, v[m.m*$PQ_SUB + i.i] AS x
      |  FROM iv CROSS JOIN range($PQ_M) m(m) CROSS JOIN range(1, ${PQ_SUB + 1}) i(i)),
      |cb0 AS (SELECT m, vec_id AS cid, i, x AS cx FROM svl WHERE vec_id < $PQ_K),
      |d0 AS (
      |  SELECT s.vec_id, s.m, c.cid, SUM((s.x - c.cx)*(s.x - c.cx)) AS dist
      |  FROM svl s JOIN cb0 c ON s.m = c.m AND s.i = c.i
      |  GROUP BY s.vec_id, s.m, c.cid),
      |codes0 AS (
      |  SELECT vec_id, m, cid AS code FROM (
      |    SELECT vec_id, m, cid,
      |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn
      |    FROM d0) t WHERE rn = 1),
      |cb1 AS (
      |  SELECT s.m, c.code AS cid, s.i, SUM(s.x) // COUNT(*) AS cx
      |  FROM svl s JOIN codes0 c ON s.vec_id = c.vec_id AND s.m = c.m
      |  GROUP BY s.m, c.code, s.i),
      |d1 AS (
      |  SELECT s.vec_id, s.m, c.cid, SUM((s.x - c.cx)*(s.x - c.cx)) AS dist
      |  FROM svl s JOIN cb1 c ON s.m = c.m AND s.i = c.i
      |  GROUP BY s.vec_id, s.m, c.cid),
      |codes1 AS (
      |  SELECT vec_id, m, cid AS code FROM (
      |    SELECT vec_id, m, cid,
      |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn
      |    FROM d1) t WHERE rn = 1),
      |lut AS (
      |  SELECT vec_id AS q_id, m AS lm, cid AS lcid, dist AS lutd
      |  FROM d1 WHERE vec_id < 20),
      |adc AS (
      |  SELECT q_id, c.vec_id, CAST(SUM(lutd) AS BIGINT) AS adc
      |  FROM codes1 c JOIN lut l ON c.m = l.lm AND c.code = l.lcid
      |  GROUP BY q_id, c.vec_id),
      |ranked AS (
      |  SELECT q_id, vec_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rank
      |  FROM adc WHERE vec_id <> q_id)
      |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
      |FROM ranked WHERE rank <= 3""".stripMargin

  /** IVF+PQ with RESIDUAL encoding (Jégou et al. §V — the FAISS IVFPQ
    * index): the coarse quantizer assigns every vector to a cell
    * ([[annIvf]]'s centers), PQ codebooks quantize the RESIDUAL
    * v − center(cell) — residuals concentrate near zero, which is what
    * makes 16 centroids per subspace enough — and queries probe their 2
    * nearest cells, building a SEPARATE ADC LUT per probed cell from the
    * query's residual against THAT center. Candidates are scored only
    * inside probed cells (the IVF pruning) by 8 integer LUT adds (the PQ
    * compression), and the ADC top-[[PQ_RERANK]] shortlist is re-ranked
    * by exact cosine: the full composed production serving path on the
    * shared encode/ADC/re-rank steps, integer-exact so the oracle
    * replays it bit-for-bit.
    *
    * Scale shape: [[annIvf]]'s pruning (work ∝ probed cells, not corpus)
    * × [[annPq]]'s bandwidth (4-byte codes, broadcast codebooks + LUTs);
    * the candidate join carries (cell, m, code) keys only. Per-candidate
    * dedup is structural — a vector lives in ONE cell. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val base = Caches.tracked(corpus(s, dir))
    val queries = testQueries(base)
    val cc = firstCenters(base, 8)
    def residual(v: String) = zip_with(col(v), col("cv"), (x, y) => x - y)
    // coarse assignment on the fused kernel, then ONE broadcast
    // equi-join on the winning cell recovers that center for the
    // residual — n×1 rows, the ivfDriftCensusOf shape; referenced twice
    // (codebook filter + encode join), so cached
    val sv = pqSub(nearestAssign(base.select(col("vid"), col("v")), cc, "cell")
      .join(broadcast(cc), col("cell") === col("cid"))
      .select(col("vid"), col("cell"), residual("v").as("v")))
      .trackedPersist()
    val cb = pqPivots(sv)
    // per probed cell, the query's residual against THAT center
    val qsv = pqSub(ivfProbes(queries, cc, 2)
      .select(col("q_id"), col("neighbor_id").as("cell"),
        residual("qv").as("v")))
    val adc = pqAdc(pqEncode(sv, cb), qsv, cb, excludeSelf = true)
    ids(exactRerank(topK(adc, PQ_RERANK, col("adc")), base, queries, 3))
  }

  /** ADC shortlist size the exact refine pass re-ranks. */
  private val PQ_RERANK = 10

  private val annIvfPqSql =
    s"""WITH iv AS (
      |  SELECT vec_id, $ivecSql AS v FROM embeddings),
      |cc AS (SELECT vec_id AS ccid, v AS ccv FROM iv WHERE vec_id < 8),
      |dc AS (
      |  SELECT i.vec_id, cc.ccid,
      |    list_sum([(v[d]-ccv[d])*(v[d]-ccv[d]) for d in range(1,${DIM + 1})]) AS dist
      |  FROM iv i CROSS JOIN cc),
      |assigned AS (
      |  SELECT vec_id, ccid AS cell FROM (
      |    SELECT vec_id, ccid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, ccid) AS rn
      |    FROM dc) t WHERE rn = 1),
      |resid AS (
      |  SELECT i.vec_id, a.cell, [v[d] - ccv[d] for d in range(1,${DIM + 1})] AS r
      |  FROM iv i JOIN assigned a USING (vec_id) JOIN cc ON a.cell = cc.ccid),
      |svl AS (
      |  SELECT vec_id, cell, m.m AS m, i.i AS i, r[m.m*$PQ_SUB + i.i] AS x
      |  FROM resid CROSS JOIN range($PQ_M) m(m) CROSS JOIN range(1, ${PQ_SUB + 1}) i(i)),
      |cb AS (SELECT m, vec_id AS cid, i, x AS cx FROM svl WHERE vec_id < $PQ_K),
      |d0 AS (
      |  SELECT s.vec_id, s.cell, s.m, c.cid, SUM((s.x - c.cx)*(s.x - c.cx)) AS dist
      |  FROM svl s JOIN cb c ON s.m = c.m AND s.i = c.i
      |  GROUP BY s.vec_id, s.cell, s.m, c.cid),
      |codes AS (
      |  SELECT vec_id, cell, m, cid AS code FROM (
      |    SELECT vec_id, cell, m, cid,
      |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn
      |    FROM d0) t WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS q_id, ccid AS qcell FROM (
      |    SELECT vec_id, ccid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, ccid) AS rn
      |    FROM dc WHERE vec_id < 20) t WHERE rn <= 2),
      |qresid AS (
      |  SELECT p.q_id, p.qcell, [v[d] - ccv[d] for d in range(1,${DIM + 1})] AS r
      |  FROM probes p JOIN iv ON iv.vec_id = p.q_id JOIN cc ON p.qcell = cc.ccid),
      |qsvl AS (
      |  SELECT q_id, qcell, m.m AS m, i.i AS i, r[m.m*$PQ_SUB + i.i] AS x
      |  FROM qresid CROSS JOIN range($PQ_M) m(m) CROSS JOIN range(1, ${PQ_SUB + 1}) i(i)),
      |lut AS (
      |  SELECT q.q_id, q.qcell, q.m, c.cid AS lcid, SUM((q.x - c.cx)*(q.x - c.cx)) AS lutd
      |  FROM qsvl q JOIN cb c ON q.m = c.m AND q.i = c.i
      |  GROUP BY q.q_id, q.qcell, q.m, c.cid),
      |adc AS (
      |  SELECT l.q_id, cd.vec_id, CAST(SUM(lutd) AS BIGINT) AS adc
      |  FROM codes cd JOIN lut l
      |    ON cd.cell = l.qcell AND cd.m = l.m AND cd.code = l.lcid
      |  GROUP BY l.q_id, cd.vec_id),
      |short AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS arn
      |    FROM adc WHERE vec_id <> q_id) t WHERE arn <= 10),
      |n2t AS (
      |  SELECT vec_id, v, list_sum([v[d]*v[d] for d in range(1,${DIM + 1})]) AS n2
      |  FROM iv),
      |rr AS (
      |  SELECT s.q_id, s.vec_id,
      |    CAST(list_sum([a.v[d]*q.v[d] for d in range(1,${DIM + 1})]) AS DOUBLE)
      |      / sqrt(CAST(a.n2 AS DOUBLE)) / sqrt(CAST(q.n2 AS DOUBLE)) AS cos
      |  FROM short s JOIN n2t a ON s.vec_id = a.vec_id
      |               JOIN n2t q ON s.q_id = q.vec_id),
      |ranked AS (
      |  SELECT q_id, vec_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM rr)
      |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
      |FROM ranked WHERE rank <= 3""".stripMargin

  /** Bucket-occupancy census per bit width — the telemetry behind the
    * bits dial: at b bits a corpus of n vectors spreads over ≤ 2^b
    * buckets, so mean occupancy must fall ∝ 2^-bits (6 → 12 bits ≈ 64×
    * here) while max occupancy exposes residual skew the hot-bucket
    * guard would absorb. One row per bit width; exact integer census
    * with a single final double divide, so the oracle matches bit-for-bit. */
  def lshOccupancy(s: SparkSession, dir: String): DataFrame = {
    val all = Caches.tracked(corpus(s, dir))
    occupancy(all, LSH_BITS).unionByName(occupancy(all, LSH_BITS_WIDE))
  }

  /** One occupancy census row of `all` signed at `bits`. */
  private def occupancy(all: DataFrame, bits: Int): DataFrame =
    lshSigned(all, bits)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("n")).as("n_vectors"),
        max(col("n")).as("max_occupancy"))
      .select(lit(bits.toLong).as("bits"), col("n_buckets"),
        col("n_vectors"),
        (col("n_vectors").cast("double") / col("n_buckets").cast("double"))
          .as("mean_occupancy"),
        col("max_occupancy"))

  private def lshOccSqlFor(bits: Int) =
    s"""SELECT CAST($bits AS BIGINT) AS bits, COUNT(*) AS n_buckets,
      |  CAST(SUM(n) AS BIGINT) AS n_vectors,
      |  CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_occupancy,
      |  MAX(n) AS max_occupancy FROM (
      |  SELECT bucket, COUNT(*) AS n FROM (
      |    SELECT vec_id, SUM(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS bucket
      |    FROM (
      |      SELECT vec_id, t.b,
      |        list_sum([(CAST('0x' || substring(md5(t.b::VARCHAR || '_' || i::VARCHAR),1,15) AS BIGINT) % 2001 - 1000) * v[i]
      |                  for i in range(1,${DIM + 1})]) AS d
      |      FROM n CROSS JOIN range($bits) t(b)) bits_$bits
      |    GROUP BY vec_id) bk_$bits
      |  GROUP BY bucket) occ_$bits""".stripMargin

  private val lshOccupancySql =
    s"""WITH iv AS (
      |  SELECT vec_id, $ivecSql AS v FROM embeddings),
      |n AS (SELECT vec_id, v FROM iv)
      |${lshOccSqlFor(LSH_BITS)}
      |UNION ALL
      |${lshOccSqlFor(LSH_BITS_WIDE)}""".stripMargin

  // ----------------------------------------------------- multi-table LSH

  private val LSH_TABLES = 4

  /** Multi-table LSH ANN: [[LSH_TABLES]] independent 6-bit hyperplane
    * indexes (table t uses hyperplanes t·6+b, so table 0 IS the
    * [[annLsh]] index), candidates unioned across tables and deduped,
    * then exact-cosine top-3. THE standard recall repair for sign-bit
    * LSH: a true neighbor is missed only if it disagrees with the query
    * in EVERY table (miss rate (1−p^6)^4 vs 1−p^6), which is what the
    * bench recall telemetry shows ann_lsh leaving on the table. Extra
    * cost is a constant factor T in signature volume and candidate
    * generation — the classic recall/work dial, tuned by (bits, tables).
    *
    * Plan shape: all T signatures come from ONE scan (a T-element
    * struct-array explode), the per-(table, bucket) guard and bucket
    * equi-join work exactly as single-table, and the cross-table dedup
    * is a (q, candidate) max-agg carrying 8-byte cosines — never vector
    * payloads. At 100 TB one would join bucket ids back to a vector
    * store instead of carrying `v` through the explode; the bucket
    * structure is unchanged. */
  def annLshMulti(s: SparkSession, dir: String): DataFrame =
    annLshAt(s, dir, LSH_BITS, LSH_TABLES, hamming = 0)

  private val annLshMultiSql =
    s"""WITH iv AS (
      |  SELECT vec_id, $ivecSql AS v FROM embeddings),
      |n AS (
      |  SELECT vec_id, v, list_sum([v[i]*v[i] for i in range(1,${DIM + 1})]) AS n2 FROM iv),
      |bits AS (
      |  SELECT vec_id, t.b,
      |    list_sum([(CAST('0x' || substring(md5(t.b::VARCHAR || '_' || i::VARCHAR),1,15) AS BIGINT) % 2001 - 1000) * v[i]
      |              for i in range(1,${DIM + 1})]) AS d
      |  FROM n CROSS JOIN range(${LSH_TABLES * LSH_BITS}) t(b)),
      |bk AS (
      |  SELECT vec_id, b // $LSH_BITS AS t,
      |    SUM(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << (b % $LSH_BITS) ELSE 0 END) AS bucket
      |  FROM bits GROUP BY vec_id, b // $LSH_BITS),
      |okb AS (SELECT t, bucket FROM bk GROUP BY t, bucket HAVING COUNT(*) <= $AnnBucketCap),
      |nv AS (SELECT n.vec_id, v, n2, t, bucket
      |       FROM n JOIN bk ON n.vec_id = bk.vec_id JOIN okb USING (t, bucket)),
      |q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2, t AS qt, bucket AS qbucket FROM nv WHERE vec_id < 20),
      |c AS (
      |  SELECT q_id, vec_id,
      |    MAX(CAST(list_sum([v[i]*qv[i] for i in range(1,${DIM + 1})]) AS DOUBLE)
      |      / sqrt(CAST(n2 AS DOUBLE)) / sqrt(CAST(qn2 AS DOUBLE))) AS cos
      |  FROM nv JOIN q ON t = qt AND bucket = qbucket AND vec_id <> q_id
      |  GROUP BY q_id, vec_id)
      |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id FROM (
      |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM c) t WHERE rank <= 3""".stripMargin

  // -------------------------------------------------------------- IVF ANN

  /** IVF-style approximate nearest neighbors: k=8 coarse cells (seeded
    * from the first 8 vectors), every vector assigned to its nearest cell
    * by exact integer L2; each query probes its `nprobe` nearest cells and
    * ranks only those cells' members by cosine, top-3. At 100 TB the coarse
    * centers broadcast (they are k×dim, tiny), the cell assignment is a
    * map-side argmin, and the probe join is an equi-join on cell id —
    * the classic inverted-file layout as relational plan.
    *
    * `nprobe` is THE production IVF dial (FAISS's `nprobe`): candidate
    * volume — and so query cost — grows ∝ nprobe/k while recall climbs
    * toward exact; at nprobe = k the search degenerates to brute force
    * (SimilaritySpec pins that identity). BenchGate gates recall at
    * nprobe ∈ {1,2,4} plus the candidate-count cost curve so a probe
    * regression moves a gated number, the same stance as the LSH bits
    * axis. */
  private[graft] def annIvfProbes(s: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    val base = corpus(s, dir)
    ids(ivfSearch(base, testQueries(base), firstCenters(base, 8), 3, nprobe))
  }

  /** The shipped default: nprobe=2 of 8 cells. */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    annIvfProbes(s, dir, 2)

  /** The recall end of the nprobe dial: 4 of 8 cells — half the index
    * scanned per query, recall within noise of exact on this corpus. */
  def annIvfNprobe4(s: SparkSession, dir: String): DataFrame =
    annIvfProbes(s, dir, 4)

  /** Each query's `nprobe` nearest centres by exact integer L2: (q_id,
    * rank, neighbor_id = the centre's cid, dist, qv, qn2, cv). A top-n
    * over the queries-sized side only — the fused kernel is argmin-1. */
  private def ivfProbes(queries: DataFrame, centers: DataFrame,
      nprobe: Int): DataFrame =
    topK(qside(queries).join(broadcast(centers))
      .select(col("q_id"), col("cid").as("neighbor_id"),
        l2s(col("qv"), col("cv")).as("dist"), col("qv"), col("qn2"),
        col("cv")), nprobe, col("dist"))

  /** Generic IVF top-k over canonical (vid, v, n2) base/query frames —
    * the (cells, nprobe) production dial under every IVF form. The
    * centre table (cid, cv) is the caller's seed: the first 8 test
    * vectors ([[annIvf]]), the sort-limit lowest ids (`Vectors.ivfTopK`),
    * the in-plan ⌈√n⌉ ([[sqrtNCenters]], ann_ivf_sqrtn) or Lloyd-trained
    * ([[annIvfTrained]]). Base rows assign to their nearest centre on
    * the fused kernel — never an n×cells distance frame, O(n^1.5) rows
    * at the ⌈√n⌉ dial — each query
    * probes its `nprobe` nearest cells ([[ivfProbes]]), and the probed
    * cells' members rank by exact cosine with the exact-search
    * tie-break, so probing every cell IS the brute-force answer row for
    * row (SimilaritySpec and CorpusApiSpec pin that identity). */
  private[graft] def ivfSearch(base: DataFrame, queries: DataFrame,
      centers: DataFrame, k: Int, nprobe: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val assigned = nearestAssign(
      base.select(col("vid"), col("v"), col("n2")), centers, "cell")
    val probes = ivfProbes(queries, centers, nprobe)
      .select(col("q_id"), col("qv"), col("qn2"), col("neighbor_id").as("cell"))
    topK(scored(assigned.join(broadcast(probes), Seq("cell"))
      .filter(notSelf(excludeSelf))), k, col("cos").desc)
  }

  private[queries] def annIvfSqlFor(nprobe: Int): String =
    s"""WITH iv AS (
      |  SELECT vec_id, $ivecSql AS v FROM embeddings),
      |n AS (
      |  SELECT vec_id, v, list_sum([v[i]*v[i] for i in range(1,${DIM + 1})]) AS n2 FROM iv),
      |c AS (SELECT vec_id AS cid, v AS cv FROM n WHERE vec_id < 8),
      |d AS (
      |  SELECT n.vec_id, n.v, n.n2, c.cid,
      |    list_sum([(v[i]-cv[i])*(v[i]-cv[i]) for i in range(1,${DIM + 1})]) AS dist
      |  FROM n CROSS JOIN c),
      |assigned AS (
      |  SELECT vec_id, v, n2, cid AS cell FROM (
      |    SELECT vec_id, v, n2, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM d) t WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS q_id, v AS qv, n2 AS qn2, cid AS cell FROM (
      |    SELECT vec_id, v, n2, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM d WHERE vec_id < 20) t WHERE rn <= $nprobe),
      |cand AS (
      |  SELECT q_id, a.vec_id,
      |    CAST(list_sum([a.v[i]*p.qv[i] for i in range(1,${DIM + 1})]) AS DOUBLE)
      |      / sqrt(CAST(a.n2 AS DOUBLE)) / sqrt(CAST(p.qn2 AS DOUBLE)) AS cos
      |  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.q_id)
      |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id FROM (
      |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM cand) t WHERE rank <= 3""".stripMargin

  private[queries] val annIvfSql = annIvfSqlFor(2)

  /** Cost side of the nprobe dial: mean candidates scored per query at
    * nprobe ∈ {1,2,4}, one row per level. Recall alone can hide a cost
    * regression (probing every cell is recall 1.0 at brute-force price);
    * candidates-per-query is the number an inverted file exists to keep
    * small. One plan: every candidate row is tagged with the probe rank
    * of its cell, the three levels are conditional sums over that same
    * equi-join, and the query count comes from the rank-1 probe rows so
    * a query whose probed cells hold only itself still counts. */
  def ivfProbeCost(s: SparkSession, dir: String): DataFrame = {
    val base = corpus(s, dir)
    val c = firstCenters(base, 8)
    val assigned = nearestAssign(base.select(col("vid"), col("v")), c, "cell")
      .select(col("vid"), col("cell"))
    val probes = ivfProbes(testQueries(base), c, 4)
      .select(col("q_id"), col("rank").as("prn"), col("neighbor_id").as("cell"))
    val nq = probes.filter(col("prn") === 1)
      .agg(count(lit(1)).cast("double").as("nq"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(notSelf(true))
      .agg(
        sum(when(col("prn") <= 1, 1.0).otherwise(0.0)).as("c1"),
        sum(when(col("prn") <= 2, 1.0).otherwise(0.0)).as("c2"),
        sum(when(col("prn") <= 4, 1.0).otherwise(0.0)).as("c4"))
      .crossJoin(broadcast(nq))
      .selectExpr("stack(3, CAST(1 AS BIGINT), coalesce(c1, 0.0D)/nq, " +
        "CAST(2 AS BIGINT), coalesce(c2, 0.0D)/nq, " +
        "CAST(4 AS BIGINT), coalesce(c4, 0.0D)/nq) AS (nprobe, mean_candidates)")
  }

  private val ivfProbeCostSql =
    s"""WITH iv AS (
      |  SELECT vec_id, $ivecSql AS v FROM embeddings),
      |nn AS (
      |  SELECT vec_id, v FROM iv),
      |c AS (SELECT vec_id AS cid, v AS cv FROM nn WHERE vec_id < 8),
      |d AS (
      |  SELECT nn.vec_id, c.cid,
      |    list_sum([(v[i]-cv[i])*(v[i]-cv[i]) for i in range(1,${DIM + 1})]) AS dist
      |  FROM nn CROSS JOIN c),
      |assigned AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM d) t WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS q_id, cid AS cell, rn AS prn FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM d WHERE vec_id < 20) t WHERE rn <= 4),
      |nq AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nq FROM probes WHERE prn = 1),
      |j AS (
      |  SELECT p.q_id, p.prn FROM assigned a
      |  JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.q_id),
      |agg AS (
      |  SELECT
      |    COALESCE(SUM(CASE WHEN prn <= 1 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 0) AS c1,
      |    COALESCE(SUM(CASE WHEN prn <= 2 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 0) AS c2,
      |    COALESCE(SUM(CASE WHEN prn <= 4 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 0) AS c4
      |  FROM j)
      |SELECT CAST(1 AS BIGINT) AS nprobe, c1/nq AS mean_candidates FROM agg CROSS JOIN nq
      |UNION ALL
      |SELECT CAST(2 AS BIGINT) AS nprobe, c2/nq AS mean_candidates FROM agg CROSS JOIN nq
      |UNION ALL
      |SELECT CAST(4 AS BIGINT) AS nprobe, c4/nq AS mean_candidates FROM agg CROSS JOIN nq""".stripMargin

  /** IVF index MAINTENANCE: append a batch of new vectors (vec_id ≥ the
    * in-plan 0.8·max split) to an index whose coarse centers were fixed
    * at build time, WITHOUT retraining — cell assignment is stateless
    * (a map-side argmin against broadcast centers), so appending is
    * exactly the rebuild assignment; what an operator must WATCH is
    * drift, and this census is the retrain trigger: per cell, members
    * and integer-exact summed L2 distance for the resident and arriving
    * populations. A cell whose batch mean distance outgrows its resident
    * mean is collecting vectors the fixed codebook no longer represents
    * — the signal to re-run the Lloyd step (annIvfTrained) and re-shard.
    * The vector-index leg of the maintenance family (MinHash bands, HLL
    * registers, postings segments). */
  def ivfAppend(s: SparkSession, dir: String): DataFrame = {
    // split in-plan, then share the census path with
    // Vectors.ivfDriftCensus — the query and the facade cannot drift
    val all = corpus(s, dir)
    val tagged = all.crossJoin(
      broadcast(all.agg(expr("MAX(vid)*4 DIV 5").as("t"))))
    def side(p: Column) =
      tagged.filter(p).select(col("vid"), col("v"), col("n2"))
    ivfDriftCensusOf(side(col("vid") < col("t")),
      side(col("vid") >= col("t")), cells = 8)
  }

  /** [[ivfAppend]]'s census over arbitrary canonical (vid, v, n2)
    * resident/arriving frames — centers seed from the resident side's
    * `cells` lowest-vid vectors (sort-limit, id-sparse-safe), both
    * populations assign by the same broadcast argmin, and the per-cell
    * census carries the integer-exact distance mass each side
    * contributes. Backs `Vectors.ivfDriftCensus`. */
  private[graft] def ivfDriftCensusOf(resident: DataFrame,
      arriving: DataFrame, cells: Int): DataFrame = {
    require(cells > 0, s"cells must be positive: $cells")
    val c = lowestCenters(resident, cells)
    // both populations assign on the fused kernel (no n×cells frame at
    // caller-chosen center counts), then ONE broadcast equi-join on the
    // winning cell recovers that cell's center so the census distance is
    // computed n×1, not n×cells
    val both = resident.select(col("vid"), col("v"),
        lit(false).as("is_batch"))
      .unionByName(arriving.select(col("vid"), col("v"),
        lit(true).as("is_batch")))
    nearestAssign(both, c, "cell")
      .join(broadcast(c), col("cell") === col("cid"))
      .select(col("vid"), col("is_batch"), col("cell"),
        l2s(col("v"), col("cv")).as("dist"))
      .groupBy(col("cell"))
      .agg(
        sum(when(!col("is_batch"), 1L).otherwise(0L)).as("n_resident"),
        sum(when(col("is_batch"), 1L).otherwise(0L)).as("n_arriving"),
        sum(when(!col("is_batch"), col("dist")).otherwise(0L))
          .as("resident_dist_sum"),
        sum(when(col("is_batch"), col("dist")).otherwise(0L))
          .as("arriving_dist_sum"))
  }

  private val ivfAppendSql =
    s"""WITH iv AS (
      |  SELECT vec_id, $ivecSql AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM iv WHERE vec_id < 8),
      |tt AS (SELECT MAX(vec_id)*4 // 5 AS t FROM embeddings),
      |d AS (
      |  SELECT iv.vec_id, iv.vec_id >= tt.t AS is_batch, c.cid,
      |    list_sum([(v[i]-cv[i])*(v[i]-cv[i]) for i in range(1,${DIM + 1})]) AS dist
      |  FROM iv CROSS JOIN c CROSS JOIN tt),
      |a AS (
      |  SELECT vec_id, is_batch, cid, dist FROM (
      |    SELECT vec_id, is_batch, cid, dist,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM d) x WHERE rn = 1)
      |SELECT cid AS cell,
      |  CAST(SUM(CASE WHEN is_batch THEN 0 ELSE 1 END) AS BIGINT) AS n_resident,
      |  CAST(SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT) AS n_arriving,
      |  CAST(SUM(CASE WHEN is_batch THEN 0 ELSE dist END) AS BIGINT) AS resident_dist_sum,
      |  CAST(SUM(CASE WHEN is_batch THEN dist ELSE 0 END) AS BIGINT) AS arriving_dist_sum
      |FROM a GROUP BY cid""".stripMargin

  /** IVF with a TRAINED coarse quantizer — the full FAISS-style pipeline:
    * k=10 codebook seeded from the first 10 vectors, one integer-exact
    * Lloyd update (assign → per-dim mean), then the same
    * assign/probe-2/re-rank flow as [[annIvf]] against the trained
    * centers. Composition is the point: the codebook build is the
    * k-means machinery (q_kmeans_iter2), the serving path is the IVF
    * machinery, and everything between them stays relational — centroid
    * tables are k×dim rows that broadcast, vectors shuffle only into
    * their cells. Retrain cadence at 100 TB is a scheduling choice; the
    * per-update cost is one assignment join + one (k·dim)-row
    * aggregation. */
  def annIvfTrained(s: SparkSession, dir: String): DataFrame = {
    // lazily cached: the scaled vector table anchors both argmin passes
    // and the probe leg
    val base = corpus(s, dir).trackedPersist()
    ids(ivfSearch(base, testQueries(base),
      lloydCenters(base, firstCenters(base, 10)), 3, nprobe = 2))
  }

  // list-comprehension distances + MATERIALIZED CTEs (the q_semdedup r12
  // pattern): the per-dimension unnest join (pts JOIN c ON dim) builds
  // n×64×k intermediate rows and ground unboundedly at the 100× replica
  // volume; whole-vector list_sum is work ∝ n×k. OracleScaleSpec pins
  // the formulation.
  private val annIvfTrainedSql =
    s"""WITH iv AS (
      |  SELECT vec_id, $ivecSql AS v FROM embeddings),
      |n AS MATERIALIZED (
      |  SELECT vec_id, v, list_sum([v[i]*v[i] for i in range(1,${DIM + 1})]) AS n2 FROM iv),
      |c0 AS MATERIALIZED (
      |  SELECT vec_id AS cid, v AS cv FROM n WHERE vec_id < 10),
      |a1 AS MATERIALIZED (
      |  SELECT vec_id, (MIN({'d': dist, 'c': cid})).c AS cid
      |  FROM (
      |    SELECT p.vec_id, c.cid,
      |      list_sum([(p.v[i]-c.cv[i])*(p.v[i]-c.cv[i]) for i in range(1,${DIM + 1})]) AS dist
      |    FROM n p CROSS JOIN c0 c) t
      |  GROUP BY vec_id),
      |pts AS MATERIALIZED (
      |  SELECT vec_id, t.dim, v[t.dim] AS x FROM n CROSS JOIN range(1, ${DIM + 1}) t(dim)),
      |c1 AS MATERIALIZED (
      |  SELECT cid, [CAST(sx[d] // cnt AS BIGINT) for d in range(1, ${DIM + 1})] AS cv
      |  FROM (
      |    SELECT cid, list(sx ORDER BY dim) AS sx, MAX(cnt) AS cnt
      |    FROM (
      |      SELECT a1.cid, pts.dim, SUM(pts.x) AS sx, COUNT(*) AS cnt
      |      FROM pts JOIN a1 USING (vec_id) GROUP BY a1.cid, pts.dim) g
      |    GROUP BY cid) z),
      |d AS MATERIALIZED (
      |  SELECT p.vec_id, c.cid,
      |    list_sum([(p.v[i]-c.cv[i])*(p.v[i]-c.cv[i]) for i in range(1,${DIM + 1})]) AS dist
      |  FROM n p CROSS JOIN c1 c),
      |assigned AS (
      |  SELECT vec_id, (MIN({'d': dist, 'c': cid})).c AS cell
      |  FROM d GROUP BY vec_id),
      |probes AS (
      |  SELECT vec_id AS q_id, cid AS cell FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM d WHERE vec_id < 20) t WHERE rn <= 2),
      |cand AS (
      |  SELECT p.q_id, a.vec_id,
      |    CAST(list_sum([nv.v[i]*nq.v[i] for i in range(1,${DIM + 1})]) AS DOUBLE)
      |      / sqrt(CAST(nv.n2 AS DOUBLE)) / sqrt(CAST(nq.n2 AS DOUBLE)) AS cos
      |  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.q_id
      |  JOIN n nv ON nv.vec_id = a.vec_id
      |  JOIN n nq ON nq.vec_id = p.q_id)
      |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id FROM (
      |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM cand) t WHERE rank <= 3""".stripMargin

  // ------------------------------------------------------ cosine near-dup

  /** Number of 2-bit hyperplane bands candidates are OR'd over. A pair at
    * the cosine-0.3 decision boundary (θ ≈ 72.5°, per-bit agreement
    * p = 1−θ/π ≈ 0.60) collides in a 2-bit band with p² ≈ 0.36 and in at
    * least one of the 3 bands with 1−(1−p²)³ ≈ 0.73 — vs ≈ 5% under
    * all-6-bit blocking, the recall gap banding exists to close. True
    * near-dups (cos ≥ 0.9, p ≈ 0.86) collide with ≈ 0.98. Production
    * tuning raises bits-per-band with corpus size and bands with the
    * recall target, exactly like the MinHash path. */
  private val ND_BANDS = 3

  /** Embedding-cosine near-duplicate pairs, blocked by guarded LSH BANDS
    * (never a raw attribute: raw-attribute blocks grow linearly with the
    * corpus, so their in-block pair join grows quadratically). Candidates
    * collide on ANY 2-bit slice of the 6-bit signature — the multi-band
    * OR that keeps recall high (see [[ND_BANDS]]) while each band bucket
    * stays small. Scale shape: the band self-join carries vec_ids ONLY
    * (the 64-long vectors would otherwise be shuffled once per band);
    * distinct candidate pairs then re-join the cached vectors for the
    * exact cosine check. Per-band over-cap buckets are dropped first. */
  def embedNeardup(s: SparkSession, dir: String): DataFrame = {
    val sig = lshSigned(corpus(s, dir), LSH_BITS).trackedPersist()
    val bands = sig.select(col("vid"),
      explode(array((0 until ND_BANDS).map(j => struct(lit(j).as("band"),
        expr(s"shiftright(bucket, ${2 * j}) % 4").as("bkey"))): _*)).as("bb"))
      .select(col("vid"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val bandKey = Seq("band", "bkey")
    val (guarded, _) = HotKeys.divert(bands,
      HotKeys.census(bands, bandKey, AnnBucketCap), bandKey)
    val pairs = guarded.as("a").join(guarded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("vec_a"), col("b.vid").as("vec_b"))
      .distinct()
    pairs
      .join(sig.select(col("vid").as("vec_a"), col("v").as("va"),
        col("n2").as("n2a")), "vec_a")
      .join(sig.select(col("vid").as("vec_b"), col("v").as("vb"),
        col("n2").as("n2b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        cosine(dot(col("va"), col("vb")), col("n2a"), col("n2b")).as("cos"))
      .filter(col("cos") >= 0.3)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  private val embedNeardupSql =
    s"""WITH iv AS (
      |  SELECT vec_id, label, $ivecSql AS v FROM embeddings),
      |n AS (
      |  SELECT vec_id, label, v,
      |    list_sum([v[i]*v[i] for i in range(1,${DIM + 1})]) AS n2 FROM iv),
      |bits AS (
      |  SELECT vec_id, t.b,
      |    list_sum([(CAST('0x' || substring(md5(t.b::VARCHAR || '_' || i::VARCHAR),1,15) AS BIGINT) % 2001 - 1000) * v[i]
      |              for i in range(1,${DIM + 1})]) AS d
      |  FROM n CROSS JOIN range($LSH_BITS) t(b)),
      |bk AS (
      |  SELECT vec_id, SUM(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS bucket
      |  FROM bits GROUP BY vec_id),
      |bands AS (
      |  SELECT vec_id, t.band, (bucket >> (2*t.band)) % 4 AS bkey
      |  FROM bk CROSS JOIN range($ND_BANDS) t(band)),
      |okb AS (SELECT band, bkey FROM bands GROUP BY band, bkey HAVING COUNT(*) <= $AnnBucketCap),
      |g AS (SELECT bands.vec_id, bands.band, bands.bkey FROM bands JOIN okb USING (band, bkey)),
      |pairs AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM g a JOIN g b ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, cos FROM (
      |  SELECT vec_a, vec_b,
      |    CAST(list_sum([a.v[i]*b.v[i] for i in range(1,${DIM + 1})]) AS DOUBLE)
      |      / sqrt(CAST(a.n2 AS DOUBLE)) / sqrt(CAST(b.n2 AS DOUBLE)) AS cos
      |  FROM pairs JOIN n a ON vec_a = a.vec_id JOIN n b ON vec_b = b.vec_id) t
      |WHERE cos >= 0.3""".stripMargin

  // --------------------------------------------------------------- kmeans

  /** KMeans assignment step (`KMeansMapFunction.cc:10-71`): nearest of k=10
    * broadcast centers (the first 10 vectors) by exact integer squared-L2;
    * reports per-center population and an id checksum. */
  def kmeansAssign(s: SparkSession, dir: String): DataFrame =
    kmeansCensus(s, dir, rounds = 0)

  /** The (cid, n_points, sum_vec_id) census of k-means on the test
    * corpus: k = 10 centers seeded from the first 10 vectors, `rounds`
    * integer-exact Lloyd updates ([[lloydCenters]]), then the final
    * assignment on the fused kernel — the map function plus centroid
    * reduce of `KMeansMapFunction.cc`. One round is the codebook
    * [[annIvfTrained]] serves from; q_kmeans_iter2 reports it. */
  private[queries] def kmeansCensus(s: SparkSession, dir: String,
      rounds: Int): DataFrame = {
    // the vector table anchors the seed filter, every assignment pass
    // and the Lloyd update — cache it once for the whole pipeline
    val base = Caches.tracked(corpus(s, dir))
    val centers = (0 until rounds).foldLeft(firstCenters(base, 10))(
      (c, _) => lloydCenters(base, c))
    nearestAssign(base.select(col("vid"), col("v")), centers, "cid")
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_points"), sum(col("vid")).as("sum_vec_id"))
  }

  private val kmeansAssignSql =
    s"""WITH iv AS (
      |  SELECT vec_id, $ivecSql AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM iv WHERE vec_id < 10),
      |d AS (
      |  SELECT iv.vec_id, c.cid,
      |    list_sum([(v[i]-cv[i])*(v[i]-cv[i]) for i in range(1,${DIM + 1})]) AS dist
      |  FROM iv CROSS JOIN c),
      |a AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM d) t WHERE rn = 1)
      |SELECT cid, COUNT(*) AS n_points, CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id FROM a GROUP BY cid""".stripMargin

  /** Int8 embedding quantization — the storage-side op a 100 TB embedding
    * corpus runs before ANN serving: per-vector max-abs scaling to
    * [-127, 127], summarized per label. Pure scan-local array math (two
    * correctly-rounded double ops then an exact floor per element — the
    * same IEEE sequence on any engine), one aggregation; nothing about it
    * changes with corpus size. Zero vectors quantize to zero by
    * definition rather than dividing by zero. */
  def embedQuantize(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))").as("scale"),
        col("embedding"))
      .select(col("vec_id"), col("label"),
        when(col("scale") === 0.0, 0L).otherwise(
          expr("aggregate(transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale) AS BIGINT)), CAST(0 AS BIGINT), (acc, q) -> acc + q)"))
          .as("q_sum"),
        when(col("scale") === 0.0, 0L).otherwise(
          expr("CAST(array_max(transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale) AS BIGINT))) AS BIGINT)"))
          .as("q_max"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("q_sum")).as("q_checksum"),
        max(col("q_max")).as("q_peak"),
        min(col("q_sum")).as("q_min_sum"))

  private val embedQuantizeSql =
    """WITH q AS (
      |  SELECT vec_id, label,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
      |    embedding
      |  FROM embeddings),
      |p AS (
      |  SELECT vec_id, label,
      |    CASE WHEN scale = 0.0 THEN 0 ELSE CAST(list_sum(list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale) AS BIGINT))) AS BIGINT) END AS q_sum,
      |    CASE WHEN scale = 0.0 THEN 0 ELSE CAST(list_max(list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale) AS BIGINT))) AS BIGINT) END AS q_max
      |  FROM q)
      |SELECT label, COUNT(*) AS n_vecs,
      |  CAST(SUM(q_sum) AS BIGINT) AS q_checksum,
      |  MAX(q_max) AS q_peak,
      |  MIN(q_sum) AS q_min_sum
      |FROM p GROUP BY label""".stripMargin

  // ------------------------------------------------- ANN recall telemetry

  /** Recall@3 of the IVF index against exact brute-force search — the
    * self-evaluation every ANN deployment runs before trusting an index
    * (and re-runs after each re-train/re-shard): per query, how many of
    * the true top-3 neighbors the 2-probe IVF search recovered. Output is
    * one row per query (n_hits ∈ 0..3) — the distribution, not just the
    * mean, since tail queries are what an index tune chases. Both sides
    * are the existing oracle-checked plans; the comparison is a tiny
    * (queries×3)-row join. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val truth = knnBrute(s, dir).filter(col("rank") <= 3)
      .select(col("q_id"), col("neighbor_id"))
    val got = annIvf(s, dir)
      .select(col("q_id"), col("neighbor_id").as("ivf_neighbor"))
    truth.join(got,
        truth("q_id") === got("q_id") &&
          col("neighbor_id") === col("ivf_neighbor"), "left")
      .groupBy(truth("q_id").as("q_id"))
      .agg(sum(when(col("ivf_neighbor").isNotNull, 1L).otherwise(0L))
        .as("n_hits"))
  }

  private val annRecallSql =
    s"""WITH truth AS (
      |  SELECT q_id, neighbor_id FROM ($knnBruteSql) WHERE rank <= 3),
      |got AS (
      |  SELECT q_id, neighbor_id FROM ($annIvfSql))
      |SELECT t.q_id,
      |  CAST(SUM(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      |FROM truth t LEFT JOIN got g
      |  ON t.q_id = g.q_id AND t.neighbor_id = g.neighbor_id
      |GROUP BY t.q_id""".stripMargin

  /** NDCG discount ladder 1/log2(rank+1), scaled 1e6 and rounded to
    * integer constants ONCE on the driver, so both engines run the same
    * integer arithmetic — a live log2() in the plan would differ by ULPs
    * between libm implementations and break the hash compare. At k = 3
    * this is exactly the pinned (1000000, 630930, 500000) ladder the
    * oracle SQL spells (NdcgSpec asserts the reproduction). */
  private[graft] def ndcgDiscLadder(k: Int): Seq[Long] =
    Seq.tabulate(k)(i => math.round(1e6 / (math.log(i + 2) / math.log(2))))

  private val NdcgDisc = ndcgDiscLadder(3)
  private val NdcgIdealScaled = // gains (3,2,1) at ranks (1,2,3)
    3 * NdcgDisc(0) + 2 * NdcgDisc(1) + 1 * NdcgDisc(2)

  /** Shared NDCG@k body over canonical (q_id, rank, neighbor_id) result
    * and truth frames — ONE definition under both the oracle-checked
    * [[ndcgEval]] and `Vectors.ndcgAtK` (the facade-shares-internals
    * rule). Gains: truth rank r is worth k+1−r, non-truth 0; output
    * (q_id, dcg_scaled, ndcg_ppm), integer-exact. */
  private[graft] def ndcgOf(got: DataFrame, truth: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"ndcg k must be positive: $k")
    val disc = ndcgDiscLadder(k)
    val ideal = (1 to k).map(r => (k + 1 - r) * disc(r - 1)).sum
    val t = truth.filter(col("rank") <= k)
      .select(col("q_id").as("t_q"), col("neighbor_id").as("t_n"),
        (lit((k + 1).toLong) - col("rank")).as("gain"))
    val discCol = (2 to k).foldLeft(
      when(col("rank") === 1, disc(0))) { (acc, r) =>
      acc.when(col("rank") === r, disc(r - 1))
    }.otherwise(lit(0L))
    got.filter(col("rank") <= k)
      .join(t, col("q_id") === col("t_q") &&
        col("neighbor_id") === col("t_n"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("gain"), lit(0L)) * discCol).as("dcg_scaled"))
      .select(col("q_id"), col("dcg_scaled"),
        expr(s"dcg_scaled * 1000000 DIV $ideal").as("ndcg_ppm"))
  }

  /** Rank-quality eval of the IVF index: NDCG@3 per query against the
    * exact cosine ranking, complementing q_ann_recall's set-overlap
    * recall with a RANK-weighted score (an index that returns the right
    * neighbors in the wrong order scores below one that orders them
    * correctly — recall alone can't see the difference). Graded gains:
    * the true rank-r neighbor is worth 4−r (3/2/1), anything outside
    * the true top-3 is worth 0; position discounts are the pinned
    * [[NdcgDisc]] ladder, and ndcg_ppm = DCG·1e6 DIV ideal-DCG is
    * integer-exact end to end. Scale shape: both legs are the
    * already-bucketed ANN plans; the eval itself adds one
    * queries×k-sized join + agg — eval cost ∝ query workload,
    * independent of corpus size. */
  def ndcgEval(s: SparkSession, dir: String): DataFrame =
    ndcgOf(annIvf(s, dir), knnBrute(s, dir), k = 3)

  private val ndcgEvalSql =
    s"""WITH truth AS (
      |  SELECT q_id AS t_q, neighbor_id AS t_n, 4 - rank AS gain
      |  FROM ($knnBruteSql) WHERE rank <= 3),
      |got AS (
      |  SELECT q_id, rank, neighbor_id,
      |    CASE WHEN rank = 1 THEN ${NdcgDisc(0)}
      |         WHEN rank = 2 THEN ${NdcgDisc(1)}
      |         ELSE ${NdcgDisc(2)} END AS disc
      |  FROM ($annIvfSql))
      |SELECT g.q_id,
      |  CAST(SUM(COALESCE(t.gain, 0) * g.disc) AS BIGINT) AS dcg_scaled,
      |  CAST(SUM(COALESCE(t.gain, 0) * g.disc) * 1000000
      |    // $NdcgIdealScaled AS BIGINT) AS ndcg_ppm
      |FROM got g LEFT JOIN truth t
      |  ON g.q_id = t.t_q AND g.neighbor_id = t.t_n
      |GROUP BY g.q_id""".stripMargin

  /** Mean NDCG@3 (ppm) of the main index variants against brute-force
    * truth — the RANK-quality twin of [[recallSummary]] for the bench
    * telemetry gate: an index can hold recall while degrading the order
    * it returns neighbors in (probe sequencing, tie-break drift), and
    * only a rank-weighted score sees that. Integer-exact and
    * deterministic, so the gate band is exact. */
  def ndcgSummary(s: SparkSession, dir: String): DataFrame = {
    val truth = knnBrute(s, dir).trackedPersist()
    def one(variant: String, got: DataFrame): DataFrame =
      ndcgOf(got, truth, k = 3)
        .agg(avg(col("ndcg_ppm")).as("mean_ndcg_ppm"))
        .select(lit(variant).as("variant"), col("mean_ndcg_ppm"))
    one("ann_ivf", annIvf(s, dir))
      .unionByName(one("ann_ivf_nprobe4", annIvfNprobe4(s, dir)))
      .unionByName(one("ann_lsh_multi", annLshMulti(s, dir)))
  }

  /** Mean recall@3 of every ANN index variant against the exact
    * brute-force truth, one row per variant — the bench telemetry dial
    * that catches an index-QUALITY regression (probe count, codebook,
    * hash width) which wall-clock timing alone would wave through.
    * [[graft.BenchGate.violations]] runs this and gates each variant;
    * the per-query distribution lives in the oracle-checked
    * q_ann_recall. */
  def recallSummary(s: SparkSession, dir: String): DataFrame = {
    val truth = knnBrute(s, dir).filter(col("rank") <= 3)
      .select(col("q_id"), col("neighbor_id")).trackedPersist()
    def one(variant: String, got: DataFrame): DataFrame = {
      val g = got.select(col("q_id").as("g_q"),
        col("neighbor_id").as("g_n"))
      truth.join(g,
          col("q_id") === col("g_q") && col("neighbor_id") === col("g_n"),
          "left")
        .agg((sum(when(col("g_n").isNotNull, 1.0).otherwise(0.0)) /
          count(lit(1))).as("recall_at_3"))
        .select(lit(variant).as("variant"), col("recall_at_3"))
    }
    val base = corpus(s, dir)
    val queries = testQueries(base)
    val n = base.count()
    one("ann_lsh", annLsh(s, dir))
      .unionByName(one("ann_lsh_12bit", annLshWide(s, dir)))
      .unionByName(one("ann_lsh_multi", annLshMulti(s, dir)))
      .unionByName(one("ann_lsh_multiprobe", annLshMultiProbe(s, dir)))
      .unionByName(one("ann_pq", annPq(s, dir)))
      .unionByName(one("ann_pq_trained", annPqTrained(s, dir)))
      .unionByName(one("ann_ivfpq", annIvfPq(s, dir)))
      // the production composition SURVEY §10 prescribes at high bit
      // widths: 12-bit buckets (near-singleton occupancy) with the
      // (tables=4, hamming=1) recall repair — "bits up, tables/probes
      // recover" as telemetry, not prose
      .unionByName(one("ann_lsh_12bit_multi", lshSearch(base, queries, k = 3,
        bits = 12, tables = 4, hamming = 1, cap = Long.MaxValue)))
      // the production centroid dial: 256/subspace, 3 Lloyd rounds — the
      // climb off ann_pq_trained's 16-centroid floor — then + the exact
      // re-rank of the ADC top-10
      .unionByName(one("ann_pq_256", pqSearch(base, queries,
        pqLowest(base, 256), rounds = 3, k = 3)))
      .unionByName(one("ann_pq_256_refined", pqSearch(base, queries,
        pqLowest(base, 256), rounds = 3, k = 3, rerank = 10)))
      // the production cell dial: ⌈√n⌉ cells (derived in-plan; TuningSpec
      // pins it to the advisory Tuning.ivfCells) at CONSTANT nprobe 8, so
      // candidates/query ∝ 8·√n — sublinear in corpus size, the scaling
      // the fixed-8-cell oracle queries deliberately do not have
      .unionByName(one("ann_ivf_sqrtn",
        ivfSearch(base, queries, sqrtNCenters(base), k = 3, nprobe = 8)))
      // the two dial formulas end to end: lshBits(n) (target occupancy
      // 32/bucket) with the (tables=4, hamming=1) repair, and
      // pqCentroids(n) = min(256, ⌈n/8⌉) with the exact top-10 refine,
      // so both are gated numbers (the 10× replica shifts the widths,
      // the recall bands must hold)
      .unionByName(one("ann_lsh_tuned", lshSearch(base, queries, k = 3,
        bits = graft.api.Tuning.lshBits(n), tables = 4, hamming = 1,
        cap = Long.MaxValue)))
      .unionByName(one("ann_pq_tuned", pqSearch(base, queries,
        pqLowest(base, graft.api.Tuning.pqCentroids(n)), rounds = 3, k = 3,
        rerank = 10)))
      .unionByName(one("ann_ivf", annIvf(s, dir)))
      .unionByName(one("ann_ivf_nprobe1", annIvfProbes(s, dir, 1)))
      .unionByName(one("ann_ivf_nprobe4", annIvfProbes(s, dir, 4)))
      .unionByName(one("ann_ivf_trained", annIvfTrained(s, dir)))
  }

  /** Occupancy census at the TUNED bit width (`Tuning.lshBits(n)`),
    * gate-only telemetry (the oracle-checked q_lsh_occupancy pins the
    * two static widths). The dial law is scale-INVARIANT: bits =
    * ⌈log2⌈n/32⌉⌉ puts raw load n/2^bits in (16, 32], so the measured
    * mean occupancy must land in that band (small headroom for empty
    * buckets) at ANY corpus size — BenchGate enforces the law itself,
    * not a per-corpus constant. */
  def lshOccupancyTuned(s: SparkSession, dir: String): DataFrame = {
    val all = Caches.tracked(corpus(s, dir))
    occupancy(all, graft.api.Tuning.lshBits(all.count()))
  }

  // ---------------------------------------------- semantic dedup (SemDeDup)

  /** Cells above this population leave the single-task per-cell pair
    * join for the block-decomposed enumeration ([[semDroppedOf]]) — the
    * hot-group guard discipline applied to a SELF-JOIN. The r13 100×
    * skew drive measured the need: its 5000-member hot cell put 12.5M of
    * the corpus' 93M candidate pairs in ONE task. */
  private[graft] val SemCellCap = 2048L

  /** Block size for the hot-cell decomposition: an over-cap cell's
    * members are hashed into ⌈pop/SemBlockRows⌉ blocks, and each block
    * TILE (an unordered block pair) becomes one join key — per-task pair
    * work is bounded by ~SemBlockRows² no matter how big the cell. */
  private[graft] val SemBlockRows = 1024L

  /** The dropped-id set of SemDeDup's within-cell pair scan, with the
    * hot-cell straggler guard: every unordered within-cell pair with
    * cosine ≥ `minCos` yields its HIGHER vec_id (keep-first), exactly
    * once, and the per-task pair volume is bounded. `assigned` rows are
    * (vec_id, v, n2, cell); the result is (vec_id, is_dropped = 1). The
    * one pair scan of q_semdedup and `graft.api.Vectors.semDedup`.
    *
    * Cold cells (pop ≤ cap) keep the plain self-equi-join on cell id —
    * one key per cell, ≤ cap²/2 pairs per task. Hot cells are
    * block-decomposed: each member lands in block `pmod(xxhash64(id), B)`
    * with B = ⌈pop/blockRows⌉ per cell, the a-side replicates each row
    * into tiles (blk, j≥blk), the b-side into tiles (i≤blk, blk), and the
    * join keys on (cell, i, j) — so a P-member cell's P²/2 pairs spread
    * over B(B+1)/2 independent keys instead of one. Diagonal tiles
    * (i = j) hold both copies of every member, so the vec_id < vec_id
    * predicate dedups them; off-diagonal tiles hold disjoint member sets
    * (exactly one orientation exists, since tiles are only emitted with
    * i ≤ j), so every cross pair appears once with no predicate, and
    * `greatest` recovers the dropped (higher) id regardless of which
    * side it landed on. Value-identity with the plain join is pinned by
    * q_semdedup_guarded (same oracle SQL, hot path forced) and
    * HotGroupGuardSpec's planted-storm case.
    *
    * The hot-cell list is ≤ k = ⌈√n⌉ entries (cells, not rows), so the
    * broadcast stays metadata-sized at any corpus size. Replicating a
    * hot row B+1 ≈ pop/blockRows times is ~2·blockRows× SMALLER than the
    * pair volume the cell already owes, so the guard never changes the
    * asymptotic cost — it only un-serializes it. */
  private[graft] def semDroppedOf(assigned: DataFrame, minCos: Double,
      cap: Long = SemCellCap, blockRows: Long = SemBlockRows): DataFrame = {
    val hotCells = HotKeys.census(assigned, Seq("cell"), cap)
    // each leg is SELF-JOINED below — uncached, the anti/inner join
    // over the assigned cache plans once per side (and the assigned
    // cache's consumers serialize behind its block-compute lock)
    val cold = Caches.tracked(
      HotKeys.divert(assigned, hotCells, Seq("cell"))._1)
    // the hot leg needs each cell's population for its block count, so
    // it inner-joins the census (cell ids are argmin outputs, never null)
    val hot = Caches.tracked(
      assigned.join(broadcast(hotCells.select(col("cell").as("__hc"),
          col("n").as("__cn"))), col("cell") === col("__hc"))
        .withColumn("__b",
          ceil(col("__cn").cast("double") / lit(blockRows.toDouble)).cast("long"))
        .withColumn("__blk", pmod(xxhash64(col("vec_id")), col("__b")))
        .drop("__hc", "__cn"))
    def sim = cosine(dot(col("a.v"), col("b.v")),
      col("a.n2"), col("b.n2")) >= minCos
    val coldPairs = cold.as("a").join(cold.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(sim)
      .select(col("b.vec_id").as("vec_id"))
    val aSide = hot
      .withColumn("__bj", explode(sequence(col("__blk"), col("__b") - 1)))
      .withColumnRenamed("__blk", "__bi")
    val bSide = hot
      .withColumn("__bi", explode(sequence(lit(0L), col("__blk"))))
      .withColumnRenamed("__blk", "__bj")
    val hotPairs = aSide.as("a").join(bSide.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.__bi") === col("b.__bi") && col("a.__bj") === col("b.__bj") &&
          (col("a.__bi") =!= col("a.__bj") ||
            col("a.vec_id") < col("b.vec_id")))
      .filter(sim)
      .select(greatest(col("a.vec_id"), col("b.vec_id")).as("vec_id"))
    coldPairs.unionByName(hotPairs).distinct()
      .withColumn("is_dropped", lit(1L))
  }

  /** Semantic deduplication, SemDeDup-style (Abbas et al. 2023): vectors
    * are clustered by a TRAINED coarse quantizer — k = ⌈√n⌉ seed cells
    * refined by one integer-exact Lloyd update, the [[annIvfTrained]]
    * machinery — then ONLY within-cluster pairs are checked for
    * cosine ≥ 0.3, and of each such pair the higher id is marked dropped
    * (keep-first canonicalization). Output is the per-cell census:
    * population, drops, dropped-id checksum.
    *
    * Scale shape — the reason SemDeDup exists: the cross-cluster pair
    * space is never touched, so candidate volume is Σ cell², and k is
    * not a constant but ⌈√n⌉ DERIVED IN-PLAN from a 1-row count
    * aggregate (construction stays job-free), keeping expected cells
    * O(√n) and total pair volume O(n^1.5) at any corpus size; centers
    * broadcast (k×dim rows), cell assignment is a map-side argmin, and
    * the in-cell join is an equi-join on cell id that hash-partitions
    * clusters across the fleet — with over-cap cells block-decomposed by
    * [[semDroppedOf]] so one giant near-dup clique cannot serialize into
    * a single task. The embedding-space analogue of q_dup_clusters'
    * MinHash canonicalization. */
  def semDedup(s: SparkSession, dir: String): DataFrame =
    semDedupWith(s, dir, SemCellCap, SemBlockRows)

  /** [[semDedup]] with caps low enough that sf0.01's cells (mean
    * population ~22 at n = 500, k = 23) take the HOT (block-decomposed)
    * pair path while smaller cells stay cold — both legs and their union
    * are value-pinned against the SAME oracle SQL every round, the
    * established guarded-query discipline.
    *
    * DRIVER-CORPUS-ONLY PIN (r13 advice): cap=20/blockRows=8 exist to
    * force the hot path on sf0.01's tiny cells, nothing more. They do
    * NOT scale — at these caps a population-P cell replicates each
    * member ~P/16 times (vector payload included), so the a-side explode
    * volume of an all-hot forced run grows ~P/16× the cold path's. The
    * PRODUCTION caps are [[SemCellCap]]/[[SemBlockRows]] (2048/1024),
    * which the 100× drive's injected storm cell exercises at its real
    * setting ([[semDedup]] + SkewCensus sem_hot); never run the forced
    * variant on a drive-scale corpus. */
  def semDedupGuarded(s: SparkSession, dir: String): DataFrame =
    semDedupWith(s, dir, cap = 20L, blockRows = 8L)

  private def semDedupWith(s: SparkSession, dir: String,
      cap: Long, blockRows: Long): DataFrame = {
    val assigned = semAssignedOf(s, dir)
    val dropped = semDroppedOf(assigned, 0.3, cap, blockRows)
    assigned.join(dropped, Seq("vec_id"), "left")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        coalesce(sum(col("is_dropped")), lit(0L)).as("n_dropped"),
        coalesce(sum(col("is_dropped") * col("vec_id")), lit(0L))
          .as("dropped_id_sum"))
  }

  /** SemDeDup's trained-cell assignment frame (vec_id, v, n2, cell) —
    * the ⌈√n⌉-seed + one-Lloyd-update quantizer shared by the dedup
    * census and [[graft.SkewCensus]]'s sem_hot guard-fire report. */
  private[graft] def semAssignedOf(s: SparkSession, dir: String): DataFrame = {
    // the vector table anchors the count, the seed filter, both argmin
    // passes and the Lloyd update — cache it once for the whole pipeline
    val all = Caches.tracked(corpus(s, dir))
    // k = ⌈√n⌉ seeds from a 1-row broadcast (no driver-side count), one
    // Lloyd update, then the assignment against the TRAINED centers —
    // all on the fused kernel, which never materializes the n×k distance
    // frame (93M rows at the r13 drive; O(n^1.5) at k = ⌈√n⌉). It feeds
    // both pair-join sides and the census, so it is cached too
    Caches.tracked(
      nearestAssign(all, lloydCenters(all, sqrtNCenters(all)), "cell")
        .withColumnRenamed("vid", "vec_id"))
  }

  // centroid DISTANCES stay in list form (one n×cells row per pair, a
  // 64-term comprehension each) instead of the dim-exploded three-way
  // join the oracle used through r11 — that join's pre-aggregation
  // volume is n×cells×64 rows (5.9 BILLION at the 100× drive's 205k
  // vectors), which spilled DuckDB to disk-full. Only the centroid
  // UPDATE (a per-dim mean, genuinely an aggregation) keeps the
  // exploded shape: members×64 rows, bounded. Arg-min via struct MIN,
  // not a row_number window — no global sort of the n×cells frame.
  private val semDedupSql =
    s"""WITH iv AS (
      |  SELECT vec_id, $ivecSql AS v FROM embeddings),
      |n AS MATERIALIZED (
      |  SELECT vec_id, v, list_sum([v[i]*v[i] for i in range(1,${DIM + 1})]) AS n2 FROM iv),
      |kk AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS kcells FROM n),
      |c0 AS MATERIALIZED (
      |  SELECT vec_id AS cid, v AS cv FROM n CROSS JOIN kk WHERE vec_id < kcells),
      |a1 AS MATERIALIZED (
      |  SELECT vec_id,
      |    (MIN({'d': dist, 'c': cid})).c AS cid
      |  FROM (
      |    SELECT p.vec_id, c.cid,
      |      list_sum([(p.v[i]-c.cv[i])*(p.v[i]-c.cv[i]) for i in range(1,${DIM + 1})]) AS dist
      |    FROM n p CROSS JOIN c0 c) t
      |  GROUP BY vec_id),
      |pts AS MATERIALIZED (
      |  SELECT vec_id, t.dim, v[t.dim] AS x FROM n CROSS JOIN range(1, ${DIM + 1}) t(dim)),
      |c1 AS MATERIALIZED (
      |  SELECT cid, [CAST(sx[d] // cnt AS BIGINT) for d in range(1, ${DIM + 1})] AS cv
      |  FROM (
      |    SELECT cid, list(sx ORDER BY dim) AS sx, MAX(cnt) AS cnt
      |    FROM (
      |      SELECT a1.cid, pts.dim, SUM(pts.x) AS sx, COUNT(*) AS cnt
      |      FROM pts JOIN a1 USING (vec_id) GROUP BY a1.cid, pts.dim) g
      |    GROUP BY cid) z),
      |assigned AS MATERIALIZED (
      |  SELECT vec_id, (MIN({'d': dist, 'c': cid})).c AS cell
      |  FROM (
      |    SELECT p.vec_id, c.cid,
      |      list_sum([(p.v[i]-c.cv[i])*(p.v[i]-c.cv[i]) for i in range(1,${DIM + 1})]) AS dist
      |    FROM n p CROSS JOIN c1 c) t
      |  GROUP BY vec_id),
      |aj AS (
      |  SELECT a.vec_id, a.cell, n.v, n.n2 FROM assigned a JOIN n USING (vec_id)),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM aj a JOIN aj b
      |    ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE CAST(list_sum([a.v[i]*b.v[i] for i in range(1,${DIM + 1})]) AS DOUBLE)
      |      / sqrt(CAST(a.n2 AS DOUBLE)) / sqrt(CAST(b.n2 AS DOUBLE)) >= 0.3)
      |SELECT cell, COUNT(*) AS n_vectors,
      |  CAST(SUM(CASE WHEN dr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  CAST(SUM(CASE WHEN dr.vec_id IS NOT NULL THEN a.vec_id ELSE 0 END) AS BIGINT) AS dropped_id_sum
      |FROM aj a LEFT JOIN dropped dr ON a.vec_id = dr.vec_id
      |GROUP BY cell""".stripMargin

  val defs: Seq[GQuery] = Seq(
    GQuery("q_semdedup", semDedup, Some(semDedupSql), headline = true),
    GQuery("q_semdedup_guarded", semDedupGuarded, Some(semDedupSql)),
    GQuery("q_embed_quantize", embedQuantize, Some(embedQuantizeSql)),
    GQuery("q_knn_brute", knnBrute, Some(knnBruteSql), headline = true),
    GQuery("q_ann_lsh", annLsh, Some(annLshSql)),
    GQuery("q_ann_lsh_served", annLshServed, Some(annLshSql)),
    GQuery("q_ann_lsh_12bit", annLshWide, Some(annLshWideSql)),
    GQuery("q_lsh_occupancy", lshOccupancy, Some(lshOccupancySql)),
    GQuery("q_ann_lsh_multi", annLshMulti, Some(annLshMultiSql),
      headline = true),
    GQuery("q_ann_lsh_multiprobe", annLshMultiProbe, Some(annLshMultiProbeSql)),
    GQuery("q_ann_pq", annPq, Some(annPqSql)),
    GQuery("q_ann_pq_trained", annPqTrained, Some(annPqTrainedSql)),
    // same SQL as q_ann_pq BY DESIGN: serving from the persisted index
    // must be value-identical to serving from the live build
    GQuery("q_ann_pq_served", annPqServed, Some(annPqSql)),
    GQuery("q_ann_ivfpq", annIvfPq, Some(annIvfPqSql), headline = true),
    GQuery("q_ann_ivf", annIvf, Some(annIvfSql)),
    GQuery("q_ann_ivf_nprobe4", annIvfNprobe4, Some(annIvfSqlFor(4))),
    GQuery("q_ivf_append", ivfAppend, Some(ivfAppendSql)),
    GQuery("q_ivf_probe_cost", ivfProbeCost, Some(ivfProbeCostSql)),
    GQuery("q_ann_ivf_trained", annIvfTrained, Some(annIvfTrainedSql)),
    GQuery("q_ann_recall", annRecall, Some(annRecallSql)),
    GQuery("q_ndcg_eval", ndcgEval, Some(ndcgEvalSql)),
    GQuery("q_embed_neardup", embedNeardup, Some(embedNeardupSql)),
    GQuery("q_kmeans_assign", kmeansAssign, Some(kmeansAssignSql)))
}
