package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Caches, Fixpoint, GQuery, HotKeys, LoopWidth, Tables}
import graft.core.Caches.TrackedOps
import Qdsl._

/** Warehouse-analytics operators a production deployment runs alongside the
  * data pipeline: cohort retention, data-quality constraint auditing,
  * Bloom-filter semi-join reduction, multi-hop graph expansion, and
  * skew-proof two-level aggregation. All integer-exact and oracle-checked.
  */
object Analytics {

  // ------------------------------------------------------- cohort retention

  private val WeekMs = 604800000L

  /** Cohort retention matrix: users cohorted by first-active week, each
    * (cohort, weeks-since) cell counting the distinct users still active,
    * plus a per-mille retention rate against the cohort's own size.
    * Scale shape: two hash aggregations over (user, week) rows — shuffled
    * bytes ∝ distinct user-weeks, never raw events — and the cohort-size
    * join keys on cohort_week (thousands of rows at any corpus size). */
  def retention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), epochMs(col("ts")).as("ms"))
      .select(col("user_id"), expr(s"ms DIV $WeekMs").as("week"))
    val cohort = e.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val active = e.join(cohort, "user_id")
      .select(col("user_id"), col("cohort_week"),
        (col("week") - col("cohort_week")).as("weeks_since"))
      .distinct()
    val m = active.groupBy(col("cohort_week"), col("weeks_since"))
      .agg(count(lit(1)).as("n_users"))
    // cohort size = the weeks_since=0 cell, pulled in with a window max
    // over the (tiny) matrix rather than a self-join: a join back onto m
    // would re-plan the whole events subtree a second time (DataFrames do
    // no common-subplan reuse), doubling both heavy shuffles
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("cohort_week"))
    m.withColumn("cohort_size",
        max(when(col("weeks_since") === 0, col("n_users"))).over(wc))
      .select(col("cohort_week"), col("weeks_since"), col("n_users"),
        expr("n_users * 1000 DIV cohort_size").as("per_mille"))
  }

  private val retentionSql =
    s"""WITH e AS (SELECT user_id, epoch_ms(ts) // $WeekMs AS week FROM events),
      |c AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY user_id),
      |a AS (SELECT DISTINCT e.user_id, c.cohort_week, e.week - c.cohort_week AS weeks_since
      |      FROM e JOIN c USING (user_id)),
      |m AS (SELECT cohort_week, weeks_since, COUNT(*) AS n_users FROM a GROUP BY 1, 2),
      |s AS (SELECT cohort_week, n_users AS cohort_size FROM m WHERE weeks_since = 0)
      |SELECT m.cohort_week, m.weeks_since, m.n_users,
      |  CAST(m.n_users * 1000 // s.cohort_size AS BIGINT) AS per_mille
      |FROM m JOIN s USING (cohort_week)""".stripMargin

  // -------------------------------------------------- data-quality audit

  /** dbt-style constraint audit in two aggregation passes: key uniqueness,
    * non-null, value-range, and referential integrity (orders→customer)
    * checks reported as one row per check. The three column checks fold
    * into ONE scan-level aggregate; the FK check is a left-anti join that
    * at scale AQE turns into a broadcast of the (smaller) dimension side.
    * This is the validation counterpart of the reference's valsort-style
    * post-job checks, generalized to relational constraints. */
  def constraints(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val base = o.agg(
      count(lit(1)).as("n_orders"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_keys"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_cust"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpos_price"))
    val orphans = o.join(c, col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    base.crossJoin(orphans).selectExpr(
      """stack(4,
        |  'orderkey_unique', dup_keys,
        |  'custkey_not_null', null_cust,
        |  'totalprice_positive', nonpos_price,
        |  'orders_fk_customer', n_orphans) AS (check_name, n_violations)""".stripMargin,
      "n_orders AS n_checked")
  }

  private val constraintsSql =
    """WITH b AS (
      |  SELECT COUNT(*) AS n_orders,
      |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_keys,
      |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cust,
      |    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_price
      |  FROM orders),
      |orph AS (
      |  SELECT COUNT(*) AS n_orphans FROM orders ANTI JOIN customer ON o_custkey = c_custkey),
      |u AS (
      |  SELECT 'orderkey_unique' AS check_name, dup_keys AS n_violations FROM b
      |  UNION ALL SELECT 'custkey_not_null', null_cust FROM b
      |  UNION ALL SELECT 'totalprice_positive', nonpos_price FROM b
      |  UNION ALL SELECT 'orders_fk_customer', n_orphans FROM orph)
      |SELECT u.check_name, u.n_violations, b.n_orders AS n_checked
      |FROM u CROSS JOIN b""".stripMargin

  // ------------------------------------------- Bloom-filter semi-join

  /** Bloom sizing floor (bits) and the three affine re-hashes of the
    * portable 60-bit hash that index them. The filter is sized per build
    * side — `max(16384, BloomBitsPerKey · n_keys)` — so the
    * false-positive contract holds at ANY corpus size: with 3 hashes and
    * 16 bits/key, FP ≈ (1−e^(−3/16))³ ≈ 0.5% whether the segment has 3k
    * keys or 3 billion (a fixed m saturates past ~m/16 keys). Words hold
    * 62 bits so every mask stays a positive BIGINT on both engines
    * (DuckDB raises on `1<<63`; 62 also dodges the sign bit). */
  private[graft] val BloomMinBits = 16384L
  private[graft] val BloomBitsPerKey = 16L
  private val BloomHashes = Seq((31L, 7L), (131L, 17L), (1031L, 29L))

  /** Bloom-filter membership probe — the distributed semi-join reduction:
    * build a build-side-sized / 3-hash Bloom filter over one segment's
    * customer keys (a word table ~m/62 rows ≈ keys/4 that broadcasts),
    * probe every order with a map-side bitwise check, and report the
    * census against exact membership (false positives counted, false
    * negatives structurally impossible). The bit width m is DERIVED
    * IN-PLAN from a 1-row count of the build side (see [[BloomMinBits]])
    * — no driver-side count at construction, and the FP rate no longer
    * decays as the build side grows. At 100 TB this is how a selective
    * join avoids shuffling the big side: the filter is
    * probe-size-independent metadata, the probe never leaves the scan,
    * and only survivors reach the real join — the same role Spark's own
    * `InjectRuntimeFilter` bloom plays (asserted in ScaleShapeSpec),
    * here as an explicit, mergeable operator (word rows OR-merge across
    * shards). */
  def bloomMembership(s: SparkSession, dir: String): DataFrame = {
    val posCols = BloomHashes.map { case (a, b) =>
      (hashMod(col("k")) * a + b) % col("m")
    }
    val keys = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").cast("string").as("k")).distinct()
    // m as a 1-row broadcast joined into BOTH the build and probe sides:
    // the bits-track-keys contract without a construction-time job
    val mDf = keys.agg(
      greatest(lit(BloomMinBits), count(lit(1)) * BloomBitsPerKey).as("m"))
    val words = keys.crossJoin(broadcast(mDf))
      .select(explode(array(posCols: _*)).as("p"))
      .select(expr("p DIV 62").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 62 AS INT))").as("mask"))
      .groupBy(col("word")).agg(expr("bit_or(mask)").as("bloom"))
    val bitsSet = words.agg(sum(expr("bit_count(bloom)")).cast("long").as("n_bits_set"))
    // slim shared projection, lazily cached: probe-bit generation, the
    // exact-membership check, and the probe census all read it
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey")).trackedPersist()
    val probeBits = ord
      .select(col("o_orderkey"), col("o_custkey").cast("string").as("k"))
      .crossJoin(broadcast(mDf))
      .select(col("o_orderkey"), explode(array(posCols: _*)).as("p"))
      .select(col("o_orderkey"), expr("p DIV 62").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 62 AS INT))").as("mask"))
    val pass = probeBits.join(broadcast(words), Seq("word"), "left")
      .groupBy(col("o_orderkey"))
      .agg(sum(when(expr("bloom & mask") === col("mask"), 1L).otherwise(0L)).as("nhit"))
      .filter(col("nhit") === 3)
    val truth = ord.join(
      Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING"),
      col("o_custkey") === col("c_custkey"), "left_semi")
    ord.agg(count(lit(1)).as("n_probed"))
      .crossJoin(pass.agg(count(lit(1)).as("n_bloom_pass")))
      .crossJoin(truth.agg(count(lit(1)).as("n_true_match")))
      .crossJoin(bitsSet)
      .select(col("n_probed"), col("n_bloom_pass"), col("n_true_match"),
        (col("n_bloom_pass") - col("n_true_match")).as("n_false_pos"),
        col("n_bits_set"))
  }

  private val bloomMembershipSql = {
    val h = BloomHashes.map { case (a, b) => s"($a, $b)" }.mkString(", ")
    s"""WITH h AS (SELECT * FROM (VALUES $h) t(a, b)),
      |bkeys AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k
      |          FROM customer WHERE c_mktsegment = 'BUILDING'),
      |mm AS (SELECT GREATEST($BloomMinBits, $BloomBitsPerKey * COUNT(*)) AS m FROM bkeys),
      |bp AS (SELECT ((CAST('0x' || substring(md5(k),1,15) AS BIGINT) % 1000000007) * a + b) % m AS p
      |       FROM bkeys CROSS JOIN h CROSS JOIN mm),
      |words AS (SELECT p // 62 AS word,
      |            bit_or(CAST(1 AS BIGINT) << CAST(p % 62 AS INT)) AS bloom
      |          FROM bp GROUP BY 1),
      |bits AS (SELECT CAST(SUM(bit_count(bloom)) AS BIGINT) AS n_bits_set FROM words),
      |pb AS (SELECT o_orderkey,
      |         ((CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)),1,15) AS BIGINT) % 1000000007) * a + b) % m AS p
      |       FROM orders CROSS JOIN h CROSS JOIN mm),
      |pw AS (SELECT o_orderkey, p // 62 AS word,
      |         CAST(1 AS BIGINT) << CAST(p % 62 AS INT) AS mask FROM pb),
      |pass AS (
      |  SELECT o_orderkey FROM (
      |    SELECT pw.o_orderkey,
      |      SUM(CASE WHEN words.bloom IS NOT NULL AND (words.bloom & pw.mask) = pw.mask
      |          THEN 1 ELSE 0 END) AS nhit
      |    FROM pw LEFT JOIN words USING (word) GROUP BY pw.o_orderkey) t
      |  WHERE nhit = 3),
      |truth AS (SELECT o_orderkey FROM orders
      |          SEMI JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'),
      |c1 AS (SELECT COUNT(*) AS n_probed FROM orders),
      |c2 AS (SELECT COUNT(*) AS n_bloom_pass FROM pass),
      |c3 AS (SELECT COUNT(*) AS n_true_match FROM truth)
      |SELECT n_probed, n_bloom_pass, n_true_match,
      |  n_bloom_pass - n_true_match AS n_false_pos, n_bits_set
      |FROM c1 CROSS JOIN c2 CROSS JOIN c3 CROSS JOIN bits""".stripMargin
  }

  // ------------------------------------------------------- k-hop BFS

  /** 3-hop BFS frontier expansion over the events-derived directed graph
    * (src = user_id, dst = event_id % 500), seeded at user_id % 100 = 0.
    * Per hop: one edge↔frontier equi-join + distinct + anti-join against
    * the visited set — work ∝ out-edges of the frontier, the same
    * one-shuffle-per-round layout as PageRank/components; the edge list
    * is cached pre-partitioned on src so only frontier rows shuffle.
    * Output is the per-hop discovery census (hop 0 = seeds). */
  def bfsHops(s: SparkSession, dir: String): DataFrame = {
    // corpus-proportional distinct at session width, outside the loop;
    // the explicit narrow repartition pins the cached loop distribution.
    // Loop width is size-adaptive (anchor-table bytes, clamped to the
    // session width — LoopWidth.forBytes): the fixed 8 it replaces was
    // over-wide for bench-scale frontiers and under-wide at 100 TB.
    val w = LoopWidth.forBytes(Tables.events(s, dir),
      Tables.tableBytes(s, dir, "events"))
    val edges = Tables.events(s, dir)
      .select(col("user_id").as("src"), (col("event_id") % 500).as("dst"))
      .distinct().repartition(w, col("src")).persist()
    edges.count() // materialize now, at session width
    Fixpoint(s, w, edges) { loop =>
      val loopEdges = loop(edges)
      val seeds = loopEdges.select(col("src").as("node"))
        .filter(col("node") % 100 === 0).distinct()
      // the state is the visited set; hop h's frontier is the nodes it
      // discovered at hop h - 1, so one checkpoint per hop
      val visited = loop.rounds(loop.checkpoint(seeds.withColumn("hop", lit(0L))), 3) {
        (visited, h) =>
          val frontier = visited.filter(col("hop") === h - 1).select(col("node"))
          val next = loopEdges
            .join(frontier.hint("shuffle_hash"), col("src") === col("node"))
            .select(col("dst").as("node")).distinct()
            .join(visited.select(col("node")), Seq("node"), "left_anti")
          visited.union(next.withColumn("hop", lit(h.toLong)))
      }.last
      visited.groupBy(col("hop"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("id_sum"))
    }
  }

  private val bfsHopsSql = {
    val steps = (1 to 3).map { h =>
      s"""f$h AS (SELECT node FROM (
        |  SELECT DISTINCT e.dst AS node FROM e JOIN f${h - 1} ON e.src = f${h - 1}.node) t
        |  WHERE node NOT IN (SELECT node FROM v${h - 1})),
        |v$h AS (SELECT * FROM v${h - 1}
        |        UNION ALL SELECT node, CAST($h AS BIGINT) FROM f$h)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT user_id AS src, event_id % 500 AS dst FROM events),
      |f0 AS (SELECT DISTINCT src AS node FROM e WHERE src % 100 = 0),
      |v0 AS (SELECT node, CAST(0 AS BIGINT) AS hop FROM f0),
      |$steps
      |SELECT hop, COUNT(*) AS n_nodes, CAST(SUM(node) AS BIGINT) AS id_sum
      |FROM v3 GROUP BY hop""".stripMargin
  }

  // ------------------------------------------------- weighted SSSP

  /** Single-source(-set) shortest paths over the weighted events graph
    * (edge weight = min event_id%9+1 per (src,dst)), four Bellman-Ford
    * relaxation rounds from the user_id%100=0 seed set. Completes the
    * iterative-graph family: BFS is the unweighted special case, this is
    * the min-plus form. Output is the per-round trajectory census
    * (reached nodes, total distance) — distances only ever DECREASE and
    * the reached set only GROWS, both visible (and oracle-pinned) per
    * round.
    *
    * Scale shape: identical to BFS/components — the weighted edge list
    * is cached pre-partitioned on src (built at session width, see
    * LoopWidth), per round ONE edge↔distance join + min-aggregation over
    * candidate rows; rounds needed = shortest-path hop radius. */
  def sssp(s: SparkSession, dir: String): DataFrame = {
    // size-adaptive loop width, same derivation as [[bfsHops]]
    val w = LoopWidth.forBytes(Tables.events(s, dir),
      Tables.tableBytes(s, dir, "events"))
    val edges = Tables.events(s, dir)
      .select(col("user_id").as("src"), (col("event_id") % 500).as("dst"),
        (col("event_id") % 9 + 1).as("w"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      .repartition(w, col("src")).persist()
    edges.count() // materialize at session width
    Fixpoint(s, w, edges) { loop =>
      val loopEdges = loop(edges)
      val dist0 = loopEdges.select(col("src").as("node"))
        .filter(col("node") % 100 === 0).distinct()
        .select(col("node"), lit(0L).as("dist"))
      val trajectory = loop.rounds(loop.checkpoint(dist0), 4) { (dist, _) =>
        val cand = loopEdges
          .join(dist.hint("shuffle_hash"), col("src") === col("node"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        dist.union(cand)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      }
      trajectory.zipWithIndex.map { case (dist, r) =>
        dist.agg(count(lit(1)).as("n_reached"), sum(col("dist")).as("dist_sum"))
          .select(lit(r.toLong).as("round"), col("n_reached"), col("dist_sum"))
      }.reduce(_.union(_))
    }
  }

  private val ssspSql = {
    val rounds = (1 to 4).map { r =>
      s"""d$r AS (
        |  SELECT node, MIN(dist) AS dist FROM (
        |    SELECT node, dist FROM d${r - 1}
        |    UNION ALL
        |    SELECT e.dst, d.dist + e.w FROM d${r - 1} d JOIN e ON e.src = d.node) t
        |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    val census = (0 to 4).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, COUNT(*) AS n_reached,
        |  CAST(SUM(dist) AS BIGINT) AS dist_sum FROM d$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (
      |  SELECT user_id AS src, event_id % 500 AS dst,
      |    MIN(event_id % 9 + 1) AS w
      |  FROM events GROUP BY 1, 2),
      |d0 AS (
      |  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
      |  FROM e WHERE src % 100 = 0),
      |$rounds
      |$census""".stripMargin
  }

  // ----------------------------------------------- salted aggregation

  /** Two-level salted aggregation: rows first aggregate on
    * (key, salt = row-id % 16), then the 16 partials per key merge —
    * identical results to a direct groupBy (counts add; DECIMAL sums are
    * exact, so re-summing partials is associative), proven by an oracle
    * that aggregates directly. This is the aggregation-side skew escape
    * (the join-side lives in `api/Salting`): a key holding 30% of a
    * 100 TB corpus lands on 16 reducers instead of one, at the price of
    * one extra exchange of (keys × 16) partial rows. */
  def saltedAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), col("value"), (col("event_id") % 16).as("salt"))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sv"))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"), sum(col("sv")).cast("double").as("sum_value"))

  private val saltedAggSql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type""".stripMargin

  // ------------------------------------------------- winsorization

  /** Winsorized (outlier-clipped) value census per event type — the
    * robust-statistics step a feature pipeline runs before training on a
    * heavy-tailed metric: clip to the [p05, p95] band and account for
    * what was clipped. The bounds are DISCRETE order statistics at
    * integer-exact ranks (lo = value at rank ⌈n/20⌉, hi = at ⌈19n/20⌉,
    * ties by event id), so there is no interpolation and both engines
    * agree bit-for-bit; sums are DECIMAL(12,2)-exact cast to double at
    * the edge. Scale shape: rank and count windows share ONE per-type
    * exchange; the bounds table is types-sized and broadcasts back. */
  def winsorize(s: SparkSession, dir: String): DataFrame =
    winsorizeOf(Tables.events(s, dir)
      .select(col("event_type").as("grp"), col("event_id").as("rid"),
        dec(col("value")).as("v")))
      .withColumnRenamed("grp", "event_type")
      .withColumnRenamed("n_rows", "n_events")

  /** The winsorized census over a canonical (grp, rid, v DECIMAL(12,2))
    * frame — shared by the oracle-checked query and `Corpus.winsorize`. */
  private[graft] def winsorizeOf(e: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("grp"))
      .orderBy(col("v"), col("rid"))
    val wAll = Window.partitionBy(col("grp"))
    // the bounds are WINDOW aggregates over the same grp partitioning as
    // the ranks — not a separate agg-and-join-back — so the whole
    // operator is one scan and ONE data exchange: rank window, count
    // window, two bound windows and the final census all share it
    // (plan-asserted in ScaleShapeSpec)
    val ranked = e.withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
    ranked
      .withColumn("lo",
        min(when(col("rn") === expr("(n + 19) DIV 20"), col("v"))).over(wAll))
      .withColumn("hi",
        min(when(col("rn") === expr("(19*n + 19) DIV 20"), col("v"))).over(wAll))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        // CASE, not GREATEST/LEAST: DuckDB's variadic min/max promote
        // DECIMAL through DOUBLE, which costs the exactness contract
        sum(when(col("v") < col("lo"), col("lo"))
          .when(col("v") > col("hi"), col("hi"))
          .otherwise(col("v")))
          .cast("double").as("sum_winsorized"),
        min(col("lo")).cast("double").as("lo"),
        min(col("hi")).cast("double").as("hi"))
  }

  /** Rows-per-group population above which [[winsorizeGuardedOf]] diverts
    * a group off the per-group rank window onto the distributed-rank
    * path — sized like TextPipeline.SpanHotCap: far above what sane
    * grouping columns put in one window task, low enough that one
    * pathological group cannot serialize a straggler. */
  private[graft] val GroupHotCap = 262144L

  /** [[winsorize]] through the hot-group guard ([[winsorizeGuardedOf]])
    * with a cap low enough that the sf0.01 event types take the HOT path
    * — value-identical output, straggler-bounded plan, registered against
    * the SAME oracle SQL so the driver itself pins the equivalence every
    * round (the q_substring_dedup_guarded pattern). */
  def winsorizeGuarded(s: SparkSession, dir: String): DataFrame =
    winsorizeGuardedOf(Tables.events(s, dir)
      .select(col("event_type").as("grp"), col("event_id").as("rid"),
        dec(col("value")).as("v")), cap = 1000L)
      .withColumnRenamed("grp", "event_type")
      .withColumnRenamed("n_rows", "n_events")

  /** [[winsorizeOf]] with an AUTOMATIC hot-group straggler guard — the
    * skew posture the plain form's scaladoc leaves to the operator
    * ("a skewed group is one task"), measured and applied in-plan.
    * Group populations are counted by a map-side-combined hash
    * aggregation (skew-immune); groups over `cap` rows leave the
    * per-group rank window — which serializes a whole group per task —
    * for a distributed-rank path ([[winsorizeHotOf]]), and the two
    * censuses union. The hot list is ≤ totalRows/cap entries by
    * construction, so it broadcasts. Value-identical to [[winsorizeOf]]
    * (q_winsorize_guarded pins it against the SAME oracle SQL;
    * HotGroupGuardSpec plants a 1000× group); the worst task is bounded
    * by a range slice, not by the hottest group. */
  private[graft] def winsorizeGuardedOf(e0: DataFrame,
      cap: Long = GroupHotCap): DataFrame = {
    val e = e0.trackedPersist()
    val (cold, hot) = HotKeys.divert(e, HotKeys.census(e, Seq("grp"), cap),
      Seq("grp"))
    winsorizeOf(cold).unionByName(winsorizeHotOf(hot))
  }

  /** The hot-group leg: per-group DISCRETE order statistics without a
    * per-group window — the q_token_budget two-phase cumsum, per group.
    * Phase 1: a range exchange on the full order key (grp, v, rid)
    * spreads even ONE corpus-sized group over every partition in sorted
    * slices (cached so pid is well-defined across the two readers).
    * Phase 2: per-(grp, slice) counts — partitions × hot-groups rows of
    * metadata — become exclusive prefix offsets and group totals via
    * windows over that tiny table, and broadcast back. Phase 3: local
    * row_numbers within (slice, grp) — every window partition at most
    * one range slice, bounded regardless of skew — plus the offset give
    * exact global ranks; the p05/p95 bounds then fall out of a hash
    * AGGREGATION at the rank marks, and the groups-sized bounds table
    * broadcasts back onto the cached rows for the census. */
  private def winsorizeHotOf(hot: DataFrame): DataFrame = {
    val ranked = Caches.tracked(hot
      .repartitionByRange(col("grp"), col("v"), col("rid"))
      .withColumn("pid", spark_partition_id()))
    val wOff = Window.partitionBy(col("grp")).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = ranked.groupBy(col("grp"), col("pid"))
      .agg(count(lit(1)).as("pc"))
      .withColumn("off", coalesce(sum(col("pc")).over(wOff), lit(0L)))
      .withColumn("gn", sum(col("pc")).over(Window.partitionBy(col("grp"))))
      .select(col("grp").as("__og"), col("pid").as("__op"), col("off"),
        col("gn"))
    val wLoc = Window.partitionBy(col("pid"), col("grp"))
      .orderBy(col("v"), col("rid"))
    // grp joins are NULL-SAFE throughout the hot leg: a NULL group is a
    // legitimate diverted group and must find its offsets and bounds
    val bounds = ranked.join(broadcast(offs),
        col("grp") <=> col("__og") && col("pid") === col("__op"))
      .withColumn("rn", col("off") + row_number().over(wLoc))
      .groupBy(col("grp"))
      .agg(
        min(when(col("rn") === expr("(gn + 19) DIV 20"), col("v"))).as("lo"),
        min(when(col("rn") === expr("(19*gn + 19) DIV 20"), col("v"))).as("hi"))
      .select(col("grp").as("__bg"), col("lo"), col("hi"))
    ranked.join(broadcast(bounds), col("grp") <=> col("__bg"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        sum(when(col("v") < col("lo"), col("lo"))
          .when(col("v") > col("hi"), col("hi"))
          .otherwise(col("v")))
          .cast("double").as("sum_winsorized"),
        min(col("lo")).cast("double").as("lo"),
        min(col("hi")).cast("double").as("hi"))
  }

  private val winsorizeSql =
    """WITH e AS (
      |  SELECT event_type, event_id, CAST(value AS DECIMAL(12,2)) AS v
      |  FROM events),
      |ranked AS (
      |  SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM e),
      |b AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN rn = (n + 19) // 20 THEN v END) AS lo,
      |    MIN(CASE WHEN rn = (19*n + 19) // 20 THEN v END) AS hi
      |  FROM ranked GROUP BY event_type)
      |SELECT e.event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
      |  CAST(SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
      |  CAST(CAST(SUM(CASE WHEN v < lo THEN lo WHEN v > hi THEN hi ELSE v END) AS VARCHAR) AS DOUBLE) AS sum_winsorized,
      |  CAST(MIN(lo) AS DOUBLE) AS lo, CAST(MIN(hi) AS DOUBLE) AS hi
      |FROM e JOIN b ON e.event_type = b.event_type
      |GROUP BY e.event_type""".stripMargin

  // ------------------------------------------------- key-skew census

  /** Key-skew census — the salting PLANNER: before shuffling on a key at
    * 100 TB you measure its distribution, you don't guess. Over the
    * corpus token stream (Zipf-skewed by nature): the top-10 keys by row
    * count with per-mille share of all rows and the integer salt factor
    * — the number of uniform-key-loads this key weighs, i.e. how many
    * salt shards bring its heaviest partition back to the uniform
    * share — ceil(n_rows · n_keys / total), integer-exact.
    *
    * Scale shape: one map-side-combined count per key, a 1-row totals
    * broadcast, and TakeOrdered for the top-10 over aggregated rows —
    * the raw stream is never globally sorted and no window ever sees
    * more than 10 rows. Feeds [[graft.api.Salting]]: a key with
    * salt_factor s joins salted s-ways; everything else stays unsalted. */
  def keySkew(s: SparkSession, dir: String): DataFrame =
    keySkewOf(Tables.documents(s, dir)
      .select(explode(words(col("text"))).as("key")), 10)

  /** Census body over any single-`key`-column frame — ONE definition
    * shared by the oracle-checked [[keySkew]] and `Corpus.keySkewCensus`
    * (the semDedup-drift lesson: a facade that re-implements the
    * formulas can drift from the oracle silently). */
  private[graft] def keySkewOf(keyed: DataFrame, topK: Int): DataFrame = {
    // counts feeds BOTH the top-K and the totals row — cache it so the
    // key aggregation runs once, not twice (the plan assert in
    // ScaleShapeSpec pins exactly one corpus-sized exchange)
    val counts = keyed
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_rows"))
      .trackedPersist()
    val tot = counts.agg(sum(col("n_rows")).as("total"),
      count(lit(1)).as("n_keys"))
    val top = counts.orderBy(col("n_rows").desc, col("key")).limit(topK)
    val wTop = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_rows").desc, col("key"))
    top.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .select(col("rank"), col("key"), col("n_rows"),
        expr("n_rows*1000 DIV total").as("share_pm"),
        expr("(n_rows*n_keys + total - 1) DIV total").as("salt_factor"))
  }

  private val keySkewSql =
    s"""WITH toks AS (
      |  SELECT unnest(w) AS key FROM (SELECT $wordsSqlDoc AS w FROM documents)),
      |counts AS (SELECT key, COUNT(*) AS n_rows FROM toks GROUP BY key),
      |tot AS (
      |  SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
      |    CAST(COUNT(*) AS BIGINT) AS n_keys FROM counts),
      |top AS (
      |  SELECT key, n_rows,
      |    row_number() OVER (ORDER BY n_rows DESC, key) AS rank
      |  FROM counts)
      |SELECT CAST(rank AS BIGINT) AS rank, key, n_rows,
      |  n_rows*1000 // total AS share_pm,
      |  (n_rows*n_keys + total - 1) // total AS salt_factor
      |FROM top CROSS JOIN tot WHERE rank <= 10""".stripMargin

  // ------------------------------------------------- trend fitting

  /** Integer-exact least-squares trend per event type over hourly event
    * counts: slope and intercept from the closed-form normal equations,
    * all sums in BIGINT (x = hour index ≤ ~10³, y = hourly counts —
    * every term stays far under 2^63) and the final ratios as scaled
    * integer division, so the fit is bit-deterministic on any engine and
    * any aggregation order. Two hash aggs (hourly rollup ∝ hours×types,
    * then the 5-row moment agg) — the raw stream never reaches the
    * regression. The monitoring/capacity-planning staple. */
  def trendFit(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .select(col("event_type"), epochMs(col("ts")).as("ms"))
      .select(col("event_type"), expr("ms DIV 3600000").as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("y"))
    val x = col("h") - min(col("h")).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("event_type")))
    hourly.select(col("event_type"), x.as("x"), col("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n"), col("sy").as("total_events"),
        expr("(1000000 * (n * sxy - sx * sy)) DIV (n * sxx - sx * sx)")
          .as("slope_ppm"),
        expr("(1000000 * sy - ((1000000 * (n * sxy - sx * sy)) DIV (n * sxx - sx * sx)) * sx) DIV n")
          .as("intercept_ppm"))
  }

  private val trendFitSql =
    """WITH hourly AS (
      |  SELECT event_type, epoch_ms(ts) // 3600000 AS h, COUNT(*) AS y
      |  FROM events GROUP BY 1, 2),
      |xs AS (
      |  SELECT event_type, h - MIN(h) OVER (PARTITION BY event_type) AS x, y
      |  FROM hourly),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM xs GROUP BY event_type)
      |SELECT event_type, n, sy AS total_events,
      |  CAST((1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx) AS BIGINT) AS slope_ppm,
      |  CAST((1000000 * sy - ((1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx)) * sx) // n AS BIGINT) AS intercept_ppm
      |FROM m""".stripMargin

  // ----------------------------------------------- MERGE / CDC apply

  /** MERGE INTO (CDC apply) as one relational plan: a change batch of
    * deletes (doc_id % 13), updates (% 7, chars +1000), and inserts
    * (% 11, re-keyed +1e6) applied to the base table with a single
    * full-outer join — update/insert columns win via coalesce, delete
    * rows are filtered, untouched rows pass through. Output is the
    * post-merge per-language census. Scale shape: ONE shuffle of each
    * side on the merge key (at 100 TB the base side is usually bucketed
    * on that key already, making this exchange-free on the big side);
    * pairs with q_latest_snapshot (CDC read path) and
    * q_incremental_dedup (CDC ingest-dedup path). */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val del = base.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"), lit("D").as("op"),
        lit(null).cast("long").as("new_chars"),
        lit(null).cast("string").as("new_lang"))
    val upd = base.filter(col("doc_id") % 13 =!= 0 && col("doc_id") % 7 === 0)
      .select(col("doc_id"), lit("U").as("op"),
        (col("n_chars") + 1000).as("new_chars"), col("lang").as("new_lang"))
    // insert keys re-key far above any plausible base id (2^40): an
    // offset inside the live id space would silently turn inserts into
    // updates of unrelated rows once doc_ids reached it
    val ins = base.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1099511627776L).as("doc_id"), lit("I").as("op"),
        (col("n_chars") + 7).as("new_chars"), col("lang").as("new_lang"))
    base.join(del.union(upd).union(ins), Seq("doc_id"), "full_outer")
      .filter(coalesce(col("op"), lit("keep")) =!= "D")
      .select(col("doc_id"),
        coalesce(col("new_lang"), col("lang")).as("mlang"),
        coalesce(col("new_chars"), col("n_chars")).as("mchars"))
      .groupBy(col("mlang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("mchars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .select(col("mlang").as("lang"), col("n_docs"), col("sum_chars"),
        col("min_doc"), col("max_doc"))
  }

  /** [[mergeUpsert]] at the BUCKETED base layout — the 100 TB MERGE
    * story as an oracle row. The base table is written `bucketBy(8,
    * doc_id)` once (inside the deferred stage, so Bench bills the
    * layout as `construction`), and the CDC apply's full-outer join
    * then exchanges ONLY the delta side: the base's join shuffle is
    * deleted by the layout, which is the entire economics of MERGE at
    * scale (the delta is GBs, the base is the 100 TB). Output and
    * oracle are deliberately IDENTICAL to q_merge_upsert — value
    * identity is the correctness pin; the single-Exchange plan shape is
    * BucketedJoinSpec's. */
  def mergeUpsertBucketed(s: SparkSession, dir: String): DataFrame = {
    val path = graft.core.Scratch.dir("bktdocs", dir)
    graft.plans.DeferredIngest(s,
      "doc_id BIGINT, mlang STRING, mchars BIGINT") {
      mergeUpsertBucketedFrames(s, dir, path, numBuckets = 8)
    }
      .groupBy(col("mlang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("mchars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .select(col("mlang").as("lang"), col("n_docs"), col("sum_chars"),
        col("min_doc"), col("max_doc"))
  }

  /** The bucketize + merge-join leg, factored out so BucketedJoinSpec
    * can census the plan directly: exactly one Exchange (the delta
    * side), the bucketed base scan reaching the SortMergeJoin
    * unexchanged. Same change-batch derivation as [[mergeUpsert]]. */
  private[graft] def mergeUpsertBucketedFrames(s: SparkSession, dir: String,
      path: String, numBuckets: Int): DataFrame = {
    val tag = Integer.toHexString(dir.hashCode)
    val base = graft.api.Layout.bucketize(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars")),
      "doc_id", numBuckets, path, s"graft_bkt_documents_$tag")
    val del = base.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"), lit("D").as("op"),
        lit(null).cast("long").as("new_chars"),
        lit(null).cast("string").as("new_lang"))
    val upd = base.filter(col("doc_id") % 13 =!= 0 && col("doc_id") % 7 === 0)
      .select(col("doc_id"), lit("U").as("op"),
        (col("n_chars") + 1000).as("new_chars"), col("lang").as("new_lang"))
    val ins = base.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1099511627776L).as("doc_id"), lit("I").as("op"),
        (col("n_chars") + 7).as("new_chars"), col("lang").as("new_lang"))
    // merge hint: pin SortMergeJoin so the layout, not a small-side
    // broadcast, is what deletes the base exchange at every scale
    base.hint("merge")
      .join(del.union(upd).union(ins), Seq("doc_id"), "full_outer")
      .filter(coalesce(col("op"), lit("keep")) =!= "D")
      .select(col("doc_id"),
        coalesce(col("new_lang"), col("lang")).as("mlang"),
        coalesce(col("new_chars"), col("n_chars")).as("mchars"))
  }

  private val mergeUpsertSql =
    """WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
      |del AS (SELECT doc_id, 'D' AS op, CAST(NULL AS BIGINT) AS new_chars,
      |               CAST(NULL AS VARCHAR) AS new_lang
      |        FROM base WHERE doc_id % 13 = 0),
      |upd AS (SELECT doc_id, 'U', n_chars + 1000, lang
      |        FROM base WHERE doc_id % 13 <> 0 AND doc_id % 7 = 0),
      |ins AS (SELECT doc_id + 1099511627776, 'I', n_chars + 7, lang
      |        FROM base WHERE doc_id % 11 = 0),
      |ch AS (SELECT * FROM del UNION ALL SELECT * FROM upd
      |       UNION ALL SELECT * FROM ins),
      |m AS (
      |  SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
      |    COALESCE(c.new_lang, b.lang) AS lang,
      |    COALESCE(c.new_chars, b.n_chars) AS n_chars, c.op
      |  FROM base b FULL OUTER JOIN ch c ON b.doc_id = c.doc_id)
      |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM m WHERE COALESCE(op, 'keep') <> 'D' GROUP BY lang""".stripMargin

  // ------------------------------------------------ k-anonymity audit

  private val KAnon = 5L

  /** k-anonymity audit over the documents quasi-identifier tuple
    * (lang, source, length-century): how much of the corpus sits in
    * equivalence classes smaller than k = 5 — rows a privacy release
    * would have to suppress or generalize. The PII-hygiene counterpart
    * of q_redact: redaction scrubs direct identifiers, this measures
    * re-identification risk from the quasi-identifiers that remain.
    * Per-language census: classes, under-k classes, rows at risk,
    * largest class.
    *
    * Scale shape: one scan → (QI-tuple) hash agg (∝ distinct tuples,
    * never rows) → per-language rollup of the class table. At 100 TB
    * the class table is the only shuffled payload. */
  def kAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), col("source"), expr("n_chars DIV 100").as("len_c"))
      .groupBy(col("lang"), col("source"), col("len_c"))
      .agg(count(lit(1)).as("cn"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_classes"),
        sum(when(col("cn") < KAnon, 1L).otherwise(0L)).as("n_underk_classes"),
        sum(when(col("cn") < KAnon, col("cn")).otherwise(0L)).as("n_rows_at_risk"),
        sum(col("cn")).as("n_rows"),
        max(col("cn")).as("max_class"))

  private val kAnonymitySql =
    s"""WITH cls AS (
      |  SELECT lang, source, n_chars // 100 AS len_c, COUNT(*) AS cn
      |  FROM documents GROUP BY 1, 2, 3)
      |SELECT lang, COUNT(*) AS n_classes,
      |  CAST(SUM(CASE WHEN cn < $KAnon THEN 1 ELSE 0 END) AS BIGINT) AS n_underk_classes,
      |  CAST(SUM(CASE WHEN cn < $KAnon THEN cn ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
      |  CAST(SUM(cn) AS BIGINT) AS n_rows,
      |  CAST(MAX(cn) AS BIGINT) AS max_class
      |FROM cls GROUP BY lang""".stripMargin

  // ---------------------------------------------------------- table stats

  /** How a stat column renders to the uniform string schema. Min/max are
    * aggregated on the NATIVE type (a lexicographic min over rendered
    * strings would order "10" < "9") and rendered afterwards. */
  private[graft] case class StatCol(name: String,
      render: org.apache.spark.sql.Column => org.apache.spark.sql.Column)

  private[graft] val statRenderId: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    c => c.cast("string")
  private[graft] val statRenderDec: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    c => dec(c).cast("string")
  private[graft] val statRenderTs: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    c => date_format(c, "yyyy-MM-dd HH:mm:ss")

  private val lineitemStatCols: Seq[StatCol] = Seq(
    StatCol("l_orderkey", statRenderId), StatCol("l_partkey", statRenderId),
    StatCol("l_suppkey", statRenderId), StatCol("l_linenumber", statRenderId),
    StatCol("l_quantity", statRenderDec),
    StatCol("l_extendedprice", statRenderDec),
    StatCol("l_discount", statRenderDec), StatCol("l_tax", statRenderDec),
    StatCol("l_returnflag", statRenderId),
    StatCol("l_linestatus", statRenderId),
    StatCol("l_shipdate", statRenderTs))

  /** ANALYZE TABLE: a per-column statistics census — row count, null
    * count, distinct count, rendered min/max — computed in ONE
    * aggregation over one scan and unpivoted to a row per column (the
    * stats table a cost-based planner reads to pick broadcast sides and
    * detect skew; the engine's own `q_cms_join_size` is the sketch-side
    * complement). The oracle query uses EXACT distinct counts so DuckDB
    * can replay it; exact multi-column distincts make Spark plan an
    * Expand (input ×#columns before partial aggregation), which is the
    * wrong trade at 100 TB — `Corpus.analyzeTable` therefore defaults to
    * `approx_count_distinct` (one pass, constant HLL state per column,
    * no Expand), with exactness a flag. TableStatsSpec pins the approx
    * census within HLL tolerance of this exact one. */
  def tableStats(s: SparkSession, dir: String): DataFrame =
    tableStatsOf(Tables.lineitem(s, dir), lineitemStatCols, exactNdv = true)

  private[graft] def tableStatsOf(df: DataFrame, cols: Seq[StatCol],
      exactNdv: Boolean): DataFrame = {
    // exact NDVs deliberately do NOT ride the one-pass agg: k
    // countDistincts in one Aggregate plan through an Expand — k+1
    // copies of every input row through the hash aggregate (720M rows
    // for lineitem's 11 stat columns at the r14 100× drive; 537 s).
    // Instead each exact NDV is its own single-distinct aggregate over a
    // COLUMN-PRUNED scan: partial aggregation dedups map-side, the
    // exchange carries only per-partition distinct values, and the k
    // branches union into one 11-row frame that broadcast-joins back —
    // k cheap single-column passes beat one k×-expanded pass at any
    // volume. The approx (HLL) path keeps the true one-pass shape — at
    // 100 TB that is the production dial (Corpus.analyzeTable default).
    // the k-pass trade above is proven for SCAN inputs (each pass is a
    // column-pruned file scan); for a DERIVED frame — join/filter/
    // transform output — k+1 lineage recomputations would dwarf the
    // Expand this path avoids, so non-scan inputs persist for the
    // duration (the harness drains via Caches.release, the same
    // contract every shared-subplan constructor uses)
    def scanLike(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p match {
        case pr: org.apache.spark.sql.catalyst.plans.logical.Project => scanLike(pr.child)
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => scanLike(f.child)
        case other => other.children.isEmpty
      }
    // a zero-column census is a caller bug — fail loudly (the exact
    // path's union and the approx path's empty-array explode would both
    // otherwise die with opaque analysis errors)
    require(cols.nonEmpty, "tableStatsOf: no stat columns")
    val src =
      if (!exactNdv || scanLike(df.queryExecution.optimizedPlan)) df
      else graft.core.Caches.tracked(df)
    val aggs = Seq(count(lit(1)).as("n_rows")) ++ cols.flatMap { sp =>
      val c = col(sp.name)
      Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__nn_${sp.name}"),
        min(c).as(s"__mn_${sp.name}"), max(c).as(s"__mx_${sp.name}")) ++
        (if (exactNdv) Nil
         else Seq(approx_count_distinct(c).as(s"__nd_${sp.name}")))
    }
    val one = src.agg(aggs.head, aggs.tail: _*)
    if (exactNdv) {
      val unpivoted = array(cols.map { sp =>
        struct(lit(sp.name).as("col_name"),
          col(s"__nn_${sp.name}").as("n_nulls"),
          sp.render(col(s"__mn_${sp.name}")).as("min_s"),
          sp.render(col(s"__mx_${sp.name}")).as("max_s"))
      }: _*)
      val base = one.select(col("n_rows"), explode(unpivoted).as("r"))
        .select(col("r.col_name").as("col_name"), col("n_rows"),
          col("r.n_nulls").as("n_nulls"),
          col("r.min_s").as("min_s"), col("r.max_s").as("max_s"))
      val ndvs = cols.map { sp =>
        src.agg(countDistinct(col(sp.name)).cast("long").as("n_distinct"))
          .select(lit(sp.name).as("col_name"), col("n_distinct"))
      }.reduce(_.unionByName(_))
      base.join(broadcast(ndvs), Seq("col_name"))
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_s"), col("max_s"))
    } else {
      val unpivoted = array(cols.map { sp =>
        struct(lit(sp.name).as("col_name"),
          col(s"__nn_${sp.name}").as("n_nulls"),
          col(s"__nd_${sp.name}").cast("long").as("n_distinct"),
          sp.render(col(s"__mn_${sp.name}")).as("min_s"),
          sp.render(col(s"__mx_${sp.name}")).as("max_s"))
      }: _*)
      one.select(col("n_rows"), explode(unpivoted).as("r"))
        .select(col("r.col_name").as("col_name"), col("n_rows"),
          col("r.n_nulls").as("n_nulls"), col("r.n_distinct").as("n_distinct"),
          col("r.min_s").as("min_s"), col("r.max_s").as("max_s"))
    }
  }

  private val tableStatsSql = {
    def row(name: String, mn: String, mx: String) =
      s"""SELECT '$name' AS col_name, COUNT(*) AS n_rows,
         |  CAST(SUM(CASE WHEN $name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT $name) AS BIGINT) AS n_distinct,
         |  $mn AS min_s, $mx AS max_s FROM lineitem""".stripMargin
    def id(n: String) = row(n, s"CAST(MIN($n) AS VARCHAR)", s"CAST(MAX($n) AS VARCHAR)")
    def dc(n: String) = row(n,
      s"CAST(CAST(MIN($n) AS DECIMAL(12,2)) AS VARCHAR)",
      s"CAST(CAST(MAX($n) AS DECIMAL(12,2)) AS VARCHAR)")
    def ts(n: String) = row(n,
      s"strftime(MIN($n), '%Y-%m-%d %H:%M:%S')",
      s"strftime(MAX($n), '%Y-%m-%d %H:%M:%S')")
    Seq(id("l_orderkey"), id("l_partkey"), id("l_suppkey"),
      id("l_linenumber"), dc("l_quantity"), dc("l_extendedprice"),
      dc("l_discount"), dc("l_tax"), id("l_returnflag"),
      id("l_linestatus"), ts("l_shipdate")).mkString("\nUNION ALL\n")
  }

  val defs: Seq[GQuery] = Seq(
    GQuery("q_k_anonymity", kAnonymity, Some(kAnonymitySql)),
    GQuery("q_table_stats", tableStats, Some(tableStatsSql)),
    GQuery("q_retention", retention, Some(retentionSql), headline = true),
    GQuery("q_constraints", constraints, Some(constraintsSql)),
    GQuery("q_bloom_membership", bloomMembership, Some(bloomMembershipSql),
      headline = true),
    GQuery("q_bfs_hops", bfsHops, Some(bfsHopsSql)),
    GQuery("q_sssp", sssp, Some(ssspSql), headline = true),
    GQuery("q_salted_agg", saltedAgg, Some(saltedAggSql)),
    GQuery("q_key_skew", keySkew, Some(keySkewSql)),
    GQuery("q_winsorize", winsorize, Some(winsorizeSql)),
    GQuery("q_winsorize_guarded", winsorizeGuarded, Some(winsorizeSql)),
    GQuery("q_trend_fit", trendFit, Some(trendFitSql)),
    GQuery("q_merge_upsert", mergeUpsert, Some(mergeUpsertSql),
      headline = true),
    GQuery("q_merge_upsert_bucketed", mergeUpsertBucketed,
      Some(mergeUpsertSql), headline = true))
}
