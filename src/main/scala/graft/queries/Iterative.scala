package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Fixpoint, GQuery, LoopWidth, Tables}

/** Iterative dataflows — the reference's chained-job pattern
  * (`job_spec_generators/pagerank.py:16-39`, `utils.py:71-79
  * run_in_sequence`; `KMeansMapFunction.cc` / `KMeansReduceFunction.cc`)
  * re-expressed as driver-side Scala loops over DataFrames, which is the
  * Spark-native equivalent of Themis's sequenced jobs: each iteration is
  * one shuffle stage, and the loop lives on the driver, not in the data.
  *
  * Both queries use *scaled-integer* arithmetic (ranks ×1e6, embedding
  * coords ×1e6) so every iteration is exact and the DuckDB oracle matches
  * bit-for-bit regardless of aggregation order. (At extreme scale the
  * rank sums stay < 2^63 for graphs up to ~1e9 nodes; beyond that, switch
  * the rank column to double — the integer form exists for deterministic
  * verification.)
  */
object Iterative {

  /** The part↔supplier bipartite edge list (src-hash layout, 2 columns)
    * plus its node-sized out-degree side table — the shared graph all
    * PageRank variants iterate over. r16 carried the degree ON the edge
    * rows via a whole-partition window; r17 profiling showed that window
    * paying a 1.2M-row sort at edge-build time (10.3 s task time at
    * sf0.1) and fattening every per-iteration edge read by a third. The
    * degree is a function of src alone, so it lives in a node-sized
    * table instead: the degree agg runs ON the cached src-hash layout
    * (no exchange — groupBy(src) is satisfied by the repartition), and
    * each iteration attaches rank DIV d on the NODE side before the
    * edge join (per-edge value is identical — it never depended on the
    * edge). Symmetrize with ONE explode pass (a union of two
    * projections would run the scan+distinct subtree twice — DataFrames
    * share no common subplans). The PageRank loop unpersists both. */
  private def edgesAndDegrees(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val base = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val edges = base.select(explode(array(
        struct((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst")),
        struct((col("l_suppkey") * 2 + 1).as("src"), (col("l_partkey") * 2).as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      .persist()
    val degrees = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("d"))
      .select(col("src").as("node"), col("d"))
      .persist()
    (edges, degrees)
  }

  /** Iteration width for the rank/edge state, derived from the anchor
    * table's bytes and clamped to the session width
    * ([[LoopWidth.forBytes]]): the graph is a distinct projection of
    * lineitem, so at bench scale (MBs of anchor) the rounds run a few
    * partitions wide instead of paying the full session width's
    * per-task fixed costs per round, while at 100 TB the byte term
    * exceeds the clamp and the rounds keep the session-width plan. */
  private def pagerankWidth(s: SparkSession, dir: String,
      edges: DataFrame): Int =
    LoopWidth.forBytes(edges, Tables.tableBytes(s, dir, "lineitem"))

  /** A PageRank form's arithmetic: the seed rank, a node's per-edge share
    * of `rank` over out-degree `d`, the next rank from summed `contrib`. */
  private final case class RankArith(seed: Column, share: Column, damp: Column)
  // ranks ×1e6 with DIV truncation (oracle-exact); double ranks
  private val IntRanks = RankArith(lit(1000000L), expr("rank DIV d"),
    expr("150000 + (850000 * contrib) DIV 1000000"))
  private val DoubleRanks = RankArith(lit(1.0), col("rank") / col("d"),
    lit(0.15) + lit(0.85) * col("contrib"))

  /** `iters` PageRank rounds over the part↔supplier graph, checkpointed
    * every `every` rounds (lazily chained between), handed to `finish`
    * as the rank trajectory (round 0 = the seed). */
  private def pagerankLoop(s: SparkSession, dir: String, arith: RankArith,
      iters: Int, every: Int)(finish: IndexedSeq[DataFrame] => DataFrame)
      : DataFrame = {
    val (edgesD, degrees) = edgesAndDegrees(s, dir)
    Fixpoint(s, pagerankWidth(s, dir, edgesD), edgesD, degrees) { loop =>
      // seed straight off the degree table — it IS distinct(src), and it
      // arrives already src-hash-partitioned from the cached layout
      val (loopEdges, loopDegrees) = (loop(edgesD), loop(degrees))
      val seed = loopDegrees.select(col("node"), arith.seed.as("rank"))
      finish(loop.rounds(seed, iters, every) { (ranks, _) =>
        // shuffled-hash join, building on the node-state side: avoids
        // re-sorting the cached edge list every iteration (SMJ would),
        // and unlike a broadcast stays valid when node state is huge.
        // The share attaches on the node side (degrees ⋈ ranks, both
        // node-sized and co-partitioned) before the edge join.
        val contribs = loopDegrees
          .join(ranks.hint("shuffle_hash"), Seq("node"))
          .select(col("node"), arith.share.as("c"))
        loopEdges.join(contribs.hint("shuffle_hash"),
            col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(sum(col("c")).as("contrib"))
          .select(col("dst").as("node"), arith.damp.as("rank"))
      })
    }
  }

  /** PageRank, 3 power iterations, damping 0.85, over the bipartite
    * part↔supplier graph from lineitem (both directions, so every node
    * has out-edges — no dangling mass). Node ids are namespaced:
    * part → 2k, supplier → 2k+1.
    *
    * Per iteration: one equi-join rank⋈edges + one hash aggregation —
    * exactly the tagged-union-through-shuffle the reference emulates in
    * `PageRankMapFunction.cc:8-43`/`PageRankReduceFunction.cc:6-64`, but
    * as a real join. The edge list and the degree table are cached
    * across iterations; the three iterations chain lazily into one job
    * (at 3 the chain is cheaper than extra job boundaries; long runs
    * checkpoint every few rounds — see [[pagerankDouble]]). */
  def pagerank(s: SparkSession, dir: String): DataFrame =
    pagerankLoop(s, dir, IntRanks, iters = 3, every = 3)(_.last)

  /** Production PageRank: double-precision ranks (the scaled-integer form
    * above exists for oracle exactness and overflows past ~1e9 nodes) and
    * an unbounded iteration count with checkpoint-every-k — each
    * checkpoint cuts the lineage so Catalyst re-optimizes a constant-size
    * plan per round instead of the whole prefix, which is what keeps a
    * 50-iteration run from quadratic planning cost. Not oracle-checked
    * (double summation order is engine- and run-dependent); PageRankSpec
    * asserts rank-order agreement with the integer-exact form. */
  def pagerankDouble(s: SparkSession, dir: String,
      iters: Int = 3, checkpointEvery: Int = 3): DataFrame =
    pagerankLoop(s, dir, DoubleRanks, iters, checkpointEvery)(_.last)

  /** Conserved-mass census of the double-precision PageRank — the
    * portable face of [[pagerankDouble]]: one row per iteration with the
    * node count and total rank mass scaled to integer milli-units.
    *
    * Why this IS oracle-exact when the per-node doubles are not: on the
    * symmetrized graph every node has out-degree ≥ 1, so each
    * iteration's total mass obeys S_i = 0.15·N + 0.85·S_{i-1} with
    * S_0 = N — identically N at every iteration in real arithmetic. The
    * engines disagree only in floating-point summation ORDER, an error
    * ~1e-11·N, so `round(S·1000)` = N·1000 exactly on both. A real
    * regression (degree bug, dropped edges, wrong damping) shifts mass
    * by whole units and fails loudly. The per-node double ranks stay a
    * library surface ([[pagerankDouble]]), rank-order-parity-checked
    * against the integer-exact form in PageRankSpec.
    *
    * Each iteration is referenced twice (census + next round), so ranks
    * checkpoint every round — which is also what cuts lineage for long
    * runs. */
  def pagerankDoubleMass(s: SparkSession, dir: String, iters: Int = 3): DataFrame =
    pagerankLoop(s, dir, DoubleRanks, iters, every = 1) { trajectory =>
      (1 to iters).map { i =>
        trajectory(i).agg(count(lit(1)).as("n_nodes"),
            expr("CAST(round(SUM(rank) * 1000) AS BIGINT)").as("mass_milli"))
          .select(lit(i.toLong).as("iter"), col("n_nodes"), col("mass_milli"))
      }.reduce(_.unionByName(_))
    }

  private val pagerankDoubleMassSql = {
    def iter(prev: String, out: String) =
      s"""$out AS (
        |  SELECT dst AS node, 0.15 + 0.85 * contrib AS rank FROM (
        |    SELECT e.dst, SUM(r.rank / e.d) AS contrib
        |    FROM ed e JOIN $prev r ON e.src = r.node GROUP BY e.dst) t)""".stripMargin
    def census(i: Int) =
      s"""SELECT CAST($i AS BIGINT) AS iter, COUNT(*) AS n_nodes,
        |  CAST(round(SUM(rank) * 1000) AS BIGINT) AS mass_milli FROM r$i""".stripMargin
    s"""WITH base AS (
      |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |edges AS (
      |  SELECT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM base
      |  UNION ALL
      |  SELECT l_suppkey*2+1 AS src, l_partkey*2 AS dst FROM base),
      |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
      |ed AS (SELECT e.src, e.dst, d.d FROM edges e JOIN deg d ON e.src = d.src),
      |r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM deg),
      |${iter("r0", "r1")},
      |${iter("r1", "r2")},
      |${iter("r2", "r3")}
      |${census(1)}
      |UNION ALL
      |${census(2)}
      |UNION ALL
      |${census(3)}""".stripMargin
  }

  private val pagerankSql = {
    def iter(prev: String, out: String) =
      s"""$out AS (
        |  SELECT dst AS node, CAST(150000 + (850000 * contrib) // 1000000 AS BIGINT) AS rank FROM (
        |    SELECT e.dst, SUM(r.rank // e.d) AS contrib
        |    FROM ed e JOIN $prev r ON e.src = r.node GROUP BY e.dst) t)""".stripMargin
    s"""WITH base AS (
      |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |edges AS (
      |  SELECT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM base
      |  UNION ALL
      |  SELECT l_suppkey*2+1 AS src, l_partkey*2 AS dst FROM base),
      |deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
      |ed AS (SELECT e.src, e.dst, d.d FROM edges e JOIN deg d ON e.src = d.src),
      |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
      |${iter("r0", "r1")},
      |${iter("r1", "r2")},
      |${iter("r2", "r3")}
      |SELECT node, rank FROM r3""".stripMargin
  }

  /** HITS hubs & authorities over the DIRECTED part→supplier purchase
    * graph (hubs = parts, authorities = suppliers), 3 max-normalized
    * iterations in scaled-integer arithmetic: h(p) ← Σ a(s) over p's
    * suppliers, a(s) ← Σ h(p) over s's parts, each renormalized to
    * max = 1e6 with integer DIV (max-normalization converges to the same
    * ranking as the textbook L2 form and stays oracle-exact). Completes
    * the link-analysis family next to [[pagerank]].
    *
    * Scale shape: the edge list is cached TWICE, once hash-partitioned
    * per join side (`by p` for the authority update, `by sup` for the hub
    * update) — each half-iteration then exchanges only the node-score
    * side, never the edges; the normalizer is a 1-row aggregate
    * cross-joined back (a broadcast, not a driver round-trip). Scores
    * checkpoint per half-step because the max aggregate references the
    * same subtree a second time (lazy chaining would double the plan per
    * half-step). */
  def hits(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sup")).distinct()
    // the PageRank graph's width: the same lineitem projection
    hitsGraph(base, pagerankWidth(s, dir, base))
  }

  /** [[hits]] over an explicit (p, sup) edge frame at loop width `width`
    * (spec surface). */
  private[graft] def hitsGraph(base: DataFrame, width: Int): DataFrame = {
    val edgesByP = base.repartition(col("p")).persist()
    val edgesBySup = base.repartition(col("sup")).persist()
    Fixpoint(base.sparkSession, width, edgesByP, edgesBySup) { loop =>
      val (byP, bySup) = (loop(edgesByP), loop(edgesBySup))
      val a0 = loop.checkpoint(bySup.select(col("sup")).distinct()
        .select(col("sup"), lit(1000000L).as("a")))
      // six half-steps: odd ones update hubs from authorities, even ones
      // authorities from hubs
      val scores = loop.rounds(a0, 6) { (prev, r) =>
        if (r % 2 == 1) hitsHalfStep(bySup, prev, "sup", "a", "p", "h")
        else hitsHalfStep(byP, prev, "p", "h", "sup", "a")
      }
      scores(5).select(lit("hub").as("role"), col("p").as("node"), col("h").as("score"))
        .union(scores(6).select(lit("authority").as("role"), col("sup").as("node"),
          col("a").as("score")))
    }
  }

  /** One HITS half-step: each `to` node scores the sum of its `from`
    * neighbors' `in` scores, max-normalized to 1e6 as column `out`. */
  private def hitsHalfStep(edges: DataFrame, scores: DataFrame,
      from: String, in: String, to: String, out: String): DataFrame = {
    val raw = edges.join(scores.hint("shuffle_hash"), from)
      .groupBy(col(to)).agg(sum(col(in)).as("raw"))
    raw.crossJoin(raw.agg(max(col("raw")).as("mx")))
      .select(col(to), expr("(raw * 1000000) DIV mx").as(out))
  }

  private val hitsSql = {
    // Every CTE here is referenced at least twice (once by the next
    // half-step, once by its own MAX normalizer). DuckDB INLINES
    // non-materialized CTEs per reference, so without MATERIALIZED the
    // re-evaluation doubles per half-step — 2^6 base-join replays over
    // three iterations, which at 10× data burned CPU-hours and spilled
    // the sandbox disk to death. MATERIALIZED pins each half-step to
    // one evaluation, same rows.
    def iter(aPrev: String, i: Int) =
      s"""h$i AS MATERIALIZED (SELECT p, SUM(a) AS hr FROM e JOIN $aPrev USING (sup) GROUP BY p),
        |hn$i AS MATERIALIZED (SELECT p, hr * 1000000 // (SELECT MAX(hr) FROM h$i) AS h FROM h$i),
        |a$i AS MATERIALIZED (SELECT sup, SUM(h) AS ar FROM e JOIN hn$i USING (p) GROUP BY sup),
        |an$i AS MATERIALIZED (SELECT sup, ar * 1000000 // (SELECT MAX(ar) FROM a$i) AS a FROM a$i)""".stripMargin
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT l_partkey AS p, l_suppkey AS sup FROM lineitem),
      |an0 AS MATERIALIZED (SELECT DISTINCT sup, CAST(1000000 AS BIGINT) AS a FROM e),
      |${iter("an0", 1)},
      |${iter("an1", 2)},
      |${iter("an2", 3)}
      |SELECT 'hub' AS role, p AS node, CAST(h AS BIGINT) AS score FROM hn3
      |UNION ALL
      |SELECT 'authority', sup, CAST(a AS BIGINT) FROM an3""".stripMargin
  }

  /** Two Lloyd iterations of k-means (k = 10, centers seeded from the
    * first 10 vectors): assign, one integer-exact centroid update (sum
    * DIV n per dimension), reassign — both assignments on the fused
    * nearest-cell kernel, so no pass materializes a point×center frame.
    * The trained centers are [[Similarity.annIvfTrained]]'s codebook;
    * the body is [[Similarity.kmeansCensus]] with one Lloyd round. */
  def kmeansIter2(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansCensus(s, dir, rounds = 1)

  // list-comprehension distances + MATERIALIZED CTEs (the q_semdedup r12
  // pattern): the per-dimension unnest join builds n×64×k intermediate
  // rows and ground unboundedly at the 100× replica volume; whole-vector
  // list_sum is work ∝ n×k. The unnested pts survives ONLY for the Lloyd
  // per-dim mean (work ∝ n×64, no k factor). OracleScaleSpec pins the
  // formulation.
  private val kmeansIter2Sql =
    """WITH iv AS MATERIALIZED (
      |  SELECT vec_id, [CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) for x in embedding] AS v
      |  FROM embeddings),
      |c0 AS MATERIALIZED (
      |  SELECT vec_id AS cid, v AS cv FROM iv WHERE vec_id < 10),
      |a1 AS MATERIALIZED (
      |  SELECT vec_id, (MIN({'d': dist, 'c': cid})).c AS cid
      |  FROM (
      |    SELECT p.vec_id, c.cid,
      |      list_sum([(p.v[i]-c.cv[i])*(p.v[i]-c.cv[i]) for i in range(1,65)]) AS dist
      |    FROM iv p CROSS JOIN c0 c) t
      |  GROUP BY vec_id),
      |pts AS MATERIALIZED (
      |  SELECT vec_id, t.dim, v[t.dim] AS x FROM iv CROSS JOIN range(1, 65) t(dim)),
      |c1 AS MATERIALIZED (
      |  SELECT cid, [CAST(sx[d] // cnt AS BIGINT) for d in range(1, 65)] AS cv
      |  FROM (
      |    SELECT cid, list(sx ORDER BY dim) AS sx, MAX(cnt) AS cnt
      |    FROM (
      |      SELECT a1.cid, pts.dim, SUM(pts.x) AS sx, COUNT(*) AS cnt
      |      FROM pts JOIN a1 USING (vec_id) GROUP BY a1.cid, pts.dim) g
      |    GROUP BY cid) z),
      |a2 AS (
      |  SELECT vec_id, (MIN({'d': dist, 'c': cid})).c AS cid
      |  FROM (
      |    SELECT p.vec_id, c.cid,
      |      list_sum([(p.v[i]-c.cv[i])*(p.v[i]-c.cv[i]) for i in range(1,65)]) AS dist
      |    FROM iv p CROSS JOIN c1 c) t
      |  GROUP BY vec_id)
      |SELECT cid, COUNT(*) AS n_points, CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id FROM a2 GROUP BY cid""".stripMargin

  val defs: Seq[GQuery] = Seq(
    GQuery("q_pagerank", pagerank, Some(pagerankSql), headline = true),
    // the double path's registry face is the conserved-mass census
    // (oracle-exact — see pagerankDoubleMass scaladoc); it forces the
    // same full double-precision iteration, so the headline timing is
    // comparable with prior rounds. The per-node double ranks stay a
    // library surface, rank-order-parity-checked in PageRankSpec.
    GQuery("q_pagerank_double", (s, d) => pagerankDoubleMass(s, d),
      Some(pagerankDoubleMassSql), headline = true),
    GQuery("q_hits", hits, Some(hitsSql)),
    GQuery("q_kmeans_iter2", kmeansIter2, Some(kmeansIter2Sql)))
}
