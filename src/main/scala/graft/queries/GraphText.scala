package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Caches, Fixpoint, GQuery, LoopWidth, Tables}
import graft.core.Caches.TrackedOps
import Qdsl._

/** Markup/graph text operators from the reference's WEX and network
  * pipelines: link extraction from markup
  * (`WEXLinkExtractorMapFunction.cc:4-89`), text edge-list parsing into
  * adjacency structures (`ParseNetworkMapFunction.cc` +
  * `WEXAdjacencyToPageRankReducer.cc`), and deterministic graph synthesis
  * (`GenRandomNetworkMapFunction.cc:17-122`).
  */
object GraphText {

  /** WEX link extraction: documents are rendered to a markup column
    * (deterministically — every word whose hash ≡ 0 mod 4 becomes a
    * `<link><target>w</target></link>`), then the extractor pulls targets
    * back out with `regexp_extract_all` + explode and counts inbound
    * links per target — the reference's page→target edge extraction.
    * Render + extract both run inside the scan projection; the only
    * shuffle is the final count. */
  def linkExtract(s: SparkSession, dir: String): DataFrame = {
    val markup = array_join(transform(words(col("text")), w =>
      when(hashMod(w) % 4 === 0,
        concat(lit("<link><target>"), w, lit("</target></link>")))
        .otherwise(w)), " ")
    Tables.documents(s, dir)
      .select(col("doc_id"), markup.as("markup"))
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(markup, '<target>([a-z0-9]+)</target>', 1)"))
          .as("target"))
      .groupBy(col("target"))
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("doc_id")).as("n_docs"))
  }

  private val linkExtractSql =
    """WITH m AS (
      |  SELECT doc_id, array_to_string(list_transform(
      |    list_filter(string_split(translate(regexp_replace(text, '\\n', ' n', 'g'), '".,/()?;', '        '), ' '), w -> w != ''),
      |    w -> CASE WHEN CAST('0x' || substring(md5(w),1,15) AS BIGINT) % 1000000007 % 4 = 0
      |              THEN '<link><target>' || w || '</target></link>' ELSE w END), ' ') AS markup
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, unnest(regexp_extract_all(markup, '<target>([a-z0-9]+)</target>', 1)) AS target
      |  FROM m)
      |SELECT target, COUNT(*) AS n_links, COUNT(DISTINCT doc_id) AS n_docs
      |FROM t GROUP BY target""".stripMargin

  /** WEX text extraction (`WEXTextExtractorMapFunction.cc:4-62`): WEX
    * lines are tab-delimited; the page name is field 2 and the article
    * text is everything from the start of field 5 to the end of the line
    * (the reference emits the remaining bytes, tabs included), emitted
    * only when a 5th field exists. Documents are rendered to WEX lines
    * deterministically (the same render trick as [[linkExtract]], with an
    * embedded tab in the article so the rest-of-line semantics is
    * actually exercised); render + extract run inside the scan. */
  def wexText(s: SparkSession, dir: String): DataFrame = {
    val line = concat_ws("\t", col("doc_id"),
      concat(lit("page_"), col("doc_id")), lit("2008-01-01"), lit("<page/>"),
      col("text"), col("n_chars"))
    Tables.documents(s, dir)
      .select(line.as("line"))
      // limit-5 split: element 5 is the untouched remainder of the line
      .select(split(col("line"), "\t", 5).as("f"))
      .filter(size(col("f")) >= 5)
      .select(element_at(col("f"), 2).as("page"),
        element_at(col("f"), 5).as("article"))
      .select(col("page"), length(col("article")).cast("long").as("n_bytes"),
        hashMod(col("article")).as("article_hash"))
  }

  private val wexTextSql =
    """WITH l AS (
      |  SELECT CAST(doc_id AS VARCHAR) || chr(9) || 'page_' || CAST(doc_id AS VARCHAR)
      |    || chr(9) || '2008-01-01' || chr(9) || '<page/>' || chr(9) || text
      |    || chr(9) || CAST(n_chars AS VARCHAR) AS line
      |  FROM documents),
      |f AS (SELECT string_split(line, chr(9)) AS p FROM l),
      |a AS (SELECT p[2] AS page, array_to_string(p[5:], chr(9)) AS article
      |      FROM f WHERE len(p) >= 5)
      |SELECT page, CAST(length(article) AS BIGINT) AS n_bytes,
      |  CAST('0x' || substring(md5(article),1,15) AS BIGINT) % 1000000007 AS article_hash
      |FROM a""".stripMargin

  /** The real text-line source path (`TextLineFormatReader.cc:26-90`):
    * documents are written out as a 4-file text directory, then read back
    * through [[graft.sources.TextLines]] (`spark.read.text` +
    * `input_file_name()` → key=filename, value=line) and summarized.
    * Filenames are nondeterministic (part-file UUIDs), so the checked
    * output carries line-derived aggregates plus the file count; the
    * per-filename key semantics is asserted in TextLinesSpec.
    *
    * NOTE this query writes a temp text directory at CONSTRUCTION time
    * (the read side needs the files on disk before the plan is built) —
    * the one GQuery with an eager side effect. The path carries a
    * run-unique suffix so concurrent runs over the same dataset never
    * race, and the repartition is round-robin (hash-partitioning on the
    * value could leave a partition — and so a part file — empty on tiny
    * corpora, breaking the n_files=4 oracle; round-robin spreads evenly
    * by construction). */
  def textLines(s: SparkSession, dir: String): DataFrame = {
    val out = graft.core.Scratch.dir("textlines", dir)
    graft.plans.DeferredIngest(s, "key STRING, value STRING") {
      Tables.documents(s, dir)
        .select(concat_ws("|", col("doc_id"), col("text")).as("value"))
        .repartition(4)
        .write.mode("overwrite").text(out)
      graft.sources.TextLines.read(s, out)
    }
      .agg(count(lit(1)).as("n_lines"),
        sum(hashMod(col("value"))).as("line_checksum"),
        min(length(col("value"))).cast("long").as("min_len"),
        max(length(col("value"))).cast("long").as("max_len"),
        countDistinct(col("key")).as("n_files"))
  }

  private val textLinesSql =
    """SELECT COUNT(*) AS n_lines,
      |  CAST(SUM(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|' || text),1,15) AS BIGINT) % 1000000007) AS BIGINT) AS line_checksum,
      |  CAST(MIN(length(CAST(doc_id AS VARCHAR) || '|' || text)) AS BIGINT) AS min_len,
      |  CAST(MAX(length(CAST(doc_id AS VARCHAR) || '|' || text)) AS BIGINT) AS max_len,
      |  CAST(4 AS BIGINT) AS n_files
      |FROM documents""".stripMargin

  /** ParseNetwork: a text edge list ("src dst" lines, rendered from the
    * events table) parsed back into per-vertex adjacency structure with
    * the initial PageRank rank the WEXAdjacencyToPageRank reducer would
    * attach (rank0 scaled by 1e6, split over out-edges). */
  def parseNetwork(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables.events(s, dir)
      .select(concat_ws(" ", col("user_id"), col("event_id") % 500).as("line"))
    lines
      .select(split(col("line"), " ").as("p"))
      .select(element_at(col("p"), 1).cast("long").as("src"),
        element_at(col("p"), 2).cast("long").as("dst"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("degree"),
        countDistinct(col("dst")).as("n_distinct"),
        min(col("dst")).as("min_dst"),
        max(col("dst")).as("max_dst"))
      .select(col("src"), col("degree"), col("n_distinct"),
        col("min_dst"), col("max_dst"),
        expr("1000000 DIV degree").as("init_rank_share"))
  }

  private val parseNetworkSql =
    """WITH lines AS (
      |  SELECT CAST(user_id AS VARCHAR) || ' ' || CAST(event_id % 500 AS VARCHAR) AS line
      |  FROM events),
      |e AS (
      |  SELECT CAST(string_split(line, ' ')[1] AS BIGINT) AS src,
      |         CAST(string_split(line, ' ')[2] AS BIGINT) AS dst
      |  FROM lines)
      |SELECT src, COUNT(*) AS degree, COUNT(DISTINCT dst) AS n_distinct,
      |  MIN(dst) AS min_dst, MAX(dst) AS max_dst,
      |  1000000 // COUNT(*) AS init_rank_share
      |FROM e GROUP BY src""".stripMargin

  /** GenRandomNetwork: synthesize a deterministic random graph — node i
    * gets 1 + (h(i) mod 4) out-edges to h(i‖j) mod n — and report the
    * degree histogram plus an edge checksum. Generation is a pure
    * projection over the node scan (no shuffle until the histogram). */
  def genNetwork(s: SparkSession, dir: String): DataFrame = {
    val n = lit(2000)
    val nodes = Tables.part(s, dir).select((col("p_partkey") % 2000).as("i")).distinct()
    val outdeg = (hashMod(col("i")) % 4 + 1).as("outdeg")
    nodes.select(col("i"), outdeg)
      .select(col("i"), col("outdeg"),
        explode(transform(sequence(lit(0), col("outdeg") - 1),
          j => hashMod(concat_ws("_", col("i"), j)) % n)).as("dst"))
      .groupBy(col("outdeg"))
      .agg(countDistinct(col("i")).as("n_nodes"),
        count(lit(1)).as("n_edges"),
        sum(col("dst")).as("dst_checksum"))
  }

  private val genNetworkSql =
    """WITH nodes AS (SELECT DISTINCT p_partkey % 2000 AS i FROM part),
      |d AS (SELECT i, CAST('0x' || substring(md5(CAST(i AS VARCHAR)),1,15) AS BIGINT) % 1000000007 % 4 + 1 AS outdeg FROM nodes),
      |e AS (
      |  SELECT i, outdeg,
      |    CAST('0x' || substring(md5(CAST(i AS VARCHAR) || '_' || CAST(j.j AS VARCHAR)),1,15) AS BIGINT) % 1000000007 % 2000 AS dst
      |  FROM d CROSS JOIN range(4) j(j) WHERE j.j < outdeg)
      |SELECT outdeg, COUNT(DISTINCT i) AS n_nodes, COUNT(*) AS n_edges,
      |  CAST(SUM(dst) AS BIGINT) AS dst_checksum
      |FROM e GROUP BY outdeg""".stripMargin

  /** GenPowerLawRandomNetwork (`GenPowerLawRandomNetworkMapFunction.cc`):
    * heavy-tailed out-degrees via integer inverse-transform sampling
    * (outdeg(i) = max(1, 400 / (1 + h(i) mod 400)) ⇒ P(outdeg ≥ d) ∝ 1/d),
    * reported as a log2 degree histogram. Edge targets stay implicit —
    * the degree sequence is the power-law property under test. */
  def genPowerlaw(s: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.part(s, dir).select((col("p_partkey") % 2000).as("i")).distinct()
    nodes.select(col("i"), hashMod(col("i")).as("h"))
      .select(col("i"),
        greatest(lit(1L), expr("400 DIV (h % 400 + 1)")).as("outdeg"))
      // integer log2 via binary digit count — FP log2 rounds differently
      // across engines at exact powers of two
      .select(col("i"), col("outdeg"),
        (length(conv(col("outdeg"), 10, 2)) - 1).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("outdeg")).as("n_edges"),
        min(col("outdeg")).as("min_deg"),
        max(col("outdeg")).as("max_deg"))
  }

  private val genPowerlawSql =
    """WITH nodes AS (SELECT DISTINCT p_partkey % 2000 AS i FROM part),
      |d AS (
      |  SELECT i, GREATEST(1, 400 // (CAST('0x' || substring(md5(CAST(i AS VARCHAR)),1,15) AS BIGINT) % 1000000007 % 400 + 1)) AS outdeg
      |  FROM nodes)
      |SELECT CAST(length(bin(outdeg)) - 1 AS BIGINT) AS bucket,
      |  COUNT(*) AS n_nodes, CAST(SUM(outdeg) AS BIGINT) AS n_edges,
      |  MIN(outdeg) AS min_deg, MAX(outdeg) AS max_deg
      |FROM d GROUP BY 1""".stripMargin

  /** Triangle counting by degree-ordered orientation — THE scalable
    * triangle algorithm (each undirected edge is directed from its
    * lower-(degree, id) endpoint, making every wedge enumeration fan out
    * at most O(√m) per node instead of O(max-degree); each triangle is
    * counted exactly once at its order-minimal vertex). Edge list is
    * derived deterministically from the event stream on a 1000-node
    * space. Three shuffles total: edge distinct, degree agg, and the
    * wedge equi-join on the shared source — the closing edge check is a
    * (broadcastable) semi-join, never an all-pairs product. */
  def triangles(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.events(s, dir)
      .select((col("user_id") % 1000).as("x"), (col("event_id") % 1000).as("y"))
      .filter(col("x") =!= col("y"))
    // lazily cached: edges feeds the degree count, the orientation join
    // and the census (4 references — uncached, each would re-plan the
    // events scan + distinct); same for oriented below (wedge sides +
    // closing-edge set)
    val edges = raw
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct().trackedPersist()
    val deg = edges.select(col("a").as("v")).union(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val da = deg.select(col("v").as("a"), col("deg").as("dega"))
    val db = deg.select(col("v").as("b"), col("deg").as("degb"))
    // orient by the total order (degree, id), PACKED into one long:
    // node ids live in [0, 1000) < 1024, so deg*1024 + id is
    // order-isomorphic to the (degree, id) struct — a single long
    // comparison in the wedge filter (and half the shuffle bytes of a
    // two-field struct) instead of a codegen struct compare per pair
    val kA = col("dega") * 1024L + col("a")
    val kB = col("degb") * 1024L + col("b")
    val oriented = edges.join(da, "a").join(db, "b")
      .select(
        when(kA < kB, col("a")).otherwise(col("b")).as("src"),
        when(kA < kB, kB).otherwise(kA).as("dk"))
      .select(col("src"), col("dk"), (col("dk") % 1024L).as("dst"))
      // pre-partitioned on the wedge-join key so both cached sides of the
      // self-join arrive co-partitioned (only the closing semi-join
      // re-keys, on (v, w))
      .repartition(col("src")).trackedPersist()
    val e1 = oriented.select(col("src"), col("dk").as("k1"), col("dst").as("v"))
    val e2 = oriented.select(col("src"), col("dk").as("k2"), col("dst").as("w"))
    val wedges = e1.join(e2, Seq("src")).filter(col("k1") < col("k2"))
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val tri = wedges.join(closing, Seq("v", "w"), "left_semi")
    tri.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  private val trianglesSql =
    """WITH raw AS (
      |  SELECT user_id % 1000 AS x, event_id % 1000 AS y FROM events
      |  WHERE user_id % 1000 != event_id % 1000),
      |edges AS (
      |  SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b FROM raw),
      |deg AS (
      |  SELECT v, COUNT(*) AS deg FROM (
      |    SELECT a AS v FROM edges UNION ALL SELECT b FROM edges) GROUP BY v),
      |o AS (
      |  SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END AS src,
      |         CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN db.deg ELSE da.deg END AS dd,
      |         CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END AS dst
      |  FROM edges e
      |  JOIN deg da ON da.v = e.a
      |  JOIN deg db ON db.v = e.b),
      |wedges AS (
      |  SELECT e1.dst AS v, e2.dst AS w
      |  FROM o e1 JOIN o e2 ON e1.src = e2.src
      |  WHERE (e1.dd, e1.dst) < (e2.dd, e2.dst)),
      |tri AS (
      |  SELECT COUNT(*) AS n_triangles FROM wedges
      |  WHERE EXISTS (SELECT 1 FROM o WHERE o.src = wedges.v AND o.dst = wedges.w))
      |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
      |       (SELECT COUNT(*) FROM edges) AS n_edges,
      |       n_triangles
      |FROM tri""".stripMargin

  // ------------------------------------------------------ k-core peeling

  private val KCore = 3L
  private val KCoreRounds = 4

  /** k = 7 sits in the power-law graph's cascade band (k ≤ 4 barely
    * peels, k ≥ 10 empties the core); 8 rounds cover the 6 non-trivial
    * peels at sf0.01 plus two converged rounds that pin the fixpoint. */
  private val KCorePowerlawK = 7L
  private val KCorePowerlawRounds = 8

  /** k-core decomposition by iterative peeling (k = 3, 4 rounds): each
    * round drops every node of degree < k and the edges touching it; the
    * surviving subgraph after convergence is the 3-core — the dense
    * backbone community detection and spam/bot-ring analyses start from.
    * The graph is a bipartite user↔event slice (disjoint id ranges) whose
    * near-uniform synthetic degrees peel in one bite and then hold — the
    * trajectory pins both the peel and the convergence behavior.
    * Output is the per-round census (round 0 = input graph):
    * nodes, edges, node-id checksum — the peeling trajectory, not just
    * the fixpoint, so partial-converge states are oracle-pinned too.
    *
    * Scale shape: per round ONE degree aggregation (∝ current edges) and
    * one semi-join of edges against surviving nodes — the same
    * edge-proportional round cost as the components/PageRank family;
    * rounds needed = peel depth (≤ max degeneracy), each materialized to
    * keep the plan linear. Degree-biased graphs peel in a handful of
    * rounds; the loop is the driver-side pattern, maxRounds caps it. */
  def kcore(s: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.events(s, dir)
      .select((col("user_id") % 4000).as("a"),
        (col("event_id") % 4000 + 4000).as("b"))
      .distinct()
    // size-adaptive peel width (anchor bytes, session-width clamp)
    kcoreLoop(e0, LoopWidth.forBytes(e0, Tables.tableBytes(s, dir, "events")),
      KCore, KCoreRounds)
  }

  /** k-core on a HEAVY-TAILED graph — the multi-round peel exercise the
    * bipartite slice above cannot provide (its near-uniform degrees
    * converge in one bite; documented there). The graph is the
    * power-law generator's degree sequence with explicit hash targets
    * (outdeg(i) = max(1, 400/(1+h(i) mod 400)), dst = h(i‖j) mod 2000,
    * undirected, deduped), and k = 7 sits inside the cascade band:
    * removing the first wave of sub-7 nodes drags hub degrees down and
    * triggers 6 successive non-trivial peels before the 1227-node
    * 7-core stabilizes (at sf0.01; smaller fixtures cascade to an empty
    * core). Every intermediate round is oracle-pinned, so the
    * round-over-round trajectory — not just the fixpoint — is checked. */
  /** The power-law generator's undirected edge list (canonical a < b,
    * deduped, self-loops dropped) — shared by [[kcorePowerlaw]] and the
    * star-components cross-validation spec. */
  private[graft] def powerlawEdges(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select((col("p_partkey") % 2000).as("i")).distinct()
      .select(col("i"), hashMod(col("i")).as("h"))
      .select(col("i"),
        greatest(lit(1L), expr("400 DIV (h % 400 + 1)")).as("outdeg"))
      .select(col("i"),
        explode(transform(sequence(lit(0), col("outdeg") - 1),
          j => hashMod(concat_ws("_", col("i"), j)) % lit(2000))).as("dst"))
      .filter(col("i") =!= col("dst"))
      .select(least(col("i"), col("dst")).as("a"),
        greatest(col("i"), col("dst")).as("b"))
      .distinct()

  def kcorePowerlaw(s: SparkSession, dir: String): DataFrame = {
    val e0 = powerlawEdges(s, dir)
    // the generator inflates `part` rows ~hundredfold (outdeg explode),
    // so the anchor-bytes rule uses a smaller per-partition target to
    // account for the fan-out; still session-width-clamped at scale
    kcoreLoop(e0, LoopWidth.forBytes(e0, Tables.tableBytes(s, dir, "part"),
      bytesPerPartition = 256L << 10), KCorePowerlawK, KCorePowerlawRounds)
  }

  /** `rounds` peels of `e0` at loop width `width`, censused per round.
    * `e0` must hold DISTINCT CANONICAL (a < b) edges: the window degree
    * counts every edge row, so a duplicate or reversed copy of an edge
    * would inflate both endpoints' degrees, while the peel's
    * groupBy(a, b) silently merges exact duplicates. Both callers pass
    * such edges (a bipartite distinct projection; the deduped
    * least/greatest power-law list). */
  private def kcoreLoop(e0: DataFrame, width: Int, k: Long, rounds: Int)
      : DataFrame = Fixpoint(e0.sparkSession, width) { loop =>
    // peel in WINDOW form (r17, §2.4): each edge contributes one row
    // per endpoint, a whole-partition window count over the endpoint
    // IS that endpoint's degree, and the edge survives iff the MIN of
    // its two rows' degrees clears k — two exchanges per round
    // (endpoint hash for the window, (a,b) hash for the min-agg)
    // instead of the degree-agg + two-semi-join form's four. Edge
    // sets per round are unchanged (keep ⟺ deg(a) ≥ k ∧ deg(b) ≥ k ⟺
    // min ≥ k), so the oracle-pinned trajectory is identical.
    val wV = org.apache.spark.sql.expressions.Window.partitionBy(col("v"))
    val trajectory = loop.rounds(loop.checkpoint(loop(e0)), rounds) { (edges, _) =>
      edges
        .select(col("a"), col("b"),
          explode(array(col("a"), col("b"))).as("v"))
        .withColumn("dg", count(lit(1)).over(wV))
        .groupBy(col("a"), col("b")).agg(min(col("dg")).as("mdg"))
        .filter(col("mdg") >= k)
        .select(col("a"), col("b"))
    }
    // round-tagged views of the CHECKPOINTED per-round edge frames; the
    // census over all rounds is ONE grouped aggregation instead of one
    // distinct-aggregate plan per round — r17 profiling showed the final
    // action spending ~2.5 s in ~27 census stages (9 rounds × 3 stages
    // of countDistinct/sum_distinct plans over width-1 frames); the
    // fused census is 2 exchanges total
    val tagged = trajectory.zipWithIndex.map { case (edges, r) =>
      edges.select(lit(r.toLong).as("round"), col("a"), col("b"))
    }
    // per-round census as one two-level aggregation: distinct endpoints
    // per (round, v) group, then per-round node count / id sum / edge
    // count (each round's rows are 2·edges, so SUM(cnt) DIV 2 is exact).
    // Rounds peeled to empty vanish from the grouped frame — the
    // rounds-range left join reinstates them as explicit zero rows, the
    // same shape the per-round empty-frame agg used to emit.
    val grouped = tagged.reduce(_.unionByName(_))
      .select(col("round"), explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("round"), col("v")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("round"))
      .agg(count(lit(1)).as("n_nodes"),
        expr("SUM(cnt) DIV 2").as("n_edges"),
        sum(col("v")).as("node_id_sum"))
    val zeros = loop.session.range(0, rounds + 1L)
      .select(col("id").as("round"), lit(0L).as("n_nodes"),
        lit(0L).as("n_edges"), lit(0L).as("node_id_sum"))
    grouped.unionByName(zeros)
      .groupBy(col("round"))
      .agg(sum(col("n_nodes")).as("n_nodes"),
        sum(col("n_edges")).as("n_edges"),
        sum(col("node_id_sum")).as("node_id_sum"))
  }

  /** The peel-trajectory oracle, shared by both k-core variants: one
    * degree/keep/semi-join CTE triple per round over `e0Sql`'s edge
    * list, censused at every round. */
  private def kcoreTrajectorySql(e0Sql: String, k: Long, nRounds: Int)
      : String = {
    val rounds = (1 to nRounds).map { r =>
      s"""d$r AS (SELECT v, COUNT(*) AS dg FROM (
        |    SELECT a AS v FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1}) t
        |  GROUP BY v),
        |k$r AS (SELECT v FROM d$r WHERE dg >= $k),
        |e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
        |  SEMI JOIN k$r x ON e.a = x.v
        |  SEMI JOIN k$r y ON e.b = y.v)""".stripMargin
    }.mkString(",\n")
    val census = (0 to nRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
        |  COUNT(DISTINCT v) AS n_nodes,
        |  CAST(COUNT(*) / 2 AS BIGINT) AS n_edges,
        |  COALESCE(CAST(SUM(DISTINCT v) AS BIGINT), 0) AS node_id_sum
        |FROM (SELECT a AS v FROM e$r UNION ALL SELECT b FROM e$r) t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e0 AS MATERIALIZED (
      |$e0Sql),
      |$rounds
      |$census""".stripMargin
  }

  private val kcoreSql = kcoreTrajectorySql(
    """  SELECT DISTINCT user_id % 4000 AS a, event_id % 4000 + 4000 AS b
      |  FROM events""".stripMargin, KCore, KCoreRounds)

  private val kcorePowerlawSql = kcoreTrajectorySql(
    """  SELECT DISTINCT LEAST(i, dst) AS a, GREATEST(i, dst) AS b FROM (
      |    SELECT i, CAST('0x' || substring(md5(CAST(i AS VARCHAR) || '_' || CAST(j.j AS VARCHAR)),1,15) AS BIGINT) % 1000000007 % 2000 AS dst
      |    FROM (SELECT i, GREATEST(1, 400 // (CAST('0x' || substring(md5(CAST(i AS VARCHAR)),1,15) AS BIGINT) % 1000000007 % 400 + 1)) AS outdeg
      |          FROM (SELECT DISTINCT p_partkey % 2000 AS i FROM part))
      |    CROSS JOIN range(400) j(j) WHERE j.j < outdeg)
      |  WHERE i <> dst""".stripMargin, KCorePowerlawK, KCorePowerlawRounds)

  val defs: Seq[GQuery] = Seq(
    GQuery("q_kcore", kcore, Some(kcoreSql)),
    GQuery("q_kcore_powerlaw", kcorePowerlaw, Some(kcorePowerlawSql), headline = true),
    GQuery("q_link_extract", linkExtract, Some(linkExtractSql)),
    GQuery("q_triangles", triangles, Some(trianglesSql), headline = true),
    GQuery("q_wex_text", wexText, Some(wexTextSql)),
    GQuery("q_text_lines", textLines, Some(textLinesSql), headline = true),
    GQuery("q_parse_network", parseNetwork, Some(parseNetworkSql)),
    GQuery("q_gen_network", genNetwork, Some(genNetworkSql)),
    GQuery("q_gen_powerlaw", genPowerlaw, Some(genPowerlawSql)))
}
