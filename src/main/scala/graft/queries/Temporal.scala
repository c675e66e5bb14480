package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Caches, GQuery, HotKeys, Tables}
import graft.core.Caches.TrackedOps
import Qdsl._

/** Temporal / reshaping operators over the `events` stream table: as-of
  * join, banded range (interval) join, pivot, and CUBE aggregation.
  *
  * The reference has no join operator at all (SURVEY.md §2.7 — join-shaped
  * computations are tagged unions through one shuffle); these queries are
  * the Spark-native surface a user coming from a time-series or
  * click-stream workload expects, each built in the shape that survives
  * 100 TB: as-of via a single hash shuffle + linear window scan (never a
  * per-row subquery), range join via coarse-bucket equi-join + residual
  * filter (never an inequality-only nested loop), pivot/CUBE as plain
  * hash aggregations.
  */
object Temporal {

  // ------------------------------------------------------------ as-of join

  /** As-of join: each purchase event picks the latest click by the same
    * user at-or-before its timestamp (click-to-purchase attribution).
    *
    * Spark-first shape: union-tag both sides, one hash exchange on
    * user_id, then a running `last(click, ignoreNulls)` window — the
    * sorted-merge as-of in one linear pass. The naive form (inequality
    * join + row_number) enumerates O(clicks × purchases) per user before
    * ranking; this one is O(events) and shuffles each row exactly once.
    * Ties (click and purchase at the same millisecond) count as "before"
    * — the `(ms, click-first, event_id)` sort order makes that rule, and
    * the pick among same-ms clicks, deterministic on both engines. */
  def asofJoin(s: SparkSession, dir: String): DataFrame =
    asofWindowOf(Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        epochMs(col("ts")).as("ms")))

  /** The plain one-exchange window form over a canonical (event_id,
    * user_id, event_type, ms) frame — shared by the oracle-checked
    * [[asofJoin]] and the cold leg of [[asofGuardedOf]]. */
  private[graft] def asofWindowOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"),
        when(col("event_type") === "click", 0).otherwise(1), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val clickId = when(col("event_type") === "click", col("event_id"))
    val clickMs = when(col("event_type") === "click", col("ms"))
    ev.withColumn("click_id", last(clickId, ignoreNulls = true).over(w))
      .withColumn("click_ms", last(clickMs, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("click_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("ms").as("purchase_ms"),
        col("click_id"), col("click_ms"),
        (col("ms") - col("click_ms")).as("gap_ms"))
  }

  /** [[asofJoin]] through the AUTOMATIC hot-user guard
    * ([[asofGuardedOf]]) with a cap low enough that the sf0.01 user
    * population splits across BOTH legs — value-identical output,
    * registered against the SAME oracle SQL so the driver pins the
    * split+union equivalence every round (the q_winsorize_guarded
    * pattern, extended from rank windows to order-carrying running
    * windows). */
  def asofGuarded(s: SparkSession, dir: String): DataFrame =
    asofGuardedOf(Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        epochMs(col("ts")).as("ms")), cap = 60L)

  /** [[asofJoin]]'s per-user running scan with the hot-group straggler
    * guard applied AUTOMATICALLY, the
    * [[graft.queries.Analytics.winsorizeGuardedOf]] posture for
    * order-carrying windows: per-user event counts are censused in-plan
    * (map-side-combined, skew-immune), users over `cap` events take the
    * SEGMENTED scan ([[asofSegmentedOf]] — no task sees more than a
    * range slice of a user), everyone else keeps the plain one-exchange
    * window, and the two legs union. The hot list is ≤ totalRows/cap
    * ids by construction, so it broadcasts. */
  private[graft] def asofGuardedOf(ev0: DataFrame,
      cap: Long = 1000000L): DataFrame = {
    val ev = ev0.trackedPersist()
    val (cold, hot) = HotKeys.divert(ev,
      HotKeys.census(ev, Seq("user_id"), cap), Seq("user_id"))
    asofWindowOf(cold).unionByName(asofSegmentedOf(hot))
  }

  /** The as-of running scan as a SEGMENTED (parallel-prefix) computation
    * — the hot-GROUP answer for order-carrying windows, where
    * [[graft.queries.Analytics.winsorizeGuardedOf]] covers rank windows:
    * a user with corpus-scale history serializes [[asofJoin]]'s
    * per-user window into one task; here no task ever sees more than a
    * range slice.
    *
    * Phase 1: range-exchange on the FULL window order key (user, ms,
    * click-first, event_id), so the global per-user order is exactly the
    * concatenation of slice-local orders (cached: slice ids must be
    * stable across the two readers). Phase 2: each (user, slice) cell
    * reduces to its last click by that order — a hash aggregation,
    * map-combined — and an exclusive running max over the cells-sized
    * table (≤ slices rows per user) gives the click each slice inherits
    * from its past. Phase 3: the running last-click window runs WITHIN
    * (slice, user) — bounded by the slice — and falls back to the
    * carried click where the slice hasn't seen one. The struct max picks
    * the same click the running window would: among clicks the order key
    * is (ms, event_id). */
  private[graft] def asofSegmentedOf(ev: DataFrame): DataFrame = {
    val ranked = Caches.tracked(ev
      .withColumn("tie",
        when(col("event_type") === "click", 0).otherwise(1))
      .repartitionByRange(col("user_id"), col("ms"), col("tie"), col("event_id"))
      .withColumn("pid", spark_partition_id()))
    val cells = ranked.groupBy(col("user_id"), col("pid"))
      .agg(max(when(col("event_type") === "click",
        struct(col("ms"), col("event_id")))).as("lc"))
    val wCarry = Window.partitionBy(col("user_id")).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = cells
      .withColumn("carry", max(col("lc")).over(wCarry)) // max skips null cells
      .select(col("user_id").as("__cu"), col("pid").as("__cp"), col("carry"))
    val wLoc = Window.partitionBy(col("pid"), col("user_id"))
      .orderBy(col("ms"), col("tie"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val clickId = when(col("event_type") === "click", col("event_id"))
    val clickMs = when(col("event_type") === "click", col("ms"))
    // the (user, pid) join and the (pid, user) window share one
    // clustering, so the slice-local leg exchanges corpus rows once;
    // NULL-SAFE on user so a diverted NULL key finds its carry
    ranked.join(carry,
        col("user_id") <=> col("__cu") && col("pid") === col("__cp"), "left")
      .drop("__cu", "__cp")
      .withColumn("click_id",
        coalesce(last(clickId, ignoreNulls = true).over(wLoc),
          col("carry.event_id")))
      .withColumn("click_ms",
        coalesce(last(clickMs, ignoreNulls = true).over(wLoc),
          col("carry.ms")))
      .filter(col("event_type") === "purchase" && col("click_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("ms").as("purchase_ms"),
        col("click_id"), col("click_ms"),
        (col("ms") - col("click_ms")).as("gap_ms"))
  }

  private val asofJoinSql =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |t AS (
      |  SELECT *,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS) OVER w AS click_id,
      |    last_value(CASE WHEN event_type = 'click' THEN ms END IGNORE NULLS) OVER w AS click_ms
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id
      |               ORDER BY ms, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id, ms AS purchase_ms, click_id, click_ms,
      |  ms - click_ms AS gap_ms
      |FROM t WHERE event_type = 'purchase' AND click_id IS NOT NULL""".stripMargin

  // ------------------------------------------------------------ range join

  private val DayMs = 86400000L
  /** 2024-01-01T00:00:00Z — the event stream's epoch. */
  private val T0 = 1704067200000L

  /** Range (interval) join: events against 100 overlapping 5-hour windows
    * (stride 3 h), counting traffic per window.
    *
    * Scale shape — the banded range join: a raw `start <= ts < end` join
    * has no equi-key, so Spark would nested-loop it. Instead both sides
    * map to coarse day buckets (an interval explodes to the 1–2 buckets
    * it overlaps; an event to exactly one), the join is a plain
    * equi-join on bucket, and the precise range predicate filters
    * residually. Join fan-out is bounded by (interval span / bucket
    * width) per row at any data size, and no pair from different days is
    * ever considered. */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val windows = s.range(100)
      .select(col("id").as("win_id"),
        (lit(T0) + col("id") * 10800000L).as("start_ms"))
      .withColumn("end_ms", col("start_ms") + 18000000L)
    val wDays = windows.select(col("win_id"), col("start_ms"), col("end_ms"),
      explode(array_distinct(array(
        expr(s"start_ms DIV $DayMs"), expr(s"(end_ms - 1) DIV $DayMs")))).as("day"))
    Tables.events(s, dir)
      .select(col("user_id"), col("value"), epochMs(col("ts")).as("ms"))
      .withColumn("day", expr(s"ms DIV $DayMs"))
      .join(wDays, Seq("day"))
      .filter(col("ms") >= col("start_ms") && col("ms") < col("end_ms"))
      .groupBy(col("win_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sumDec(col("value")).as("sum_value"))
  }

  private val rangeJoinSql =
    s"""WITH w AS (
      |  SELECT i AS win_id, $T0 + i*10800000 AS start_ms,
      |         $T0 + i*10800000 + 18000000 AS end_ms
      |  FROM range(100) t(i)),
      |wd AS (
      |  SELECT win_id, start_ms, end_ms,
      |    unnest(list_distinct([start_ms // $DayMs, (end_ms - 1) // $DayMs])) AS day
      |  FROM w),
      |e AS (SELECT user_id, value, epoch_ms(ts) AS ms FROM events)
      |SELECT win_id, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM e JOIN wd ON e.ms // $DayMs = wd.day
      |  AND e.ms >= wd.start_ms AND e.ms < wd.end_ms
      |GROUP BY win_id""".stripMargin

  // ----------------------------------------------------------------- pivot

  /** Pivot: event counts and exact-decimal value sums per user cohort,
    * event types as columns (`Dataset.pivot` with an explicit value list —
    * the list keeps the plan static; without it Spark runs an extra
    * distinct job to discover values, a collect the 100 TB posture
    * forbids). Lowered by Spark to one hash aggregation with conditional
    * accumulators — exactly the oracle's CASE WHEN form, no extra
    * shuffle vs a plain groupBy. */
  def pivotEvents(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = Tables.events(s, dir)
      .select((col("user_id") % 15).as("cohort"), col("event_type"), col("value"))
      .groupBy(col("cohort"))
      .pivot("event_type", types)
      .agg(count(lit(1)).as("n"), sumDec(col("value")).as("v"))
    // a cohort with zero events of some type gets a NULL count cell from
    // pivot (even for count) where the oracle's COUNT(CASE WHEN) gives 0
    // — zero-fill the counts; the value sums stay NULL on both engines
    types.foldLeft(pivoted)((df, t) =>
      df.withColumn(s"${t}_n", coalesce(col(s"${t}_n"), lit(0L))))
  }

  private val pivotEventsSql = {
    val cols = Seq("click", "error", "purchase", "signup", "view").map { t =>
      s"""  COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS ${t}_n,
         |  CAST(CAST(SUM(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE) AS ${t}_v""".stripMargin
    }.mkString(",\n")
    s"""SELECT user_id % 15 AS cohort,
      |$cols
      |FROM events GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------------------------ cube

  /** CUBE over the order lifecycle: all four grouping sets of
    * (status, priority) in one pass — the cross-classified twin of
    * q_rollup_orders. Spark expands CUBE into a single Expand + hash
    * aggregation (rows × grouping sets on the map side, partial-agg'd
    * before the one exchange). */
  def cubeOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumDec(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("sum_price"))

  private val cubeOrdersSql =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  // ---------------------------------------------------------------- funnel

  /** Ordered-funnel analysis: how far each user progresses through
    * view → click → purchase, in event order. Same one-shuffle shape as
    * the as-of join: one hash exchange on user_id, then THREE chained
    * running-max windows over the identical (partition, order) — Spark
    * stacks them on a single sort with no extra exchange. `r1..r3` are
    * running "reached stage k by now" flags (`r2` only advances on a
    * click that already saw a view, `r3` on a purchase that already saw
    * such a click), so the per-user max of each flag is the funnel depth
    * — O(events) total, never a per-stage self-join (the naive funnel is
    * k-1 self-joins of the event table with inequality predicates). */
  def funnel(s: SparkSession, dir: String): DataFrame =
    funnelCensus(funnelStagesWindowOf(Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        epochMs(col("ts")).as("ms"))))

  /** The stage kinds of the oracle-checked [[funnel]]. */
  private val FunnelKinds = Seq("view", "click", "purchase")

  /** Per-user funnel depth via the plain one-exchange window stack —
    * shared by the oracle-checked [[funnel]] and the cold leg of
    * [[funnelGuardedOf]]. */
  private[graft] def funnelStagesWindowOf(ev: DataFrame): DataFrame =
    funnelStagesWindowN(ev, FunnelKinds)

  /** The window stack for ANY ordered stage list: r_k advances only on a
    * kinds(k-1) event that already carries r_{k-1} — one running-max
    * window per stage, all stacked on one (user) exchange+sort. */
  private[graft] def funnelStagesWindowN(ev: DataFrame,
      kinds: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flags = kinds.zipWithIndex.foldLeft(ev) { case (df, (k, i)) =>
      val prev: org.apache.spark.sql.Column =
        if (i == 0) lit(1) else col(s"__r$i")
      df.withColumn(s"__r${i + 1}",
        max(when(col("event_type") === k, prev)).over(w))
    }
    flags.groupBy(col("user_id"))
      .agg(kinds.indices.map(i => coalesce(max(col(s"__r${i + 1}")), lit(0)))
        .reduce(_ + _).as("stage"))
  }

  private[graft] def funnelCensus(stages: DataFrame): DataFrame =
    stages.groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("user_id")).as("user_checksum"))

  /** [[funnel]] through the AUTOMATIC hot-user guard — the fourth member
    * of the window-family guard, for running STATE-MACHINE windows: the
    * funnel flags are a 4-state monotone automaton, so a corpus-scale
    * user decomposes as a parallel prefix over its TRANSITION FUNCTIONS
    * ([[funnelSegmentedOf]]). Registered as q_funnel_guarded against
    * q_funnel's own oracle SQL with a cap that splits the sf0.01 users
    * across both legs. */
  def funnelGuarded(s: SparkSession, dir: String): DataFrame =
    funnelGuardedOf(Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        epochMs(col("ts")).as("ms")), cap = 60L)

  private[graft] def funnelGuardedOf(ev0: DataFrame,
      cap: Long = 1000000L): DataFrame =
    funnelCensus(funnelStagesGuardedOf(ev0, cap))

  /** Per-user stages under the hot/cold split — ONE definition shared by
    * the oracle-checked [[funnelGuarded]] census and `Corpus.funnelStages`
    * so the two cannot drift. */
  private[graft] def funnelStagesGuardedOf(ev0: DataFrame,
      cap: Long): DataFrame =
    funnelStagesGuardedN(ev0, FunnelKinds, cap)

  /** The guarded split for ANY ordered stage list (`Corpus.funnelStages`
    * passes the caller's own stage kinds straight through). */
  private[graft] def funnelStagesGuardedN(ev0: DataFrame,
      kinds: Seq[String], cap: Long): DataFrame = {
    val ev = ev0.trackedPersist()
    // a hot NULL user diverts too: the segmented leg is join-free on the
    // key — groupBy and the fold handle NULL groups natively
    val (cold, hot) = HotKeys.divert(ev,
      HotKeys.census(ev, Seq("user_id"), cap), Seq("user_id"))
    funnelStagesWindowN(cold, kinds)
      .unionByName(funnelSegmentedN(hot, kinds))
  }

  /** Per-user funnel depth with no per-user window task: the segmented
    * scan for a running STATE MACHINE. The funnel state s ∈ {0,1,2,3}
    * (stages completed) advances monotonically — view lifts 0→1, click
    * 1→2, purchase 2→3 — so each (user, slice) cell summarizes to its
    * TRANSITION FUNCTION f: entry state → exit state, four small
    * integers computed from the same stacked running-max windows as the
    * plain form (entry 0 = the plain flags; entry 1 needs only
    * click-then-purchase; entry 2 only any-purchase; entry 3 is fixed),
    * every window bounded by a range slice. Composing the cells in
    * slice order — an `aggregate` fold over the ≤slices-per-user struct
    * list, pure metadata — replays the whole history's automaton
    * exactly. */
  private[graft] def funnelSegmentedOf(ev: DataFrame): DataFrame =
    funnelSegmentedN(ev, FunnelKinds)

  /** The segmented automaton for ANY ordered stage list: for each entry
    * state s the slice runs only the REMAINING stages (credit column
    * c_{s,j} advances on kinds(j-1) carrying c_{s,j-1}; the first
    * remaining stage needs no credit), N(N+1)/2 running-max columns all
    * stacked on the one slice-local sort; the per-cell transition
    * function is (f_0 … f_N) and entry N is terminal. */
  private[graft] def funnelSegmentedN(ev: DataFrame,
      kinds: Seq[String]): DataFrame = {
    val n = kinds.length
    val ranked = ev
      .repartitionByRange(col("user_id"), col("ms"), col("event_id"))
      .withColumn("pid", spark_partition_id())
    val w = Window.partitionBy(col("pid"), col("user_id"))
      .orderBy(col("ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var flagged = ranked
    for (s <- 0 until n; j <- (s + 1) to n) {
      val prev: org.apache.spark.sql.Column =
        if (j == s + 1) lit(1) else col(s"__c${s}_${j - 1}")
      flagged = flagged.withColumn(s"__c${s}_$j",
        max(when(col("event_type") === kinds(j - 1), prev)).over(w))
    }
    val fCols = (0 until n).map { s =>
      ((s + 1) to n).map(j => coalesce(max(col(s"__c${s}_$j")), lit(0)))
        .foldLeft(lit(s): org.apache.spark.sql.Column)(_ + _).as(s"f$s")
    } :+ max(lit(n)).as(s"f$n")
    val cells = flagged.groupBy(col("user_id"), col("pid"))
      .agg(fCols.head, fCols.tail: _*)
    val arr = (0 to n).map(i => s"c.f$i").mkString(", ")
    cells
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(
        col("pid") +: (0 to n).map(i => col(s"f$i")): _*))).as("fs"))
      .select(col("user_id"),
        expr(s"aggregate(fs, 0, (s, c) -> " +
          s"element_at(array($arr), s + 1))").as("stage"))
  }

  private val funnelSql =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |f1 AS (
      |  SELECT *, max(CASE WHEN event_type = 'view' THEN 1 END) OVER w AS r1
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f2 AS (
      |  SELECT *, max(CASE WHEN event_type = 'click' THEN r1 END) OVER w AS r2
      |  FROM f1 WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f3 AS (
      |  SELECT *, max(CASE WHEN event_type = 'purchase' THEN r2 END) OVER w AS r3
      |  FROM f2 WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |u AS (
      |  SELECT user_id,
      |    COALESCE(MAX(r1), 0) + COALESCE(MAX(r2), 0) + COALESCE(MAX(r3), 0) AS stage
      |  FROM f3 GROUP BY user_id)
      |SELECT stage, COUNT(*) AS n_users,
      |  CAST(SUM(user_id) AS BIGINT) AS user_checksum
      |FROM u GROUP BY stage""".stripMargin

  // ------------------------------------------------------ resample / fill

  /** Time-series resample with gap fill: hourly event counts/value sums
    * per event type over the stream's full 30-day horizon (720 hours from
    * the epoch — a property of the generator, not data-derived: deriving
    * min/max would need an extra pre-pass job), missing hours
    * zero-filled, plus a forward-filled "hour of last activity" column.
    *
    * Scale shape: the dense grid is horizon × types — a SIZE set by the
    * query, not the data (720 × 5 here; a year of minutes is still only
    * 526k rows per type) — built with `range` + broadcast-able cross
    * join, left-joined against the aggregated (not raw) hourly rows, and
    * the forward fill is a per-type running window over grid rows. 100 TB
    * of raw events still reduces to the same grid before any window
    * runs. */
  def resampleFill(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .select(col("event_type"), col("value"), epochMs(col("ts")).as("ms"))
      // integral DIV, not `/` (Column `/` is double division; a boundary
      // millisecond could round across the bucket edge)
      .withColumn("hour", expr(s"(ms - ${T0}L) DIV 3600000"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"), sumDec(col("value")).as("v"))
    val grid = s.range(720).select(col("id").as("hour"))
      .crossJoin(Tables.events(s, dir).select(col("event_type")).distinct())
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("v"), lit(0.0)).as("sum_value"),
        last(when(col("n").isNotNull, col("hour")), ignoreNulls = true)
          .over(w).as("last_seen_hour"))
  }

  private val resampleFillSql =
    s"""WITH hourly AS (
      |  SELECT event_type, (epoch_ms(ts) - $T0) // 3600000 AS hour,
      |    COUNT(*) AS n, CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS v
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT t.event_type, g.h AS hour
      |  FROM range(720) g(h) CROSS JOIN (SELECT DISTINCT event_type FROM events) t)
      |SELECT g.event_type, g.hour,
      |  COALESCE(h.n, 0) AS n_events,
      |  COALESCE(h.v, 0.0) AS sum_value,
      |  last_value(CASE WHEN h.n IS NOT NULL THEN g.hour END IGNORE NULLS)
      |    OVER (PARTITION BY g.event_type ORDER BY g.hour
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_seen_hour
      |FROM grid g LEFT JOIN hourly h ON h.event_type = g.event_type AND h.hour = g.hour""".stripMargin

  // ------------------------------------------------------ latest snapshot

  /** Latest-state compaction (the CDC/upsert read path): one row per user
    * carrying the fields of their LAST event plus lifetime aggregates.
    * Built as a single hash aggregation with an arg-max struct — max over
    * `struct(ms, event_id, …)` picks the latest row and the trailing
    * fields ride along (the unique (ms, event_id) prefix fully decides
    * every comparison, so the float field is never compared) — partial
    * aggregation runs map-side, no window sort, no self-join. This is the
    * shape that turns an append-only 100 TB event log into a current-state
    * table with one shuffle of per-key partials. */
  def latestSnapshot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), epochMs(col("ts")).as("ms"))
      .withColumn("day", expr(s"ms DIV $DayMs"))
      .groupBy(col("user_id"))
      .agg(
        max(struct(col("ms"), col("event_id").as("eid"),
          col("event_type").as("et"), col("value").as("v"))).as("m"),
        count(lit(1)).as("n_events"),
        countDistinct(col("day")).as("days_active"))
      .select(col("user_id"), col("m.ms").as("last_ms"),
        col("m.eid").as("last_event_id"), col("m.et").as("last_type"),
        col("m.v").as("last_value"), col("n_events"), col("days_active"))

  private val latestSnapshotSql =
    s"""WITH e AS (
      |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ms,
      |    epoch_ms(ts) // $DayMs AS day
      |  FROM events),
      |g AS (
      |  SELECT user_id,
      |    max(struct_pack(ms := ms, eid := event_id, et := event_type, v := value)) AS m,
      |    COUNT(*) AS n_events, COUNT(DISTINCT day) AS days_active
      |  FROM e GROUP BY user_id)
      |SELECT user_id, m.ms AS last_ms, m.eid AS last_event_id,
      |  m.et AS last_type, m.v AS last_value, n_events, days_active
      |FROM g""".stripMargin

  // -------------------------------------------------- sliding anomaly

  /** Trailing-window anomaly detection: an hour is anomalous when its
    * event count exceeds 2.5× the mean of the previous 24 hours — the
    * monitoring query every event pipeline runs. This is the engine's one
    * BOUNDED sliding frame (`ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING`;
    * every other window here is running/unbounded): Spark evaluates it in
    * the same single per-type pass, O(1) state per row. The comparison is
    * cross-multiplied integers (n·10·trail_cnt > trail_sum·25), so no
    * division ever happens — exact on both engines. Input is the dense
    * zero-filled hourly grid (gaps must COUNT as quiet hours; a sparse
    * ROWS frame would silently skip them). */
  def slidingAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .select(col("event_type"), epochMs(col("ts")).as("ms"))
      .withColumn("hour", expr(s"(ms - ${T0}L) DIV 3600000"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val grid = s.range(720).select(col("id").as("hour"))
      .crossJoin(Tables.events(s, dir).select(col("event_type")).distinct())
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-24, -1)
    grid.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"), coalesce(col("n"), lit(0L)).as("n"))
      .withColumn("trail_sum", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("trail_cnt", count(lit(1)).over(w))
      .withColumn("flagged",
        col("trail_cnt") === 24 &&
          col("n") * col("trail_cnt") * 10 > col("trail_sum") * 25)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("flagged"), col("hour"))).as("flagged_hour_sum"),
        max(col("n")).as("peak_hour_events"))
  }

  private val slidingAnomalySql =
    s"""WITH hourly AS (
      |  SELECT event_type, (epoch_ms(ts) - $T0) // 3600000 AS hour, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT t.event_type, g.h AS hour
      |  FROM range(720) g(h) CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
      |dense AS (
      |  SELECT g.event_type, g.hour, COALESCE(h.n, 0) AS n
      |  FROM grid g LEFT JOIN hourly h
      |    ON h.event_type = g.event_type AND h.hour = g.hour),
      |f AS (
      |  SELECT event_type, hour, n,
      |    COALESCE(SUM(n) OVER w, 0) AS trail_sum,
      |    COUNT(*) OVER w AS trail_cnt
      |  FROM dense
      |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
      |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, COUNT(*) AS n_hours,
      |  CAST(SUM(CASE WHEN trail_cnt = 24 AND n*trail_cnt*10 > trail_sum*25
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  CAST(SUM(CASE WHEN trail_cnt = 24 AND n*trail_cnt*10 > trail_sum*25
      |    THEN hour END) AS BIGINT) AS flagged_hour_sum,
      |  MAX(n) AS peak_hour_events
      |FROM f GROUP BY event_type""".stripMargin

  // --------------------------------------------- histogram quantiles

  /** Histogram-based approximate quantiles per event type: values bucket
    * into fixed 0.5-wide bins, p50/p95 read off the cumulative bin
    * counts. This is the bounded-state quantile path for 100 TB — the
    * exact form (`q_quantiles`) sorts each group; this one aggregates to
    * a FIXED number of bins (state ∝ bins, error ≤ bin width), merges by
    * addition (shardable/streamable), and never sorts raw rows. Bin math
    * is `floor(value·2)` — one exact double multiply then floor, the
    * same integers on any engine. */
  def histogramQuantiles(s: SparkSession, dir: String): DataFrame = {
    val binned = Tables.events(s, dir)
      .select(col("event_type"),
        floor(col("value") * 2.0).cast("long").as("bin"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("event_type"))
    binned
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(tot))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        min(when(col("cum") * 2 >= col("n"), col("bin"))).as("p50_bin"),
        min(when(col("cum") * 20 >= col("n") * 19, col("bin"))).as("p95_bin"),
        max(col("bin")).as("max_bin"))
  }

  private val histogramQuantilesSql =
    """WITH b AS (
      |  SELECT event_type, CAST(floor(value * 2.0) AS BIGINT) AS bin, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, bin, c,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY bin
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(c) OVER (PARTITION BY event_type) AS n
      |  FROM b)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
      |  MIN(CASE WHEN cum * 2 >= n THEN bin END) AS p50_bin,
      |  MIN(CASE WHEN cum * 20 >= n * 19 THEN bin END) AS p95_bin,
      |  MAX(bin) AS max_bin
      |FROM cum GROUP BY event_type""".stripMargin

  /** Top user paths: each user's first three events (by time, tie-broken
    * by event_id) joined into a path string, censused to the 10 most
    * common journeys — the clickstream path-analysis staple. Scale
    * shape: the rank filter lowers to WindowGroupLimit (map-side top-3
    * per user before the exchange), the path build is one hash agg with
    * an order-pinned sort_array (collect_list alone is
    * assembly-order-nondeterministic), and the census tops out with
    * TakeOrderedAndProject. */
  def topPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    val paths = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        epochMs(col("ts")).as("ms"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"))
      .agg(concat_ws(">",
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type"))).as("path"))
    paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(10)
  }

  private val topPathsSql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id FROM events),
      |r AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ms, event_id) AS rn
      |  FROM e),
      |p AS (
      |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM r WHERE rn <= 3 GROUP BY user_id)
      |SELECT path, COUNT(*) AS n_users
      |FROM p GROUP BY path
      |ORDER BY n_users DESC, path LIMIT 10""".stripMargin

  // ------------------------------------------- SCD Type-2 interval build

  /** Slowly-changing-dimension (Type 2) build from an event log: per
    * user, consecutive events collapse into validity intervals of the
    * "current event_type" state — a new interval opens only when the
    * state CHANGES (run-length encoding of the state timeline), carrying
    * `valid_from`/`valid_to` millis, a per-user version number, and an
    * `is_current` flag on the open interval. This is the warehouse
    * dimension-history staple (dbt snapshots, Delta SCD merges) that the
    * CDC trio (q_latest_snapshot / q_merge_upsert / q_incremental_dedup)
    * was missing: not the latest state, the full state history.
    *
    * Scale shape: ONE hash exchange on user_id, then lag + lead + two
    * row_numbers all stacked on the SAME (ms, event_id) sort — Spark
    * plans a single Sort + Window chain, so the log is shuffled once and
    * scanned linearly regardless of corpus size. Ties are impossible by
    * construction (event_id is unique) but the sort key pins them anyway.
    * Output rows ∝ state CHANGES, not events — RLE output compression. */
  def scd2Intervals(s: SparkSession, dir: String): DataFrame =
    scd2WindowOf(Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), epochMs(col("ts")).as("ms"),
        col("event_id")))

  /** The plain one-exchange window form over a canonical (user_id,
    * event_type, ms, event_id) frame — shared by the oracle-checked
    * [[scd2Intervals]] and the cold leg of [[scd2GuardedOf]]. */
  private[graft] def scd2WindowOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    finishScd2(ev
      .withColumn("prev_state", lag(col("event_type"), 1).over(w))
      .filter(col("prev_state").isNull ||
        col("prev_state") =!= col("event_type")))
  }

  /** The change-rows → interval-rows tail shared by every scd2 leg:
    * version numbers and valid_to horizons over the CHANGES — rows
    * ∝ state transitions, the RLE-compressed output, so these windows
    * see output-sized partitions even when the raw event history was
    * the skew problem. */
  private def finishScd2(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    changes
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead(col("ms"), 1).over(w))
      .select(col("user_id"), col("version"), col("event_type").as("state"),
        col("ms").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** [[scd2Intervals]] through the AUTOMATIC hot-user guard — the third
    * member of the window-family guard next to
    * [[graft.queries.Analytics.winsorizeGuardedOf]] (rank windows) and
    * [[asofGuardedOf]] (running carries), here for lag/lead adjacency:
    * the change DETECTION pass over raw events is what a corpus-scale
    * user serializes, so hot users take a segmented lag
    * ([[scd2SegmentedOf]]) while the interval tail always runs over the
    * change rows (output-sized by construction). Registered as
    * q_scd2_guarded against q_scd2_intervals' own oracle SQL with a cap
    * that splits the sf0.01 users across both legs. */
  def scd2Guarded(s: SparkSession, dir: String): DataFrame =
    scd2GuardedOf(Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), epochMs(col("ts")).as("ms"),
        col("event_id")), cap = 60L)

  private[graft] def scd2GuardedOf(ev0: DataFrame,
      cap: Long = 1000000L): DataFrame = {
    val ev = ev0.trackedPersist()
    val (cold, hot) = HotKeys.divert(ev,
      HotKeys.census(ev, Seq("user_id"), cap), Seq("user_id"))
    scd2WindowOf(cold).unionByName(scd2SegmentedOf(hot))
  }

  /** Segmented change detection: lag(event_type) without a per-user
    * window task. Range-exchange on the full order key (user, ms,
    * event_id); each (user, slice) cell reduces to its LAST row (struct
    * max — (ms, event_id) is unique), a cells-table lag hands each slice
    * the state it inherits, and the slice-local lag falls back to that
    * carry on its first row. The user's first row sees a null carry —
    * the same "first version" rule as the window form. */
  private[graft] def scd2SegmentedOf(ev: DataFrame): DataFrame = {
    val ranked = Caches.tracked(ev
      .repartitionByRange(col("user_id"), col("ms"), col("event_id"))
      .withColumn("pid", spark_partition_id()))
    val cells = ranked.groupBy(col("user_id"), col("pid"))
      .agg(max(struct(col("ms"), col("event_id"), col("event_type")))
        .as("lastrow"))
    val wCells = Window.partitionBy(col("user_id")).orderBy(col("pid"))
    val carry = cells
      .withColumn("carry_state", lag(col("lastrow.event_type"), 1).over(wCells))
      .select(col("user_id").as("__cu"), col("pid").as("__cp"),
        col("carry_state"))
    val wLoc = Window.partitionBy(col("pid"), col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    finishScd2(ranked.join(carry,
        col("user_id") <=> col("__cu") && col("pid") === col("__cp"), "left")
      .drop("__cu", "__cp")
      .withColumn("prev_state",
        coalesce(lag(col("event_type"), 1).over(wLoc), col("carry_state")))
      .filter(col("prev_state").isNull ||
        col("prev_state") =!= col("event_type"))
      .drop("pid", "carry_state"))
  }

  private val scd2IntervalsSql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_state
      |  FROM events),
      |c AS (
      |  SELECT user_id, event_type, ms, event_id FROM e
      |  WHERE prev_state IS NULL OR prev_state <> event_type)
      |SELECT user_id,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ms, event_id) AS INT) AS version,
      |  event_type AS state, ms AS valid_from,
      |  lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS valid_to,
      |  lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL AS is_current
      |FROM c""".stripMargin

  // --------------------------------------------- CUSUM change-point scan

  /** Offline CUSUM change-point detection over hourly event volumes: for
    * each event_type, the cumulative deviation S_t = Σ_{i≤t} (n·y_i − Σy)
    * (deviation from the mean, scaled by n so everything stays in exact
    * BIGINT — no mean division ever happens) is scanned for its maximum
    * absolute excursion; the argmax hour is the single most likely level-
    * shift point, reported with the scaled excursion magnitude and its
    * direction. The monitoring counterpart of q_sliding_anomaly: that one
    * flags local spikes against a trailing frame, this one locates the
    * global regime change.
    *
    * Scale shape: the raw stream collapses to (type, hour) rows in ONE
    * partial-agg exchange (∝ hours×types, never events); the per-type
    * total + running sum + argmax rank all stack on one hash exchange of
    * those hourly rows. Integer-exact: |S| ≤ n·Σy < 2^63 at any realistic
    * volume; ties on |S| break to the earliest hour. */
  def cusumChange(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .select(col("event_type"), epochMs(col("ts")).as("ms"))
      .select(col("event_type"), expr("ms DIV 3600000").as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("y"))
    val tot = Window.partitionBy(col("event_type"))
    val run = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rank = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("s")).desc, col("h"))
    hourly
      .withColumn("n", count(lit(1)).over(tot))
      .withColumn("sy", sum(col("y")).over(tot))
      .withColumn("s", sum(col("n") * col("y") - col("sy")).over(run))
      .withColumn("rn", row_number().over(rank))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n").as("n_hours"),
        col("sy").as("n_events"), col("h").as("change_hour"),
        abs(col("s")).as("max_excursion"),
        when(col("s") > 0, lit(1L)).otherwise(lit(-1L)).as("direction"))
  }

  private val cusumChangeSql =
    """WITH hourly AS (
      |  SELECT event_type, epoch_ms(ts) // 3600000 AS h, COUNT(*) AS y
      |  FROM events GROUP BY 1, 2),
      |dev AS (
      |  SELECT event_type, h, y,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n,
      |    SUM(y) OVER (PARTITION BY event_type) AS sy
      |  FROM hourly),
      |cum AS (
      |  SELECT event_type, h, n, sy,
      |    SUM(n * y - sy) OVER (PARTITION BY event_type ORDER BY h
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      |  FROM dev),
      |r AS (
      |  SELECT event_type, h, n, sy, s,
      |    row_number() OVER (PARTITION BY event_type ORDER BY abs(s) DESC, h) AS rn
      |  FROM cum)
      |SELECT event_type, CAST(n AS BIGINT) AS n_hours,
      |  CAST(sy AS BIGINT) AS n_events, h AS change_hour,
      |  CAST(abs(s) AS BIGINT) AS max_excursion,
      |  CAST(CASE WHEN s > 0 THEN 1 ELSE -1 END AS BIGINT) AS direction
      |FROM r WHERE rn = 1""".stripMargin

  // ------------------------------------------- multi-touch attribution

  private val AttrWindowMs = 86400000L // 24 hours

  /** Linear multi-touch attribution: every purchase spreads 1000‰ of
    * credit equally (integer per-mille DIV; a purchase's credit sums to
    * 1000 minus the division remainder) across the same user's click/view touches
    * in the preceding 24 hours — the complement of [[asofJoin]]'s
    * last-touch rule. Census per touch type: touches credited, distinct
    * purchases reached, total credit.
    *
    * Scale shape: the purchase↔touch pairing is the banded range join
    * (coarse 24-hour bucket equi-join, ≤ 2 buckets per purchase, then
    * the exact residual filter) — candidate volume ∝ bucket population,
    * never clicks × purchases per user; the per-purchase touch count is
    * one window over the matched pairs. */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        epochMs(col("ts")).as("ms"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_type").as("touch_type"),
        col("ms").as("t_ms"), col("event_id").as("t_id"),
        expr(s"ms DIV $AttrWindowMs").as("bkt"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ms").as("p_ms"), col("event_id").as("p_id"),
        explode(array(expr(s"ms DIV $AttrWindowMs"),
          expr(s"ms DIV $AttrWindowMs - 1"))).as("bkt"))
    val pairs = purchases.join(touches, Seq("user_id", "bkt"))
      .filter(col("p_ms") - col("t_ms") >= 0 &&
        col("p_ms") - col("t_ms") < AttrWindowMs)
      .select(col("p_id"), col("touch_type"), col("t_id")).distinct()
    val wn = Window.partitionBy(col("p_id"))
    pairs
      .withColumn("n_touches", count(lit(1)).over(wn))
      .select(col("p_id"), col("touch_type"),
        expr("1000 DIV n_touches").as("credit_pm"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("p_id")).as("n_purchases"),
        sum(col("credit_pm")).as("credit_total_pm"))
  }

  private val attributionSql =
    s"""WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |t AS (
      |  SELECT user_id, event_type AS touch_type, ms AS t_ms, event_id AS t_id,
      |    ms // $AttrWindowMs AS bkt
      |  FROM e WHERE event_type IN ('click', 'view')),
      |p AS (
      |  SELECT user_id, ms AS p_ms, event_id AS p_id, unnest([ms // $AttrWindowMs,
      |    ms // $AttrWindowMs - 1]) AS bkt
      |  FROM e WHERE event_type = 'purchase'),
      |pairs AS (
      |  SELECT DISTINCT p.p_id, t.touch_type, t.t_id
      |  FROM p JOIN t USING (user_id, bkt)
      |  WHERE p.p_ms - t.t_ms >= 0 AND p.p_ms - t.t_ms < $AttrWindowMs),
      |c AS (
      |  SELECT p_id, touch_type,
      |    1000 // COUNT(*) OVER (PARTITION BY p_id) AS credit_pm
      |  FROM pairs)
      |SELECT touch_type, COUNT(*) AS n_touches,
      |  COUNT(DISTINCT p_id) AS n_purchases,
      |  CAST(SUM(credit_pm) AS BIGINT) AS credit_total_pm
      |FROM c GROUP BY touch_type""".stripMargin

  val defs: Seq[GQuery] = Seq(
    GQuery("q_attribution", attribution, Some(attributionSql)),
    GQuery("q_scd2_intervals", scd2Intervals, Some(scd2IntervalsSql),
      headline = true),
    GQuery("q_scd2_guarded", scd2Guarded, Some(scd2IntervalsSql)),
    GQuery("q_cusum_change", cusumChange, Some(cusumChangeSql)),
    GQuery("q_top_paths", topPaths, Some(topPathsSql)),
    GQuery("q_histogram_quantiles", histogramQuantiles, Some(histogramQuantilesSql)),
    GQuery("q_sliding_anomaly", slidingAnomaly, Some(slidingAnomalySql)),
    GQuery("q_latest_snapshot", latestSnapshot, Some(latestSnapshotSql)),
    GQuery("q_asof_join", asofJoin, Some(asofJoinSql), headline = true),
    GQuery("q_asof_guarded", asofGuarded, Some(asofJoinSql)),
    GQuery("q_range_join", rangeJoin, Some(rangeJoinSql)),
    GQuery("q_pivot_events", pivotEvents, Some(pivotEventsSql)),
    GQuery("q_cube_orders", cubeOrders, Some(cubeOrdersSql)),
    GQuery("q_funnel", funnel, Some(funnelSql)),
    GQuery("q_funnel_guarded", funnelGuarded, Some(funnelSql)),
    GQuery("q_resample_fill", resampleFill, Some(resampleFillSql)))
}
