package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame

/** Registry for persisted frames that must OUTLIVE their constructor.
  *
  * Query constructors return lazy plans; several persist a shared subplan
  * (a tokenize+agg projection, an LSH signature table) that the CALLER's
  * action materializes, so the constructor cannot unpersist it — only the
  * harness that ran the action knows when the plan is done. Iterative
  * operators that run their own actions keep using local try/finally
  * unpersist; everything else registers here and the harness drains the
  * registry after each query's action ([[graft.Verify]] per query,
  * [[graft.Bench]] after each query's timed passes). Library users
  * embedding the facade in a long-lived session call [[release]] the same
  * way — without it, repeated invocations accumulate cache-manager
  * entries until the context cleaner catches up.
  *
  * `unpersist(blocking = false)` keeps release off the critical path; a
  * plan re-persisted before its async drop completes simply re-marks the
  * same cache entry (Spark dedupes by canonicalized plan).
  *
  * CONCURRENCY CONTRACT — single driver thread: the registry is
  * process-global, so [[release]] drains every tracked frame in the
  * JVM, including ones another thread or SparkSession is still
  * computing over (the result is a silent recompute, never a wrong
  * answer — Spark re-evaluates the lineage).
  * Embedders running concurrent queries in one JVM must serialize
  * query+release sequences on one thread, or scope their own
  * persist/unpersist instead of tracking here.
  */
object Caches {
  private val live = new ConcurrentLinkedQueue[DataFrame]()

  /** `df.persist()`, registered for a later [[release]] sweep.
    *
    * Deduped by canonicalized plan: re-constructing the same query
    * (Bench's second timed pass, a library caller rebuilding a plan)
    * re-tracks a frame whose plan Spark's cache manager would dedupe
    * anyway — calling persist() on it again only spams "Asked to cache
    * already cached data" warnings and, right after a [[release]],
    * races the async unpersist ("Block already exists"). Returning the
    * already-tracked frame instead keeps one persist() per distinct
    * plan per drain cycle. The scan is O(live entries), a handful per
    * query. */
  def tracked(df: DataFrame): DataFrame = {
    val it = live.iterator()
    while (it.hasNext) {
      val d = it.next()
      // sameResult canonicalizes names away, so two queries' plans can
      // collide while exposing different column names — require the
      // schema to match too before handing back the earlier frame. A
      // frame persisted under a since-stopped session (the queue drains
      // only on release()) must not be handed to a fresh session: it
      // would fail at action time with a confusing stopped-context error
      // instead of recomputing
      if (!d.sparkSession.sparkContext.isStopped &&
          d.schema == df.schema &&
          d.queryExecution.analyzed.sameResult(df.queryExecution.analyzed))
        return d
    }
    val p = df.persist()
    live.add(p)
    p
  }

  /** Chain form of [[tracked]]: `df.trackedPersist()` in place of
    * `df.persist()` where the cache must outlive the constructor. */
  implicit class TrackedOps(private val df: DataFrame) extends AnyVal {
    def trackedPersist(): DataFrame = tracked(df)
  }

  /** Unpersist every tracked frame registered since the last drain. */
  def release(): Unit = {
    var d = live.poll()
    while (d != null) {
      try d.unpersist(blocking = false)
      catch { case _: Throwable => () } // a stopped session has nothing to drop
      d = live.poll()
    }
  }
}
