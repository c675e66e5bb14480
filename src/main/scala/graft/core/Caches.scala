package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Registry for persisted frames that must OUTLIVE their constructor.
  *
  * Query constructors return lazy plans; several persist a shared subplan
  * (a tokenize+agg projection, an LSH signature table) that the CALLER's
  * action materializes, so the constructor cannot unpersist it — only the
  * harness that ran the action knows when the plan is done. Iterative
  * operators that run their own actions keep using local try/finally
  * unpersist; everything else registers here and the harness drains the
  * registry after each query's action ([[graft.Verify]] and the
  * perfbench harness per query, [[graft.BenchGate.violations]] per
  * telemetry query). Library users embedding the facade in a long-lived
  * session call [[release]] the same way — without it, repeated
  * invocations accumulate cache-manager entries until the context
  * cleaner catches up.
  *
  * `unpersist(blocking = false)` keeps release off the critical path; a
  * plan re-persisted before its async drop completes simply re-marks the
  * same cache entry (Spark dedupes by canonicalized plan).
  *
  * CONCURRENCY CONTRACT — single driver thread: the registry is
  * process-global, so [[release]] drains every tracked frame in the
  * JVM, including ones another thread or SparkSession is still
  * computing over (the result is a silent recompute, never a wrong
  * answer — Spark re-evaluates the lineage). A dropped loop checkpoint
  * has no lineage to re-evaluate: a frame still reading it fails.
  * Embedders running concurrent queries in one JVM must serialize
  * query+release sequences on one thread, or scope their own
  * persist/unpersist instead of tracking here.
  */
object Caches {
  private val live = new ConcurrentLinkedQueue[DataFrame]()
  private val checkpoints = new ConcurrentLinkedQueue[RDD[_]]()

  /** `df.persist()`, registered for a later [[release]] sweep.
    *
    * Deduped by canonicalized plan: re-constructing the same query
    * (a harness's second timed pass, a library caller rebuilding a plan)
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

  /** `df`, a local checkpoint, with the RDD it persisted registered for
    * the next [[release]]. Spark frees a local checkpoint's blocks only
    * once the context cleaner sees its RDD garbage-collected, so without
    * this a [[Fixpoint]] loop's rounds outlived the query by however long
    * the next GC took. */
  def trackedCheckpoint(df: DataFrame): DataFrame = {
    df.queryExecution.logical.foreach {
      case l: LogicalRDD => checkpoints.add(l.rdd)
      case _ =>
    }
    df
  }

  /** Unpersist every tracked frame and checkpoint registered since the
    * last drain. */
  def release(): Unit = {
    drain(live)(_.unpersist(blocking = false))
    drain(checkpoints)(_.unpersist(blocking = false))
  }

  private def drain[A](q: ConcurrentLinkedQueue[A])(drop: A => Unit): Unit = {
    var x = q.poll()
    while (x != null) {
      try drop(x)
      catch { case _: Throwable => () } // a stopped session has nothing to drop
      x = q.poll()
    }
  }
}
