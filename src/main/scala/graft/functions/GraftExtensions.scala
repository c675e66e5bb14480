package graft.functions

import org.apache.spark.SparkConf
import org.apache.spark.sql.{GraftPlanBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point registering the engine's native
  * functions for SQL use:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)      // or
  *   .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  *
  * After which `SELECT themis_murmur64(key) FROM t` parses anywhere SQL
  * runs — the SQL-surface twin of the `ThemisMurmur64(col)` column API.
  *
  * Through the `spark.sql.extensions` path (every graft entry point) it
  * also seeds [[GraftExtensions.sparkDefaults]] into the context's conf,
  * each only where the user has not set it: that hook runs after the
  * context starts and before the session's shared state and first
  * codegen exist. `withExtensions` runs the hook when the builder is
  * made, before the context starts, so a first session built that way
  * gets none of them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftPlanBridge.activeContextConf.foreach(GraftExtensions.seed)
    ext.injectFunction((
      new FunctionIdentifier("themis_murmur64"),
      new ExpressionInfo(classOf[ThemisMurmur64].getName, "themis_murmur64"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "themis_murmur64 takes exactly one argument")
        ThemisMurmur64(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hash60"),
      new ExpressionInfo(classOf[GraftHash60].getName, "graft_hash60"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_hash60 takes exactly one argument")
        GraftHash60(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[GraftDot].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot takes exactly two arguments")
        GraftDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_l2"),
      new ExpressionInfo(classOf[GraftL2].getName, "graft_l2"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_l2 takes exactly two arguments")
        GraftL2(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_tokenize"),
      new ExpressionInfo(classOf[GraftTokenize].getName, "graft_tokenize"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_tokenize takes exactly one argument")
        GraftTokenize(children.head)
      }))
    // the deferred sink→source stage (write files at EXECUTE time, then
    // read them back) — see graft.plans.DeferredIngest
    ext.injectPlannerStrategy(_ => graft.plans.DeferredIngestStrategy)
  }
}

object GraftExtensions {

  /** The Spark defaults of a graft session:
    *  - a codegen cache of 1000 entries (`maxEntries`, Spark's default
    *    100). The cache is an LRU over generated classes, sized once per
    *    JVM at the first codegen, and a graft pass cycles through more
    *    than 100 classes, so at the default it never hit: each warm
    *    perfbench pass recompiled 193 classes on `sql_small`, 131 on
    *    `sort_ingest` and 363 on `curate_scaled`. `curate_scaled`, the
    *    largest working set, compiles ~330 distinct classes cold (~350
    *    counting the ~20 variants per pass that differed only in the stage
    *    id in their class name). 1000 entries hold that set about three
    *    times over, so eviction needs a JVM whose work cycles through three
    *    of graft's largest passes;
    *  - no per-session artifact isolation. Spark keys its codegen cache by
    *    (the thread's context class loader, code), and an isolated session
    *    runs its tasks under a class loader of its own; every
    *    `cloneSession()` (each [[graft.core.Fixpoint]] loop, each
    *    streaming query) gets a new artifact state and so recompiled
    *    identical code on every call (q_pagerank 50 and
    *    q_dup_clusters_star 70 classes per pass). Graft adds no
    *    per-session artifacts;
    *  - whole-stage classes named without their codegen stage id. AQE
    *    numbers a query's stages in the order they are planned, which
    *    varies from run to run, and the id in the class name made
    *    otherwise identical code a cache miss (q_curate: 8 to 14 classes
    *    per pass). The id stays in the plan and in a comment of the code. */
  val sparkDefaults: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** Sets each of [[sparkDefaults]] on `conf` unless it is already set. */
  def seed(conf: SparkConf): Unit =
    sparkDefaults.foreach { case (k, v) => conf.setIfMissing(k, v) }
}
