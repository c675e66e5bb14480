package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.core.{Caches, Fixpoint}
import graft.functions.GraftExtensions

/** Each generated class compiles once per JVM. Spark's codegen cache
  * hits only on the same code compiled under the same context class
  * loader, so a second run of the same work compiles nothing — only when
  * the cache holds the work's classes, a `Fixpoint` clone runs its tasks
  * under the caller's class loader and a class name does not carry the
  * run's codegen stage id, which the defaults `GraftExtensions` seeds
  * provide. The compile counter is JVM-wide, and specs run one at a
  * time. */
class CodegenReuseSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled by the second of two runs of `work`. */
  private def secondRunCompiles(work: => Unit): Long = {
    work
    val before = compiles
    work
    compiles - before
  }

  private def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def headline(q: String): Unit =
    try drain(SparkEntry.queries(q)(spark, sfDir)) finally Caches.release()

  test("a graft session starts from graft's Spark defaults") {
    GraftExtensions.sparkDefaults.foreach { case (k, v) =>
      assert(spark.sparkContext.getConf.get(k) == v, k)
      assert(spark.conf.get(k) == v, k)
    }
  }

  test("a user-set value is kept") {
    val set = Map(
      "spark.sql.codegen.cache.maxEntries" -> "64",
      "spark.sql.artifact.isolation.enabled" -> "true",
      "spark.sql.codegen.useIdInClassName" -> "true",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager")
    val user = new SparkConf(false).setAll(set)
    GraftExtensions.seed(user)
    assert(user.getAll.toMap == set)
    val unset = new SparkConf(false)
    GraftExtensions.seed(unset)
    assert(unset.getAll.toMap == GraftExtensions.sparkDefaults.toMap)
  }

  test("a second run of a headline compiles no class") {
    assert(secondRunCompiles(headline("q1_pricing_summary")) == 0)
  }

  test("a whole-stage class name carries no stage id") {
    // AQE numbers stages in a run-dependent order; an id in the name
    // would make the same stage's code a new class on the next run
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val df = s.range(100).groupBy((col("id") % 7).as("k")).count()
      .join(s.range(7).withColumnRenamed("id", "k"), "k")
    val bodies = df.queryExecution.executedPlan
      .collect { case w: WholeStageCodegenExec => w.doCodeGen()._2.body }
    assert(bodies.size >= 2)
    bodies.foreach(b => assert(!b.contains("ForCodegenStage"), b.take(400)))
  }

  test("a second call of a Fixpoint loop compiles no class") {
    def loop(): Unit = {
      val inv = spark.range(40).select((col("id") % 10).as("k"), col("id").as("v"))
      drain(Fixpoint(spark, 3) { loop =>
        val seed = loop.checkpoint(loop(inv).groupBy(col("k")).agg(sum(col("v")).as("v")))
        loop.rounds(seed, 2) { (state, _) =>
          state.join(loop(inv).groupBy(col("k")).agg(count(lit(1)).as("n")), "k")
            .select(col("k"), (col("v") + col("n")).as("v"))
        }.last
      })
    }
    assert(secondRunCompiles(loop()) == 0)
  }

  test("a second run of a Fixpoint headline compiles no class") {
    assert(secondRunCompiles(headline("q_pagerank")) == 0)
  }
}
