package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The construction contract: building a registry query's DataFrame must
  * not run Spark jobs — plans are declared, actions execute them. The
  * exception is the DRIVER-ITERATIVE operators (PageRank, components,
  * k-core, Lloyd steps, boundary decision...), whose loop rounds are
  * jobs by design; those are pinned in an exact allowlist so a new
  * query can't silently start paying construction-time work (the
  * write-at-construction asymmetry the deferred sink→source stage,
  * graft.plans.DeferredIngest, exists to prevent).
  */
class RegistryPlanSpec extends SparkSpec {

  /** Queries whose CONSTRUCTION legitimately executes jobs: driver
    * iteration with eager checkpoints, or an explicit materialization
    * the operator's convergence/boundary decision requires. */
  private val iterativeByDesign = Set(
    "q_pagerank", "q_pagerank_double",       // rank rounds + final checkpoint
    "q_kcore", "q_kcore_powerlaw",           // peel cascade
    "q_dup_clusters", "q_dup_clusters_conv", "q_dup_clusters_star",
    "q_dedup_keep_best",                     // same hash-min label rounds
                                             // as q_dup_clusters
    "q_split_leakfree",                      // star-rewriting components
    "q_sssp", "q_bfs_hops", "q_hits",        // frontier/fixpoint rounds
    "q_gensort_checksum")                    // spark.range sized from a
                                             // data count (gensort's n
                                             // CLI parameter)

  test("construction runs zero jobs outside the iterative allowlist") {
    val sc = spark.sparkContext
    val counts = new ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = js.properties.getProperty("spark.jobGroup.id")
        if (g != null && g.startsWith("construct:"))
          counts.merge(g, 1, (a, b) => a + b)
      }
    }
    sc.addSparkListener(listener)
    try {
      SparkEntry.registry.foreach { q =>
        sc.setJobGroup(s"construct:${q.name}", "RegistryPlanSpec", false)
        try {
          // construct AND physically plan: a query that analyzes but
          // fails planning, or plans a cartesian product, must be caught
          // registry-wide (ScaleShapeSpec only covers a hand-picked set)
          val plan = q.run(spark, sfDir).queryExecution.executedPlan
          assert(!plan.toString.contains("CartesianProduct"),
            s"${q.name} plans a CartesianProduct")
        } finally sc.clearJobGroup()
      }
      // the listener bus is async — drain it deterministically before
      // reading the counts (a fixed sleep flakes on a loaded host)
      org.apache.spark.GraftTestListenerBus.drain(sc)
      val offenders = SparkEntry.registry.map(_.name)
        .filterNot(iterativeByDesign)
        .filter(n => counts.containsKey(s"construct:$n"))
      assert(offenders.isEmpty,
        s"queries ran jobs at construction: ${offenders.mkString(", ")} " +
          s"(counts: ${offenders.map(n => counts.get(s"construct:$n")).mkString(",")})")
      // the allowlist stays exact — an entry that stops executing at
      // construction should be removed, not linger
      val stale = iterativeByDesign
        .filterNot(n => counts.containsKey(s"construct:$n"))
      assert(stale.isEmpty,
        s"allowlisted queries no longer run construction jobs: $stale")
    } finally {
      sc.removeSparkListener(listener)
      graft.core.Caches.release()
    }
  }
}
