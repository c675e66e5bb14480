package graft

import org.apache.spark.sql.{GraftTestSession, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Fixpoint

/** Fixpoint runs every loop in a session of its own: whatever the loop
  * does — fixed rounds, a converge loop with its `observe()` probe, a
  * step that throws — the caller's width, AQE flag and query-execution
  * listeners are exactly as before (an `ObservationManager` registers a
  * listener on the session it is created in, so a leaked one shows up
  * here), and the rounds run at the loop's width. */
class FixpointSpec extends SparkSpec {

  private def callerSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "7")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s
  }

  private def untouched[T](s: SparkSession)(loop: => T): T = {
    val conf = s.conf.getAll
    val listeners = GraftTestSession.listeners(s)
    try loop finally {
      val now = s.conf.getAll
      val written = (conf.keySet ++ now.keySet).filter(k => conf.get(k) != now.get(k))
      assert(written.isEmpty, s"the loop wrote the caller's SQLConf: $written")
      assert(GraftTestSession.listeners(s) == listeners,
        "the loop left a query-execution listener on the caller's session")
    }
  }

  test("fixed rounds run at the loop width and leave the caller untouched") {
    val s = callerSession()
    val inv = s.range(40).select((col("id") % 10).as("k"), col("id").as("v")).persist()
    val out = untouched(s) {
      Fixpoint(s, 3, inv) { loop =>
        assert(loop.session.conf.get("spark.sql.shuffle.partitions") == "3")
        assert(loop.session.conf.get("spark.sql.adaptive.enabled") == "false")
        val seed = loop.checkpoint(loop(inv).groupBy(col("k")).agg(sum(col("v")).as("v")))
        val trajectory = loop.rounds(seed, 3) { (state, r) =>
          assert(state.rdd.getNumPartitions == 3, s"round $r input width")
          state.join(loop(inv).groupBy(col("k")).agg(count(lit(1)).as("n")), "k")
            .select(col("k"), (col("v") + col("n")).as("v"))
        }
        assert(trajectory.length == 4)
        trajectory.last
      }
    }
    assert(out.sparkSession eq s, "the result must come back bound to the caller")
    assert(inv.storageLevel == StorageLevel.NONE, "the loop unpersists its invariants")
    // Σ_k (Σ v over id ≡ k) = 780, plus 3 rounds × 40 rows
    assert(out.agg(sum(col("v"))).head().getLong(0) == 780L + 3 * 40L)
  }

  test("a converge loop stops at its fixpoint and leaves the caller untouched") {
    val s = callerSession()
    val out = untouched(s) {
      Fixpoint(s, 2) { loop =>
        val seed = loop.checkpoint(loop(s.range(10).select(col("id"), col("id").as("v"))))
        loop.converge(seed, 20, sum(col("v")).as("s")) { state =>
          state.select(col("id"), greatest(col("v") - 1, lit(0L)).as("v"))
        }
      }
    }
    assert(out.collect().forall(_.getLong(1) == 0L))
  }

  test("a throwing step unpersists the invariants and leaves the caller untouched") {
    val s = callerSession()
    val inv = s.range(10).toDF("id").persist()
    val e = intercept[IllegalStateException] {
      untouched(s) {
        Fixpoint(s, 2, inv) { loop =>
          loop.rounds(loop.checkpoint(loop(inv)), 3) { (state, r) =>
            if (r == 2) throw new IllegalStateException("step failed")
            state.select((col("id") + 1).as("id"))
          }.last
        }
      }
    }
    assert(e.getMessage == "step failed")
    assert(inv.storageLevel == StorageLevel.NONE)
  }

  test("a round built from a caller-session frame fails on round 1") {
    val s = callerSession()
    val callerFrame = s.range(10).toDF("id")
    val other = s.range(5).toDF("id")
    var steps = 0
    val e = intercept[IllegalArgumentException] {
      Fixpoint(s, 2) { loop =>
        loop.rounds(loop.checkpoint(loop(callerFrame)), 3) { (state, _) =>
          steps += 1
          other.join(state, "id")
        }.last
      }
    }
    assert(steps == 1 && e.getMessage.contains("round 1"), e.getMessage)
  }

  test("Caches.release() drops the checkpoints of a loop query's rounds") {
    // q_dup_clusters_star runs two checkpoints and a converge loop,
    // q_pagerank fixed rounds; each left its checkpoint RDDs persisted
    // until a GC let the context cleaner see them
    val sc = spark.sparkContext
    Seq("q_dup_clusters_star", "q_pagerank").foreach { q =>
      val before = sc.getPersistentRDDs.keySet
      SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      graft.core.Caches.release()
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$q left persistent RDDs ${left.toSeq.sorted}")
    }
  }
}
