package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.queries.Ingest

/** A session that has run a user `Dataset.observe` action holds a
  * non-serializable `ObservationManager`; a DeferredIngest plan captures
  * its session in the deferred body, so the body must stay behind when
  * the plan is shipped to executors. */
class DeferredIngestSpec extends SparkSpec {

  test("a DeferredIngest query runs after an observe() action in one session") {
    val s = spark.newSession()
    val obs = Observation("user_probe")
    val seen = s.range(100).observe(obs, count(lit(1)).as("n")).collect()
    assert(seen.length == 100 && obs.get("n") == 100L)
    val out = Ingest.csvRoundtrip(s, sfDir).collect()
    assert(out.length == 1 && out.head.getLong(0) > 0L)
  }
}
