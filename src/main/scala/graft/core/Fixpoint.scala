package graft.core

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge, Observation, SparkSession}

/** The one driver-side loop every iterative operator runs on — the
  * Spark-native form of the reference's repeated stage
  * (`job_spec_generators/pagerank.py:16-39`, `run_in_sequence`). A site
  * supplies its round step; Fixpoint owns what every loop repeats:
  *  - the rounds run in a clone of the caller's session (runtime settings
  *    carry over) at the site's derived width ([[LoopWidth]]) with AQE
  *    off — the width came from a materialized size, so AQE has nothing
  *    left to decide but still charges per-round overhead (at sf0.1:
  *    q_pagerank 4.27 → 1.80 s, q_sssp 2.30 → 1.03 s with it off). The
  *    caller's SQLConf is never written, and a probe's
  *    `ObservationManager` lives and dies with the clone;
  *  - rounds are checkpointed eagerly at the site's cadence, keeping each
  *    round's plan constant-size;
  *  - the `cached` invariants are unpersisted when the loop ends, normally
  *    or not;
  *  - the result comes back bound to the caller's session, so the plans
  *    built on it run at the session width with AQE on. */
object Fixpoint {

  def apply(caller: SparkSession, width: Int, cached: DataFrame*)
      (body: Loop => DataFrame): DataFrame = {
    val session = GraftPlanBridge.cloneSession(caller)
    session.conf.set("spark.sql.shuffle.partitions", width.toString)
    session.conf.set("spark.sql.adaptive.enabled", "false")
    try GraftPlanBridge.rebind(body(new Loop(session)), caller)
    finally cached.foreach(_.unpersist())
  }

  /** The loop session as the rounds see it. Every frame a round returns
    * must belong to it: one built from a caller frame would plan at the
    * caller's width, so it fails instead. */
  final class Loop private[Fixpoint] (val session: SparkSession) {

    /** `df` (an invariant or input of the caller's) bound to the loop. */
    def apply(df: DataFrame): DataFrame = GraftPlanBridge.rebind(df, session)

    /** `df` materialized now, lineage cut: a seed, or a frame the result
      * reads besides the loop state. */
    def checkpoint(df: DataFrame): DataFrame =
      own(df, "checkpoint").localCheckpoint(eager = true)

    /** `rounds` applications of `step` to `seed`, checkpointing the state
      * after every `every`-th and the last round (lazy in between).
      * Returns the states of rounds 0 (the seed) to `rounds`. */
    def rounds(seed: DataFrame, rounds: Int, every: Int = 1)
        (step: (DataFrame, Int) => DataFrame): IndexedSeq[DataFrame] = {
      require(every >= 1, s"checkpoint cadence $every")
      (1 to rounds).scanLeft(seed) { (state, r) =>
        val next = own(step(state, r), s"round $r")
        if (r % every == 0 || r == rounds) next.localCheckpoint(eager = true)
        else next
      }
    }

    /** Applies `step` until `probe` (aggregates over the round's state
      * that must repeat only at the fixpoint) repeats the previous
      * round's value; returns that state. The probe rides the round's
      * checkpoint action through `observe()`, so a round is one action.
      * Throws when `maxRounds` end short of the fixpoint: a read-off of an
      * unconverged state would be silently wrong. */
    def converge(seed: DataFrame, maxRounds: Int, probe: Column*)
        (step: DataFrame => DataFrame): DataFrame = {
      @tailrec def go(state: DataFrame, r: Int, last: Option[Map[String, Any]]): DataFrame = {
        require(r <= maxRounds, s"no fixpoint in $maxRounds rounds — raise the budget")
        val obs = Observation(s"fixpoint_round_$r")
        val next = own(step(state), s"round $r")
          .observe(obs, probe.head, probe.tail: _*).localCheckpoint(eager = true)
        if (last.contains(obs.get)) next else go(next, r + 1, Some(obs.get))
      }
      go(seed, 1, None)
    }

    private def own(df: DataFrame, what: String): DataFrame = {
      require(df.sparkSession eq session, s"fixpoint $what: the frame " +
        "belongs to another session; bind caller frames with loop(df)")
      df
    }
  }
}
