package graft

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.GraftSqlBridge

/** The round loop of the iterative operators (connected components,
  * k-core, PageRank, TextRank, label propagation, Markov, BPE training,
  * k-means). Fixed-round loops with no driver test between rounds
  * ([[iterate]]) stay one lazy plan per block of [[CheckpointEvery]]
  * rounds. Loops with a per-round driver test ([[untilSettled]],
  * [[untilConverged]]) checkpoint their state every round, since the
  * test reads it anyway, and stop in the round the test reports settled.
  * Loops whose state is a few driver doubles have nothing to checkpoint
  * and do not use it. Cluster caveat: localCheckpoint truncates lineage,
  * so a lost executor cannot recompute its blocks; a reliable
  * `checkpoint()` takes its place on a real cluster. */
object Fixpoint {

  /** Rounds per lazy-plan block of an [[iterate]] loop: plan depth, and
    * with it analysis cost, is bounded per block for deep callers, and
    * every default depth (3) stays checkpoint-free. */
  val CheckpointEvery = 8

  /** Eager localCheckpoint without the plan-estimate statistics it
    * inherits. A join's estimate is the product of its sides', so a
    * state that joins itself several times per round would carry
    * estimates that grow in DIGITS each round: on a 2,000-node path, one
    * connected-components checkpoint past the first few rounds ran 25
    * CPU-minutes of BigInteger multiplication before it was stopped. */
  def checkpoint(df: DataFrame): DataFrame =
    GraftSqlBridge.withoutPlanStats(df.localCheckpoint(true))

  /** `rounds` applications of `step` from `init`, checkpointed at each
    * block boundary strictly inside the loop. */
  def iterate(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init) { (state, t) =>
      val next = step(state)
      if (t % CheckpointEvery == 0 && t < rounds) checkpoint(next) else next
    }

  /** Driver-tested rounds: `round` builds the next state, its frames
    * materialized with [[checkpoint]], and says whether it has settled.
    * Returns the settled state, or the last one after `maxRounds`. */
  def untilSettled[S](init: S, maxRounds: Int)(round: S => (S, Boolean)): S =
    run(init, maxRounds, round)._1

  /** [[untilSettled]], throwing "<what>: not converged after N rounds"
    * when `maxRounds` rounds do not settle. */
  def untilConverged[S](what: String, init: S, maxRounds: Int)(round: S => (S, Boolean)): S =
    run(init, maxRounds, round) match {
      case (state, true) => state
      case _ => throw new IllegalArgumentException(
        s"$what: not converged after $maxRounds rounds")
    }

  @tailrec private def run[S](state: S, left: Int, round: S => (S, Boolean)): (S, Boolean) =
    if (left <= 0) (state, false)
    else round(state) match {
      case (next, true) => (next, true)
      case (next, false) => run(next, left - 1, round)
    }
}
