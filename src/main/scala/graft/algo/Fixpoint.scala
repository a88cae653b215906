package graft.algo

import scala.collection.concurrent.TrieMap

/** The one round loop of the engine's fixpoints: PageRank's RDD loop
  * and its one-task solver, `Dedup.dupClusters`,
  * `GraphMetrics.reachHopsOf` and the BPE learn. Each brings its step
  * (plans, lineage cut, arithmetic); this owns the round counter, the
  * cap, the stop test, the failure of a loop that must converge and does
  * not, and one [[Round]] record per round, taken on the action the step
  * runs anyway. The last run of each loop is published by name, in the
  * JVM that ran it, when it ends; `tools.Profile` prints it. */
object Fixpoint {

  /** `delta` is the loop's stop measure; `rows` its state's size after
    * the round, -1 where the round measured none. */
  final case class Round(loop: String, round: Int, delta: Double,
      rows: Long, wallMs: Double) {
    def line: String = f"fixpoint $loop round $round  delta $delta%.3e  " +
      f"rows $rows  wall $wallMs%.0f ms"
  }

  private val published = TrieMap.empty[String, Seq[Round]]

  def lastRuns: Map[String, Seq[Round]] = published.readOnlySnapshot().toMap

  /** Run `step(state, round)` (rounds from 1), which returns the next
    * state, the round's delta and rows, until a delta satisfies `done`
    * or `maxRounds` rounds ran. Reaching the cap first fails when the
    * loop `mustConverge`: a half-finished fixpoint is no answer. */
  def run[S](loop: String, init: S, maxRounds: Int,
      mustConverge: Boolean = false)(done: Double => Boolean)(
      step: (S, Int) => (S, Double, Long)): S = {
    val rounds = Vector.newBuilder[Round]
    var state = init
    var round = 0
    var converged = false
    try while (!converged && round < maxRounds) {
      round += 1
      val t0 = System.nanoTime()
      val (next, delta, rows) = step(state, round)
      rounds += Round(loop, round, delta, rows, (System.nanoTime() - t0) / 1e6)
      state = next
      converged = done(delta)
    } finally published.put(loop, rounds.result())
    require(converged || !mustConverge,
      s"$loop did not converge in $maxRounds rounds")
    state
  }
}
