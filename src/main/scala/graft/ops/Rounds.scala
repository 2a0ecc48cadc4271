package graft.ops

import org.apache.spark.sql.DataFrame
import scala.annotation.tailrec

/** The one round loop behind graft's iterative operators (PageRank, label
  * propagation, components, k-core, BFS, Lloyd/PQ, PCA power rounds,
  * Newton logistic, beam walk, MMR).
  *
  * Each operator supplies its round body as a plain DataFrame → DataFrame
  * step; the loop owns the state carry and the per-round materialization.
  * Every round's result is pinned with [[Materialize.state]], which
  * truncates lineage (the plan stays O(1) deep at any round count),
  * declares the state's stored bytes, so a small state broadcasts
  * statically, and keeps an explicit-width hash partitioning. The initial
  * state is the caller's, passed in as built and never re-pinned here.
  * Loops carrying several frames a round (HITS, k-truss, k-center, BPE
  * merges, median polish) stay hand-written and pin the same way.
  */
object Rounds {

  /** Runs `step(state, round)` for rounds 1..n, pinning each result. */
  def fixed(n: Int, init: DataFrame)(step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to n).foldLeft(init)((state, round) => Materialize.state(step(state, round)))

  /** Runs `step` until `done(prev, next)` holds — `next` is already pinned
    * when `done` runs, so a convergence action reads materialized blocks.
    * Returns the converged state, or None once `maxIters` rounds pass
    * without convergence; callers that cannot fall back raise
    * [[notConverged]].
    */
  def untilConverged(maxIters: Int, init: DataFrame)(step: DataFrame => DataFrame)
                    (done: (DataFrame, DataFrame) => Boolean): Option[DataFrame] = {
    @tailrec def go(state: DataFrame, round: Int): Option[DataFrame] =
      if (round == maxIters) None
      else {
        val next = Materialize.state(step(state))
        if (done(state, next)) Some(next) else go(next, round + 1)
      }
    go(init, 0)
  }

  /** The shared loud failure for a capped [[untilConverged]] run: a silent
    * non-converged return would hand callers a wrong answer. */
  def notConverged(what: String, maxIters: Int, hint: String): Nothing =
    throw new IllegalArgumentException(
      s"$what did not converge within $maxIters rounds; $hint")
}
