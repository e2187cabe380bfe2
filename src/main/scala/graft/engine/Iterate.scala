package graft.engine

import org.apache.spark.sql.DataFrame

/** One combinator for graft's iterative DataFrame loops: round cap,
  * checkpoint cadence and stop tests live here, not at each call site.
  *
  * Round `r` (1-based) calls `step(state, r)`. `None` (nothing left to do)
  * stops the loop and returns `state`. `Some(next)` becomes the state; on
  * every `every`-th round it is first made an eager `localCheckpoint`
  * leaf, and `until(leaf, r)` may stop the loop with a count or emptiness
  * test over that leaf's in-memory blocks. At the cap the last state is
  * returned, or, with `mustConverge` (CC, k-core: wrong short of the
  * fixpoint), `"<name> did not converge in <maxRounds> rounds"` is thrown.
  *
  * Cadence: a round's plan reads the previous state, often twice
  * (PageRank's dangling mass and contributions, CC's pointer jumping), and
  * Catalyst plans trees, not DAGs, so without a leaf plan and recompute
  * grow geometrically (at cadence 3 a PageRank checkpoint job evaluated up
  * to 2³ copies of the prior subtree). A leaf per round keeps each round
  * one flat job over executor-local blocks. A longer cadence pays only
  * when a round has no job of its own to shorten.
  *
  * Each round's jobs carry the description `"<name> round <r>"`; the prior
  * one comes back after the round. The job group, which tracers attribute
  * jobs by, is left alone.
  */
object Iterate {

  def apply(name: String, init: DataFrame, maxRounds: Int, every: Int = 1,
      until: (DataFrame, Int) => Boolean = (_, _) => false,
      mustConverge: Boolean = false)(
      step: (DataFrame, Int) => Option[DataFrame]): DataFrame = {
    var state = init
    var round = 0
    var stopped = false
    while (!stopped && round < maxRounds) {
      round += 1
      Sessions.withJobDescription(init.sparkSession, s"$name round $round") {
        step(state, round) match {
          case None => stopped = true
          case Some(next) if round % every == 0 =>
            state = next.localCheckpoint()
            stopped = until(state, round)
          case Some(next) => state = next
        }
      }
    }
    if (mustConverge && !stopped)
      throw new IllegalStateException(s"$name did not converge in $maxRounds rounds")
    state
  }
}
