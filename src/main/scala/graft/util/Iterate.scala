package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The eager round driver shared by every data-dependent fixed-point loop
  * (connected components, fixpoint k-core and shortest path, HITS, PCA
  * power iteration, MMR selection, hierarchy pointer jumping).
  *
  * Why rounds are truncated at all: a round that reads its predecessor
  * twice (a self-join, or a join plus a merge) DOUBLES the logical plan
  * every round, so round r pays O(2^r) Catalyst analysis before any data
  * moves — measured 30 s of pure analysis to cluster 255 pairs in
  * connected components. `persist` does not help: it keeps the data but
  * not the plan size. An eager `localCheckpoint(true)` replaces the round's
  * plan with a leaf over its materialized blocks, so every round costs
  * O(1) to plan. On a multi-node cluster swap it for reliable
  * `checkpoint(dir)` if executor loss during the loop must be survivable.
  *
  * What each loop checkpoints is its own measured policy (HITS and PCA
  * truncate only the raw aggregate their normalizer collect reads; the
  * shortest-path frontier anti-joins the materialized merge), so the step
  * checkpoints its frames itself; this driver owns the rest: the round
  * count, the convergence test and the release of superseded rounds.
  */
object Iterate {

  /** Run `step(state, round)` for rounds 1..`maxRounds` from `init`,
    * stopping early after the first round where `done(previous, next)`
    * holds. `frames` lists the DataFrames a state holds; once a round's
    * successor is built (its checkpoints materialized) and tested, every
    * checkpoint the previous state read that the new state no longer reads
    * is unpersisted — compared by RDD, so a checkpoint held twice is freed
    * once. On return only the final state's checkpoints are live, however
    * many rounds ran.
    *
    * Contract: a checkpoint reachable from the state belongs to the loop.
    * A step must not read a caller checkpoint that only the initial state
    * reaches, since it is freed after round 1.
    */
  def apply[S](init: S, maxRounds: Int)(frames: S => Seq[DataFrame],
      done: (S, S) => Boolean = (_: S, _: S) => false)(step: (S, Int) => S): S = {
    var state = init
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      val next = step(state, round)
      converged = done(state, next)
      val live = frames(next).flatMap(checkpoints).toSet
      frames(state).flatMap(checkpoints).distinct
        .filterNot(live).foreach(_.unpersist(blocking = false))
      state = next
    }
    state
  }

  /** Free the blocks of a one-shot checkpoint nothing reads any more.
    * `Dataset.unpersist` only drops cache-manager entries, so it leaves a
    * `localCheckpoint` frame's blocks live until the driver GC runs.
    */
  def release(df: DataFrame): Unit =
    checkpoints(df).foreach(_.unpersist(blocking = false))

  /** The materialized checkpoint RDDs a frame's plan reads. */
  private def checkpoints(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect {
      case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd
    }
}
