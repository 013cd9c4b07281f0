package graft.ops

import org.apache.spark.sql.DataFrame

/** Shared iteration machinery for the unbounded-rounds graph/dedup
  * kernels. The fixed-round operators ([[Graph.kCore]],
  * [[Graph.integerPageRank]], [[Graph.labelPropagation]]) carry honest
  * lineage bounds (`rounds <= 6/8`) because each DataFrame round
  * stacks join lineage — a growing logical plan OOMs the DRIVER long
  * before the data would. A real 100 TB run needs run-to-convergence,
  * and the safe shape for that is an eager checkpoint per round: the
  * plan is truncated to a materialized relation, so round N+1 never
  * re-derives rounds 1..N. [[toFixpoint]] is that loop, shared by
  * [[Dedup.dupClusters]] and [[Graph.kCoreConverged]];
  * [[Graph.pageRankConverged]] still hand-rolls its own loop over
  * eager per-round [[checkpointed]] states.
  */
object Iterate {

  /** Eagerly checkpoint `df`, truncating its lineage. Checkpoint
    * flavor is a reliability choice: localCheckpoint stores blocks on
    * executors AND cuts lineage, so on a real cluster one lost
    * executor kills the whole iteration — use the reliable
    * (HDFS/object-store) checkpoint whenever the session has a
    * checkpoint dir configured, and fall back to localCheckpoint only
    * without one (single-JVM local runs).
    */
  def checkpointed(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** [[checkpointed]] with the materialization DEFERRED to the caller's
    * next action (eager = false): the returned relation has the same
    * O(1) lineage, but no job runs until something consumes it — so a
    * loop whose very next statement is an action (the convergence
    * probe) pays ONE job per round instead of two (checkpoint fill +
    * probe), and a fixed-round chain pays its whole materialization in
    * the single final action (r13 job-count profile: the CC loops were
    * 2 driver round-trips per round, ~half the wall of the
    * orchestration-bound queries at local[32]). NOT a drop-in for
    * [[checkpointed]] where eagerness is the contract — e.g. the
    * incremental dedups materialize BEFORE releasing internal persists
    * (a lazy swap there would recompute released internals), and
    * one-shot "publish the artifact now" sites stay eager.
    */
  def lazyCheckpointed(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)

  /** Release the materialized blocks of a LOCAL-checkpoint-backed
    * relation (VERDICT r13 #4: `spark.catalog.clearCache()` clears the
    * SQL CacheManager but never these RDD blocks, so a long session
    * accumulated every superseded round's blocks until ContextCleaner
    * GC happened to collect them). A local checkpoint's blocks ARE its
    * data — unpersisting destroys it unrecoverably — so this must only
    * be called on a state that is provably never read again: in the
    * probe-per-round loops, round r's probe fully materializes round
    * r's checkpoint (an aggregate touches every partition), after
    * which round r-1's blocks are dead (r's lineage was truncated at
    * its own blocks). Reliable checkpoints (dir configured) keep their
    * files; unpersist is a no-op there.
    *
    * Only a checkpoint ITSELF is accepted: the analyzed plan's root must
    * be the checkpoint's `LogicalRDD`. A derived plan (a join, filter or
    * projection over checkpoints) is rejected, since the checkpoints it
    * embeds may still be live — e.g. the `edges` every CC round reads.
    */
  def releaseCheckpointed(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case other => throw new IllegalArgumentException(
        s"releaseCheckpointed takes a checkpoint, not a plan derived from one: ${other.nodeName}")
    }

  /** Run `step` from `init` until `measure` stops changing or
    * `maxIter` rounds pass, checkpointing every state so lineage
    * stays O(1) regardless of round count. `measure` is the
    * convergence witness — a cheap scalar of the state (count, label
    * sum) whose fixpoint implies the state's fixpoint for the
    * monotone iterations used here. Returns (state, rounds run).
    */
  def toFixpoint(init: DataFrame, maxIter: Int)(step: DataFrame => DataFrame)(
      measure: DataFrame => Long): (DataFrame, Int) = {
    require(maxIter >= 1, "maxIter must be >= 1")
    // lazy checkpoint + probe-as-materializer: `measure` is the action
    // that fills each round's checkpoint, so a round is ONE driver
    // round-trip, not two (guide §1.2 — the per-round fixed cost IS
    // the distributed algorithm at local bench scale)
    var state = lazyCheckpointed(init)
    var prev = measure(state)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val old = state
      state = lazyCheckpointed(step(state))
      val cur = measure(state)
      // `measure` materialized the new state, so the superseded
      // round's blocks are dead — release them instead of leaving
      // them to ContextCleaner GC (VERDICT r13 #4)
      releaseCheckpointed(old)
      converged = cur == prev
      prev = cur
      iter += 1
    }
    (state, iter)
  }
}
