package graft.ops

import org.apache.spark.sql.DataFrame

/** Shared iteration machinery: the one round loop, [[toFixpoint]], and
  * the checkpoint lifecycle around it. Every iterative operator in
  * `ops/` runs its rounds here — [[Dedup.dupClusters]], the k-core
  * peel behind [[Graph.kCore]] and [[Graph.kCoreConverged]], the
  * damped-rank kernel behind [[Graph.integerPageRank]],
  * [[Graph.trustRank]] and [[Graph.pageRankConverged]],
  * [[Graph.hits]], [[Graph.labelPropagation]] and
  * [[Clustering.kMeans]] — so no operator creates or releases
  * per-round state itself. Each round is a lazy checkpoint whose probe
  * is the action that materializes it: the plan is truncated to a
  * materialized relation, so round N+1 never re-derives rounds 1..N
  * and the lineage stays O(1) at any depth; the superseded round is
  * released as soon as the next one is filled, and a call holds
  * exactly its materialized result.
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
    * O(1) lineage, and the checkpoint's blocks fill inside whichever
    * job first computes it — so a loop whose very next statement is an
    * action (the convergence probe) pays ONE job per round instead of
    * two (checkpoint fill + probe), and a fixed-round chain pays its
    * whole materialization in the single final action (r13 job-count
    * profile: the CC loops were 2 driver round-trips per round, ~half
    * the wall of the orchestration-bound queries at local[32]).
    *
    * Building the checkpoint still plans `df` and builds its RDD, and
    * that runs every broadcast in the plan: a plan holding a broadcast
    * exchange pays one job per broadcast HERE, at call time (a
    * `crossJoin` against an aggregate, or a join whose side is under
    * the broadcast threshold), and only a broadcast-free plan adds no
    * job (the OpsSpec lazy-checkpoint spec pins both cases, AQE off).
    *
    * NOT a drop-in for [[checkpointed]] where eagerness is the
    * contract — e.g. the incremental dedups materialize BEFORE
    * releasing internal persists (a lazy swap there would recompute
    * released internals), and one-shot "publish the artifact now"
    * sites stay eager.
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

  /** Lazily checkpoint `df`, run `body` on the checkpoint and release
    * it on every exit path — for an input that every round reads but
    * that the result's lineage no longer reaches once `body` has
    * materialized its result (`body` must return a materialized
    * relation, e.g. [[toFixpoint]]'s state, never a lazy plan over the
    * checkpoint).
    */
  def withCheckpointed[T](df: DataFrame)(body: DataFrame => T): T = {
    val c = lazyCheckpointed(df)
    try body(c) finally releaseCheckpointed(c)
  }

  /** Run `step` from `init` until `converged(previous measure, current
    * measure)` holds or `maxIter` rounds pass, checkpointing every
    * state so lineage stays O(1) regardless of round count. `measure`
    * is the convergence witness — a cheap scalar probe of the state
    * (count, label sum, dangling mass and largest rank change) — and
    * `step` receives the measure of the state it advances, so a round
    * can inline the previous probe's scalars as literals. Returns
    * (state, rounds run, the state's measure); the state is
    * materialized.
    */
  def toFixpoint[M](init: DataFrame, maxIter: Int)(measure: DataFrame => M)(
      step: (DataFrame, M) => DataFrame)(converged: (M, M) => Boolean): (DataFrame, Int, M) = {
    require(maxIter >= 1, "maxIter must be >= 1")
    // lazy checkpoint + probe-as-materializer: `measure` is the action
    // that fills each round's checkpoint, so a round is ONE driver
    // round-trip, not two (guide §1.2 — the per-round fixed cost IS
    // the distributed algorithm at local bench scale). `live` holds
    // every checkpoint not yet released, so a failing round releases
    // them too.
    var live = List(lazyCheckpointed(init))
    try {
      var prev = measure(live.head)
      var iter = 0
      var done = false
      while (!done && iter < maxIter) {
        live = lazyCheckpointed(step(live.head, prev)) :: live
        val cur = measure(live.head)
        // `measure` materialized the new state, so the superseded
        // round's blocks are dead — release them instead of leaving
        // them to ContextCleaner GC (VERDICT r13 #4)
        live.tail.foreach(releaseCheckpointed)
        live = List(live.head)
        done = converged(prev, cur)
        prev = cur
        iter += 1
      }
      val out = live.head
      live = Nil
      (out, iter, prev)
    } finally live.foreach(releaseCheckpointed)
  }
}
