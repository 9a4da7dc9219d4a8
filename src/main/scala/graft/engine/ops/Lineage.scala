package graft.engine.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** How an iterative operator truncates and releases lineage — one
  * policy for every loop in the engine, not a per-call-site choice.
  *
  *  - [[truncate]] materializes a frame and cuts its lineage: a
  *    reliable `checkpoint()` when the context has a checkpoint dir
  *    (the deployment sets one to survive executor loss mid-loop; this
  *    is MLlib's `PeriodicCheckpointer` idiom), executor-local blocks
  *    (`localCheckpoint()`) otherwise.
  *  - [[release]] frees the blocks behind a frame [[truncate]] made,
  *    once nothing reads it any more.
  *  - [[fixpoint]] is the one round loop over both: seed and rounds
  *    materialized through [[truncate]], convergence observed on the
  *    materializing job, superseded rounds released.
  *
  * (A persist/unpersist chain does NOT work for a loop: unpersisting
  * round N cascade-invalidates round N+1's cache because its plan
  * depends on it, and each round then recomputes the whole history —
  * measured exponential, 1.5 s → 16 s by iteration 6.) */
object Lineage {

  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Unpersist the checkpoint behind `df` — only when the plan is a
    * pure view of exactly ONE `LogicalRDD` leaf (an exclusively owned
    * checkpoint); an ambiguous plan leaks rather than corrupts.
    * `Dataset.unpersist` does NOT free a checkpoint (it only uncaches
    * `persist`-style cache entries), and the ContextCleaner frees one
    * only after a GC notices the RDD is unreachable — which lags badly
    * on a long loop or ingest. A released local checkpoint cannot
    * recompute (its lineage was truncated), so the caller must own
    * `df` and nothing may read it afterwards. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    } match {
      case Seq(rdd) => rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Iterate `round` from `seed` until the `fingerprint` aggregates of
    * two consecutive rounds are equal, or for `maxIters` rounds. The
    * seed and every `roundsPerJob`-th round are materialized through
    * [[truncate]]; every round's fingerprint rides that same job via
    * `observe` (no second aggregation job), so convergence is still
    * tested at every round while lineage depth stays bounded. Rounds
    * past a fixpoint inside a batch return it unchanged, so the
    * batch-end frame IS the fixpoint. Each superseded materialization
    * is released; the caller owns the returned one. One
    * `spark.graft.debug` line reports how the loop ended. */
  def fixpoint(seed: DataFrame, maxIters: Int, roundsPerJob: Int, tag: String,
               fingerprint: Seq[Column])(round: DataFrame => DataFrame): DataFrame = {
    def observed(df: DataFrame, i: Int): (DataFrame, Observation) = {
      val obs = new Observation(s"${tag}_$i")
      val aggs = fingerprint.zipWithIndex.map { case (c, k) => c.as(s"f$k") }
      (df.observe(obs, aggs.head, aggs.tail: _*), obs)
    }
    def valueOf(obs: Observation): Seq[Any] =
      fingerprint.indices.map(k => obs.get(s"f$k"))
    val (seeded, seedObs) = observed(seed, 0)
    var cur = truncate(seeded)
    var prev = valueOf(seedObs)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val k = math.min(roundsPerJob, maxIters - iter)
      var next = cur
      val obs = (1 to k).map { j =>
        val (df, o) = observed(round(next), iter + j)
        next = df
        o
      }
      val materialized = truncate(next)
      release(cur)
      cur = materialized
      val fps = prev +: obs.map(valueOf)
      val repeat = fps.sliding(2).indexWhere { case Seq(a, b) => a == b }
      converged = repeat >= 0
      iter += (if (converged) repeat + 1 else k)
      prev = fps.last
    }
    if (seed.sparkSession.conf.getOption("spark.graft.debug").contains("true"))
      System.err.println(s"[$tag] ${if (converged) "converged" else "max-iters"} after $iter rounds")
    cur
  }
}
