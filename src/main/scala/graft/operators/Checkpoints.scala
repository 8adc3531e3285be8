package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Block-storage bookkeeping for eager `localCheckpoint` iteration (the
  * O(1)-per-round loop pattern of [[ConnectedComponents]] and
  * [[PageRank]]): a checkpointed round's plan is a flat [[LogicalRDD]]
  * over materialized blocks, which `spark.catalog.clearCache` does NOT
  * free (RDD-level storage, not CacheManager entries) — intermediate
  * rounds must be unpersisted explicitly.
  */
private[graft] object Checkpoints {

  /** Row bound under which an iterative checkpoint loop runs with AQE
    * off: each round is re-planned from scratch, and AQE turns every
    * Exchange of the round into its own job submission plus a runtime
    * re-optimization pass — machinery that exists to coalesce and
    * skew-split LARGE shuffles. When the per-round frame is provably
    * smaller than this bound, the replanning overhead cannot be
    * recovered (the whole round is a handful of tasks), so the loop
    * disables AQE and restores the caller's setting afterwards; at or
    * above the bound the loop leaves AQE exactly as configured — a
    * billion-node graph's contrib shuffle wants the skew handling.
    */
  val IterAqeMaxRows = 1000000L

  /** Turn AQE off for a small iteration loop (`rows` is the per-round
    * frame's row count, known to the caller from its setup probe) and
    * return the restore thunk the caller MUST invoke in its finally.
    * No-op (returns a no-op thunk) when `rows` is at or above
    * [[IterAqeMaxRows]].
    */
  def disableAqeForSmallLoop(s: org.apache.spark.sql.SparkSession,
      rows: Long): () => Unit = {
    if (rows >= IterAqeMaxRows) () => ()
    else {
      val key = "spark.sql.adaptive.enabled"
      val before = s.conf.getOption(key)
      s.conf.set(key, "false")
      () => before match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }
  }

  /** Free the block storage behind a localCheckpointed frame. After this
    * the frame is unrecoverable (lineage was truncated) — only call on
    * rounds no later plan references.
    */
  def free(df: DataFrame): Unit = {
    // look through projections: a checkpoint-returning operator may
    // narrow its public schema (ConnectedComponents drops its internal
    // convergence column), and the owner must still be able to free the
    // blocks underneath. Only Project is traversed — anything deeper
    // (joins, aggregates) means the frame no longer OWNS the checkpoint
    // and freeing it from here would yank blocks out from under other
    // references.
    def loop(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Unit = p match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        loop(pr.child)
      case _ => ()
    }
    loop(df.queryExecution.optimizedPlan)
  }
}
