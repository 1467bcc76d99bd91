package graft.operators

import org.apache.spark.sql.DataFrame

/** Block-storage hygiene for ITERATIVE operators (guide §5). A per-round
  * `localCheckpoint` stores its rows in executor block storage, and a
  * loop that checkpoints every round ACCUMULATES those blocks: nothing
  * ever releases a superseded round, so after k rounds the store holds k
  * copies of an edge/node-scale frame. Under `spark.memory.storageFraction`
  * half the unified pool is protected from execution-side eviction, so at
  * scale the retained rounds starve the very sorts and aggregates the
  * loop runs next — the round-16 sf1 probe OOM'd a 32-task window sort
  * (`UNABLE_TO_ACQUIRE_MEMORY ... got 0`) under ~8 retained rounds of
  * star-contraction edges. Iterative loops must release round N-1's
  * blocks as soon as round N is materialized and checked.
  *
  * The Dataset API exposes no handle to a local checkpoint's RDD, so this
  * reaches into the plan leaf the checkpoint produced. */
object Blocks {

  /** Release the block storage behind a `localCheckpoint`ed frame. The
    * frame must NEVER be read again: the checkpoint truncated its
    * lineage, so a later action would have nothing to rebuild from and
    * would fail with missing blocks. A frame whose plan is not the
    * checkpoint leaf itself (a projection or filter OVER a checkpoint, a
    * plain scan) is refused loudly: silently releasing nothing would let
    * the loop keep accumulating blocks. Non-blocking (the executor frees
    * asynchronously — the point is eligibility for eviction accounting,
    * not synchronous reclamation). */
  def drop(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
    case other => throw new IllegalArgumentException(
      s"Blocks.drop: expected a localCheckpoint leaf (LogicalRDD), found " +
        s"${other.nodeName} — pass the checkpointed frame itself, not a " +
        "frame derived from it")
  }
}
