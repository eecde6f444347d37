package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Iteration-state checkpointing for driver-side loops (k-core peels,
  * PageRank/LPA rounds): eager local checkpoints
  * in serialized, DISK-ONLY storage, freed explicitly the moment a
  * round's successor materializes.
  *
  * Two failure modes measured at the third decade (the sf10 dup graph,
  * 391 M edges — SCALE.md rounds 12–13) force all three choices:
  *
  *   - the default deserialized level keeps one on-heap object graph per
  *     row — several times the 24 B UnsafeRow payload — and its eviction
  *     across pinned rounds filled the box's 75 GB disk (kCore, round 13
  *     break #4);
  *   - memory-resident serialized blocks instead held the storage region
  *     at its protected floor and starved every aggregation hash map
  *     down to [AGGREGATE_OUT_OF_MEMORY] (kCore at sf10; the former
  *     min-label loop of `Dedup.dupGroups` reproduced the identical
  *     signature on the same fixture). Iteration
  *     state is scanned O(1) times per round, so it has no business
  *     competing with execution memory at all: DISK_ONLY keeps the
  *     unified region wholly for joins/aggregations, and a sequential
  *     scan of compact serialized rows is nowhere near a round's
  *     bottleneck. Sub-budget graphs pay milliseconds.
  *   - without explicit freeing, superseded rounds stay pinned until the
  *     ContextCleaner happens to GC the dataset — at sf10 six ~10 GB
  *     block sets accumulate and the disk fills mid-query.
  */
object IterState {

  /** Eager local checkpoint in serialized DISK_ONLY storage. */
  def ckptSer(df: DataFrame): DataFrame =
    df.localCheckpoint(true, StorageLevel.DISK_ONLY)

  /** LAZY [[ckptSer]]: same storage level and lineage truncation, but
    * materialization rides the caller's next action instead of its own
    * job — for loops whose convergence probe can BE the materializing
    * action (one job per round instead of two; any partitions the
    * probe's early exit skipped are completed by doCheckpoint before
    * the action returns). The caller must not free the PREVIOUS round's
    * blocks until this round's action has run — a truncated checkpoint
    * cannot be recomputed once unpersisted.
    */
  def ckptSerLazy(df: DataFrame): DataFrame =
    df.localCheckpoint(false, StorageLevel.DISK_ONLY)

  /** Free a [[ckptSer]] checkpoint's blocks deterministically (the
    * checkpointed RDD sits behind the dataset's `LogicalRDD`;
    * unpersisting it directly is deterministic where GC is not).
    * No-op on non-checkpointed plans.
    */
  def freeCkpt(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))
}
