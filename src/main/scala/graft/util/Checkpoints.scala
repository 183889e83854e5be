package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Release discipline for `localCheckpoint`'d frames. Checkpointed
  * RDD blocks are NOT in the cache manager, so `spark.catalog
  * .clearCache()` never frees them — iterative operators (connected
  * components, k-means) and eager feature scans must unpersist the
  * superseded frame explicitly or accumulate O(rounds x data) storage
  * for the session lifetime.
  */
object Checkpoints {

  /** Release the storage blocks of a localCheckpoint'd frame that is
    * no longer referenced. Safe on non-checkpointed frames (no-op).
    * After this call the frame's data is GONE — only free a frame that
    * nothing downstream will scan again. */
  def free(df: DataFrame): Unit = release(df, blocking = false)

  private def release(df: DataFrame, blocking: Boolean): Unit =
    df.queryExecution.optimizedPlan.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking)
      case _ => ()
    }

  /** Run `f` over `df` evaluated exactly once: a lazy frame is
    * localCheckpoint'd first and that checkpoint is freed when `f`
    * returns or throws. A frame whose optimized plan is already a bare
    * `LogicalRDD` (an earlier checkpoint) is handed over as is and NOT
    * freed — its owner releases it. An input nobody persists is
    * recomputed by every action over it (lineage), so a multi-action
    * operator wraps its input here instead of re-running the whole
    * upstream per scan. `f`'s result must not read the checkpoint
    * lazily after it returns: materialize it (the admit gates return
    * their own checkpoint) or consume it inside `f`. The release
    * waits until the blocks are gone, so their removal does not
    * overlap the caller's next jobs. */
  def withMaterialized[T](df: DataFrame)(f: DataFrame => T): T =
    df.queryExecution.optimizedPlan match {
      case _: LogicalRDD => f(df)
      case _ =>
        val m = df.localCheckpoint(true)
        try f(m) finally release(m, blocking = true)
    }
}
