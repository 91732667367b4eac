package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one release hook for intermediate state. The rule the operators
  * follow: a frame read more than once is `localCheckpoint`ed, and the
  * method that made it calls [[release]] once the last action over it
  * has run, unless the frame is (part of) what the method returns. A
  * frame with one consumer is left lazy. The checkpoint is lazy
  * (`localCheckpoint(false)`) when its first consumer scans it whole
  * anyway, eager when it must be whole before any consumer runs (an
  * `Observation` below it, a consumer that short-circuits). A
  * checkpoint has no cache-manager entry, so no later plan over the
  * same source can match it, and its blocks go with the frame.
  *
  * Checkpoint-backed results ([[graft.llm.KMeans.fit]]'s centroid
  * table, [[graft.llm.SemDedup.duplicates]] over its checkpointed
  * assignment, the pair miners in [[graft.llm.Dedup]]) hold executor
  * blocks until the frame is garbage-collected; a long-running caller
  * that is done with one frees them now with [[release]]. Iterative
  * operators use it to drop each superseded round's checkpoint.
  * `Dataset.unpersist` is not enough: it consults only the SQL cache
  * manager and misses checkpoint RDDs.
  */
object Lifecycle {

  /** Unpersist the RDD behind every checkpoint leaf of the frame's
    * plan. No-op for a frame with none. A released checkpoint does not
    * recompute (its lineage was truncated), so release a frame only
    * when nothing will read it again. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
