package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The one release hook for intermediate state. The rule the operators
  * follow: a method that `persist`s a frame unpersists it before it
  * returns; a frame that must outlive the call is `localCheckpoint`ed
  * instead — a checkpoint has no cache-manager entry, so no later plan
  * over the same source can match it, and its blocks go with the frame.
  *
  * Checkpoint-backed results ([[graft.llm.KMeans.fit]]'s centroid
  * table, [[graft.llm.SemDedup.duplicates]] over its checkpointed
  * assignment, the pair miners in [[graft.llm.Dedup]]) hold executor
  * blocks until the frame is garbage-collected; a long-running caller
  * that is done with one frees them now with [[release]]. Iterative
  * operators use it to drop each superseded round's checkpoint.
  * `Dataset.unpersist` alone is not enough: it consults only the SQL
  * cache manager and misses checkpoint RDDs.
  */
object Lifecycle {

  /** Free every cache the given frame's plan is backed by: SQL-cached
    * subtrees (`persist`) are uncached through the session cache
    * manager (entry removed + blocks dropped), and checkpoint-backed
    * leaves (`localCheckpoint`) have their RDD blocks unpersisted.
    * No-op for frames that are backed by neither. After release the
    * frame is still VALID — persisted subtrees recompute from source
    * on the next action; checkpoint-backed frames do NOT (their
    * lineage was truncated), so release those only when done. */
  def release(df: DataFrame): Unit = {
    val session = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    df.queryExecution.withCachedData.foreach {
      case ir: InMemoryRelation =>
        session.sharedState.cacheManager.uncacheQuery(
          session, ir.cacheBuilder.logicalPlan, cascade = false)
      case lr: LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }
}
