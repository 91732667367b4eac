package graft

import org.apache.spark.sql.SparkSession

/** Session set-up and between-query cleanup shared by the command-line
  * mains (Bench, Verify, JxMain, PlanAudit, PlanDump), so each of them
  * runs the engine under the settings the Verify oracle compare checks.
  */
object MainSession {

  /** A `local[n]` session, n = `SPARK_GRAFT_CPUS` (default 4), with one
    * shuffle partition per core, UTC timestamps, ANSI off (JX: errors ->
    * null, never throw), AQE on, no UI and WARN logging. `extra` confs
    * are set at build time, where static confs must be set. */
  def start(extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(extra.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release what the last query left behind, once its result has been
    * consumed: the blocks of every persistent RDD in the context (the
    * checkpoints its operators and its result still hold, which would
    * otherwise stay until a driver GC lets the context cleaner find
    * them, and pile up across hundreds of queries) and the scratch
    * dirs the query registered. The blocks are gone when it returns,
    * so their removal never overlaps the next query. Nothing may read
    * a frame of an earlier query afterwards: a released checkpoint
    * does not recompute. */
  def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    Scratch.sweep()
  }
}
