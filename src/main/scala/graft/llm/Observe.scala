package graft.llm

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Thrown by [[PipelineObserver.assertKeptFloor]] when a pipeline
  * stage keeps less than the configured fraction of its input — the
  * curation circuit breaker: a mis-tuned quality floor or an
  * over-eager dedup eats the corpus LOUDLY on the first run, not
  * silently three days later in the training loss. */
final case class CurationAborted(stage: String, nIn: Long, nKept: Long,
                                 floor: Double)
    extends RuntimeException(
      s"curation aborted at stage '$stage': kept $nKept of $nIn rows " +
        f"(${if (nIn == 0) 1.0 else nKept.toDouble / nIn}%.4f " +
        f"< floor $floor%.4f)")

/** Per-stage row-count observability for composed pipelines, built on
  * the Observation API (the q242 seam promoted into the pipeline
  * layer): each [[checkpoint]] rides the terminal action's own job as
  * an accumulator — a 100 TB curation run gets per-stage kept
  * fractions with ZERO extra scans of the data.
  *
  * Usage: wrap each stage boundary (first call = raw input), run ONE
  * terminal action (write/count) over the final frame, then read
  * [[stageMetrics]] / [[assertKeptFloor]]. A boundary that is
  * consumed more than once downstream (self-joins like decontaminate's
  * n-gram mine + anti-join) is checkpointed: an eager
  * `po.checkpoint("x", df).localCheckpoint()` executes the
  * CollectMetrics node once, in full, and the Observation latches on
  * that job; later reads hit the checkpoint's blocks, so a consumer
  * that short-circuits (take/limit) cannot latch a partial count. */
final class PipelineObserver {
  private val points =
    scala.collection.mutable.ArrayBuffer.empty[(String, Observation)]

  /** Attach a named row counter at this plan point; returns the frame
    * to keep composing with. */
  def checkpoint(name: String, df: DataFrame): DataFrame = {
    val o = Observation()
    points += ((name, o))
    df.observe(o, count(lit(1)).as("rows"))
  }

  /** (stage, n_in, n_kept, kept_frac) per consecutive checkpoint pair,
    * in pipeline order. Call only AFTER the terminal action (the
    * underlying Observation.get blocks until its job completes). An
    * empty input stage reports kept_frac 1.0 — nothing was lost. */
  def stageMetrics(): Seq[(String, Long, Long, Double)] = {
    val counts = points.toSeq.map { case (n, o) =>
      (n, o.get("rows").asInstanceOf[Long])
    }
    counts.sliding(2).collect { case Seq((_, nIn), (name, nKept)) =>
      (name, nIn, nKept,
        if (nIn == 0) 1.0 else nKept.toDouble / nIn)
    }.toSeq
  }

  /** The circuit breaker: throw [[CurationAborted]] at the FIRST stage
    * whose kept fraction is below `floor`. */
  def assertKeptFloor(floor: Double): Unit =
    stageMetrics().find(_._4 < floor).foreach {
      case (name, nIn, nKept, _) =>
        throw CurationAborted(name, nIn, nKept, floor)
    }

  /** The metrics as a small local DataFrame
    * (stage_ix, stage, n_in, n_kept, kept_frac) — the audit artifact a
    * pipeline run persists next to its output. */
  def metricsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    stageMetrics().zipWithIndex.map { case ((s, i, k, f), ix) =>
      (ix, s, i, k, f)
    }.toDF("stage_ix", "stage", "n_in", "n_kept", "kept_frac")
  }
}
