package graft.streaming

import graft.llm.CurationAborted
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}

/** PER-BATCH pipeline observability for STREAMING curation — the
  * streaming twin of [[graft.llm.PipelineObserver]] (which covers
  * batch pipelines, q245). Streaming `df.observe(name, ...)` metrics
  * ride each micro-batch's own job and surface in
  * [[StreamingQueryProgress]]`.observedMetrics` — so a continuously
  * running 100 TB curation stream gets per-batch, per-stage kept
  * fractions with ZERO extra scans, and a mis-tuned quality floor or
  * over-eager dedup trips the circuit breaker on the FIRST bad
  * micro-batch, not after a weekend of silently eaten corpus.
  *
  * Usage mirrors the batch observer: wrap each stage boundary of the
  * STREAMING frame (first checkpoint = raw input), then drain via
  * [[EventStream.runToCompletion]] with `observer = Some(this)` (or
  * register [[listener]] around any start/await of your own). After (or during) the run,
  * [[history]] holds (batch_id, stage, n_in, n_kept, kept_frac) rows
  * and a floor violation stops the query mid-stream and rethrows as
  * [[CurationAborted]].
  */
final class StreamPipelineObserver(keptFloor: Option[Double] = None) {

  private val Prefix = "graft_sobs_"
  private val names =
    scala.collection.mutable.ArrayBuffer.empty[String]
  private val batches =
    scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Long, Double)]
  // (runId, batchId) pairs already folded in: listener delivery is
  // ASYNC, so the drain helper re-ingests recentProgress post-hoc —
  // this set makes that idempotent
  private val seen =
    scala.collection.mutable.Set.empty[(java.util.UUID, Long)]
  @volatile private var tripped: Option[CurationAborted] = None

  /** Attach a named per-batch row counter at this streaming plan
    * point; returns the frame to keep composing with. */
  def checkpoint(name: String, df: DataFrame): DataFrame = {
    require(!names.contains(name), s"duplicate checkpoint '$name'")
    names += name
    df.observe(Prefix + name, count(lit(1)).as("rows"))
  }

  /** (batch_id, stage, n_in, n_kept, kept_frac) per consecutive
    * checkpoint pair per completed micro-batch, in arrival order.
    * An empty input stage reports kept_frac 1.0. */
  def history: Seq[(Long, String, Long, Long, Double)] =
    batches.synchronized { batches.toList }

  /** The violation that stopped the stream, if any. */
  def violation: Option[CurationAborted] = tripped

  /** Fold one progress event into the history (idempotent per
    * (runId, batchId)); latches and returns the first floor
    * violation found in it. */
  def ingest(p: StreamingQueryProgress): Option[CurationAborted] =
    ingestMetrics(p.runId, p.batchId, p.observedMetrics)

  /** [[ingest]]'s core on the raw observed-metrics map — separated so
    * the pairing/skip logic is testable without fabricating a
    * [[StreamingQueryProgress]] (its constructor is Spark-private). */
  private[streaming] def ingestMetrics(runId: java.util.UUID,
      batchId: Long,
      om: java.util.Map[String, org.apache.spark.sql.Row])
      : Option[CurationAborted] =
    batches.synchronized {
      if (!seen.add((runId, batchId))) None
      else {
        val counts = names.toSeq.flatMap { n =>
          Option(om.get(Prefix + n)).map(r => (n, r.getLong(0)))
        }
        // pairing below is positional: a batch missing ANY registered
        // metric would shift adjacent pairs and mislabel n_in/n_kept
        // across non-adjacent stages — skip such batches entirely
        // (they stay in `seen`, so a post-hoc re-ingest of the same
        // incomplete event also skips)
        if (counts.size != names.size) None
        else {
          val rows = counts.sliding(2).collect {
            case Seq((_, nIn), (name, nKept)) =>
              (batchId, name, nIn, nKept,
                if (nIn == 0) 1.0 else nKept.toDouble / nIn)
          }.toSeq
          batches ++= rows
          val v = keptFloor.flatMap(floor =>
            rows.find(_._5 < floor).map {
              case (_, name, nIn, nKept, _) =>
                CurationAborted(s"batch $batchId/$name", nIn,
                  nKept, floor)
            })
          v.foreach(ca => if (tripped.isEmpty) tripped = Some(ca))
          v
        }
      }
    }

  /** A listener that folds every progress event into [[history]] and,
    * on a floor violation, records it and STOPS the violating query —
    * the mid-stream circuit breaker. Register/deregister around the
    * drain (runToCompletion with an observer does both). */
  def listener(spark: SparkSession): StreamingQueryListener =
    new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        ingest(e.progress).foreach { ca =>
          if (tripped.isEmpty) {
            tripped = Some(ca)
            // stop() is safe from the listener thread: it signals the
            // stream's execution thread and returns
            Option(spark.streams.get(e.progress.id)).foreach(_.stop())
          }
        }
    }
}
