package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-phase Spark counters. Every job the benchmark starts carries the
  * local property [[SparkCounters.PhaseKey]] ("op" for a timed operation,
  * "probe" for traced re-runs of its pieces, "oracle", ...), so counters
  * attribute each task to the phase that caused it, also with several
  * client threads sharing one SparkContext. Only public listener events
  * are read. */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  final class Counts {
    val jobs, tasks, waitMs, cpuNs, recordsRead, shuffleBytes, gcMs =
      new AtomicLong()
  }

  private val byPhase = new ConcurrentHashMap[String, Counts]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val events = new AtomicLong()

  def counts(phase: String): Counts =
    byPhase.computeIfAbsent(phase, _ => new Counts)

  private def phaseOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = phaseOf(e.properties)
    counts(p).jobs.incrementAndGet()
    e.stageIds.foreach(s => stagePhase.put(s, p))
    events.incrementAndGet()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stagePhase.put(e.stageInfo.stageId, phaseOf(e.properties))
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stagePhase.getOrDefault(e.stageId, "other"))
    c.tasks.incrementAndGet()
    val submitted = stageSubmitted.getOrDefault(e.stageId, -1L)
    if (submitted >= 0)
      c.waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - submitted))
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.gcMs.addAndGet(m.jvmGCTime)
    }
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = events.incrementAndGet()

  /** The listener bus is asynchronous: wait until no event has arrived
    * for 200 ms (at most 5 s) so counters cover every finished job. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    while (events.get != last && System.nanoTime() < deadline) {
      last = events.get
      Thread.sleep(200)
    }
  }
}

object SparkCounters {
  val PhaseKey = "graftbench.phase"

  def inPhase[T](sc: SparkContext, phase: String)(body: => T): T = {
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, phase)
    try body finally sc.setLocalProperty(PhaseKey, prev)
  }

  /** Janino compilations so far (codegen cache misses), JVM-wide. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount
}

/** In-memory spans around public calls, written once when the run ends.
  * Each span carries the operation it belongs to (the thread's current
  * operation id), its start relative to the run's start, and its length. */
final class Spans {
  import Spans.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val t0 = System.nanoTime()
  private val nextOp = new AtomicLong()
  private val currentOp = new ThreadLocal[Long] { override def initialValue = -1L }

  /** Mark the calling thread as working on a new operation. */
  def beginOp(): Unit = currentOp.set(nextOp.incrementAndGet())

  /** Record a span that ended now and lasted `ms`. */
  def add(name: String, ms: Double): Unit = synchronized {
    spans += Span(name, currentOp.get, (System.nanoTime() - t0) / 1e6 - ms, ms)
  }

  def time[T](name: String)(body: => T): T = {
    val start = System.nanoTime()
    try body finally add(name, (System.nanoTime() - start) / 1e6)
  }

  def values(name: String): Seq[Double] =
    synchronized(spans.collect { case s if s.name == name => s.ms }.toSeq)

  def mean(name: String): Double = {
    val v = values(name)
    if (v.isEmpty) 0.0 else v.sum / v.size
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    val root = Oracle.mapper.createArrayNode()
    spans.foreach { s =>
      root.addObject().put("span", s.name).put("op", s.op)
        .put("start_ms", s.startMs).put("ms", s.ms)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    Oracle.mapper.writeValue(path.toFile, root)
  }
}

object Spans {
  private final case class Span(name: String, op: Long, startMs: Double,
                                ms: Double)
}
