package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.ReentrantReadWriteLock
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.Service
import graft.etl.{Lineage, MozLog, TypedJson}
import graft.jx.{Formats, QueryParser, Runner}
import graft.llm.{Dedup, Pipelines}
import graft.sources.Sinks
import graft.tables.Catalog

/** One finished operation: latency, outcome, result rows, input records. */
final case class OpResult(latencyMs: Double, endNs: Long, ok: Boolean,
                          resultRows: Long, inputRecords: Long)

/** Shared state of one benchmark run. */
final class RunContext(val seed: Long, val work: Path, val traced: Boolean) {
  val spans = new Spans
  var counters: Option[SparkCounters] = None
  /** Operations that start before this instant are warm-up: checked, but
    * neither timed into the metrics nor traced. */
  @volatile var windowStart: Long = Long.MaxValue
  def measuring: Boolean = System.nanoTime() >= windowStart
  def tracing: Boolean = traced && measuring

  /** A span around a public call inside an operation, when tracing. */
  def span[T](on: Boolean, name: String)(body: => T): T =
    if (on) spans.time(name)(body) else body
  /** Probes (traced re-runs of an operation's pieces) hold the write side,
    * operations the read side: concurrent clients still overlap, and a
    * probe's codegen and listener deltas are its own. */
  private val probeLock = new ReentrantReadWriteLock()
  private val probeCompiles = new java.util.concurrent.atomic.AtomicLong()
  def probeCodegen: Long = probeCompiles.get

  /** Run one timed operation; returns its value, milliseconds and end
    * time. The clock starts once the operation holds the probe lock, so a
    * traced run's probes never count against an operation's latency. */
  def op[T](spark: SparkSession)(body: => T): (T, Double, Long) = {
    probeLock.readLock().lock()
    try {
      val phase = if (measuring) "op" else "warmup"
      spans.beginOp()
      val t0 = System.nanoTime()
      val v = SparkCounters.inPhase(spark.sparkContext, phase)(body)
      val t1 = System.nanoTime()
      (v, (t1 - t0) / 1e6, t1)
    } finally probeLock.readLock().unlock()
  }

  def probe[T](spark: SparkSession, phase: String = "probe")(body: => T): T = {
    probeLock.writeLock().lock()
    try {
      val c0 = SparkCounters.codegenCompiles
      try SparkCounters.inPhase(spark.sparkContext, phase)(body)
      finally probeCompiles.addAndGet(SparkCounters.codegenCompiles - c0)
    } finally probeLock.writeLock().unlock()
  }

  /** Force every column of every row, with no result sent to the driver
    * (Catalyst cannot prune work the noop sink would not see). */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

trait Workload {
  def name: String
  def clients: Int
  /** Write the seeded inputs (run in a JVM of its own, before the
    * measured one); `newSession` starts a Spark session for inputs that
    * need one, which must be stopped after. */
  def generate(newSession: () => SparkSession): Unit
  /** Rebuild the driver-side copy of the inputs that operations and
    * oracles use (not timed, no Spark work). */
  def load(): Unit = ()
  /** Set-up work after the session starts: resolve tables and answer the
    * first operation. Returns that operation's result. */
  def warm(spark: SparkSession): OpResult
  /** One timed operation by `client`; the `k`-th of this client. */
  def op(spark: SparkSession, client: Int, k: Int): OpResult
  /** Post-window checks (not timed); returns the number of operations
    * found wrong after the fact. */
  def verify(spark: SparkSession): Int = 0
  /** End-to-end metrics beyond the shared ones: name -> (value, unit). */
  def extraMetrics(ops: Seq[OpResult], seconds: Double): Seq[(String, Double, String)]
  /** Workload facts for the report (sizes, repeat share, ...). */
  def facts: Seq[(String, Any)] = Nil
  /** Per-layer metrics from a traced run: name -> value. */
  def layerMetrics: Map[String, Double] = Map.empty
}

/** An answered JX request: the rendered answer, or the error. */
final case class Answered(req: JxRequest, answer: Either[String, String])

/** The two JX service workloads over seeded TPC-H-shaped tables. */
abstract class JxWorkload(ctx: RunContext) extends Workload {
  val dir: String = ctx.work.resolve("tables").toString
  protected def tablesUsed: Seq[String]
  protected def warmRequest: JxRequest
  protected def nextRequest(client: Int, k: Int): JxRequest

  val answered = new ConcurrentLinkedQueue[Answered]()
  private val timings = new ConcurrentLinkedQueue[(String, Double, Long)]()

  /** Median latency of requests whose text was new to the run, and of
    * those repeating an earlier text (where a cache would pay off). */
  def firstVsRepeatMs: (Double, Double) = {
    val seen = scala.collection.mutable.Set.empty[String]
    val (rep, first) = timings.asScala.toSeq.sortBy(_._3)
      .partition { case (t, _, _) => !seen.add(t) }
    (Main.median(first.map(_._2)), Main.median(rep.map(_._2)))
  }

  def generate(newSession: () => SparkSession): Unit = {
    val spark = newSession()
    try Tpch.write(spark, ctx.seed, dir) finally spark.stop()
  }

  def warm(spark: SparkSession): OpResult = {
    tablesUsed.foreach(t => new Catalog(spark, dir).table(t))
    request(spark, warmRequest, probe = false)
  }

  def op(spark: SparkSession, client: Int, k: Int): OpResult =
    request(spark, nextRequest(client, k), probe = ctx.tracing)

  private def request(spark: SparkSession, r: JxRequest, probe: Boolean)
      : OpResult = {
    val (out, ms, t1) = ctx.op(spark) {
      try Right(Service.query(spark, dir, r.text))
      catch { case e: Exception => Left(e.toString) }
    }
    answered.add(Answered(r, out))
    timings.add((r.text, ms, t1))
    if (probe) ctx.probe(spark) { probeOnce(spark, r) }
    val rows = out.toOption.map(a => Oracle.resultRows(Oracle.parse(a)))
      .getOrElse(0L)
    OpResult(ms, t1, out.isRight, rows, 1)
  }

  /** The request again, as one `Service.query` and then as the public
    * calls it makes, one at a time; every term comes from this probe.
    * `jx.plan_ms` is one planning pass (analysis, optimization, physical
    * plan); `Formats.shaped` plans again before it executes, so
    * `jx.execute_ms` is shaped-and-collected time minus that pass, and
    * `service.render_ms` is what the service call adds to the pieces:
    * building and serializing the JSON answer. */
  private def probeOnce(spark: SparkSession, r: JxRequest): Unit =
    try {
      val s = ctx.spans
      val t0 = System.nanoTime()
      Service.query(spark, dir, r.text)
      val queryMs = (System.nanoTime() - t0) / 1e6
      val q0 = s.time("jx.parse_ms")(QueryParser.parse(r.text))
      val q = if (q0.limit.isEmpty && q0.edges.isEmpty)
        q0.copy(limit = Some(Service.DefaultLimit)) else q0
      val catalog = new Catalog(spark, dir)
      s.time("tables.resolve_ms")(q.from.left.foreach(catalog.table))
      val runner = new Runner(spark, catalog)
      s.time("jx.plan_ms")(runner.run(q).queryExecution.executedPlan)
      val t1 = System.nanoTime()
      Formats.shaped(runner, q) match {
        case df: DataFrame => df.toJSON.collect()
        case shaped => shaped
      }
      val shapedMs = (System.nanoTime() - t1) / 1e6
      val Seq(parseMs, resolveMs, planMs) =
        Seq("jx.parse_ms", "tables.resolve_ms", "jx.plan_ms").map(s.values(_).last)
      s.add("jx.execute_ms", shapedMs - planMs)
      s.add("service.render_ms", queryMs - parseMs - resolveMs - shapedMs)
    } catch { case _: Exception => () }

  /** Check answers against the oracle; returns the wrong ones with the
    * first difference (or the error) of each. */
  def check(data: TpchData, items: Seq[Answered]): Seq[(Answered, String)] = {
    val oracle = new Oracle.ForTables(data)
    val memo = scala.collection.mutable.Map.empty[String,
      com.fasterxml.jackson.databind.JsonNode]
    items.flatMap { a =>
      a.answer match {
        case Left(err) => Some(a -> err)
        case Right(text) =>
          val exp = memo.getOrElseUpdate(a.req.text, oracle.answer(a.req))
          Oracle.diff(exp, Oracle.parse(text)).map(d => a -> d)
      }
    }
  }

  override def verify(spark: SparkSession): Int = {
    val wrong = check(new TpchData(spark, dir), answered.asScala.toSeq)
    wrong.take(3).foreach { case (a, d) =>
      System.err.println(s"[graftbench] wrong answer (${a.req.template}): $d")
    }
    wrong.count(_._1.answer.isRight)
  }

  def extraMetrics(ops: Seq[OpResult], seconds: Double)
      : Seq[(String, Double, String)] = Nil

  /** Share of requests whose text an earlier request of the run sent. */
  def repeatShare: Double = {
    val texts = answered.asScala.toSeq.map(_.req.text)
    if (texts.isEmpty) 0.0 else 1.0 - texts.distinct.size.toDouble / texts.size
  }

  override def layerMetrics: Map[String, Double] = {
    val s = ctx.spans
    Seq("jx.parse_ms", "tables.resolve_ms", "jx.plan_ms", "jx.execute_ms",
      "service.render_ms").map(n => n -> s.mean(n)).toMap
  }
}

final class JxInteractive(ctx: RunContext) extends JxWorkload(ctx) {
  val name = "jx_interactive"
  val clients = 2
  private lazy val pool = Requests.interactivePool(ctx.seed)
  private lazy val streams =
    Vector.tabulate(clients)(c => new Requests.ZipfStream(ctx.seed, c, pool))
  protected val tablesUsed =
    Seq("nation", "supplier", "customer", "part", "orders", "lineitem")
  protected def warmRequest: JxRequest = pool(0)
  protected def nextRequest(client: Int, k: Int): JxRequest =
    streams(client).next()
  override def load(): Unit = streams
  override def facts = Seq("clients" -> clients,
    "pool_texts" -> Requests.PoolSize, "zipf_exponent" -> Requests.ZipfExponent,
    "repeat_share" -> repeatShare,
    "first_seen_p50_ms" -> firstVsRepeatMs._1,
    "repeated_p50_ms" -> firstVsRepeatMs._2)
}

final class JxAnalytic(ctx: RunContext) extends JxWorkload(ctx) {
  val name = "jx_analytic"
  val clients = 1
  protected val tablesUsed = Seq("orders", "lineitem")
  protected def warmRequest: JxRequest = Requests.analytic(ctx.seed, -1L)
  protected def nextRequest(client: Int, k: Int): JxRequest =
    Requests.analytic(ctx.seed, k.toLong)
  override def facts = Seq("clients" -> clients, "repeat_share" -> repeatShare)
}

/** Ingest seeded mozlog batches into a parquet block sink and a typed
  * JSON-lines sink, then read the batch back through the JX service. */
final class EtlIngest(ctx: RunContext) extends Workload {
  val name = "etl_ingest"
  val clients = 1
  val Batches = 80
  val CompactEvery = 5
  private val landing = ctx.work.resolve("landing")
  private val sinkDir = ctx.work.resolve("sink").toString
  private val parquetSink = s"$sinkDir/tests.parquet"
  private val jsonSink = ctx.work.resolve("sink_typed").resolve("tests.jsonl").toString
  private lazy val batches = Vector.tabulate(Batches)(b => MozLogGen.batch(ctx.seed, b))
  private val ingested = scala.collection.mutable.ArrayBuffer.empty[LogBatch]
  private val etlTime = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private var filesWritten = 0L
  private var bytesRewritten = 0L

  private def batchPath(b: Int) = landing.resolve(s"batch_$b.log").toString

  def generate(newSession: () => SparkSession): Unit = {
    Files.createDirectories(landing)
    batches.foreach(b => Files.write(landing.resolve(s"batch_${b.index}.log"),
      b.lines.asJava))
  }

  override def load(): Unit = batches

  def warm(spark: SparkSession): OpResult = ingest(spark, 0)

  def op(spark: SparkSession, client: Int, k: Int): OpResult =
    ingest(spark, k + 1)

  def readbackText(b: Int): String =
    s"""{"from":"tests","where":{"eq":{"batch":$b}},"select":[{"aggregate":"count","name":"tests"},{"value":"n_subtests","aggregate":"sum","name":"subtests"},{"value":"n_failed","aggregate":"sum","name":"failed"}],"format":"list"}"""

  /** The read-back answer must report exactly the planted batch. */
  def readbackOk(b: LogBatch, answer: String): Boolean = {
    val exp = Oracle.parse(s"""{"data":[{"tests":${b.tests},"subtests":${b.subtests},"failed":${b.failed}}]}""")
    Oracle.diff(exp, Oracle.parse(answer)).isEmpty
  }

  private def filesIn(p: String): Seq[java.io.File] = {
    val d = new java.io.File(p)
    if (!d.isDirectory) Nil
    else org.apache.commons.io.FileUtils.listFiles(d, null, true).asScala.toSeq
      .filterNot(_.getName.startsWith("."))
  }

  /** Ingest number `seq` reads landing file `seq % Batches`; the sink
    * tags its rows with `seq`, so a re-ingested file is a new batch. */
  private def ingest(spark: SparkSession, seq: Int): OpResult = {
    val b = seq % Batches
    val batch = batches(b)
    val tracing = ctx.tracing
    def sinkFiles = filesIn(parquetSink).size + filesIn(jsonSink).size
    val (answer, ms, t1) = ctx.op(spark) {
      try {
        val raw = spark.read.text(batchPath(b))
        val docs = MozLog.testDocs(MozLog.parse(raw, col("value")))
        val out = Lineage.withEtl(docs.withColumn("batch", lit(seq)),
          concat_ws(":", lit(s"batch_$seq"), col("test")), "graftbench-landing",
          lit(s"batch_$b.log"), "mozlog", etlTime, "graftbench")
        val before = if (tracing) sinkFiles else 0
        ctx.span(tracing, "sources.write_ms") {
          Sinks.split(out, Seq(
            df => Sinks.writeBlocks(df, parquetSink, Nil),
            df => Sinks.writeBlocks(TypedJson.encodeJsonLines(df), jsonSink,
              Nil, "text")))
        }
        if (tracing) filesWritten += sinkFiles - before
        new Catalog(spark, sinkDir).invalidate("tests")
        if (seq % CompactEvery == 0 && seq > 0) {
          ctx.span(tracing, "sources.compact_ms") {
            Sinks.compact(spark, parquetSink, 20000L)
          }
          new Catalog(spark, sinkDir).invalidate("tests")
          if (tracing) bytesRewritten += filesIn(parquetSink).map(_.length).sum
        }
        Right(ctx.span(tracing, "service.readback_ms") {
          Service.query(spark, sinkDir, readbackText(seq))
        })
      } catch { case e: Exception => Left(e.toString) }
    }
    if (tracing) ctx.probe(spark) { probeStages(spark, b) }
    ingested += batch
    val ok = answer.exists(a => readbackOk(batch, a))
    if (!ok) System.err.println(s"[graftbench] batch $seq read-back wrong: $answer")
    OpResult(ms, t1, ok, if (ok) 1 else 0, batch.lines.size)
  }

  /** Self time of each ETL stage: its output forced with the previous
    * stage's output already materialized. */
  private def probeStages(spark: SparkSession, b: Int): Unit = {
    val raw = spark.read.text(batchPath(b))
    val parsed = MozLog.parse(raw, col("value")).toDF()
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def stage(name: String, df: DataFrame): DataFrame = {
      ctx.spans.time(name)(ctx.force(df))
      val c = df.persist()
      c.count()
      cached += c
      c
    }
    try {
      val lines = stage("etl.parse_ms", parsed)
      val docs = stage("etl.test_docs_ms", MozLog.testDocs(lines.as[MozLog.Line](
        org.apache.spark.sql.Encoders.product[MozLog.Line])))
      stage("etl.lineage_ms", Lineage.withEtl(docs, col("test"),
        "graftbench-landing", lit(s"batch_$b.log"), "mozlog", etlTime,
        "graftbench"))
      ctx.spans.add("etl.yield", docs.count().toDouble / batches(b).lines.size)
    } finally cached.foreach(_.unpersist())
  }

  /** Every ingested batch's parsed-line count must equal its valid lines
    * (malformed ones dropped), and the typed JSON sink must hold one line
    * per test document. Returns the number of wrong batches. */
  override def verify(spark: SparkSession): Int = ctx.probe(spark, "oracle") {
    val seen = ingested.toSeq
    val paths = seen.map(b => batchPath(b.index)).distinct
    val parsed = MozLog.parse(spark.read.text(paths: _*), col("value")).count()
    val distinctBatches = seen.groupBy(_.index).values.map(_.head).toSeq
    val expectParsed = distinctBatches.map(b => b.lines.size - b.malformed).sum
    val badParse =
      if (parsed == expectParsed) 0
      else distinctBatches.count { b =>
        MozLog.parse(spark.read.text(batchPath(b.index)), col("value")).count() !=
          b.lines.size - b.malformed
      }.max(1)
    val jsonLines = spark.read.text(jsonSink).count()
    val badJson = if (jsonLines == seen.map(_.tests).sum) 0 else 1
    if (badParse + badJson > 0)
      System.err.println(s"[graftbench] etl verify: parsed $parsed of " +
        s"$expectParsed valid lines, typed-json $jsonLines lines")
    badParse + badJson
  }

  private def dirBytes(p: String): Long = filesIn(p).map(_.length).sum

  def extraMetrics(ops: Seq[OpResult], seconds: Double)
      : Seq[(String, Double, String)] = {
    val input = ingested.map(_.bytes).sum.toDouble
    Seq(
      ("rows_per_s", ops.map(_.inputRecords).sum / seconds, "rows/s"),
      ("stored_bytes_per_input_byte",
        (dirBytes(parquetSink) + dirBytes(jsonSink)) / input, "ratio"))
  }

  override def facts = Seq("clients" -> clients,
    "tests_per_batch" -> MozLogGen.TestsPerBatch,
    "lines_per_batch" -> batches.map(_.lines.size).sum / Batches,
    "compact_every" -> CompactEvery)

  override def layerMetrics: Map[String, Double] = {
    val s = ctx.spans
    val compactions = s.values("sources.compact_ms").size
    Seq("etl.parse_ms", "etl.test_docs_ms", "etl.lineage_ms", "etl.yield",
      "sources.write_ms", "sources.compact_ms", "service.readback_ms")
      .map(n => n -> s.mean(n)).toMap ++ Map(
      "sources.files_written" ->
        filesWritten.toDouble / math.max(1, s.values("sources.write_ms").size),
      "sources.bytes_rewritten" ->
        (if (compactions == 0) 0.0 else bytesRewritten.toDouble / compactions))
  }
}

/** Seeded document batches through the training-data dedup pipeline. */
final class LlmDedup(ctx: RunContext) extends Workload {
  val name = "llm_dedup"
  val clients = 1
  val Batches = 40
  private val docsDir = ctx.work.resolve("docs")
  private def batchPath(b: Int) = docsDir.resolve(s"batch_$b.jsonl")
  private lazy val batches = Vector.tabulate(Batches)(b => DocGen.batch(ctx.seed, b))
  private val DocSchema = "id BIGINT, text STRING"
  private var planted, removedPlanted, removed = 0L

  def generate(newSession: () => SparkSession): Unit = {
    Files.createDirectories(docsDir)
    val nf = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
    batches.foreach { b =>
      Files.write(batchPath(b.index), b.ids.zip(b.texts).map { case (i, t) =>
        Oracle.mapper.writeValueAsString(
          nf.objectNode().put("id", i).put("text", t))
      }.asJava)
    }
  }

  override def load(): Unit = batches

  def warm(spark: SparkSession): OpResult = run(spark, 0)

  def op(spark: SparkSession, client: Int, k: Int): OpResult =
    run(spark, (k + 1) % Batches)

  /** Per-batch floors: a batch fails if it keeps a low-quality filler
    * document or an id it was not given, finds fewer than MinRecall of
    * the planted duplicates, or removes so many unique documents that
    * precision drops below MinPrecision. Below 1.0 but above the floors,
    * recall and precision are reported, not failed (see CHANGES.md). */
  val MinRecall = 0.95
  val MinPrecision = 0.9

  def judge(b: DocBatch, survivors: Set[Long]): Boolean = {
    val removedIds = b.ids.toSet -- b.filler -- survivors
    val hits = (removedIds intersect b.duplicates).size
    planted += b.duplicates.size
    removedPlanted += hits
    removed += removedIds.size
    val recall = hits.toDouble / b.duplicates.size
    val precision = if (removedIds.isEmpty) 1.0 else hits.toDouble / removedIds.size
    (survivors intersect b.filler).isEmpty && survivors.subsetOf(b.ids.toSet) &&
      recall >= MinRecall && precision >= MinPrecision
  }

  private def run(spark: SparkSession, k: Int): OpResult = {
    val b = batches(k)
    val path = batchPath(k).toString
    val tracing = ctx.tracing
    val (out, ms, t1) = ctx.op(spark) {
      try {
        val docs = spark.read.schema(DocSchema).json(path)
        Right(Pipelines.prepareCorpus(docs, col("id"), col("text")).collect()
          .map(_.getAs[Long]("id")).toSet)
      } catch { case e: Exception => Left(e.toString) }
    }
    if (tracing) ctx.probe(spark) { probeStages(spark, path) }
    val ok = out.exists(s => judge(b, s))
    if (!ok) System.err.println(s"[graftbench] batch $k survivors wrong: " +
      out.fold(identity, s => s"${s.size} kept, ${b.survivors.size} planted"))
    OpResult(ms, t1, ok, out.map(_.size.toLong).getOrElse(0L),
      b.ids.size)
  }

  /** prepareCorpus's stages as their public calls; each stage's self
    * time is its output forced with the previous stage materialized. */
  private def probeStages(spark: SparkSession, path: String): Unit = {
    val docs = spark.read.schema(DocSchema).json(path)
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def materialize(df: DataFrame): DataFrame = {
      val c = df.persist()
      c.count()
      cached += c
      c
    }
    try {
      val scoredDf = Pipelines.scoreCorpus(docs, col("text"))
      ctx.spans.time("llm.score_ms")(ctx.force(scoredDf))
      val scored = materialize(scoredDf)
      val exactDf = Dedup.exactByKey(scored, Seq(col("fingerprint")), col("id"))
      ctx.spans.time("llm.exact_dedup_ms")(ctx.force(exactDf))
      val exact = materialize(exactDf)
      val pairsDf = Dedup.minhashPairs(exact, col("id"), col("text"),
        threshold = 0.8)
      ctx.spans.time("llm.minhash_ms")(ctx.force(pairsDf))
      val pairs = materialize(pairsDf)
      ctx.spans.add("llm.pairs_found", pairs.count().toDouble)
      ctx.spans.time("llm.components_ms") {
        SparkCounters.inPhase(spark.sparkContext, "llm.components") {
          Dedup.clusterSurvivors(exact, col("id"), pairs, col("id_a"),
            col("id_b")).collect()
        }
      }
    } finally cached.foreach(_.unpersist())
  }

  def recall: Double = if (planted == 0) 0.0 else removedPlanted.toDouble / planted
  def precision: Double = if (removed == 0) 0.0 else removedPlanted.toDouble / removed

  def extraMetrics(ops: Seq[OpResult], seconds: Double)
      : Seq[(String, Double, String)] = Seq(
    ("rows_per_s", ops.map(_.inputRecords).sum / seconds, "rows/s"),
    ("dedup_recall", recall, "ratio"),
    ("dedup_precision", precision, "ratio"))

  override def facts = Seq("clients" -> clients, "docs_per_batch" -> DocGen.PerBatch,
    "planted_duplicates_per_batch" ->
      (DocGen.ExactCopies + DocGen.NearClusters * DocGen.VariantsPerCluster),
    "filler_per_batch" -> DocGen.Filler)

  override def layerMetrics: Map[String, Double] = {
    val s = ctx.spans
    val calls = s.values("llm.components_ms").size
    val ccJobs = ctx.counters.map(_.counts("llm.components").jobs.get).getOrElse(0L)
    Seq("llm.score_ms", "llm.exact_dedup_ms", "llm.minhash_ms",
      "llm.pairs_found", "llm.components_ms").map(n => n -> s.mean(n)).toMap +
      ("llm.components_jobs" -> (if (calls == 0) 0.0 else ccJobs.toDouble / calls))
  }
}
