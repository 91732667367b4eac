package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark entry point: one workload, one seed, one measured window.
  *
  * {{{
  * Main --generate --workload <name> --seed <n> --work <scratch dir>
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <scratch dir> [--spans <file>]
  * Main --selftest --work <scratch dir>
  * }}}
  *
  * `--generate` writes the workload's inputs into the scratch directory
  * and exits; the measured run then starts in a JVM that has done no
  * Spark work, so its set-up is a cold start. Prints a `graftbench-report` line with every end-to-end metric of the
  * workload, then, as the last line, the result object
  * `{"correct", "attempted", "failed", "metrics"}` holding the gated
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1). */
object Main {
  /** Gated end-to-end metrics: the ones every workload reports that are
    * steady from run to run (rss_peak_mb is not: it follows GC timing). */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "latency_p50_ms" -> "ms", "ops_per_s" -> "1/s")

  val PerLayer: Seq[(String, String)] = Seq(
    "jx.parse_ms" -> "ms", "tables.resolve_ms" -> "ms", "jx.plan_ms" -> "ms",
    "spark.codegen_compiles_per_op" -> "count", "jx.execute_ms" -> "ms",
    "service.render_ms" -> "ms", "spark.jobs_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_wait_ms_per_op" -> "ms",
    "spark.task_cpu_ms_per_op" -> "ms",
    "spark.rows_read_per_row_returned" -> "ratio",
    "spark.shuffle_bytes_per_op" -> "bytes", "spark.gc_ms_per_op" -> "ms",
    "etl.parse_ms" -> "ms", "etl.test_docs_ms" -> "ms",
    "etl.lineage_ms" -> "ms", "etl.yield" -> "ratio",
    "sources.write_ms" -> "ms", "sources.files_written" -> "count",
    "sources.compact_ms" -> "ms", "sources.bytes_rewritten" -> "bytes",
    "service.readback_ms" -> "ms", "llm.score_ms" -> "ms",
    "llm.exact_dedup_ms" -> "ms", "llm.minhash_ms" -> "ms",
    "llm.pairs_found" -> "count", "llm.components_ms" -> "ms",
    "llm.components_jobs" -> "count")

  /** Closed-loop operations before the measured window, so the JIT and
    * caches are past their first steep stretch when measuring starts. */
  val WarmupSeconds = 10.0
  val Cores = 4

  /** The session settings of the engine's own Bench/Verify harnesses, on
    * four local cores; the warehouse stays under `work` (the launcher
    * points SPARK_LOCAL_DIRS there too). */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, ctx: RunContext): Option[Workload] = name match {
    case "jx_interactive" => Some(new JxInteractive(ctx))
    case "jx_analytic"    => Some(new JxAnalytic(ctx))
    case "etl_ingest"     => Some(new EtlIngest(ctx))
    case "llm_dedup"      => Some(new LlmDedup(ctx))
    case _                => None
  }

  def median(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this JVM (which also runs the executors). */
  def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** (steal, total) jiffies of all CPUs so far, from /proc/stat. */
  def cpuTicks: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(arg(args, "--work").getOrElse(
      sys.error("--work <dir> is required"))).toAbsolutePath
    Files.createDirectories(work)
    if (args.contains("--selftest")) sys.exit(SelfTest.run(work))
    val name = arg(args, "--workload").getOrElse("")
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val ctx = new RunContext(seed, work, traced)
    val w = workload(name, ctx).getOrElse {
      System.err.println(s"unknown workload: $name"); sys.exit(2)
    }
    if (args.contains("--generate")) w.generate(() => session(work))
    else run(w, ctx, seconds, arg(args, "--spans"))
    sys.exit(0)
  }

  def run(w: Workload, ctx: RunContext, seconds: Double,
          spansOut: Option[String]): Unit = {
    def phase(what: String, since: Long): Unit = System.err.println(
      f"[graftbench] $what: ${(System.nanoTime() - since) / 1e9}%.1f s")
    w.load()

    // set-up, once, cold: session start -> table resolution -> first
    // answered operation. A second set-up in this JVM would find Spark's
    // classes loaded, its codegen cache filled and the JIT warm.
    val t01 = System.nanoTime()
    val spark = session(ctx.work)
    val setupOk =
      try w.warm(spark).ok
      catch { case e: Exception =>
        System.err.println(s"[graftbench] set-up operation failed: $e")
        false
      }
    val setupS = (System.nanoTime() - t01) / 1e9
    phase("set-up", t01)
    val t03 = System.nanoTime()
    if (ctx.traced) {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      ctx.counters = Some(c)
    }
    // closed loop: each client sends its next request when the previous
    // one is answered. Operations started during the warm-up are checked
    // but not measured; the window then measures for `seconds`.
    val start = System.nanoTime() + (WarmupSeconds * 1e9).toLong
    val deadline = start + (seconds * 1e9).toLong
    ctx.windowStart = start
    val results = new java.util.concurrent.ConcurrentLinkedQueue[OpResult]()
    val warmups = new java.util.concurrent.ConcurrentLinkedQueue[OpResult]()
    val threads = (0 until w.clients).map { c =>
      new Thread(() => {
        var k = 0
        while (System.nanoTime() < deadline) {
          val t0 = System.nanoTime()
          val r =
            try w.op(spark, c, k)
            catch { case e: Exception =>
              System.err.println(s"[graftbench] operation failed: $e")
              val t1 = System.nanoTime()
              OpResult((t1 - t0) / 1e6, t1, ok = false, 0, 0)
            }
          (if (t0 >= start) results else warmups).add(r)
          k += 1
        }
      }, s"graftbench-client-$c")
    }
    threads.foreach(_.start())
    Thread.sleep(math.max(0L, (start - System.nanoTime()) / 1000000L))
    val ticks0 = cpuTicks
    val compiles0 = SparkCounters.codegenCompiles
    val probeCompiles0 = ctx.probeCodegen
    threads.foreach(_.join())
    val ticks1 = cpuTicks
    val compiles = SparkCounters.codegenCompiles - compiles0 -
      (ctx.probeCodegen - probeCompiles0)
    ctx.counters.foreach(_.settle())
    phase("warm-up and window", t03)
    val t02 = System.nanoTime()
    val ops = results.asScala.toSeq
    val wrongAfter =
      try w.verify(spark)
      catch { case e: Exception =>
        System.err.println(s"[graftbench] verification failed: $e")
        ops.size + warmups.size + 1
      }
    phase("verification", t02)
    val warm = warmups.asScala.toSeq
    val attempted = ops.size + warm.size + 1
    val failed = math.min(attempted, ops.count(!_.ok) + warm.count(!_.ok) +
      (if (setupOk) 0 else 1) + wrongAfter)
    // from the first measured operation's start to the last one's end
    val window = math.max(1e-9, (ops.map(_.endNs).maxOption.getOrElse(deadline) -
      ops.map(o => o.endNs - (o.latencyMs * 1e6).toLong).minOption
        .getOrElse(start)) / 1e9)
    val lat = ops.map(_.latencyMs)

    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("latency_p50_ms", median(lat), "ms")) ++
      (if (lat.size >= 100)
        Seq(("latency_p90_ms", lat.sorted.apply(math.ceil(0.9 * lat.size).toInt - 1), "ms"))
      else Nil) ++ Seq(
      ("ops_per_s", ops.size / window, "1/s"),
      ("error_rate", failed.toDouble / attempted, "ratio"),
      ("rss_peak_mb", rssPeakMb, "MB")) ++
      w.extraMetrics(ops, window)

    val mapper = Oracle.mapper
    val report = mapper.createObjectNode()
    report.put("workload", w.name).put("seed", ctx.seed)
      .put("trace", if (ctx.traced) 1 else 0).put("operations", ops.size)
      .put("attempted", attempted).put("failed", failed)
      .put("window_s", window)
    val e2e = report.putObject("end_to_end")
    endToEnd.foreach { case (n, v, u) =>
      e2e.putObject(n).put("value", v).put("unit", u)
    }
    val facts = report.putObject("facts")
    w.facts.foreach { case (k, v) => facts.putPOJO(k, v) }
    // share of the machine's CPU time taken by the hypervisor during the
    // window: a high value marks a run slowed by other tenants
    facts.put("cpu_steal_share", (ticks1._1 - ticks0._1).toDouble /
      math.max(1L, ticks1._2 - ticks0._2))
    val lq = report.putArray("latency_quartiles_ms")
    if (lat.size >= 2) {
      val sorted = lat.sorted
      Seq(0.25, 0.5, 0.75).foreach(q => lq.add(sorted(((sorted.size - 1) * q).round.toInt)))
    }

    val metrics: Seq[(String, Double, String)] =
      if (!ctx.traced)
        EndToEnd.map { case (n, u) =>
          (n, endToEnd.find(_._1 == n).map(_._2).getOrElse(0.0), u) }
      else {
        val n = math.max(1, ops.size).toDouble
        val c = ctx.counters.get.counts("op")
        val returned = ops.map(_.resultRows).sum
        val engine = Map(
          "spark.codegen_compiles_per_op" -> compiles / n,
          "spark.jobs_per_op" -> c.jobs.get / n,
          "spark.tasks_per_op" -> c.tasks.get / n,
          "spark.task_wait_ms_per_op" -> c.waitMs.get / n,
          "spark.task_cpu_ms_per_op" -> c.cpuNs.get / 1e6 / n,
          "spark.rows_read_per_row_returned" ->
            (if (returned == 0) 0.0 else c.recordsRead.get.toDouble / returned),
          "spark.shuffle_bytes_per_op" -> c.shuffleBytes.get / n,
          "spark.gc_ms_per_op" -> c.gcMs.get / n)
        val layers = engine ++ w.layerMetrics
        PerLayer.map { case (name, u) => (name, layers.getOrElse(name, 0.0), u) }
      }
    if (ctx.traced) {
      val pl = report.putObject("per_layer")
      metrics.foreach { case (n, v, u) => pl.putObject(n).put("value", v).put("unit", u) }
    }
    spansOut.foreach(p => ctx.spans.write(Paths.get(p)))
    spark.stop()

    val result = mapper.createObjectNode()
    result.put("correct", failed == 0).put("attempted", attempted)
      .put("failed", failed)
    val m = result.putObject("metrics")
    metrics.foreach { case (n, v, u) => m.putObject(n).put("value", v).put("unit", u) }
    println("graftbench-report " + mapper.writeValueAsString(report))
    println(mapper.writeValueAsString(result))
  }
}
