package graft

import java.nio.file.{Files, Path}
import graft.etl.MozLog
import graft.llm.Pipelines
import graft.operators.Lifecycle
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Intermediate state belongs to the one call that made it: the
  * pipeline entry points leave no cache entry behind (so no later
  * read of the same path can be answered from an old one), and what
  * their results still hold is freed by [[Lifecycle.release]]. */
class IntermediateStateSpec extends SparkSpec {
  import spark.implicits._

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager

  private def write(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  private def mozlog(tests: Seq[String]): Seq[String] = tests.flatMap { t =>
    Seq(
      s"""{"action":"test_start","time":1,"test":"$t"}""",
      s"""{"action":"test_status","time":2,"test":"$t","subtest":"s","status":"PASS"}""",
      s"""{"action":"test_end","time":3,"test":"$t","status":"OK"}""")
  }

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog and then it was done for the day",
    "a completely different document that is about the spark engine and its catalyst optimizer",
    "rivers carry cold water from the mountains down to the sea through green valleys",
    "every morning the baker opens the shop early and sells fresh bread to the village",
    "the committee met on tuesday to review the budget and approve the new library plans")

  private def corpusLines(ids: Seq[Long]): Seq[String] = ids.map { i =>
    s"""{"id":$i,"text":"${texts((i % texts.size).toInt)} number $i"}"""
  }

  test("a rewritten landing path is read afresh: testDocs and " +
      "prepareCorpus answer from the file's new lines") {
    val dir = Scratch.dir("graft_reread")
    val log = dir.resolve("batch.log")
    // both the line parser and a plain typed read (whose plan is
    // equal across calls, so a cache entry over it would match again)
    def viaParse = MozLog.parse(spark.read.text(log.toString), col("value"))
    def viaRead = spark.read.schema(MozLog.LineSchema).json(log.toString)
      .as[MozLog.Line]
    def tests(): Seq[Set[String]] = Seq(viaParse, viaRead).map(lines =>
      MozLog.testDocs(lines).select("test").as[String].collect().toSet)
    write(log, mozlog(Seq("t/a", "t/b", "t/c")))
    assert(tests() === Seq.fill(2)(Set("t/a", "t/b", "t/c")))
    write(log, mozlog(Seq("t/d", "t/e")))
    assert(tests() === Seq.fill(2)(Set("t/d", "t/e")),
      "testDocs answered from the old content of a rewritten file")

    val json = dir.resolve("docs.json")
    def kept(): Set[Long] =
      Pipelines.prepareCorpus(
          spark.read.schema("id long, text string").json(json.toString),
          col("id"), col("text"), minQuality = 0.0)
        .select("id").as[Long].collect().toSet
    write(json, corpusLines(Seq(1L, 2L, 3L)))
    assert(kept() === Set(1L, 2L, 3L))
    write(json, corpusLines(Seq(11L, 12L)))
    assert(kept() === Set(11L, 12L),
      "prepareCorpus answered from the old content of a rewritten file")
  }

  test("repeated pipeline calls leave no cache entry, and releasing " +
      "their results frees every block they hold") {
    // a known start: earlier suites may have cached frames of their own
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    // ids, not a count: the context cleaner may free an earlier
    // suite's garbage-collected checkpoints while this test runs
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = Scratch.dir("graft_noleak")
    val results: Seq[DataFrame] = (1 to 5).flatMap { i =>
      // distinct input per call: the cache manager dedups equal plans
      val docs = spark.read.schema("id long, text string")
        .json(corpusLines((1 to 6).map(j => (i * 100 + j).toLong)).toDS())
      val prepared = Pipelines.prepareCorpus(docs, col("id"), col("text"),
        minQuality = 0.0)
      prepared.collect()
      val tests = MozLog.testDocs(MozLog.parse(
        mozlog(Seq(s"t/$i/a", s"t/$i/b")).toDF("line"), col("line")))
      tests.collect()
      val metrics = Pipelines.curateObserved(docs, col("id"), col("text"),
        out.resolve(s"corpus$i").toString, minQuality = 0.0)
      metrics.collect()
      Seq(prepared, tests, metrics)
    }
    assert(cacheManager.isEmpty,
      "a pipeline call left a cache entry behind")
    results.foreach(Lifecycle.release)
    assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "releasing the results must free every block the calls made")
  }

  test("the queries that reuse a frame leave no cache entry: q26, q70, " +
      "q95 and q245 collected without MainSession.cleanup") {
    // a known start: earlier suites may have cached frames of their own
    spark.catalog.clearCache()
    val names = Seq("q26_dedup_minhash", "q70_corpus_prep",
      "q95_incremental_neardup", "q245_pipeline_metrics")
    val n = jobsPerTag { tagged =>
      names.foreach(q => tagged(q)(assert(
        SparkEntry.queries(q)(spark, TestSpark.sfDir).collect().nonEmpty)))
    }
    assert(cacheManager.isEmpty,
      "a query left a cache entry behind for cleanup to clear")
    // with its two stages persisted, q70 started 14
    assert(n("q70_corpus_prep") === 12)
  }

  test("MainSession.cleanup frees what the last queries left, whatever " +
      "its form: after two checkpointing queries no persistent RDD stays") {
    val sc = spark.sparkContext
    Seq("q26_dedup_minhash", "q70_corpus_prep").foreach(q =>
      SparkEntry.queries(q)(spark, TestSpark.sfDir).collect())
    assert(sc.getPersistentRDDs.nonEmpty,
      "both queries return frames over checkpoints")
    MainSession.cleanup(spark)
    assert(sc.getPersistentRDDs.isEmpty,
      "cleanup must unpersist every block the queries hold")
  }
}
