package graft.etl

import java.nio.file.Files

import graft.{Scratch, Service, SparkSpec}
import graft.sources.Sinks
import org.apache.spark.sql.functions._

/** Bad lines in a landing batch end as dropped lines, not as a crash or
  * a changed count: one batch goes the whole ETL path (parse, test
  * documents, lineage, block sink, JX read-back). */
class BadInputSpec extends SparkSpec {

  private val valid = Seq(
    """{"action":"suite_start","time":0}""",
    """{"action":"test_start","time":1,"test":"t/a"}""",
    """{"action":"test_status","time":2,"test":"t/a","subtest":"s1","status":"PASS"}""",
    """{"action":"test_status","time":3,"test":"t/a","subtest":"s2","status":"FAIL"}""",
    """{"action":"test_end","time":4,"test":"t/a","status":"OK"}""",
    """{"action":"test_start","time":5,"test":"t/b"}""",
    """{"action":"test_status","time":6,"test":"t/b","subtest":"u1","status":"PASS"}""",
    """{"action":"test_end","time":7,"test":"t/b","status":"ERROR"}""",
    """{"action":"suite_end","time":8}""")

  private val bad = Seq(
    "",
    """{"action":"test_status","time":3,"test":"t/a","subtest":"tr""",
    "INFO - harness heartbeat 42",
    """{"action":"test_status","time":"x","test":"t/a","subtest":"s9","status":"FAIL"}""",
    """{"action":"bogus","time":5,"test":"t/b"}""",
    """{"action":"test_end","time":6,"status":"OK"}""")

  /** Land `lines` as batch `seq`, run them to the sink under `dir`, and
    * read the batch back through the service. */
  private def ingest(dir: String, seq: Int, lines: Seq[String]): String = {
    val log = Files.write(Scratch.dir("graft_badinput").resolve("batch.log"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val docs = MozLog.testDocs(MozLog.parse(
      spark.read.text(log.toString), col("value")))
    val out = Lineage.withEtl(docs.withColumn("batch", lit(seq)),
      concat_ws(":", lit(s"batch_$seq"), col("test")), "landing",
      lit("batch.log"), "mozlog",
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "spec")
    Sinks.writeBlocks(out, s"$dir/tests.parquet", Nil)
    Service.query(spark, dir,
      s"""{"from":"tests","where":{"eq":{"batch":$seq}},
           "select":[{"aggregate":"count","name":"tests"},
                     {"value":"n_subtests","aggregate":"sum","name":"subtests"},
                     {"value":"n_failed","aggregate":"sum","name":"failed"}],
           "format":"list"}""")
  }

  test("a batch mixing valid and malformed lines reads back the " +
      "counts of its valid lines alone") {
    val dir = Scratch.dir("graft_badinput").toString
    // JX sums render as doubles
    val expected = """{"data":[{"tests":2,"subtests":3.0,"failed":1.0}]}"""
    assert(ingest(dir, 1, valid) === expected)
    // every bad line, spread between the valid ones
    val mixed = valid.zipAll(bad, "", "").flatMap { case (v, b) => Seq(b, v) }
    assert(ingest(dir, 2, mixed) === expected)
  }
}
