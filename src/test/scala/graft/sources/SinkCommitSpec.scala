package graft.sources

import scala.jdk.CollectionConverters._

import graft.{Scratch, Service, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Readers of a sink table through the JX service see one commit's
  * table at a time, and the newest one, while appends, compactions and
  * deletes rewrite it — with no writer telling any reader. */
class SinkCommitSpec extends SparkSpec {

  private val CountQuery =
    """{"from":"tests","select":{"aggregate":"count","name":"n"},"format":"list"}"""

  private def count(dir: String): Long =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Service.query(spark, dir, CountQuery))
      .get("data").get(0).get("n").asLong

  /** `n` rows with ids `from until from + n`. */
  private def rows(from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select(col("id"),
      concat(lit("t"), col("id")).as("test"))

  private def ids(from: Long, n: Long): DataFrame =
    spark.range(from, from + n).toDF("id")

  test("after a compaction, a delete and an append, the next query " +
      "answers from the newest commit") {
    val dir = Scratch.dir("graft_commit").toString
    val table = s"$dir/tests.parquet"
    (0 until 6).foreach(b => Sinks.writeBlocks(rows(b * 100L, 100), table, Nil))
    assert(count(dir) === 600L)
    Sinks.compact(spark, table, targetRowsPerFile = 1000)
    assert(count(dir) === 600L, "after compaction")
    Sinks.deleteByKey(spark, table, "id", ids(0, 50))
    assert(count(dir) === 550L, "after deleteByKey")
    Sinks.writeBlocks(rows(1000, 100), table, Nil)
    assert(count(dir) === 650L, "after an append")
  }

  test("a reader looping on Service.query while a writer appends, " +
      "compacts and deletes sees no failure and only committed counts") {
    val dir = Scratch.dir("graft_commit").toString
    val table = s"$dir/tests.parquet"
    (0 until 4).foreach(b => Sinks.writeBlocks(rows(b * 1000L, 50), table, Nil))
    // every count a commit can publish; compactions publish the count
    // they found
    val committed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    var n = 200L
    committed.add(n)
    @volatile var writing = true
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() =>
      while (writing) {
        try answers.add(count(dir))
        catch { case e: Throwable => failures.add(e) }
      })
    reader.start()
    var writes = 0
    try {
      for (b <- 4 until 22) {
        // the count a commit publishes is recorded before it is published;
        // a delete takes back the rows appended two steps earlier
        (b % 3) match {
          case 0 =>
            Sinks.compact(spark, table, targetRowsPerFile = 10000)
          case 1 =>
            n -= 50; committed.add(n)
            val (_, deleted) =
              Sinks.deleteByKey(spark, table, "id", ids((b - 2) * 1000L, 50))
            assert(deleted === 50L)
          case _ =>
            n += 50; committed.add(n)
            Sinks.writeBlocks(rows(b * 1000L, 50), table, Nil)
        }
        writes += 1
      }
    } finally {
      writing = false
      reader.join()
    }
    assert(writes >= 15)
    assert(Sinks.read(spark, table).count() === n)
    info(s"${answers.size} reads over $writes commits")
    assert(failures.isEmpty,
      s"reader failures: ${failures.asScala.mkString("\n")}")
    assert(answers.size >= 5, "the reader must overlap the writes")
    val foreign = answers.asScala.toSet.filterNot(committed.contains)
    assert(foreign.isEmpty, s"counts no commit published: $foreign")
  }
}
