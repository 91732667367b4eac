package graft.sources

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import graft.{Scratch, SparkSpec}
import graft.tables.Catalog
import org.apache.spark.sql.functions._

class TableLogSpec extends SparkSpec {

  private def rows(from: Long, n: Long) =
    spark.range(from, from + n).select(col("id"),
      concat(lit("v"), col("id")).as("payload"))

  private def content(path: String) =
    Sinks.read(spark, path).collect().map(_.toString).sorted.toSeq

  test("compaction packs only the files below the target: large files " +
      "keep their paths, content is unchanged") {
    val out = Scratch.dir("graft_tablelog").toString + "/t"
    // K = 3 files at the target, m = 5 files below it
    (0 until 3).foreach(b => Sinks.writeBlocks(
      rows(b * 1000L, 500).coalesce(1), out, Nil))
    val large = TableLog.live(out).toSet
    (3 until 8).foreach(b => Sinks.writeBlocks(
      rows(b * 1000L, 40).coalesce(1), out, Nil))
    val small = TableLog.live(out).toSet -- large
    assert(large.size === 3 && small.size === 5)
    val before = content(out)
    val (nBefore, nAfter) = Sinks.compact(spark, out, targetRowsPerFile = 500)
    val live = TableLog.live(out).toSet
    assert((nBefore, nAfter) === (8, 4))
    assert(large.subsetOf(live), "a file at the target must keep its path")
    assert((live & small).isEmpty, "every small file must leave the live set")
    assert(content(out) === before, "content must be unchanged")
    // nothing left below the target that packing would reduce
    assert(Sinks.compact(spark, out, targetRowsPerFile = 500) === (4, 4))
    assert(TableLog.live(out).toSet === live)
  }

  test("compaction of a partitioned sink packs within each partition " +
      "directory and keeps the partition values") {
    val out = Scratch.dir("graft_tablelog").toString + "/p"
    val now = java.sql.Timestamp.valueOf("2024-01-31 00:00:00")
    def day(d: Int, from: Long) = rows(from, 30)
      .withColumn("ts", lit(java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")))
    for (b <- 0 until 3; d <- Seq(10, 11))
      Sinks.writeRollover(day(d, b * 100L + d * 1000L).coalesce(1), out,
        col("ts"), retainDays = 30, now = now)
    val before = content(out)
    assert(Sinks.compact(spark, out, targetRowsPerFile = 1000) === (6, 2))
    assert(content(out) === before)
    assert(TableLog.live(out).map(f => Paths.get(f).getParent.toString)
      .sorted === Seq("__date=2024-01-10", "__date=2024-01-11"))
  }

  test("50 commits keep one session cache entry; a dropped file and " +
      "the manifests it kept alive go once the grace period is over") {
    val dir = Scratch.dir("graft_tablelog").toString
    val out = s"$dir/t.parquet"
    Sinks.writeBlocks(rows(0, 10), out, Nil)
    Sinks.writeBlocks(rows(10, 10), out, Nil)
    val catalog = new Catalog(spark, dir)
    def cached = Catalog.resolvedFor(spark).keySet.toArray
      .count(_.toString.startsWith(s"$dir "))
    for (_ <- 1 to 50) {
      TableLog.commit(out)(identity)
      assert(catalog.table("t").count() === 20L)
    }
    assert(cached === 1)

    val dropped = TableLog.live(out)
    Sinks.compact(spark, out, targetRowsPerFile = 100)
    val compacted = TableLog.live(out)
    assert(catalog.table("t").count() === 20L)
    val log = Paths.get(out, TableLog.Dir)
    def manifests = log.toFile.list().flatMap(_.toLongOption).toSet
    def onDisk(f: String) = Files.exists(Paths.get(out, f))
    // within the grace period a commit deletes nothing
    Sinks.writeBlocks(rows(20, 10), out, Nil)
    assert(dropped.forall(onDisk))
    val compactedAt = TableLog.generation(out) - 1
    assert(manifests.contains(compactedAt - 1))
    // age every manifest past the grace period
    val old = FileTime.fromMillis(
      System.currentTimeMillis() - TableLog.GraceMillis - 60000L)
    manifests.foreach(g => Files.setLastModifiedTime(log.resolve(g.toString), old))
    Sinks.writeBlocks(rows(30, 10), out, Nil)
    assert(!dropped.exists(onDisk), "dropped files must be deleted")
    assert(compacted.forall(onDisk))
    assert(manifests === Set(TableLog.generation(out) - 1,
      TableLog.generation(out)),
      "only the newest manifest and its predecessor stay")
    assert(catalog.table("t").count() === 40L)
    assert(cached === 1)
  }

  test("reading a manifest table starts no more Spark jobs than " +
      "reading its directory, past the parallel-listing threshold") {
    val out = Scratch.dir("graft_tablelog").toString + "/t"
    rows(0, 400).repartition(40).write.parquet(out)
    val n = jobsPerTag { tagged =>
      tagged("dir")(assert(spark.read.parquet(out).count() === 400L))
      val files = TableLog.live(out)
      assert(files.size === 40)
      tagged("paths")(assert(spark.read.parquet(
        files.map(f => s"$out/$f"): _*).count() === 400L))
      TableLog.commit(out)(identity)
      tagged("manifest")(assert(Sinks.read(spark, out).count() === 400L))
    }
    info(s"jobs: dir ${n("dir")}, 40 paths ${n("paths")}, " +
      s"manifest ${n("manifest")}")
    assert(n("paths") > n("dir"), "40 explicit paths should list in a job")
    assert(n("manifest") <= n("dir"))
  }

  test("resolving a table through Catalog starts no Spark job: a single " +
      "file, a plain directory, a manifest table, and a re-resolve after " +
      "an append") {
    val dir = Scratch.dir("graft_tablelog").toString
    val staging = s"$dir/_one"
    rows(0, 100).coalesce(1).write.parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(dir, "single.parquet"))
    rows(0, 200).repartition(8).write.parquet(s"$dir/plain.parquet")
    Sinks.writeBlocks(rows(0, 300).repartition(3), s"$dir/sink.parquet", Nil)
    def resolve(name: String) = new Catalog(spark, dir).table(name)
    val n = jobsPerTag { tagged =>
      tagged("single file")(resolve("single"))
      tagged("plain directory")(resolve("plain"))
      tagged("manifest table")(resolve("sink"))
      Sinks.writeBlocks(rows(300, 50).coalesce(1), s"$dir/sink.parquet", Nil)
      tagged("re-resolve after append")(resolve("sink"))
    }
    assert(resolve("single").count() === 100L)
    assert(resolve("plain").count() === 200L)
    assert(resolve("sink").count() === 350L)
    val cases = Seq("single file", "plain directory", "manifest table",
      "re-resolve after append")
    info(cases.map(c => s"$c ${n(c)}").mkString("jobs: ", ", ", ""))
    cases.foreach(c => assert(n(c) === 0, s"$c: resolving started a job"))
  }
}
