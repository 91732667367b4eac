package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.{Scratch, SparkSpec}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

class NioLocalFileSystemSpec extends SparkSpec {

  private def rows = spark.range(0, 60, 1, 3).select(col("id"),
    (col("id") % 3).as("part"), concat(lit("v"), col("id")).as("payload"))

  private def mode(p: Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** Modes of the data files and of the directories under `root`. */
  private def modes(root: String): (Set[Int], Set[Int]) =
    Using.resource(Files.walk(Paths.get(root))) { s =>
      val (dirs, files) = s.iterator.asScala.toVector
        .filterNot(_.getFileName.toString.startsWith("_graft_log"))
        .partition(Files.isDirectory(_))
      (files.filter(_.getFileName.toString.startsWith("part-"))
        .map(mode).toSet, dirs.map(mode).toSet)
    }

  /** Process starts JFR records while `body` runs in this JVM. */
  private def processStarts(body: => Unit): Int = {
    val file = Files.createTempFile(Scratch.dir("graft_jfr"), "rec", ".jfr")
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
        .count(_.getEventType.getName == "jdk.ProcessStart")
    } finally rec.close()
  }

  test("sink writes leave the modes a write through Hadoop's default " +
       "local file system leaves") {
    val root = Scratch.dir("graft_niofs").toString
    rows.write.partitionBy("part").parquet(s"$root/plain")
    Sinks.writer(rows).partitionBy("part").parquet(s"$root/nio")
    Sinks.writeBlocks(rows, s"$root/sink", Seq("part"))
    val (plainFiles, plainDirs) = modes(s"$root/plain")
    assert(plainFiles.size === 1 && plainDirs.size === 1,
      "a plain write leaves one file mode and one dir mode: " +
        s"$plainFiles, $plainDirs")
    assert(modes(s"$root/nio") === (plainFiles, plainDirs))
    assert(modes(s"$root/sink") === (plainFiles, plainDirs))
    assert(Sinks.read(spark, s"$root/sink").count() === 60L)
  }

  test("a mode with the sticky bit goes through the chmod path; " +
       "plain modes are set in-process") {
    val root = Scratch.dir("graft_niofs")
    val fs = new NioLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    val dir = root.resolve("sticky")
    val file = root.resolve("file")
    Files.createDirectory(dir)
    Files.createFile(file)
    val inProcess = processStarts {
      fs.setPermission(new HPath(file.toUri), new FsPermission(
        octal("640").toShort))
      fs.setPermission(new HPath(dir.toUri), new FsPermission(
        octal("750").toShort))
    }
    assert(inProcess === 0)
    assert(mode(file) === octal("640") && mode(dir) === octal("750"))
    val sticky = processStarts(fs.setPermission(new HPath(dir.toUri),
      new FsPermission(octal("1777").toShort)))
    assert(sticky > 0, "NIO cannot set the sticky bit: chmod must run")
    assert(mode(dir) === octal("1777"))
  }

  test("Sinks.writeBlocks starts no process") {
    val root = Scratch.dir("graft_niofs").toString
    // warm up: the first write loads classes whose initializers may fork
    Sinks.writeBlocks(rows, s"$root/warm", Seq("part"))
    val starts = processStarts(
      Sinks.writeBlocks(rows, s"$root/t", Seq("part")))
    assert(starts === 0, s"$starts process starts during one sink write")
    assert(Sinks.read(spark, s"$root/t").count() === 60L)
  }
}
