package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.{Scratch, SparkSpec}
import graft.streaming.{EventStream, StateAudit}
import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath}
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

  /** Spark's own background deletions, which fork `rm -rf` at times no
    * writer controls: the artifact dir of a garbage-collected session
    * (every streaming query runs in a cloned one) and the local dirs
    * of a stopped query's state stores, closed by the periodic
    * maintenance task. */
  private val sparkCleanups = Set(
    "org.apache.spark.sql.artifact.ArtifactManager$StateCleanupRunner.run",
    "org.apache.spark.sql.execution.streaming.state.StateStore$" +
      ".removeFromLoadedProvidersAndClose")

  /** A recorded process start: its command line, and that with its
    * thread and innermost frames, so a failed check names what forked. */
  private case class Start(command: String, described: String) {
    override def toString: String = described
  }

  /** Process starts JFR records in this JVM while `body` runs, but for
    * [[sparkCleanups]]. */
  private def processStarts(body: => Unit): Seq[Start] = {
    // the executor heartbeat's first metrics read forks `getconf
    // PAGESIZE` once per JVM, in this class's initializer: run it now
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$", true,
      getClass.getClassLoader)
    val file = Files.createTempFile(Scratch.dir("graft_jfr"), "rec", ".jfr")
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      body
      rec.stop()
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq
            .flatMap(_.getFrames.asScala).map { f =>
              s"${f.getMethod.getType.getName}.${f.getMethod.getName}"
            }
          val command = e.getString("command")
          (frames, Start(command,
            s"[${Option(e.getThread).map(_.getJavaName).orNull}] " +
              s"$command at ${frames.take(12).mkString(" < ")}"))
        }
        .collect { case (frames, s) if !frames.exists(sparkCleanups) => s }
    } finally rec.close()
  }

  test("sink writes leave the modes a write through Hadoop's default " +
       "local file system leaves") {
    val root = Scratch.dir("graft_niofs").toString
    // Hadoop's stock file system, whatever a sink write installed
    rows.write.option("fs.file.impl", classOf[LocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
      .partitionBy("part").parquet(s"$root/plain")
    Sinks.writeBlocks(rows, s"$root/sink", Seq("part"))
    val (plainFiles, plainDirs) = modes(s"$root/plain")
    assert(plainFiles.size === 1 && plainDirs.size === 1,
      "a plain write leaves one file mode and one dir mode: " +
        s"$plainFiles, $plainDirs")
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
    assert(inProcess.isEmpty, inProcess.mkString("\n"))
    assert(mode(file) === octal("640") && mode(dir) === octal("750"))
    val sticky = processStarts(fs.setPermission(new HPath(dir.toUri),
      new FsPermission(octal("1777").toShort)))
    assert(sticky.nonEmpty, "NIO cannot set the sticky bit: chmod must run")
    assert(mode(dir) === octal("1777"))
  }

  private def crcFiles(dir: String): Vector[Path] =
    Using.resource(Files.walk(Paths.get(dir)))(
      _.iterator.asScala.filter(_.toString.endsWith(".crc")).toVector)

  test("Sinks.writeBlocks starts no process") {
    val root = Scratch.dir("graft_niofs").toString
    // warm up: the first write loads classes whose initializers may fork
    Sinks.writeBlocks(rows, s"$root/warm", Seq("part"))
    val docs = rows.select(col("id").as("doc_id"),
      concat_ws(" ", col("payload"), lit("shared words in every row"))
        .as("text"))
    val vecs = rows.select(col("id").as("vec_id"),
      array(col("id").cast("double"), col("part").cast("double"))
        .as("embedding"))
    val means = graft.llm.KMeans.fit(vecs, col("vec_id"), col("embedding"),
      k = 2, iters = 1)
    val writers: Seq[(String, String => Unit)] = Seq(
      "Sinks.writeBlocks" -> (out =>
        Sinks.writeBlocks(rows, out, Seq("part"))),
      "Dedup.writeMinhashIndex" -> (out => graft.llm.Dedup
        .writeMinhashIndex(docs, col("doc_id"), col("text"), out)),
      "Similarity.ivfWriteIndexFitted" -> (out => graft.llm.Similarity
        .ivfWriteIndexFitted(vecs, col("vec_id"), col("embedding"), out,
          means)),
      "LangModel.writeModel" -> (out => graft.llm.LangModel.writeModel(
        graft.llm.LangModel.unigrams(docs, col("text")),
        graft.llm.LangModel.bigrams(docs, col("text")), out)),
      "ZOrder.writeZOrdered" -> (out => graft.operators.ZOrder
        .writeZOrdered(rows, out, col("id"), col("part"), nFiles = 3)),
      "EventStream.replay" -> (out => graft.streaming.EventStream.replay(
        Seq(rows.filter(col("part") === 0), rows.filter(col("part") > 0)),
        out)))
    try writers.foreach { case (name, write) =>
      val out = s"$root/${name.replace('.', '_')}"
      val starts = processStarts(write(out))
      assert(starts.isEmpty, s"${starts.size} process starts during " +
        s"$name:\n${starts.mkString("\n")}")
      val crc = crcFiles(out)
      assert(crc.isEmpty, s"$name left checksum files: $crc")
    } finally graft.operators.Lifecycle.release(means)
    assert(Sinks.read(spark, s"$root/Sinks_writeBlocks").count() === 60L)
  }

  test("stream drains fork no chmod or readlink and keep their " +
       "checkpoint checksums") {
    val root = Scratch.dir("graft_niofs").toString
    // three micro-batches, one per part, with event times
    val events = (0 to 2).map(p => rows.filter(col("part") === p)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("id"))))
    def stream(name: String) = EventStream.replay(events, s"$root/in_$name")
    /** `drain(checkpointDir)`, which must fork no `chmod` or `readlink`
      * and leave `.crc` sidecars under the checkpoint dir. */
    def checkDrain(name: String)(drain: String => Unit): Unit = {
      val cp = s"$root/cp_$name"
      val forks = processStarts(drain(cp)).filter(s =>
        Seq("chmod", "readlink").exists(s.command.startsWith))
      assert(forks.isEmpty, s"${forks.size} chmod/readlink starts " +
        s"during $name:\n${forks.mkString("\n")}")
      assert(crcFiles(cp).nonEmpty, s"$name's checkpoint has no .crc")
    }
    /** `f` with a memory sink's checkpoint kept under `cp`. */
    def checkpointedAt[T](cp: String)(f: => T): T = {
      val key = "spark.sql.streaming.checkpointLocation"
      spark.conf.set(key, cp)
      try f finally spark.conf.unset(key)
    }
    val completed = stream("complete")
    checkDrain("runToCompletion") { cp =>
      val counts = checkpointedAt(cp)(EventStream.runToCompletion(spark,
        completed.groupBy(col("part")).count()))
      assert(counts.collect().map(r => r.getLong(0) -> r.getLong(1))
        .toMap === Map(0L -> 20L, 1L -> 20L, 2L -> 20L))
    }
    val sunk = stream("sink")
    checkDrain("runToSink") { cp =>
      val out = EventStream.runToSink(spark,
        EventStream.dedupByKey(sunk, "ts", "1 hour", "id"), s"$root/sunk", cp)
      assert(out.count() === 60L)
    }
    val docStream = EventStream.replay(events.map(_.select(
      col("id").as("doc_id"), col("payload").as("text"))), s"$root/in_docs")
    checkDrain("streamingDigest") { cp =>
      val digest = EventStream.streamingDigest(spark, docStream,
        s"$root/digest", cp)
      assert(digest.count() === 60L, "one shard per doc id")
    }
    val counted = stream("state")
    checkDrain("drainWithCheckpoint") { cp =>
      EventStream.drainWithCheckpoint(spark,
        EventStream.runningCounts(counted, "part"), cp)
      assert(StateAudit.store(spark, cp).count() === 3L)
    }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val tws = stream("tws")
    spark.conf.set(providerKey, "org.apache.spark.sql.execution." +
      "streaming.state.RocksDBStateStoreProvider")
    try checkDrain("runningCountsTws") { cp =>
      val counts = checkpointedAt(cp)(EventStream.runToCompletion(spark,
        EventStream.runningCountsTws(tws, "part", "ts", "0 seconds",
          3600L * 1000), mode = "update"))
      assert(counts.count() === 3L)
    } finally spark.conf.unset(providerKey)
  }
}
