package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The local file system of every session the engine writes from.
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process for every file and directory Hadoop creates
  * (~1.7 ms each); the raw file system under this one sets the nine
  * `rwx` bits in-process. A mode with bits above `0777` (sticky) still
  * goes to the `chmod` path, which NIO cannot express.
  *
  * It is Hadoop's checksummed `LocalFileSystem` over that raw one:
  * RocksDB's state store casts `FileSystem.getLocal` to
  * `LocalFileSystem`, and streaming checkpoint files keep their `.crc`
  * sidecars. Table writes leave `.crc` files only in their staging
  * directory: [[TableLog.stage]] moves data files, and a `.`-prefixed
  * name is not one. [[NioLocalFileSystem.install]] makes it a session's
  * file system.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  /** Octal 0777: the bits `PosixFilePermission` can set. */
  private val Rwx = Integer.parseInt("777", 8)

  private class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if ((permission.toShort & ~Rwx) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }

  /** Run-time session confs; `newHadoopConf()` copies them into the
    * Hadoop conf of every write, streaming checkpoint and state store:
    *  - `fs.file.impl`: this file system for `file://` paths;
    *  - `fs.file.impl.disable.cache`: the JVM's cached `file://`
    *    instance exists before any install, and `FileSystem.get`'s
    *    cache is keyed by scheme, not by conf;
    *  - `spark.sql.streaming.checkpointFileManagerClass`: the default
    *    manager goes through `FileContext`, which never reaches
    *    `fs.file.impl` and forks `readlink` for each checkpoint file. */
  private val Confs = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      ("org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager"))

  /** Make this the file system of `spark`'s later writes, stream
    * checkpoints and state stores; a no-op once installed. The engine
    * calls it where it creates files through Hadoop: the [[Sinks]]
    * write path, and `EventStream`'s drains and `replay`. */
  def install(spark: SparkSession): Unit =
    if (!Confs.forall { case (k, v) => spark.conf.getOption(k).contains(v) })
      Confs.foreach { case (k, v) => spark.conf.set(k, v) }
}
