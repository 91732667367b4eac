package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system the engine writes its own tables through.
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process for every file and directory a Spark write creates
  * (~1.7 ms each); this one sets the nine `rwx` bits in-process. A mode
  * with bits above `0777` (sticky) still goes to the `chmod` path,
  * which NIO cannot express. Being raw, it writes no `.crc` sidecars,
  * which no table reader wants: [[TableLog.stage]] moves data files
  * only. [[Sinks.writer]] selects it for every table write.
  */
class NioLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~NioLocalFileSystem.Rwx) != 0)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}

object NioLocalFileSystem {
  /** Octal 0777: the bits `PosixFilePermission` can set. */
  private val Rwx = Integer.parseInt("777", 8)
}
