package graft

/** Registered scratch directories for queries that persist intermediate
  * parquet state (index builds, micro-batch sources, CDC stores).
  *
  * Deletion must be DEFERRED, not immediate: many queries return a
  * DataFrame that lazily re-reads the files they just wrote (e.g. a
  * persisted minhash index), so the dir has to outlive the query
  * function. Every dir is registered here and swept (a) explicitly by
  * the mains ([[MainSession.cleanup]]) after each result is consumed
  * and (b) by a JVM shutdown hook as a backstop — so a full 240-query
  * sweep leaves /tmp as it found it.
  */
object Scratch {
  private val dirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => sweep()))
  }

  /** Create and register a temp directory; same contract as
    * `Files.createTempDirectory` (callers `.toString` or pass the
    * Path on unchanged). */
  def dir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(p)
    p
  }

  /** Delete every registered dir (recursively, best-effort); safe to
    * call repeatedly — the queue drains exactly once per entry. */
  def sweep(): Unit = {
    var p = dirs.poll()
    while (p != null) {
      try org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
      catch { case _: Throwable => () }
      p = dirs.poll()
    }
  }
}
