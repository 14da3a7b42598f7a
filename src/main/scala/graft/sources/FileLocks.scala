package graft.sources

/** The monitor+flock commit-serialization protocol of [[KafkaReplay]]'s
  * log-dir commits. Same-JVM writers serialize on a monitor keyed by the
  * lock file's CANONICAL path (symlink aliases collapse to one monitor;
  * a second FileChannel lock in one JVM throws instead of blocking);
  * cross-JVM writers serialize on the flock itself.
  */
object FileLocks {

  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body` holding both the per-path JVM monitor and an exclusive
    * flock on `lockFile` (created if absent; parent dir must exist). */
  def withFileLock[A](lockFile: java.io.File)(body: => A): A = {
    val mon = monitors.computeIfAbsent(lockFile.getCanonicalPath,
      _ => new Object)
    mon.synchronized {
      val ch = java.nio.channels.FileChannel.open(
        lockFile.toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val lk = ch.lock()
      try body finally { lk.release(); ch.close() }
    }
  }
}
