package graft

import java.nio.file.{Files, LinkOption, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

/** Scratch directories that live until the JVM exits. The stream lanes
  * and the session warehouse hand back DataFrames that read them
  * lazily, so they cannot go when the call that made them returns; and
  * `File.deleteOnExit` never removes a non-empty directory. A registry
  * deletes each of its directories recursively in `cleanup()`; the
  * shared one runs it from a single JVM shutdown hook. Symbolic links
  * inside are removed, never followed. */
final class TempDirs {
  private val dirs = new ConcurrentLinkedQueue[Path]()

  def create(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    dirs.add(dir)
    dir
  }

  /** Deletes every directory created so far, with everything in it. */
  def cleanup(): Unit = Iterator.continually(dirs.poll()).takeWhile(_ != null).foreach { dir =>
    try {
      if (Files.exists(dir, LinkOption.NOFOLLOW_LINKS)) {
        val paths = Files.walk(dir)
        try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
        finally paths.close()
      }
    } catch {
      case e: Exception => System.err.println(s"graft: could not delete $dir: $e")
    }
  }
}

object TempDirs {
  private lazy val shared: TempDirs = {
    val t = new TempDirs
    sys.addShutdownHook(t.cleanup())
    t
  }

  /** A new temp directory, deleted with its contents when the JVM exits. */
  def create(prefix: String): Path = shared.create(prefix)
}
