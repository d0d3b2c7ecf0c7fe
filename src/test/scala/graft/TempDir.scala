package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

/** Temp directories for specs: each one is removed at JVM exit, so a
  * test run leaves nothing behind in `java.io.tmpdir`.
  */
object TempDir {
  private val made = new ConcurrentLinkedQueue[Path]()
  // Memo's initializer registers a shutdown hook, which the JVM refuses
  // once shutdown has begun: initialize it now, not from inside ours.
  locally(Memo)
  sys.addShutdownHook(made.forEach(p => Memo.deleteRecursively(p)))

  def apply(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    made.add(p)
    p
  }
}
