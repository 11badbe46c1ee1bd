package graft.jobs

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** Per-JVM memo for the staged on-disk builds behind the contract queries
  * (index stores, WARC archive sets): each (prefix, key) is built once into
  * a fresh `java.io.tmpdir` directory named after the prefix, so repeated
  * calls — bench trials, interactive sessions — read the built directory
  * instead of rebuilding it. Every directory made here is deleted at JVM
  * exit. Production jobs build against a durable path themselves.
  */
object Staging {
  private final class Entry(prefix: String, private var build: String => Unit) {
    // built under this entry's own lock, never inside the map's
    // computeIfAbsent: one staged build may request another
    lazy val dir: String = {
      val d = Files.createTempDirectory(prefix)
      created.add(d)
      build(d.toString)
      build = null // drop the closure's plan and session references
      d.toString
    }
  }

  private val entries = new ConcurrentHashMap[(String, String), Entry]()
  private val created = new ConcurrentLinkedQueue[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => created.forEach(p => deleteTree(p))))

  /** The directory `build` filled for (prefix, key), building it on first
    * use. A failed build is forgotten, so the next call builds afresh.
    */
  def cachedDir(prefix: String, key: String)(build: String => Unit): String = {
    val k = (prefix, key)
    val e = entries.computeIfAbsent(k, _ => new Entry(prefix, build))
    try e.dir catch { case t: Throwable => entries.remove(k, e); throw t }
  }

  /** Best-effort recursive delete; a missing path is a no-op. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach { (p: Path) => Files.deleteIfExists(p); () }
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
      finally walk.close()
    }
}
