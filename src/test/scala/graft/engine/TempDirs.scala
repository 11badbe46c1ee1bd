package graft.engine

import graft.jobs.Staging
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch directories for a suite: each is a fresh directory under
  * `java.io.tmpdir`, deleted with everything in it once the suite has run.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh empty directory named after `prefix`. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try dirs.forEach(d => Staging.deleteTree(d)) finally super.afterAll()
}
