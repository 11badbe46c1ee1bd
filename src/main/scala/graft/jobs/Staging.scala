package graft.jobs

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Per-JVM memo for the staged on-disk builds behind the contract queries
  * (index stores, WARC archive sets): each (prefix, key) is built once into
  * a fresh `java.io.tmpdir` directory named after the prefix, so repeated
  * calls — bench trials, interactive sessions — read the built directory
  * instead of rebuilding it. Every directory made here is deleted at JVM
  * exit. Production jobs build against a durable path themselves.
  * It also holds the inferred schema of each parquet table the contract
  * queries read ([[parquetSchema]]).
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

  private final class Inferred(val mtime: Long, private var read: () => StructType) {
    // inferred under this holder's own lock, like Entry: a Spark job never
    // runs inside the map's compute, so other tables' lookups do not wait
    lazy val schema: StructType = { val s = read(); read = null; s }
  }

  private val schemas = new ConcurrentHashMap[String, Inferred]()

  /** The schema `spark.read.parquet(path)` infers, inferred once per table
    * version: keyed by the table root's qualified path and checked against
    * its modification time, so a table rewritten in place is inferred
    * again and replaces the older version's entry. Inference runs a Spark
    * job; a memoized schema lets a query be built with none. The first
    * reader's parquet settings decide the memoized schema. A failed
    * inference is forgotten, and a missing table fails as
    * `spark.read.parquet` does.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = try Some(fs.getFileStatus(p)) catch { case _: java.io.FileNotFoundException => None }
    status.fold(spark.read.parquet(path).schema) { st =>
      val key = fs.makeQualified(p).toString
      val mtime = st.getModificationTime
      val e = schemas.compute(key, (_, old) =>
        if (old != null && old.mtime == mtime) old else new Inferred(mtime, () => spark.read.parquet(path).schema))
      try e.schema catch { case t: Throwable => schemas.remove(key, e); throw t }
    }
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
