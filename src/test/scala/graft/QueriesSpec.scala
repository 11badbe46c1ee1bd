package graft

import graft.engine.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Smoke: every SparkEntry query runs on sf0.001 and every oracle key has a
  * query (the driver contract invariants).
  */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  val dir = "/root/testdata/sf0.001"

  test("oracle keys are a subset of query keys") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("q44 deletes its staged stream source once the query stops") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def staged(): Set[String] = {
      val ls = java.nio.file.Files.newDirectoryStream(tmp, "graft_stream_docs*")
      try ls.asScala.map(_.getFileName.toString).toSet finally ls.close()
    }
    val before = staged()
    assert(SparkEntry.queries("q44_stream_extract")(spark, dir).collect().nonEmpty)
    assert(staged().diff(before).isEmpty, "q44 left a graft_stream_docs* directory behind")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns a schema") {
      val df = fn(spark, dir)
      val n = df.count()
      assert(df.schema.fields.nonEmpty)
      // every query except degenerate filters should produce rows at sf0.001
      if (name != "q06_anti_join") assert(n > 0, s"$name returned 0 rows")
    }
  }
}
