package graft

import graft.engine.{SparkTestBase, TempDirs}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Smoke: every SparkEntry query runs on sf0.001 and every oracle key has a
  * query (the driver contract invariants).
  */
class QueriesSpec extends AnyFunSuite with TempDirs {
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

  test("building q23 again in one JVM runs no Spark job; a table rewritten in place is read with its new schema") {
    import spark.implicits._
    val q23 = SparkEntry.queries("q23_extract_sha")
    val sf = tempDir("graft_sf").toString
    val docs = s"$sf/documents.parquet"
    Seq((1L, "a b", "x"), (2L, "c", "y")).toDF("doc_id", "text", "lang").write.parquet(docs)
    q23(spark, sf)
    // the first build inferred the schema (one job); a second infers none
    assert(SparkTestBase.jobsDuring(q23(spark, sf))._2 == 0)
    assert(graft.jobs.Staging.parquetSchema(spark, docs).fieldNames.toSeq == Seq("doc_id", "text", "lang"))
    spark.range(3, 6).select(col("id").as("doc_id"), lit(7).as("source"), lit("d e f").as("text"))
      .write.mode("overwrite").parquet(docs)
    assert(graft.jobs.Staging.parquetSchema(spark, docs).fieldNames.toSeq == Seq("doc_id", "source", "text"))
    assert(q23(spark, sf).as[(Long, Long, String)].collect().toSeq.map(r => (r._1, r._2)) ==
      Seq((3L, 3L), (4L, 3L), (5L, 3L)))
  }

  test("a missing table fails as an unmemoized parquet read does") {
    val sf = tempDir("graft_sf").toString
    def failure(read: => Any): (Class[_], String) =
      try { read; fail("read a missing table") } catch { case e: Exception => (e.getClass, e.getMessage) }
    assert(failure(SparkEntry.queries("q23_extract_sha")(spark, sf)) ==
      failure(spark.read.parquet(s"$sf/documents.parquet")))
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
