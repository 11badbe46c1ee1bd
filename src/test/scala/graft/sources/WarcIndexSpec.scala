package graft.sources

import graft.corpus.WebCorpus
import graft.engine.{SparkTestBase, TempDirs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The WARC member index (.cdx analogue) and the range-split seek reader
  * (q91): offsets exactly tile each archive, the indexed read is lossless
  * vs the sequential parse, single records are randomly addressable, and a
  * stale index fails loud.
  */
class WarcIndexSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  private def pages(n: Int): DataFrame = {
    import spark.implicits._
    (0L until n.toLong).map(WebCorpus.page).toDS()
      .select(col("url"), col("warc_ts"), col("html"))
  }

  private def tmp(): String =
    tempDir("graft_warcidx").toString

  private def build(gz: Boolean, n: Int = 90): (String, DataFrame) = {
    val dir = tmp()
    val idx = Warc.writeIndexed(pages(n).repartition(3), dir, gzipPerRecord = gz)
      .cache()
    idx.count() // executes the write
    (dir, idx)
  }

  private def checkTiling(dir: String, idx: DataFrame): Unit = {
    // offsets are contiguous from 0 and sum to the exact file size
    import spark.implicits._
    val perFile = idx.select("warc_file", "warc_rec", "offset", "length")
      .as[(String, Int, Long, Long)].collect().groupBy(_._1)
    assert(perFile.size == 3)
    perFile.foreach { case (file, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.head._3 == 0L, s"$file first member not at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 == b._3, s"$file gap after rec ${a._2}")
        case _ =>
      }
      val size = new java.io.File(file.stripPrefix("file:")).length()
      assert(sorted.map(_._4).sum == size, s"$file member lengths != file size")
      // record ordinals are dense 0..n-1 per file (0 = warcinfo)
      assert(sorted.map(_._2).toSeq == sorted.indices.map(identity))
    }
  }

  private def lossless(gz: Boolean): Unit = {
    val (dir, idx) = build(gz)
    checkTiling(dir, idx)
    val seq = Warc.read(spark, dir)
    val rng = Warc.readIndexed(spark, idx.filter(col("warc_type") === "response"))
    assert(rng.count() == seq.count())
    // the sequential reader lists files fully-qualified (file:/…); the
    // index stores the writer's unqualified spelling — normalize (the
    // stripFileScheme convention)
    def bare(c: org.apache.spark.sql.Column) = regexp_replace(c, "^file:", "")
    val cmp = seq.select(col("url"), sha2(col("html"), 256).as("s0"),
        bare(col("warc_file")).as("f0"), col("warc_rec").as("r0"))
      .join(rng.select(col("url"), sha2(col("html"), 256).as("s1"),
        bare(col("warc_file")).as("f1"), col("warc_rec").as("r1")), Seq("url"), "full")
    assert(cmp.filter(col("s0").isNull || col("s1").isNull).count() == 0, "url sets differ")
    assert(cmp.filter(col("s0") =!= col("s1")).count() == 0, "payload bytes differ")
    assert(cmp.filter(col("f0") =!= col("f1") || col("r0") =!= col("r1")).count() == 0,
      "lineage differs")
    idx.unpersist()
  }

  test("indexed read == sequential read, gzip members")(lossless(gz = true))
  test("indexed read == sequential read, plain archives")(lossless(gz = false))

  test("random access: one arbitrary record reads alone") {
    import spark.implicits._
    val (_, idx) = build(gz = true)
    val one = idx.filter(col("warc_type") === "response")
      .orderBy("warc_file", "offset").limit(5).orderBy(col("offset").desc).limit(1)
    val got = Warc.readIndexed(spark, one).select("url").as[String].collect()
    val want = one.select("url").as[String].collect()
    assert(got.toSeq == want.toSeq)
    idx.unpersist()
  }

  test("non-response index rows are skipped, not emitted") {
    val (_, idx) = build(gz = true, n = 10)
    // feed the FULL index including warcinfo rows: reader must skip them
    assert(Warc.readIndexed(spark, idx).count() == 10)
    idx.unpersist()
  }

  test("stale index (wrong offset) fails loud") {
    val (_, idx) = build(gz = true, n = 10)
    val bogus = idx.filter(col("warc_type") === "response")
      .limit(1).withColumn("offset", col("offset") + 7)
    val e = intercept[org.apache.spark.SparkException] {
      Warc.readIndexed(spark, bogus).count()
    }
    assert(e.getMessage != null)
    idx.unpersist()
  }
}
