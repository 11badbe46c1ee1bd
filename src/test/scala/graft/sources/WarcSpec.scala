package graft.sources

import graft.corpus.WebCorpus
import graft.engine.{SparkTestBase, TempDirs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** WARC container round-trip: byte-identical payloads through write→read
  * (plain and per-record-gzip), warcinfo skipping, lineage columns, loud
  * failure on corrupt archives.
  */
class WarcSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  private def pages(n: Int): DataFrame = {
    import spark.implicits._
    (0L until n.toLong).map(WebCorpus.page).toDS()
      .select(col("url"), col("warc_ts"), col("html"))
  }

  private def tmp(): String =
    tempDir("graft_warc").toString

  private def roundTrip(gz: Boolean): Unit = {
    val n = 120
    val dir = tmp()
    val src = pages(n).repartition(3)
    val written = Warc.write(src, dir, gzipPerRecord = gz)
    assert(written.map(_._2).sum == n)
    assert(written.size == 3)
    assert(written.forall(_._1.endsWith(if (gz) ".warc.gz" else ".warc")))
    val back = Warc.read(spark, dir)
    assert(back.count() == n)
    // byte-identical payload + second-aligned timestamp per url
    val cmp = src
      .select(col("url"), col("warc_ts").as("ts0"), sha2(col("html"), 256).as("sha0"))
      .join(back.select(col("url"), col("warc_ts").as("ts1"), sha2(col("html"), 256).as("sha1"),
        col("warc_file"), col("warc_rec")), Seq("url"), "full")
    assert(cmp.filter(col("sha0").isNull || col("sha1").isNull).count() == 0, "url sets differ")
    assert(cmp.filter(col("sha0") =!= col("sha1")).count() == 0, "payload bytes differ")
    assert(cmp.filter(col("ts0") =!= col("ts1")).count() == 0, "timestamps differ")
    // lineage: the warcinfo lead record is SKIPPED but still counted, so
    // response ordinals start at 1 in every archive
    val firstRec = back.groupBy("warc_file").agg(min("warc_rec").as("m"))
    assert(firstRec.filter(col("m") =!= 1).count() == 0)
  }

  test("round-trip, plain archives")(roundTrip(gz = false))
  test("round-trip, per-record gzip members (crawl convention)")(roundTrip(gz = true))

  test("empty input partitions write no archive") {
    val dir = tmp()
    val written = Warc.write(pages(5).repartition(8), dir, gzipPerRecord = false)
    assert(written.map(_._2).sum == 5)
    assert(written.forall(_._2 > 0), "an empty partition must not emit an empty archive")
  }

  test("corrupt archive fails loud with file context") {
    val dir = tmp()
    Warc.write(pages(3).coalesce(1), dir, gzipPerRecord = false)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "bad.warc"),
      "NOT-A-WARC header\r\n\r\n".getBytes("UTF-8"))
    val e = intercept[org.apache.spark.SparkException] {
      Warc.read(spark, dir).count()
    }
    val msg = Option(e.getCause).map(_.toString).getOrElse(e.toString)
    assert(msg.contains("bad.warc"), s"cause must name the corrupt file, got: $msg")
  }

  test("truncated block fails loud, never resyncs") {
    val dir = tmp()
    Warc.write(pages(3).coalesce(1), dir, gzipPerRecord = false)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    java.nio.file.Files.write(f.toPath, java.util.Arrays.copyOf(bytes, bytes.length - 40))
    intercept[org.apache.spark.SparkException] {
      Warc.read(spark, dir).count()
    }
  }

  test("extraction over WARC-read rows matches extraction over the source rows") {
    import spark.implicits._
    val dir = tmp()
    Warc.write(pages(40), dir)
    val viaWarc = Warc.read(spark, dir)
      .select(col("url"), col("warc_ts"), col("html"), lit("").as("text"), lit("").as("lang"))
      .as[graft.engine.PageRow]
      .mapPartitions(_.map(p => (p.url, graft.engine.Extraction.extractOne(p).text_sha256)))
      .toDF("url", "sha")
    val direct = (0L until 40L).map(WebCorpus.page).map { p =>
      (p.url, graft.engine.Extraction.extractOne(
        graft.engine.PageRow(p.url, p.warc_ts, p.html, "", "")).text_sha256)
    }.toDF("url", "sha")
    val joined = viaWarc.withColumnRenamed("sha", "sha_w")
      .join(direct.withColumnRenamed("sha", "sha_d"), Seq("url"), "full")
    assert(joined.filter(col("sha_w").isNull || col("sha_d").isNull ||
      col("sha_w") =!= col("sha_d")).count() == 0)
  }
}
