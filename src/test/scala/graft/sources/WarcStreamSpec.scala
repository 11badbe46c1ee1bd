package graft.sources

import graft.corpus.WebCorpus
import graft.engine.{SparkTestBase, TempDirs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Continuous WARC ingest: per-arrival micro-batches with exactly-once file
  * tracking, parity with the batch reader, and the stateless stream-static
  * snapshot-dedup filter.
  */
class WarcStreamSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  private def pages(from: Long, until: Long): DataFrame = {
    import spark.implicits._
    (from until until).map(WebCorpus.page).toDS()
      .select(col("url"), col("warc_ts"), col("html"))
  }

  /** Stage `df` as archives in a scratch dir, then drop them into `watch`
    * under batch-unique names (Warc.write reuses part numbers per call, so
    * a second write into the same watched dir would collide).
    */
  private def deliver(df: DataFrame, watch: java.nio.file.Path, tag: String): Unit = {
    val scratch = tempDir("graft_warc_deliver")
    Warc.write(df.repartition(2), scratch.toString)
    val listing = java.nio.file.Files.list(scratch)
    try {
      val it = listing.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".warc.gz"))
          java.nio.file.Files.copy(p, watch.resolve(s"$tag-${p.getFileName}"))
      }
    } finally listing.close()
  }

  test("arriving archives stream exactly once; rows match the batch reader") {
    val watch = tempDir("graft_warc_watch")
    deliver(pages(0, 60), watch, "b1")
    val qname = "warc_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = Warc.readStream(spark, watch.toString)
      .select(col("url"), sha2(col("html"), 256).as("sha"))
      .writeStream.outputMode("append").format("memory").queryName(qname).start()
    try {
      q.processAllAvailable()
      assert(spark.table(qname).count() == 60)
      // second delivery: ONLY the new archives parse (seen-log exactly-once)
      deliver(pages(60, 100), watch, "b2")
      q.processAllAvailable()
      val got = spark.table(qname)
      assert(got.count() == 100, "batch-2 records must arrive exactly once")
      assert(got.select("url").distinct().count() == 100)
      // byte parity with the batch reader over the same directory
      val batch = Warc.read(spark, watch.toString)
        .select(col("url"), sha2(col("html"), 256).as("sha_b"))
      val cmp = got.join(batch, Seq("url"), "full")
      assert(cmp.filter(col("sha").isNull || col("sha_b").isNull ||
        col("sha") =!= col("sha_b")).count() == 0)
    } finally q.stop()
  }

  test("stream-static snapshot dedup: streaming novelAgainst equals the batch path") {
    import spark.implicits._
    // index over 200 snapshot texts
    val snapshot = (0L until 200L).map(i => (i, s"indexed page $i"))
      .toDF("doc_id", "text")
    val idx = tempDir("graft_idx_stream").toString
    graft.jobs.DedupIndexJob.build(spark, snapshot, "text", idx, nBuckets = 8)
    // batch: 50 duplicates of the snapshot + 50 novel + a null text
    val batchRows = ((0L until 50L).map(i => (1000L + i, s"indexed page ${i * 4}")) ++
      (0L until 50L).map(i => (2000L + i, s"unseen page $i")) ++
      Seq((3000L, null: String)))
    val batchDf = batchRows.toDF("doc_id", "text")
    val expected = graft.jobs.DedupIndexJob.novelAgainst(spark, batchDf, "text", idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expected.size == 51) // 50 novel + the null-folded row
    // the same rows through a parquet-backed stream
    val stage = tempDir("graft_stream_batch")
    batchDf.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val schema = spark.read.parquet(stage.toString).schema
    val stream = spark.readStream.schema(schema).parquet(stage.toString)
    val qname = "novel_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = graft.jobs.DedupIndexJob.novelAgainstStream(spark, stream, "text", idx)
      .writeStream.outputMode("append").format("memory").queryName(qname).start()
    try {
      q.processAllAvailable()
      val got = spark.table(qname)
      assert(got.columns.toSeq == Seq("doc_id", "text"), "internal columns must not leak")
      assert(got.select("doc_id").collect().map(_.getLong(0)).toSet == expected)
    } finally q.stop()
  }
}
