package graft.streaming

import graft.engine.{Extraction, PageRow, SparkTestBase, TempDirs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The PRODUCTION sink shape for the q44 streaming-extraction path: a
  * checkpointed parquet file sink. The memory sink in q44 is an oracle
  * surface only; this spec retires the caveat by proving the real sink's
  * exactly-once resume contract — the query is STOPPED mid-stream and a
  * brand-new query restarted on the same checkpoint picks up the remaining
  * input without dropping or duplicating a single document.
  */
class StreamFileSinkSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  test("checkpointed parquet sink resumes exactly-once after a restart") {
    import spark.implicits._
    val base = tempDir("graft_stream_sink")
    val inDir = base.resolve("in").toString
    val outDir = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))

    def stage(wave: Int, ids: Range): Unit =
      ids.map(i => (i.toLong, s"doc $i content alpha beta gamma delta"))
        .toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$inDir/wave=$wave")

    stage(1, 0 until 20)

    val schema = spark.read.parquet(inDir).schema
    def startQuery() = {
      val extracted = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1) // several micro-batches per wave
        .parquet(inDir)
        .select(col("doc_id"), col("text")) // drop the wave partition column
        .as[(Long, String)]
        .map { case (id, text) => PageRow(id.toString, null, Array.empty[Byte], text, "") }
        .mapPartitions(_.map(Extraction.extractOne))
        .select(col("url").cast("long").as("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"), col("text_sha256"))
      extracted.writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    }

    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop() // simulated shutdown after wave 1 is committed

    stage(2, 20 until 50) // arrives while the job is down

    val q2 = startQuery() // brand-new query, same checkpoint
    q2.processAllAvailable()
    q2.stop()

    val out = spark.read.parquet(outDir)
    assert(out.count() == 50, "every doc exactly once across the restart")
    assert(out.select("doc_id").distinct().count() == 50, "no duplicates")
    // the streamed rows match the batch pipeline byte-for-byte
    val batch = (0 until 50).map { i =>
      val d = Extraction.extractOne(
        PageRow(i.toString, null, Array.empty[Byte], s"doc $i content alpha beta gamma delta", ""))
      (i.toLong, d.n_tokens.toLong, d.text_sha256)
    }.toSet
    val got = out.as[(Long, Long, String)].collect().toSet
    assert(got == batch)
  }
}
