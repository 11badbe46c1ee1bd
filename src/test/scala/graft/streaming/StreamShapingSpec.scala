package graft.streaming

import graft.engine.{Dedup, Sampling, SparkTestBase}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The corpus-shaping operators are streaming-safe BY CONSTRUCTION: every
  * sampling/mixing decision is a pure function of (key, salt, weight) —
  * no state store, no watermark, no batch boundary sensitivity — so the
  * SAME operator code runs on a readStream and emits byte-identical
  * decisions in any micro-batch arrangement. splitByCluster runs as a
  * stream-static join (static resolveClusters assignment, broadcast).
  * These specs pin that parity against the batch path.
  */
class StreamShapingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("stratifiedSample -> epochRepeat on a stream == batch, any batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (0L until 400L).map(i => (i, if (i % 2 == 0) "en" else "de"))
    def shape(df: org.apache.spark.sql.DataFrame) =
      Sampling.epochRepeat(
        Sampling.stratifiedSample(df, "id", "lang", Map("en" -> 0.75), 0.5, "ss"),
        "id", "lang", Map("en" -> 1.5), 1.0, "er")
    val input = MemoryStream[(Long, String)]
    val qn = "shaping_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = shape(input.toDS().toDF("id", "lang"))
      .writeStream.outputMode("append").format("memory").queryName(qn).start()
    try {
      input.addData(rows.take(150): _*)
      q.processAllAvailable()
      input.addData(rows.drop(150): _*)
      q.processAllAvailable()
      val got = spark.table(qn).as[(Long, String, Long)].collect().sorted.toSeq
      val want = shape(rows.toDF("id", "lang"))
        .as[(Long, String, Long)].collect().sorted.toSeq
      assert(got == want)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("splitByCluster as a stream-static join: stream labels == batch labels") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val assignment = Dedup.resolveClusters(
      Seq(Dedup.Pair(0L, 1L), Dedup.Pair(1L, 2L)).toDS())
    val splits = Seq("train" -> 0.8, "test" -> 0.2)
    def split(df: org.apache.spark.sql.DataFrame) =
      Sampling.splitByCluster(df, "id", assignment, splits, "cs2")
    val input = MemoryStream[Long]
    val qn = "clsplit_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = split(input.toDS().toDF("id"))
      .writeStream.outputMode("append").format("memory").queryName(qn).start()
    try {
      input.addData(0L until 120L: _*)
      q.processAllAvailable()
      input.addData(120L until 200L: _*)
      q.processAllAvailable()
      val got = spark.table(qn).as[(Long, String)].collect().sorted.toSeq
      val want = split((0L until 200L).toDF("id"))
        .as[(Long, String)].collect().sorted.toSeq
      assert(got == want)
      // the cluster {0,1,2} is split-pure on the stream too
      assert(got.filter(_._1 <= 2L).map(_._2).distinct.size == 1)
    } finally q.stop()
  }
}
