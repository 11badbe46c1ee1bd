package graft.jobs

import graft.engine.{Retrieval, SparkTestBase, TempDirs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RetrievalIndexJobSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox sleeps all day long today"),
    (2L, "slow green turtle walks under the busy bridge"),
    (3L, "the quick brown fox jumps over the lazy dog again and again"),
    (4L, "completely unrelated words about cooking pasta tonight")
  ).toDF("doc_id", "text")

  private def queries = Seq((0L, "the quick brown fox jumps")).toDF("query_id", "qtext")

  test("pruned search: planning-time PartitionFilters on bucket, empty row-level filters") {
    val out = tempDir("graft_bm25_spec").toString
    RetrievalIndexJob.build(spark, corpus, "doc_id", "text", out, nBuckets = 16)

    // rebuild the bucket set the search computes, assert it actually prunes
    val qt = Retrieval.queryTerms(queries)
    val buckets = qt.select(pmod(xxhash64(col("term")), lit(16L)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).sorted
    assert(buckets.length < 16, s"test premise: pruning must have buckets to skip ($buckets)")

    val pruned = spark.read.parquet(s"$out/postings")
      .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
    val plan = pruned.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan).map(_.group(1))
    assert(pf.exists(_.contains("bucket")),
      s"expected the bucket isin filter resolved as a PLANNING-time partition filter in:\n$plan")
    assert(plan.contains("DataFilters: []") && plan.contains("PushedFilters: []"),
      s"bucket must not appear as a row-level filter in:\n$plan")
    // the pruned scan reads strictly fewer postings than the index holds
    val total = spark.read.parquet(s"$out/postings").count()
    assert(pruned.count() < total)
  }

  test("search pushes the query-term list into the postings scan (PushedFilters In(term))") {
    val out = tempDir("graft_bm25_spec_tp").toString
    RetrievalIndexJob.build(spark, corpus, "doc_id", "text", out, nBuckets = 16)
    val plan = RetrievalIndexJob.search(spark, out, queries, 1, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(term"),
      s"expected the distinct query terms as a row-level pushed filter in:\n$plan")
  }

  test("persisted pruned path equals the in-memory index bit-for-bit at 4dp") {
    val out = tempDir("graft_bm25_spec2").toString
    RetrievalIndexJob.build(spark, corpus, "doc_id", "text", out, nBuckets = 16)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("id"), col("qn"), col("n_matched"),
        col("tf_mass"), round(col("score"), 4).as("s4"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val persisted = canon(RetrievalIndexJob.search(spark, out, queries, 1, 5))
    val inline = canon(Retrieval.search(
      Retrieval.buildIndex(corpus, "doc_id", "text"), queries, 1, 5))
    assert(persisted.nonEmpty && persisted == inline)
  }

  test("denormalized df in the postings matches the term-stats table") {
    val out = tempDir("graft_bm25_spec3").toString
    RetrievalIndexJob.build(spark, corpus, "doc_id", "text", out, nBuckets = 4)
    val fromIndex = spark.read.parquet(s"$out/postings")
      .select("term", "df").distinct()
    val fromStats = Retrieval.buildIndex(corpus, "doc_id", "text").termStats
    assert(fromIndex.except(fromStats).isEmpty && fromStats.except(fromIndex).isEmpty)
  }

  test("meta round-trips the corpus scalars") {
    val out = tempDir("graft_bm25_spec4").toString
    RetrievalIndexJob.build(spark, corpus, "doc_id", "text", out, nBuckets = 8)
    val m = spark.read.parquet(s"$out/meta").head
    val idx = Retrieval.buildIndex(corpus, "doc_id", "text")
    assert(m.getAs[Long]("n_docs") == idx.nDocs &&
      m.getAs[Long]("total_terms") == idx.totalTerms &&
      m.getAs[Int]("n_buckets") == 8)
  }

  // ---------------------------------------------------------- segments

  test("segmented search equals the monolithic index at 4dp") {
    val out = tempDir("graft_bm25_seg1").toString
    RetrievalIndexJob.addSegment(spark, out,
      corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text", "even", nBuckets = 16)
    RetrievalIndexJob.addSegment(spark, out,
      corpus.filter(col("doc_id") % 2 === 1), "doc_id", "text", "odd", nBuckets = 16)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("id"), col("qn"), col("n_matched"),
        col("tf_mass"), round(col("score"), 4).as("s4"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val segmented = canon(RetrievalIndexJob.searchSegments(spark, out, queries, 1, 5))
    val inline = canon(Retrieval.search(
      Retrieval.buildIndex(corpus, "doc_id", "text"), queries, 1, 5))
    assert(segmented.nonEmpty && segmented == inline)
  }

  test("adding a segment leaves existing segment files byte-untouched") {
    val out = tempDir("graft_bm25_seg2").toString
    RetrievalIndexJob.addSegment(spark, out,
      corpus.filter(col("doc_id") < 3), "doc_id", "text", "s0", nBuckets = 8)
    def snapshot(): Map[String, Long] = {
      val base = java.nio.file.Paths.get(out, "segments", "s0")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.getLastModifiedTime(f).toMillis)
        .toMap
    }
    val before = snapshot()
    RetrievalIndexJob.addSegment(spark, out,
      corpus.filter(col("doc_id") >= 3), "doc_id", "text", "s1", nBuckets = 8)
    assert(snapshot() == before, "existing segment files must not be rewritten")
  }

  test("global df is the sum of per-segment dfs (disjoint batches)") {
    val out = tempDir("graft_bm25_seg3").toString
    RetrievalIndexJob.addSegment(spark, out,
      corpus.filter(col("doc_id") < 3), "doc_id", "text", "a", nBuckets = 4)
    RetrievalIndexJob.addSegment(spark, out,
      corpus.filter(col("doc_id") >= 3), "doc_id", "text", "b", nBuckets = 4)
    val summed = spark.read.parquet(s"$out/segments/a/terms")
      .unionByName(spark.read.parquet(s"$out/segments/b/terms"))
      .groupBy("term").agg(sum("df").as("df"))
    val whole = Retrieval.buildIndex(corpus, "doc_id", "text").termStats
    assert(summed.select("term", "df").except(whole).isEmpty &&
      whole.except(summed.select("term", "df")).isEmpty)
  }

  test("segments disagreeing on n_buckets refuse; empty dir refuses; bad name refuses") {
    val out = tempDir("graft_bm25_seg4").toString
    intercept[IllegalArgumentException] {
      RetrievalIndexJob.searchSegments(
        spark, tempDir("graft_bm25_seg5").toString + "/none",
        queries)
    }
    intercept[IllegalArgumentException] {
      RetrievalIndexJob.addSegment(spark, out, corpus, "doc_id", "text", "../evil")
    }
    RetrievalIndexJob.addSegment(spark, out, corpus.filter(col("doc_id") < 2),
      "doc_id", "text", "x", nBuckets = 4)
    RetrievalIndexJob.addSegment(spark, out, corpus.filter(col("doc_id") >= 2),
      "doc_id", "text", "y", nBuckets = 8)
    intercept[IllegalArgumentException] {
      RetrievalIndexJob.searchSegments(spark, out, queries)
    }
  }

  test("adding a segment name again replaces it: one registry row, unchanged scores") {
    val out = tempDir("graft_bm25_seg6").toString
    val docs = Seq((0L, "alpha beta gamma"), (1L, "beta gamma delta"), (2L, "epsilon zeta eta"))
      .toDF("doc_id", "text")
    val q = Seq((0L, "beta gamma")).toDF("query_id", "qtext")
    def scores(): Seq[(Long, Double)] = RetrievalIndexJob.searchSegments(spark, out, q)
      .select("id", "score").as[(Long, Double)].collect().sortBy(_._1)
      .map { case (id, sc) => (id, math.rint(sc * 1e4) / 1e4) }.toSeq
    def registry(): Seq[(String, Long, Long, Int)] = spark.read.parquet(s"$out/segmeta")
      .select("segment", "n_docs", "total_terms", "n_buckets").as[(String, Long, Long, Int)]
      .collect().sortBy(_._1).toSeq
    RetrievalIndexJob.addSegment(spark, out, docs, "doc_id", "text", "a", nBuckets = 4)
    // df 2 of 3 docs and dl = avgdl = 2: each score is the idf, ln(1.6)
    assert(scores() == Seq((0L, 0.47), (1L, 0.47)))
    RetrievalIndexJob.addSegment(spark, out, docs, "doc_id", "text", "a", nBuckets = 4)
    assert(scores() == Seq((0L, 0.47), (1L, 0.47)))
    assert(registry() == Seq(("a", 3L, 6L, 4)))
    // re-adding one segment keeps every other segment's row
    RetrievalIndexJob.addSegment(spark, out, Seq((3L, "theta iota kappa")).toDF("doc_id", "text"),
      "doc_id", "text", "b", nBuckets = 4)
    RetrievalIndexJob.addSegment(spark, out, docs, "doc_id", "text", "a", nBuckets = 4)
    assert(registry() == Seq(("a", 3L, 6L, 4), ("b", 1L, 2L, 4)))
  }
}
