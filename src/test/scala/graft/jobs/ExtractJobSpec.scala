package graft.jobs

import graft.engine.{Extraction, SparkTestBase, TempDirs}
import org.scalatest.funsuite.AnyFunSuite

class ExtractJobSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  private def freshDir(): String = {
    val d = tempDir("graft_job").toString
    d
  }

  test("full run writes all buckets with lineage, audit passes") {
    val out = freshDir()
    val pages = Extraction.syntheticPages(spark, 200, 4)
    val rows = ExtractJob.run(spark, pages, out, nBuckets = 8)
    assert(rows.map(_.bucket).sorted == (0 until 8))
    assert(rows.map(_.n_rows).sum == 200)
    val audit = ExtractJob.audit(spark, out).collect()
    assert(audit.length == 8)
    assert(audit.forall(_.getAs[Boolean]("rows_match")))
    assert(audit.forall(_.getAs[Boolean]("checksum_match")))
  }

  test("resume after simulated crash recomputes only pending buckets") {
    val out = freshDir()
    val pages = Extraction.syntheticPages(spark, 200, 4)
    // crash at bucket 5: buckets 0-4 committed
    intercept[RuntimeException] {
      ExtractJob.run(spark, pages, out, nBuckets = 8, failAtBucket = Some(5))
    }
    val committed = ExtractJob.committedBuckets(spark, out)
    assert(committed == Set(0, 1, 2, 3, 4))
    // resume: only 5,6,7 run
    val resumed = ExtractJob.run(spark, pages, out, nBuckets = 8)
    assert(resumed.map(_.bucket).sorted == Seq(5, 6, 7))
    // final state is complete and consistent
    val audit = ExtractJob.audit(spark, out).collect()
    assert(audit.length == 8)
    assert(audit.forall(_.getAs[Boolean]("checksum_match")))
    // and identical to a clean single-shot run (resume introduces no drift)
    val out2 = freshDir()
    ExtractJob.run(spark, pages, out2, nBuckets = 8)
    val a = spark.read.parquet(s"$out/data").select("url", "text_sha256").collect().map(_.toString).sorted
    val b = spark.read.parquet(s"$out2/data").select("url", "text_sha256").collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("second run on completed output is a no-op") {
    val out = freshDir()
    val pages = Extraction.syntheticPages(spark, 50, 2)
    ExtractJob.run(spark, pages, out, nBuckets = 4)
    val again = ExtractJob.run(spark, pages, out, nBuckets = 4)
    assert(again.isEmpty)
  }

  test("resume survives a crash during the FIRST lineage write (file-less _lineage dir)") {
    val out = freshDir()
    // a crash mid-write can leave _lineage holding only _temporary: an
    // unreadable lineage dir must mean 'no committed buckets', not a
    // permanent abort (regression for the resume dead-end)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$out/_lineage/_temporary"))
    assert(ExtractJob.committedBuckets(spark, out).isEmpty)
    val pages = Extraction.syntheticPages(spark, 30, 2)
    val written = ExtractJob.run(spark, pages, out, nBuckets = 3)
    assert(written.map(_.bucket).sorted == Seq(0, 1, 2))
    val audit = ExtractJob.audit(spark, out)
    assert(audit.count() == 3)
    assert(audit.filter("NOT rows_match OR NOT checksum_match").count() == 0)
  }

  test("legacy meta-less stage: refuse with committed buckets, restage with none") {
    def deletePath(p: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    }
    val pages = Extraction.syntheticPages(spark, 60, 2)

    // (a) committed buckets + no meta: NO nBuckets is validatable (the
    // stage dirs only lower-bound the original count; a larger count would
    // commit phantom buckets and mislabel output dirs) — must refuse
    val out = freshDir()
    intercept[RuntimeException] {
      ExtractJob.run(spark, pages, out, nBuckets = 4, failAtBucket = Some(2))
    }
    deletePath(s"$out/_meta_nbuckets") // simulate the pre-meta layout
    val e = intercept[IllegalArgumentException] {
      ExtractJob.run(spark, pages, out, nBuckets = 8)
    }
    assert(e.getMessage.contains("predates bucket-count recording"))
    // same original count also refused: the point is it CANNOT be verified
    val e2 = intercept[IllegalArgumentException] {
      ExtractJob.run(spark, pages, out, nBuckets = 4)
    }
    assert(e2.getMessage.contains("predates bucket-count recording"))

    // (b) a meta-less stage with NO committed buckets is just a cache:
    // dropped and restaged under the new, recorded count — run completes
    val out2 = freshDir()
    intercept[RuntimeException] {
      ExtractJob.run(spark, pages, out2, nBuckets = 4, failAtBucket = Some(0))
    }
    deletePath(s"$out2/_meta_nbuckets")
    deletePath(s"$out2/_lineage")
    val written = ExtractJob.run(spark, pages, out2, nBuckets = 6)
    assert(written.map(_.bucket).sorted == (0 until 6))
    assert(written.map(_.n_rows).sum == 60)
    val audit2 = ExtractJob.audit(spark, out2)
    assert(audit2.filter("NOT rows_match OR NOT checksum_match").count() == 0)
  }

  test("empty buckets commit zero lineage rows and audit green") {
    val out = freshDir()
    val rows = ExtractJob.run(spark, Extraction.syntheticPages(spark, 3, 1), out, nBuckets = 8)
    assert(rows.map(_.bucket).sorted == (0 until 8))
    assert(rows.map(_.n_rows).sum == 3)
    val empty = rows.filter(_.n_rows == 0)
    assert(empty.size >= 5)
    assert(empty.forall(r => r.checksum == 0L && r.n_tokens == 0L))
    val audit = ExtractJob.audit(spark, out)
    assert(audit.count() == 8)
    assert(audit.filter("NOT rows_match OR NOT checksum_match").count() == 0)
  }

  test("a crash waits for the lineage commit in flight") {
    val out = freshDir()
    intercept[RuntimeException] {
      ExtractJob.run(spark, Extraction.syntheticPages(spark, 40, 2), out, nBuckets = 4, failAtBucket = Some(1))
    }
    assert(ExtractJob.committedBuckets(spark, out) == Set(0))
  }

  test("no lineage commit is left pending when run returns") {
    val out = freshDir()
    val rows = ExtractJob.run(spark, Extraction.syntheticPages(spark, 40, 2), out, nBuckets = 4)
    assert(ExtractJob.committedBuckets(spark, out) == rows.map(_.bucket).toSet)
  }

  test("a fresh run is two jobs plus two per bucket, all in the caller's job group") {
    val out = freshDir()
    val pages = Extraction.syntheticPages(spark, 200, 4)
    val (_, jobs) = SparkTestBase.jobsDuring(ExtractJob.run(spark, pages, out, nBuckets = 4))
    assert(jobs == 2 + 2 * 4)
  }

  test("lineage rows match the golden (bucket, n_rows, n_tokens, checksum)") {
    val out = freshDir()
    val rows = ExtractJob.run(spark, Extraction.syntheticPages(spark, 200, 4), out, nBuckets = 8)
    val got = rows.map(r => (r.bucket, r.n_rows, r.n_tokens, r.checksum)).sortBy(_._1)
    // captured from the four-jobs-per-bucket implementation this path replaced
    assert(got == Seq(
      (0, 28L, 4800L, -548541793227131418L),
      (1, 28L, 5101L, 8843241178288928082L),
      (2, 35L, 5987L, 4701812082386902629L),
      (3, 20L, 3321L, -6416937032579146918L),
      (4, 21L, 3150L, -7629610700987887854L),
      (5, 23L, 3841L, 6823060209689251778L),
      (6, 23L, 4025L, -4712521658263433039L),
      (7, 22L, 3471L, -5677569820963384590L),
    ))
  }
}
