package graft.jobs

import graft.engine.{PropCheck, SparkTestBase, TempDirs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Incremental snapshot-dedup index: persisted build round-trip, the
  * no-false-negative bloom contract, exactness of the batch query path
  * against a reference anti-join, and the planning-time bucket pruning of
  * the exact-confirm read.
  */
class DedupIndexJobSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  private def snapshot: DataFrame = {
    import spark.implicits._
    (0L until 400L).map(i => (i, s"snapshot document $i body with shared tail"))
      .toDF("doc_id", "text")
  }

  /** Batch mixing every interesting row kind: cross-id exact duplicates of
    * snapshot texts, novel texts, an intra-batch duplicate pair, and a
    * null text (folds to "" — novel iff the snapshot holds no ""/null).
    */
  private def batch: DataFrame = {
    import spark.implicits._
    val dupOfSnapshot = (0L until 100L)
      .map(i => (10000L + i, s"snapshot document ${i * 3} body with shared tail"))
    val novel = (0L until 100L).map(i => (20000L + i, s"fresh crawl page $i"))
    val nullText = Seq((30000L, null: String))
    (dupOfSnapshot ++ novel ++ nullText).toDF("doc_id", "text")
  }

  private def buildOnce(): String = {
    val out = tempDir("graft_dedup_idx").toString
    DedupIndexJob.build(spark, snapshot, "text", out, nBuckets = 16)
    out
  }

  private def referenceNovel(b: DataFrame): Set[Long] = {
    val snapShas = snapshot.select(sha2(coalesce(col("text"), lit("")), 256).as("sha"))
    b.withColumn("sha", sha2(coalesce(col("text"), lit("")), 256))
      .join(snapShas, Seq("sha"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
  }

  test("build persists meta, distinct shas bucketed, blooms with zero false negatives") {
    val out = buildOnce()
    val meta = DedupIndexJob.readMeta(spark, out)
    assert(meta.nBuckets == 16)
    assert(meta.nKeys == 400) // all snapshot texts distinct
    val hashes = spark.read.parquet(s"$out/hashes")
    assert(hashes.count() == 400)
    assert(hashes.select("sha").distinct().count() == 400)
    // bucket column replays pmod(xxhash64(sha), nBuckets)
    val bad = hashes.filter(
      col("bucket") =!= pmod(xxhash64(col("sha")), lit(16L)).cast("int")).count()
    assert(bad == 0)
    // THE bloom contract: every indexed sha probes positive in its bucket
    val blooms = spark.read.parquet(s"$out/bloom").collect()
      .map(r => r.getAs[Int]("bucket") -> BloomFilter.readFrom(r.getAs[Array[Byte]]("bits")))
      .toMap
    val pairs = hashes.select("bucket", "sha").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(pairs.forall { case (b, s) => blooms(b).mightContainString(s) },
      "a false negative would silently pass a duplicate through as novel")
  }

  test("novelAgainst equals the exact anti-join (bloom route, materialized)") {
    val out = buildOnce()
    val expected = referenceNovel(batch)
    // null text folds to "" which the snapshot lacks — it must survive as
    // novel rather than vanish from both branches
    assert(expected.contains(30000L))
    val withBloom = DedupIndexJob.novelAgainst(spark, batch, "text", out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val mat = DedupIndexJob.novelAgainst(spark, batch.localCheckpoint(true), "text", out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(withBloom == expected)
    assert(mat == expected)
    // batch columns pass through; the internal sha/bucket columns do not
    val cols = DedupIndexJob.novelAgainst(spark, batch, "text", out).columns.toSeq
    assert(cols == Seq("doc_id", "text"))
  }

  test("exact-confirm read is bucket-pruned at planning time") {
    val out = buildOnce()
    // a batch that is ALL duplicates concentrated on few buckets: every row
    // is a candidate, so the confirm join must run, but only over the
    // touched buckets' partitions
    val narrow = snapshot.filter(col("doc_id") < 24)
      .select((col("doc_id") + 50000L).as("doc_id"), col("text"))
    val touched = narrow
      .select(pmod(xxhash64(sha2(col("text"), 256)), lit(16L)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).sorted
    assert(touched.length < 16, "test premise: pruning needs buckets to skip")
    val prunedRead = spark.read.parquet(s"$out/hashes")
      .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
    val plan = prunedRead.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan).map(_.group(1))
    assert(pf.exists(_.contains("bucket")),
      s"bucket isin must resolve as a planning-time partition filter in:\n$plan")
    assert(plan.contains("DataFilters: []") && plan.contains("PushedFilters: []"),
      s"bucket must not be a row-level filter in:\n$plan")
    assert(prunedRead.count() < 400)
    // and the operator returns zero novel rows for the all-duplicate batch
    assert(DedupIndexJob.novelAgainst(spark, narrow, "text", out).count() == 0)
  }

  test("fully-novel batch short-circuits: result complete with empty confirm side") {
    val out = buildOnce()
    import spark.implicits._
    val fresh = (0L until 50L).map(i => (i, s"never indexed page $i")).toDF("doc_id", "text")
    val novel = DedupIndexJob.novelAgainst(spark, fresh, "text", out)
    assert(novel.count() == 50)
  }

  test("update folds a batch in: equals build-from-scratch, touches only its buckets") {
    import spark.implicits._
    val out = buildOnce()
    val before = DedupIndexJob.readMeta(spark, out)
    // batch: 60 novel texts + 30 already-indexed (must add nothing)
    val upBatch = ((0L until 60L).map(i => (40000L + i, s"second crawl page $i")) ++
      (0L until 30L).map(i => (41000L + i, s"snapshot document ${i * 2} body with shared tail")))
      .toDF("doc_id", "text")
    val untouchedBloomFiles = {
      val touched = upBatch.select(
        pmod(xxhash64(sha2(coalesce(col("text"), lit("")), 256)), lit(16L)).cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      new java.io.File(s"$out/bloom").listFiles()
        .filter(f => f.getName.startsWith("bucket=") &&
          !touched.contains(f.getName.stripPrefix("bucket=").toInt))
        .flatMap(_.listFiles().map(f => f.getPath -> f.lastModified())).toMap
    }
    val (added, touched) = DedupIndexJob.update(spark, upBatch, "text", out)
    assert(added == 60)
    assert(touched > 0 && touched <= 16)
    val after = DedupIndexJob.readMeta(spark, out)
    assert(after.nKeys == before.nKeys + 60)
    // dynamic partition overwrite must leave untouched buckets' files alone
    untouchedBloomFiles.foreach { case (path, mtime) =>
      val f = new java.io.File(path)
      assert(f.exists() && f.lastModified() == mtime, s"untouched bloom rewritten: $path")
    }
    // the updated index answers like a from-scratch build over the union
    val scratch = tmpOut()
    DedupIndexJob.build(spark, snapshot.unionByName(upBatch), "text", scratch, nBuckets = 16)
    val probe = ((0L until 40L).map(i => (50000L + i, s"second crawl page ${i * 2}")) ++
      (0L until 40L).map(i => (51000L + i, s"third crawl page $i")) ++
      Seq((52000L, "snapshot document 6 body with shared tail"))).toDF("doc_id", "text")
    def novelIds(idx: String) = DedupIndexJob.novelAgainst(spark, probe, "text", idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(novelIds(out) == novelIds(scratch))
    // no false negatives over the UNION after the partial bloom rebuild
    val hashes = spark.read.parquet(s"$out/hashes")
    assert(hashes.count() == before.nKeys + 60)
    val blooms = spark.read.parquet(s"$out/bloom").collect()
      .map(r => r.getAs[Int]("bucket") -> BloomFilter.readFrom(r.getAs[Array[Byte]]("bits")))
      .toMap
    val pairs = hashes.select("bucket", "sha").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(pairs.forall { case (b, s) => blooms(b).mightContainString(s) })
    // idempotence: the same batch again adds nothing
    assert(DedupIndexJob.update(spark, upBatch, "text", out) == ((0L, 0)))
  }

  private def tmpOut(): String =
    tempDir("graft_dedup_idx_scratch").toString

  test("autoBuckets scales ~N/4M within [8, 65536]") {
    assert(DedupIndexJob.autoBuckets(0L) == 8)
    assert(DedupIndexJob.autoBuckets(1000000L) == 8)
    assert(DedupIndexJob.autoBuckets(400000000L) == 100)
    assert(DedupIndexJob.autoBuckets(1000000000000L) == 65536)
  }

  test("build rejects degenerate parameters") {
    intercept[IllegalArgumentException] {
      DedupIndexJob.build(spark, snapshot, "text", "/tmp/x", nBuckets = 0)
    }
    intercept[IllegalArgumentException] {
      DedupIndexJob.build(spark, snapshot, "text", "/tmp/x", nBuckets = 4, fpp = 1.5)
    }
  }

  test("random batches: novelAgainst equals a naive anti-join on the text") {
    import spark.implicits._
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
    val text: Gen[String] = Gen.frequency(
      1 -> Gen.const(null: String),
      1 -> Gen.const(""),
      8 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" "))))
    val cases = for {
      snap <- Gen.choose(1, 30).flatMap(Gen.listOfN(_, text))
      // fresh texts (repeats likely: the vocabulary is small) and copies of
      // indexed texts under new ids; sometimes no rows at all
      fresh <- Gen.choose(0, 20).flatMap(Gen.listOfN(_, text))
      copies <- Gen.choose(0, 15).flatMap(Gen.listOfN(_, Gen.oneOf(snap)))
      batch <- Gen.frequency(1 -> Gen.const(Nil), 7 -> Gen.const(fresh ++ copies))
      nBuckets <- Gen.oneOf(1, 2, 7, 16)
      // at fpp 0.5 about half the novel rows pass the bloom and need the confirm
      fpp <- Gen.oneOf(0.01, 0.5)
    } yield (snap, batch, nBuckets, fpp)
    PropCheck(Prop.forAllNoShrink(cases) { case (snap, batch, nBuckets, fpp) =>
      val out = tempDir("graft_dedup_idx_prop").toString
      DedupIndexJob.build(spark, snap.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"), "text", out, nBuckets, fpp)
      val rows = batch.zipWithIndex.map { case (t, i) => (1000L + i, t) }
      val indexed = snap.map(t => Option(t).getOrElse("")).toSet
      val want = rows.filterNot { case (_, t) => indexed(Option(t).getOrElse("")) }.sorted
      val got = DedupIndexJob.novelAgainst(spark, rows.toDF("doc_id", "text"), "text", out)
        .as[(Long, String)].collect().toSeq.sorted
      (got == want) :| s"snap=$snap batch=$batch nBuckets=$nBuckets fpp=$fpp\nwant=$want\ngot=$got"
    }, minSuccessful = 16)
  }
}
