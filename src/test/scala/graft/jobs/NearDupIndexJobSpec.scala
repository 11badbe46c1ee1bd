package graft.jobs

import graft.core.Fingerprint
import graft.engine.{Dedup, PropCheck, SparkTestBase, TempDirs}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

class NearDupIndexJobSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // historical corpus: two near-identical docs (0, 1), two unrelated
  private def hist = Seq(
    (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    (2L, "one two three four five six seven eight nine ten"),
    (3L, "cooking pasta tonight with garlic olive oil and basil leaves")
  ).toDS()

  // batch: an exact copy of 0, a near copy of 2, and a novel doc
  private def batch = Seq(
    (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (101L, "one two three four five six seven eight nine eleven"),
    (102L, "completely novel content about distant mountains and rivers")
  ).toDS()

  private def freshDir() =
    tempDir("graft_ndi_spec").toString

  private def bruteForce(threshold: Double): Set[(Long, Long)] = {
    val h = hist.collect().map { case (id, t) => (id, Fingerprint.shingles(t, 3)) }
    val b = batch.collect().map { case (id, t) => (id, Fingerprint.shingles(t, 3)) }
    (for {
      (bid, bs) <- b; (hid, hs) <- h
      if Fingerprint.jaccard(bs, hs) >= threshold
    } yield (bid, hid)).toSet
  }

  test("probe finds the exact copy and the near copy, not the novel doc") {
    val dir = freshDir()
    NearDupIndexJob.build(spark, hist, dir, nBuckets = 8)
    val got = NearDupIndexJob.probe(spark, batch, dir)
      .filter(_.estimated_jaccard >= 0.5)
      .collect().map(p => (p.a, p.b)).toSet
    assert(got.contains((100L, 0L)), s"exact copy must collide in every band: $got")
    assert(!got.exists(_._1 == 102L), s"novel doc must not pair: $got")
    // estimated >= 0.5 candidates verified exactly must equal brute force
    val verified = Dedup.exactJaccard(
      hist.union(batch),
      NearDupIndexJob.probe(spark, batch, dir).map(p => Dedup.Pair(p.a, p.b)))
      .filter(_.estimated_jaccard >= 0.6)
      .collect().map(p => (p.a, p.b)).toSet
    assert(verified == bruteForce(0.6), s"got $verified want ${bruteForce(0.6)}")
  }

  test("band read prunes: planning-time PartitionFilters, empty row filters") {
    val dir = freshDir()
    // 64 buckets, one-doc probe (16 band keys) — most buckets must be skipped
    NearDupIndexJob.build(spark, hist, dir, nBuckets = 64)
    val meta = NearDupIndexJob.readMeta(spark, dir)
    val bb = Dedup.signatures(batch.filter(_._1 == 100L),
        meta.shingleK, meta.numPerm, meta.bands)
      .flatMap(_.bands)
      .select(pmod(xxhash64(col("value")), lit(64L)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).sorted
    assert(bb.length < 64, s"test premise: pruning must have buckets to skip (${bb.toList})")
    val pruned = spark.read.parquet(s"$dir/bands")
      .filter(col("bucket").isin(bb.map(Integer.valueOf): _*))
    val plan = pruned.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan).map(_.group(1))
    assert(pf.exists(_.contains("bucket")),
      s"expected the bucket isin resolved as a planning-time partition filter in:\n$plan")
    assert(plan.contains("DataFilters: []") && plan.contains("PushedFilters: []"),
      s"bucket must not appear as a row-level filter in:\n$plan")
    assert(pruned.count() < spark.read.parquet(s"$dir/bands").count())
  }

  test("update == build-from-scratch; re-update is a no-op") {
    val a = hist.filter(_._1 < 2)
    val b = hist.filter(_._1 >= 2)
    val incDir = freshDir()
    NearDupIndexJob.build(spark, a, incDir, nBuckets = 8)
    assert(NearDupIndexJob.update(spark, b, incDir) == 2L)
    val fullDir = freshDir()
    NearDupIndexJob.build(spark, hist, fullDir, nBuckets = 8)
    def probeSet(d: String) = NearDupIndexJob.probe(spark, batch, d)
      .collect().map(p => (p.a, p.b, math.round(p.estimated_jaccard * 1e6))).toSet
    assert(probeSet(incDir) == probeSet(fullDir))
    assert(NearDupIndexJob.readMeta(spark, incDir).nDocs == 4L)
    // same batch again: novelty is decided by id, so nothing appends
    assert(NearDupIndexJob.update(spark, b, incDir) == 0L)
    assert(NearDupIndexJob.readMeta(spark, incDir).nDocs == 4L)
  }

  test("self-pairs dropped when a batch id is already indexed") {
    val dir = freshDir()
    NearDupIndexJob.build(spark, hist, dir, nBuckets = 8)
    val got = NearDupIndexJob.probe(spark, hist.filter(_._1 == 0L), dir)
      .collect()
    assert(!got.exists(p => p.a == p.b), s"self-pair leaked: ${got.toList}")
    // doc 0 still pairs with its near-identical sibling 1
    assert(got.exists(p => p.a == 0L && p.b == 1L))
  }

  test("random splits: build then update equals build from scratch") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val doc = Gen.choose(3, 10).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val cases = for {
      n <- Gen.choose(1, 12)
      texts <- Gen.listOfN(n, doc)
      // docs [0, cut) are built, docs [cut, n) arrive as the update batch,
      // which also repeats the first `again` indexed docs (already present
      // by id, so they add nothing)
      cut <- Gen.choose(1, n)
      again <- Gen.choose(0, cut)
      nBuckets <- Gen.oneOf(1, 2, 7, 16)
    } yield (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, cut, again, nBuckets)
    def tables(dir: String) = Seq("bands", "sigs")
      .map(t => SparkTestBase.exactRows(spark.read.parquet(s"$dir/$t")))
    PropCheck(Prop.forAllNoShrink(cases) { case (docs, cut, again, nBuckets) =>
      val incDir = freshDir()
      NearDupIndexJob.build(spark, docs.take(cut).toDS(), incDir, nBuckets)
      val added = NearDupIndexJob.update(spark, (docs.drop(cut) ++ docs.take(again)).toDS(), incDir)
      val fullDir = freshDir()
      NearDupIndexJob.build(spark, docs.toDS(), fullDir, nBuckets)
      val ctx = s"docs=$docs cut=$cut again=$again nBuckets=$nBuckets"
      ((added == docs.size - cut) :| s"$ctx added=$added") &&
        ((NearDupIndexJob.readMeta(spark, incDir) == NearDupIndexJob.readMeta(spark, fullDir)) :|
          s"$ctx meta") &&
        ((tables(incDir) == tables(fullDir)) :| s"$ctx tables")
    }, minSuccessful = 12)
  }
}
