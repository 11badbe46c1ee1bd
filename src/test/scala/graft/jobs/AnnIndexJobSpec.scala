package graft.jobs

import graft.engine.{Similarity, SparkTestBase, TempDirs}
import org.scalatest.funsuite.AnyFunSuite

/** IVF index job: persistent build, centroid round-trip, and the contract
  * that a prebuilt-index query equals the inline-fit query (the fit is out
  * of the query path but must not change results).
  */
class AnnIndexJobSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  private def corpus = {
    import spark.implicits._
    (0L until 300L).map { i =>
      val c = (i % 5).toInt
      (i, Array.tabulate(12)(d => (math.cos(c * 17 + d) + 0.02 * math.sin(i * 3 + d)).toFloat))
    }.toDS()
  }

  test("local k-means is deterministic and returns k centers") {
    import spark.implicits._
    val sample = corpus.collect().sortBy(_._1).map(_._2)
    val a = Similarity.localKMeans(sample, 5)
    val b = Similarity.localKMeans(sample, 5)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.length == 5)
  }

  test("build persists centroids and cell-partitioned corpus; load round-trips") {
    val out = tempDir("graft_ann_index").toString
    val built = AnnIndexJob.build(spark, corpus, out, nCells = 5)
    val loaded = AnnIndexJob.loadCentroids(spark, out)
    assert(built.centroids.map(_.toSeq).toSeq == loaded.centroids.map(_.toSeq).toSeq)
    // cell partitioning covers the whole corpus exactly once
    val cells = spark.read.parquet(s"$out/cells")
    assert(cells.count() == 300)
    assert(cells.select("cell").distinct().count() <= 5)
  }

  test("queryIndex prunes to the probed cell partitions and matches the full scan") {
    import spark.implicits._
    val out = tempDir("graft_ann_pruned").toString
    val index = AnnIndexJob.build(spark, corpus, out, nCells = 5)
    // two queries probing 2 cells each touch at most 4 of the 5 cells —
    // pruning must have at least one partition to skip
    val queries = corpus.filter(_._1 < 2).collect().sortBy(_._1)
    val nProbe = 2
    val probed = Similarity.probeAssignments(queries, index.centroids, nProbe).keySet
    assert(probed.size < 5, s"test premise: pruning must have something to skip ($probed)")

    // 1) the scan node must carry a PartitionFilters entry on `cell` — the
    // pruning is resolved at PLANNING time, not as a post-scan filter
    val prunedCells = spark.read.parquet(s"$out/cells")
      .filter(org.apache.spark.sql.functions.col("cell")
        .isin(probed.toSeq.sorted.map(Integer.valueOf): _*))
    val plan = prunedCells.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan).map(_.group(1))
    assert(pf.exists(_.contains("cell")),
      s"expected the cell isin filter resolved as a PLANNING-time partition filter in:\n$plan")
    // and NOT re-evaluated per row: the data/pushed filter slots stay empty
    assert(plan.contains("DataFilters: []") && plan.contains("PushedFilters: []"),
      s"cell must not appear as a row-level filter in:\n$plan")
    // and the pruned scan reads strictly fewer rows than the index holds
    assert(prunedCells.count() < 300)

    // 2) results through the pruned read path equal the inline full scan
    // over the same index (non-probed cells contribute nothing there)
    val pruned = AnnIndexJob.queryIndex(spark, out, queries, 4, nProbe).collect()
      .map(n => (n.query_id, n.rank, n.neighbor_id, math.rint(n.cosine * 1e9))).sorted.toSeq
    val full = Similarity.ivfTopK(corpus, queries, 4, index, nProbe).collect()
      .map(n => (n.query_id, n.rank, n.neighbor_id, math.rint(n.cosine * 1e9))).sorted.toSeq
    assert(pruned == full)
    assert(pruned.nonEmpty)
  }

  test("64-cell balanced quantizer: no empty cells, bounded hotspots, recall witness intact") {
    import spark.implicits._
    // clustered data is the adversarial case for a large k: plain Lloyd's
    // collapses most of 64 centers onto the 5 cluster means, leaving ~59
    // dead cells — the balance passes must refill them by splitting
    val sample = corpus.collect().sortBy(_._1).map(_._2)
    val centers = Similarity.balancedKMeans(sample, 64)
    assert(centers.length == 64)
    // determinism (the split order and 2-means inherit sample order)
    assert(centers.map(_.toSeq).toSeq == Similarity.balancedKMeans(sample, 64).map(_.toSeq).toSeq)
    val sizes = new Array[Int](64)
    sample.foreach(v => sizes(Similarity.nearestCell(v, centers)) += 1)
    assert(sizes.forall(_ > 0), s"empty cells survived the balance passes: ${sizes.toSeq}")
    val mean = sample.length.toDouble / 64
    assert(sizes.max <= (8 * mean).ceil.toInt,
      s"oversized hotspot cell: max=${sizes.max} mean=$mean")

    // the persisted-index query path still works at 64 cells and its
    // recall@5-vs-exact witness (the q47 self-witness contract) holds up
    val out = tempDir("graft_ann_64").toString
    AnnIndexJob.build(spark, corpus, out, nCells = 64, sampleCap = AnnIndexJob.autoSampleCap(64))
    val queries = corpus.filter(_._1 < 5).collect().sortBy(_._1)
    val exact = Similarity.bruteForceTopK(corpus, queries, 5).collect()
      .groupBy(_.query_id).view.mapValues(_.map(_.neighbor_id).toSet).toMap
    val ivf = AnnIndexJob.queryIndex(spark, out, queries, 5, nProbe = 16).collect()
    assert(ivf.groupBy(_.query_id).forall(_._2.length == 5))
    val recall = ivf.groupBy(_.query_id).map { case (q, ns) =>
      ns.count(n => exact(q).contains(n.neighbor_id)) / 5.0
    }
    assert(recall.sum / recall.size >= 0.6,
      s"mean recall@5 collapsed at 64 cells/16 probes: ${recall.toSeq.sorted}")
  }

  test("buildAuto derives cells/sample from the corpus count and builds a usable index") {
    import spark.implicits._
    val out = tempDir("graft_ann_auto").toString
    AnnIndexJob.buildAuto(spark, corpus, out)
    val loaded = AnnIndexJob.loadCentroids(spark, out)
    assert(loaded.centroids.length == AnnIndexJob.autoCells(300)) // = 17
    val queries = corpus.filter(_._1 < 2).collect().sortBy(_._1)
    val res = AnnIndexJob.queryIndex(spark, out, queries, 3, nProbe = 4).collect()
    assert(res.groupBy(_.query_id).forall(_._2.length == 3))
  }

  test("autoCells follows sqrt(N) with clamps") {
    assert(AnnIndexJob.autoCells(0) == 4)
    assert(AnnIndexJob.autoCells(2048) == 45)
    assert(AnnIndexJob.autoCells(1000000) == 1000)
    // upper clamp is the driver-fit feasibility bound (see scaladoc)
    assert(AnnIndexJob.autoCells(5000000000000L) == 4096)
    assert(AnnIndexJob.autoSampleCap(45) == 2048)
    assert(AnnIndexJob.autoSampleCap(1000) == 32000)
    assert(AnnIndexJob.autoSampleCap(4096) == (1 << 17))
  }

  test("prebuilt-index query equals the inline-fit query") {
    import spark.implicits._
    val queries = corpus.filter(_._1 < 5).collect().sortBy(_._1)
    val index = Similarity.buildIvfIndexLocal(corpus, nCells = 5)
    val a = Similarity.ivfTopK(corpus, queries, 4, index, nProbe = 2).collect()
      .map(n => (n.query_id, n.rank, n.neighbor_id)).sorted.toSeq
    val b = Similarity.ivfTopK(corpus, queries, 4, nCells = 5, nProbe = 2).collect()
      .map(n => (n.query_id, n.rank, n.neighbor_id)).sorted.toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }
}
