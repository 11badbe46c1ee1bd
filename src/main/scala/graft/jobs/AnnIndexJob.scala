package graft.jobs

import graft.engine.Similarity
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** ANN index build job: fit the IVF coarse quantizer once, persist it, and
  * write the corpus bucketed by cell id — queries then load centroids (KBs)
  * and scan only their probed cells. This moves the quantizer fit out of
  * the query path (an inline fit at 100-TB scale would be a full ML pass
  * per invocation); the fit itself is a deterministic driver-side k-means
  * over a take-ordered sample (Similarity.localKMeans).
  *
  * Layout: `out/centroids/` (cell, centroid) parquet; `out/cells/`
  * (vec_id, embedding) parquet partitioned by cell — partition pruning
  * turns an nProbe-cell query into an nProbe-partition scan.
  */
object AnnIndexJob {

  /** Cell count as a function of corpus size — the classic IVF sizing rule
    * nCells ≈ √N (balances cells-scanned-per-probe against per-cell scan
    * cost), clamped to [4, 4096]. The UPPER clamp is a driver-fit
    * feasibility bound, not an ideal: the quantizer is a single-threaded
    * driver-side Lloyd's over the sample, O(sample × k × dim × iters) —
    * at 4096 cells × 131k sample it is minutes of driver CPU; the √N
    * ideal for 1e12 rows (≈1M cells) would be days and belongs to a
    * distributed or hierarchical (second-level) quantizer, out of scope
    * here. At the clamp a 1e12-row corpus gets ~244M vectors/cell —
    * coarse but functional with partition pruning; the sandbox's 2k
    * vectors get 45.
    */
  def autoCells(corpusSize: Long): Int =
    math.max(4L, math.min(4096L, math.round(math.sqrt(math.max(0L, corpusSize).toDouble)))).toInt

  /** Quantizer sample size for a cell count: ≥32 sample vectors per cell
    * (below that, Lloyd's + the balance passes fit noise), floored at the
    * legacy 2048; the 131072 cap pairs with autoCells' 4096 clamp to keep
    * the driver-side fit in the minutes range.
    */
  def autoSampleCap(nCells: Int): Int =
    math.max(2048, math.min(1 << 17, 32 * nCells))

  /** [[build]] with size-derived quantizer parameters: one corpus count
    * chooses nCells ≈ √N and a matching sample cap.
    */
  def buildAuto(
      spark: SparkSession,
      corpus: Dataset[(Long, Array[Float])],
      outDir: String): Similarity.IvfIndex = {
    val cells = autoCells(corpus.count())
    build(spark, corpus, outDir, nCells = cells, sampleCap = autoSampleCap(cells))
  }

  def build(
      spark: SparkSession,
      corpus: Dataset[(Long, Array[Float])],
      outDir: String,
      nCells: Int = 16,
      sampleCap: Int = 2048): Similarity.IvfIndex = {
    import spark.implicits._
    val index = Similarity.buildIvfIndexLocal(corpus, nCells, sampleCap)
    val bc = spark.sparkContext.broadcast(index.centroids)
    index.centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq.toDS()
      .toDF("cell", "centroid")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/centroids")
    val cells = corpus.map { case (id, v) =>
        (Similarity.nearestCell(v, bc.value), id, v) // the shared cell rule
      }
      .toDF("cell", "vec_id", "embedding")
    Buckets.write(cells, "cell", nCells, s"$outDir/cells")
    index
  }

  def loadCentroids(spark: SparkSession, outDir: String): Similarity.IvfIndex = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$outDir/centroids")
      .select(col("cell").cast("int"), col("centroid"))
      .as[(Int, Array[Float])].collect().sortBy(_._1)
    Similarity.IvfIndex(rows.map(_._2))
  }

  /** Query the PERSISTED index with partition pruning — the 100-TB read
    * path: load centroids (KBs), compute each query's probe cells, and scan
    * `cells/` with `col("cell").isin(probed)`. `cell` is the parquet
    * partition column, so the filter resolves at planning time
    * (PartitionFilters in the scan node) and only nProbe cells' files are
    * ever opened — the difference between reading nProbe/nCells of the
    * corpus and all of it. Results are identical to the inline full-scan
    * [[Similarity.ivfTopK]] over the same index: non-probed cells
    * contribute nothing there either.
    */
  def queryIndex(
      spark: SparkSession,
      outDir: String,
      queries: Array[(Long, Array[Float])],
      k: Int,
      nProbe: Int): Dataset[Similarity.Neighbor] = {
    val index = loadCentroids(spark, outDir)
    // ONE probe computation feeds both the pruning filter and the scorer —
    // two independent computations could silently diverge
    val probes = Similarity.probeAssignments(queries, index.centroids, nProbe)
    val probed = probes.keys.toArray.sorted
    Similarity.ivfTopKIndexed(Buckets.read(spark, s"$outDir/cells", "cell", probed), probes, k)
  }

  /** [[build]] once per corpus key per JVM ([[Staging.cachedDir]]). */
  def cachedIndexDir(key: String, spark: SparkSession,
      corpus: Dataset[(Long, Array[Float])], nCells: Int = 16): String =
    Staging.cachedDir("graft_ann_index", key)(build(spark, corpus, _, nCells))
}
