package graft.jobs

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Fingerprint
import graft.engine.Dedup

/** Incremental NEAR-duplicate index: the MinHash-LSH complement of
  * [[DedupIndexJob]]'s exact snapshot index. The historical corpus is
  * summarized ONCE into persisted signature + band tables; each new crawl
  * batch then finds its near-duplicates against the INDEX — the corpus
  * text is never re-shingled, re-hashed, or even read per batch. This is
  * the missing cross-snapshot face of the in-corpus near-dedup chain
  * (`Dedup.candidatePairs` → `verifyPairs` → `resolveClusters` →
  * `dedupNear`): at 100 TB the historical side must amortize to a compact
  * artifact, exactly as the sha index does for exact dedup.
  *
  * Index layout under `outDir` (plain parquet, the repo's Iceberg
  * stand-in):
  *   - `bands/` — one row per (band key, doc id), PARTITIONED BY
  *     `bucket` = [[Buckets.of]] the band key. A probe computes its
  *     batch's band keys, collects the ≤ nBuckets DISTINCT touched bucket
  *     ids (a bounded driver list, the [[AnnIndexJob]] probe discipline),
  *     and reads ONLY those partitions — resolved as planning-time
  *     `PartitionFilters`, spec-asserted.
  *   - `sigs/`  — (id, sig ARRAY<LONG>), PARTITIONED BY
  *     `sbucket` = [[Buckets.of]] the id; the estimated-Jaccard
  *     verify reads only the buckets the candidate ids land in.
  *     numPerm longs/doc (~0.5 KB at 64 permutations) vs the corpus —
  *     the 200 000× summarization that makes per-batch probing cheap.
  *   - `meta/`  — (n_buckets, shingle_k, num_perm, bands, n_docs): the
  *     signature parameters are part of the index identity (a probe MUST
  *     hash with the build's exact parameters), so they persist with it.
  *
  * Scale shape of a probe: batch signatures are one narrow pass; the
  * candidate join shuffles the (band key, id) pairs of the BATCH against
  * the pruned bands partitions — a plain SMJ over shuffle stages, i.e. the
  * join shape AQE's OptimizeSkewedJoin CAN split if a boilerplate band key
  * is hot (contrast dedupLines' post-aggregate build side, where it
  * provably cannot — see PLANS.md round 4). Hot band keys are further
  * bounded upstream: the pipeline contract runs EXACT dedup before
  * near-dedup, so identical shells never reach the band table.
  *
  * Caller contract: batch ids and indexed ids share one namespace and must
  * be distinct across the two sides (crawl ids are globally unique). A
  * batch id already present in the index pairs with itself at estimated
  * Jaccard 1.0; [[probe]] drops such self-pairs defensively.
  */
object NearDupIndexJob {

  final case class Meta(nBuckets: Int, shingleK: Int, numPerm: Int,
      bands: Int, nDocs: Long)

  /** Build the index from the historical corpus: one narrow signature
    * pass, then two partitioned writes (each one exchange on its
    * partition column).
    */
  def build(spark: SparkSession, corpus: Dataset[(Long, String)],
      outDir: String, nBuckets: Int, shingleK: Int = 3,
      numPerm: Int = Fingerprint.DefaultNumPerm,
      bands: Int = Fingerprint.DefaultBands): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val sigs = Dedup.signatures(corpus, shingleK, numPerm, bands).persist()
    try {
      writeTables(sigs, outDir, nBuckets, SaveMode.Overwrite)
      val nDocs = spark.read.parquet(s"$outDir/sigs").count()
      Buckets.writeMeta(spark, s"$outDir/meta",
        Seq(Meta(nBuckets, shingleK, numPerm, bands, nDocs)))
    } finally sigs.unpersist()
  }

  /** The band and signature rows of `sigs`, each into its partitioned
    * table: a build overwrites, an update appends into the same layout.
    */
  private def writeTables(sigs: Dataset[Dedup.Sig], dir: String, nBuckets: Int,
      mode: SaveMode): Unit = {
    import sigs.sparkSession.implicits._
    Buckets.write(
      sigs.flatMap(s => s.bands.map(b => (b, s.id))).toDF("bkey", "id")
        .withColumn("bucket", Buckets.of(col("bkey"), nBuckets)),
      "bucket", nBuckets, s"$dir/bands", mode)
    Buckets.write(
      sigs.map(s => (s.id, s.sig)).toDF("id", "sig")
        .withColumn("sbucket", Buckets.of(col("id"), nBuckets)),
      "sbucket", nBuckets, s"$dir/sigs", mode)
  }

  def readMeta(spark: SparkSession, indexDir: String): Meta =
    Buckets.readMeta[Meta](spark, s"$indexDir/meta").head

  /** Near-duplicate candidates of a batch against the index, scored by
    * estimated Jaccard from the persisted signatures. Returns
    * `ScoredPair(a = batch id, b = indexed id, estimated_jaccard)` for
    * EVERY banded candidate, unfiltered: a downstream exact verify joins
    * the texts back (q100's shape), so estimation noise cannot drop a true
    * pair the bands surfaced. A caller without an exact stage filters on
    * `estimated_jaccard` itself.
    */
  def probe(spark: SparkSession, batch: Dataset[(Long, String)],
      indexDir: String): Dataset[Dedup.ScoredPair] = {
    import spark.implicits._
    val meta = readMeta(spark, indexDir)
    val batchSigs =
      Dedup.signatures(batch, meta.shingleK, meta.numPerm, meta.bands)
        .localCheckpoint(true)
    val batchBands = batchSigs.flatMap(s => s.bands.map(b => (b, s.id)))
      .toDF("bkey", "batch_id")
      .withColumn("bucket", Buckets.of(col("bkey"), meta.nBuckets))

    // each touched list is ≤ nBuckets ints — bounded by construction (the
    // IVF probe-list rule)
    val indexBands =
      Buckets.readTouched(spark, s"$indexDir/bands", "bucket", batchBands.select("bucket")) match {
        case Some(bands) => bands
        case None => return spark.emptyDataset[Dedup.ScoredPair]
      }
    val cands = batchBands
      .join(indexBands.select(col("bkey"), col("id").as("hist_id")), "bkey")
      .filter(col("batch_id") =!= col("hist_id"))
      .select("batch_id", "hist_id").distinct()
      .localCheckpoint(true)

    val histSigs = Buckets.readTouched(spark, s"$indexDir/sigs", "sbucket",
        cands.select(Buckets.of(col("hist_id"), meta.nBuckets))) match {
      case Some(sigs) => sigs.select(col("id").as("hist_id"), col("sig").as("hist_sig"))
      case None => return spark.emptyDataset[Dedup.ScoredPair]
    }
    cands
      .join(histSigs, "hist_id")
      .join(batchSigs.select(col("id").as("batch_id"), col("sig").as("batch_sig")),
        "batch_id")
      .select(col("batch_id"), col("hist_id"), col("batch_sig"), col("hist_sig"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (a, b, sa, sb) =>
        Dedup.ScoredPair(a, b, Fingerprint.estimatedJaccard(sa, sb))
      }
  }

  /** Fold a batch into the index WITHOUT rebuilding it: ids not yet
    * indexed append their signature and band rows into the partition
    * layout (touched partitions gain files; untouched files are never
    * rewritten — parquet append, the Iceberg-commit stand-in). Novelty is
    * decided by ID against the pruned sig table, so re-running the same
    * update is idempotent. Cost is O(batch), never O(corpus). Returns the
    * number of newly indexed docs.
    *
    * The crawl loop this serves: `probe` a batch, near-dedup it against
    * history, then `update` with the SURVIVORS so the next batch dedups
    * against them too — the same loop [[DedupIndexJob.update]] closes for
    * exact dedup.
    */
  def update(spark: SparkSession, batch: Dataset[(Long, String)],
      indexDir: String): Long = {
    import spark.implicits._
    val meta = readMeta(spark, indexDir)
    val batchSigs =
      Dedup.signatures(batch, meta.shingleK, meta.numPerm, meta.bands)
        .localCheckpoint(true)
    val ids = batchSigs.map(_.id).toDF("id")
      .withColumn("sbucket", Buckets.of(col("id"), meta.nBuckets))
    val existing =
      Buckets.readTouched(spark, s"$indexDir/sigs", "sbucket", ids.select("sbucket")) match {
        case Some(sigs) => sigs.select("id")
        case None => return 0L
      }
    val freshIds = ids.join(existing, Seq("id"), "left_anti")
      .select("id").localCheckpoint(true)
    val nFresh = freshIds.count()
    if (nFresh == 0) return 0L
    writeTables(batchSigs.toDF().join(freshIds, "id").as[Dedup.Sig].localCheckpoint(true),
      indexDir, meta.nBuckets, SaveMode.Append)
    Buckets.writeMeta(spark, s"$indexDir/meta", Seq(meta.copy(nDocs = meta.nDocs + nFresh)))
    nFresh
  }

  /** [[build]] once per corpus key per JVM ([[Staging.cachedDir]]). */
  def cachedIndexDir(key: String, spark: SparkSession,
      corpus: Dataset[(Long, String)], nBuckets: Int): String =
    Staging.cachedDir("graft_neardup_index", key)(build(spark, corpus, _, nBuckets))
}
