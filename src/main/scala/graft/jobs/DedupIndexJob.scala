package graft.jobs

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Incremental snapshot-dedup index: dedup a NEW crawl batch against a
  * persisted index of everything already in the corpus, without re-scanning
  * the corpus per batch. This is the cross-snapshot case the in-corpus
  * operators ([[graft.engine.Dedup.dedupExact]] etc.) do not cover: at
  * 100 TB the historical corpus must be summarized ONCE into a compact
  * reusable artifact, and each incoming batch (typically ≪ the corpus)
  * deduped against the artifact — never against the corpus itself.
  *
  * Index layout under `outDir` (all plain parquet):
  *   - `hashes/`  — distinct sha256(text) of every snapshot document,
  *                  PARTITIONED BY `bucket` (= [[Buckets.of]] the sha).
  *                  ~72 bytes/distinct doc vs the full corpus: the exact
  *                  confirm path reads only the buckets a batch touches
  *                  (planning-time PartitionFilters, same discipline as
  *                  [[AnnIndexJob.queryIndex]]).
  *   - `bloom/`   — one Bloom filter per bucket over the same shas
  *                  (bucket, bits). No false negatives by construction, so
  *                  a bloom-negative batch row is PROVABLY novel and skips
  *                  the confirm join entirely; false positives are removed
  *                  by the exact anti-join, so the final result is exact
  *                  and independent of `fpp`.
  *   - `meta/`    — (n_buckets, fpp, n_keys): the bucket function must be
  *                  replayed identically at query time, so it is persisted
  *                  with the index rather than re-supplied by the caller.
  *
  * Scale contract: the query path broadcasts ALL bloom filters (~1.2
  * bytes/key at fpp=1e-2 ⇒ ~1.2 GB per 10^9 distinct docs). That fits a
  * large-executor profile up to a few 10^9 docs; beyond that, raise `fpp`
  * (the result stays exact — only the candidate volume grows). The build
  * is two linear passes over the snapshot (one distinct-shuffle on sha,
  * one partial-aggregated bloom build).
  */
object DedupIndexJob {

  /** Bucket count as a function of snapshot size: ~4M distinct keys per
    * bucket keeps each bucket's bloom at ~5 MB (fpp 1e-2) and each
    * `hashes/` partition at ~290 MB — one comfortable read unit. Clamped
    * to [8, 65536]: 8 so pruning is observable even on toy corpora, 65536
    * capping file-count fan-out (at the cap a 10^12-doc snapshot gets
    * ~15M keys/bucket — bloom ~18 MB/bucket, still broadcastable
    * per-bucket, but ~1.2 TB in total, far past one broadcast).
    */
  def autoBuckets(snapshotSize: Long): Int =
    math.max(8L, math.min(65536L, math.max(0L, snapshotSize) / 4000000L)).toInt

  /** One bloom filter per group, merged map-side: zero allocates the
    * filter sized for the EXPECTED bucket population (all buckets share
    * one size, so mergeInPlace never sees incompatible operands).
    */
  private class BloomAgg(expected: Long, fpp: Double)
      extends Aggregator[String, BloomFilter, Array[Byte]] {
    def zero: BloomFilter = BloomFilter.create(expected, fpp)
    def reduce(b: BloomFilter, sha: String): BloomFilter = { b.putString(sha); b }
    def merge(a: BloomFilter, b: BloomFilter): BloomFilter = { a.mergeInPlace(b); a }
    def finish(b: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    def bufferEncoder: Encoder[BloomFilter] = Encoders.javaSerialization[BloomFilter]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** The shared key rule: sha256 over the text (collision-negligible, so
    * "same sha" IS "same text" for dedup purposes), null folded to the
    * empty string — a null-text row dedups against empty-text rows rather
    * than silently vanishing from both branches of the query path.
    */
  private def shaOf(textCol: String) = sha2(coalesce(col(textCol), lit("")), 256)

  /** Build the index from a snapshot. Each bloom is sized from the actual
    * distinct count with 1.5× headroom for bucket imbalance (xxhash64
    * spreads near-uniformly, so 1.5× covers the binomial tail at ≥64
    * expected keys/bucket).
    */
  def build(
      spark: SparkSession,
      snapshot: DataFrame,
      textCol: String,
      outDir: String,
      nBuckets: Int,
      fpp: Double = 0.01): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    Buckets.write(
      snapshot.select(shaOf(textCol).as("sha")).distinct()
        .withColumn("bucket", Buckets.of(col("sha"), nBuckets)),
      "bucket", nBuckets, s"$outDir/hashes")
    // second pass over the COMPACT artifact, not the snapshot: count sizes
    // the blooms, then one partial-aggregated pass builds them
    val hashes = spark.read.parquet(s"$outDir/hashes")
    val nKeys = hashes.count()
    writeBlooms(hashes, math.max(64L, math.ceil(nKeys.toDouble * 1.5 / nBuckets).toLong),
      fpp, nBuckets, s"$outDir/bloom")
    Buckets.writeMeta(spark, s"$outDir/meta", Seq(IndexMeta(nBuckets, fpp, nKeys)))
  }

  /** One bloom per bucket of `hashes`, each sized for `expected` keys. */
  private def writeBlooms(hashes: DataFrame, expected: Long, fpp: Double, nBuckets: Int,
      dir: String, touchedOnly: Boolean = false): Unit = {
    val bloomUdaf = udaf(new BloomAgg(expected, fpp), Encoders.STRING)
    Buckets.write(hashes.groupBy("bucket").agg(bloomUdaf(col("sha")).as("bits")),
      "bucket", nBuckets, dir, touchedOnly = touchedOnly)
  }

  /** Fold a new batch into an existing index WITHOUT rebuilding it: the
    * batch's truly-novel shas (vs the index, via [[novelAgainst]]'s own
    * pruned path) append to `hashes/`, and ONLY the touched buckets'
    * bloom filters are rebuilt — dynamic partition overwrite leaves every
    * untouched bucket's files alone. This is the production crawl loop:
    * dedup a batch against the index, then register the batch's survivors
    * so the NEXT batch dedups against them too. Cost per update is
    * O(batch) + O(touched-bucket re-read), never O(corpus).
    *
    * Rebuilt blooms are sized for the LARGEST touched bucket's post-update
    * population (one shared size per aggregation pass — the mergeInPlace
    * compatibility rule), so smaller touched buckets over-allocate a few
    * bits rather than under-provision.
    *
    * Not transactional: a crash between the hashes append and the bloom
    * overwrite leaves blooms stale-but-SAFE for novelty queries in one
    * direction only (a sha in hashes/ but not yet in its bloom could pass
    * the bloom gate as "provably novel" and be re-admitted). Production
    * wraps both writes in one Iceberg snapshot commit (the repo-wide
    * stand-in rule); here, re-running update with the same batch restores
    * consistency because the append path re-derives novelty from hashes/,
    * not from the blooms. Returns (novel keys added, buckets touched).
    */
  def update(spark: SparkSession, batch: DataFrame, textCol: String,
      indexDir: String): (Long, Int) = {
    val meta = readMeta(spark, indexDir)
    val novel = batch
      .select(shaOf(textCol).as("sha")).distinct()
      .withColumn("bucket", Buckets.of(col("sha"), meta.nBuckets))
    // exact anti-join against the pruned sha table (bloom skipped: an
    // update must be exact against hashes/, the source of truth)
    val existing =
      Buckets.readTouched(spark, s"$indexDir/hashes", "bucket", novel.select("bucket")) match {
        case Some(hashes) => hashes.select("sha")
        case None => return (0L, 0)
      }
    val fresh = novel.join(existing, Seq("sha"), "left_anti").localCheckpoint(true)
    val nFresh = fresh.count()
    if (nFresh == 0) return (0L, 0)
    Buckets.write(fresh, "bucket", meta.nBuckets, s"$indexDir/hashes", SaveMode.Append)
    // rebuild ONLY the touched buckets' blooms from the updated sha table
    val freshBuckets = Buckets.touched(fresh.select("bucket"))
    val rebuilt = Buckets.read(spark, s"$indexDir/hashes", "bucket", freshBuckets)
    val maxBucket = rebuilt.groupBy("bucket").count()
      .agg(max("count")).head().getLong(0)
    writeBlooms(rebuilt, math.max(64L, math.ceil(maxBucket * 1.5).toLong), meta.fpp,
      meta.nBuckets, s"$indexDir/bloom", touchedOnly = true)
    Buckets.writeMeta(spark, s"$indexDir/meta", Seq(meta.copy(nKeys = meta.nKeys + nFresh)))
    (nFresh, freshBuckets.length)
  }

  final case class IndexMeta(nBuckets: Int, fpp: Double, nKeys: Long)

  def readMeta(spark: SparkSession, indexDir: String): IndexMeta =
    Buckets.readMeta[IndexMeta](spark, s"$indexDir/meta").head

  /** Batch rows whose text does NOT already exist in the indexed snapshot —
    * exact, regardless of bloom fpp. Three stages, none touching the
    * snapshot itself:
    *
    *   1. bloom route (narrow): each batch row hashes to its bucket and
    *      probes that bucket's broadcast filter. Negatives are PROVABLY
    *      novel (bloom has no false negatives) and short-circuit past the
    *      join — in the common mostly-novel crawl batch this is most rows.
    *   2. bucket pruning (planning-time): the candidate rows' distinct
    *      buckets (≤ nBuckets ints, a justified driver collect) become an
    *      `isin` on the `hashes/` PARTITION column, so only touched
    *      buckets' files are ever opened.
    *   3. exact confirm: left-anti join of candidates against the pruned
    *      sha table removes bloom false positives.
    *
    * The batch lineage is evaluated by the touched-bucket collect and
    * once per branch (bloom-negative and candidate); a caller whose batch
    * plan is expensive checkpoints it first (q77 does).
    */
  def novelAgainst(
      spark: SparkSession,
      batch: DataFrame,
      textCol: String,
      indexDir: String): DataFrame = {
    val (negatives, candidates) = bloomGate(spark, batch, textCol, indexDir)
    // ≤ nBuckets touched ints — bounded by construction, same
    // justification as the IVF probe list
    val confirmed = Buckets.readTouched(spark, s"$indexDir/hashes", "bucket",
        candidates.select("__bucket"))
      .fold(candidates.limit(0)) { snap =>
        candidates.join(snap.select(col("sha").as("__sha")), Seq("__sha"), "left_anti")
      }
    negatives.unionByName(confirmed).drop("__sha", "__bucket")
  }

  /** `rows` with their `__sha` and `__bucket` columns, split by the
    * broadcast per-bucket blooms into (bloom-negative, so provably novel;
    * bloom-positive candidates).
    */
  private def bloomGate(spark: SparkSession, rows: DataFrame, textCol: String,
      indexDir: String): (DataFrame, DataFrame) = {
    val meta = readMeta(spark, indexDir)
    val blooms: Map[Int, BloomFilter] = spark.read.parquet(s"$indexDir/bloom")
      .select(col("bucket").cast("int"), col("bits"))
      .collect()
      .map(r => r.getInt(0) -> BloomFilter.readFrom(r.getAs[Array[Byte]](1)))
      .toMap
    val bc = spark.sparkContext.broadcast(blooms)
    // an ABSENT bucket means the snapshot had no keys there — every
    // probe of it is negative, i.e. the row is novel
    val mightContain = udf { (bucket: Int, sha: String) =>
      bc.value.get(bucket).exists(_.mightContainString(sha))
    }
    val hashed = rows
      .withColumn("__sha", shaOf(textCol))
      .withColumn("__bucket", Buckets.of(col("__sha"), meta.nBuckets))
    (hashed.filter(!mightContain(col("__bucket"), col("__sha"))),
      hashed.filter(mightContain(col("__bucket"), col("__sha"))))
  }

  /** Streaming face of [[novelAgainst]]: filter a stream of documents down
    * to rows whose text the indexed snapshot does not contain. Stateless —
    * the bloom gate is a broadcast narrow filter and the confirm is a
    * stream-static left-anti join, so there is no state store to grow.
    *
    * The scale tradeoff vs the batch path: a static plan cannot collect
    * per-batch touched buckets, so the confirm joins against the FULL
    * static sha table (only bloom-POSITIVE rows reach it, and shuffle
    * volume is candidate-sized, but the static side is scanned per
    * micro-batch). Past a few 10^9 distinct docs, lower fpp to shrink the
    * candidate stream and size micro-batches so the confirm amortizes —
    * or divert candidates to a batch reconciliation pass and let the
    * stream emit bloom-negatives (provably novel) immediately. The result
    * here stays exact regardless of fpp, same argument as the batch path.
    *
    * Note intra-STREAM duplicates are not deduped here (two novel copies
    * in one batch both pass) — exactly like the batch path; compose with
    * [[graft.streaming.StreamDedup.firstArrivalPerKey]] for first-arrival
    * semantics inside the stream itself.
    */
  def novelAgainstStream(spark: SparkSession, stream: DataFrame, textCol: String,
      indexDir: String): DataFrame = {
    val (negatives, candidates) = bloomGate(spark, stream, textCol, indexDir)
    val snapShas = spark.read.parquet(s"$indexDir/hashes").select(col("sha").as("__sha"))
    negatives.unionByName(candidates.join(snapShas, Seq("__sha"), "left_anti"))
      .drop("__sha", "__bucket")
  }

  /** [[build]] once per snapshot key per JVM ([[Staging.cachedDir]]). */
  def cachedIndexDir(key: String, spark: SparkSession, snapshot: DataFrame,
      textCol: String, nBuckets: Int, fpp: Double = 0.01): String =
    Staging.cachedDir("graft_dedup_index", key)(build(spark, snapshot, textCol, _, nBuckets, fpp))
}
