package graft.jobs

import graft.engine.Retrieval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted-index job — the lexical twin of [[AnnIndexJob]]: the
  * corpus pays its tokenize/count cost ONCE at build and every search
  * reads only the index buckets its query terms hash into.
  *
  * Layout: `out/postings/` (term, id, tf, dl, df) parquet PARTITIONED BY
  * `bucket = pmod(xxhash64(term), nBuckets)`, plus `out/meta/` (one row:
  * n_docs, total_terms, n_buckets). The per-term document frequency is
  * DENORMALIZED into the postings rows at build (one vocabulary-keyed
  * join, paid once) so a search is a SINGLE pruned read — no second
  * term-stats lookup, the same reasoning that put `dl` into the postings
  * grouping key.
  *
  * Search: query terms are benchmark-sized — their bucket ids are
  * computed with the SAME Spark `xxhash64 % nBuckets` expression as the
  * build (never a reimplementation that could drift) and collected (a
  * bounded driver list, the AnnIndexJob probe-list class). The bucket
  * `isin` filter lands on the PARTITION column, so it resolves at
  * planning time (PartitionFilters in the scan, empty Data/PushedFilters
  * — spec-asserted) and only |distinct query-term buckets| of the
  * nBuckets directories are ever opened: at 100 TB the difference
  * between reading ~|query terms|/nBuckets of the index and all of it.
  * Scoring shares [[Retrieval.scoreMatched]] with the in-memory path, so
  * the two paths return the same relation by construction (q84 pins this
  * with q81's own oracle).
  *
  * `nBuckets` sizing: buckets must dwarf the expected distinct-term count
  * of a query (so pruning bites) while keeping each bucket's file count
  * bounded; hot terms skew ROW counts per bucket, but the per-bucket
  * read is a scan, not a reduce — no single-task hot key exists in the
  * search plan.
  */
object RetrievalIndexJob {

  /** `meta/`: the monolithic index's one row. */
  private[jobs] final case class Meta(nDocs: Long, totalTerms: Long, nBuckets: Int)

  /** `segmeta/`: one row per registered segment. */
  private[jobs] final case class SegMeta(segment: String, nDocs: Long, totalTerms: Long,
      nBuckets: Int)

  def build(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, outDir: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"RetrievalIndexJob.build: nBuckets must be > 0, got $nBuckets")
    val idx = Retrieval.buildIndex(docs, idCol, textCol)
    Buckets.write(
      idx.postings.join(idx.termStats, Seq("term"))
        .withColumn("bucket", Buckets.of(col("term"), nBuckets)),
      "bucket", nBuckets, s"$outDir/postings")
    Buckets.writeMeta(spark, s"$outDir/meta", Seq(Meta(idx.nDocs, idx.totalTerms, nBuckets)))
  }

  def search(spark: SparkSession, outDir: String, queries: DataFrame,
      minMatchNum: Int = 3, minMatchDen: Int = 5,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val meta = Buckets.readMeta[Meta](spark, s"$outDir/meta").head
    // materialized once: the tiny term set feeds the bucket collect, the
    // term-pushdown list AND the probe join
    val qt = Retrieval.queryTerms(queries).localCheckpoint(true)
    val (buckets, terms) = collectTermBuckets(qt, meta.nBuckets)
    val pruned = Buckets.read(spark, s"$outDir/postings", "bucket", buckets)
    Retrieval.scoreMatched(
      termPushdown(pruned, terms).join(broadcast(qt), Seq("term")),
      meta.nDocs, meta.totalTerms.toDouble / meta.nDocs.toDouble, minMatchNum, minMatchDen, k1, b)
  }

  /** ONE driver read of the (bounded) distinct query terms serves both
    * prune surfaces: the term's bucket id (computed with the SAME Spark
    * xxhash64 expression as the build — never a reimplementation) for the
    * partition filter, and the term string itself for row-level pushdown.
    */
  private def collectTermBuckets(qt: DataFrame, nBuckets: Int): (Array[Int], Option[Array[String]]) = {
    // bounded probe: ≤ 1000 distinct terms come back whole (both prune
    // lists complete in one job); the 1001st row proves the term set is
    // too large for row-level pushdown, and the collect falls back to the
    // ≤ nBuckets distinct-bucket list (the always-bounded surface)
    val rows = qt.select(col("term"), Buckets.of(col("term"), nBuckets).as("b")).distinct()
      .limit(1001).collect()
    if (rows.length <= 1000)
      (rows.map(_.getInt(1)).distinct.sorted, Some(rows.map(_.getString(0)).distinct))
    else
      (Buckets.touched(qt.select(Buckets.of(col("term"), nBuckets))), None)
  }

  /** Row-level term pushdown beside the partition-level bucket pruning:
    * the distinct query terms are a bounded driver list (the same class as
    * the bucket collect), and an `isin` on the scan column reaches parquet
    * as PushedFilters — row groups and dictionary pages without any query
    * term are skipped entirely, where the bare bucket filter still scanned
    * every row of every touched bucket. Semantics-free: the inner probe
    * join on `term` would drop those rows anyway. Skipped above 1000
    * distinct terms to keep the predicate tree bounded (the prune then
    * rides on buckets alone, the previous behavior).
    */
  private def termPushdown(pruned: DataFrame, terms: Option[Array[String]]): DataFrame =
    terms.fold(pruned)(ts => pruned.filter(col("term").isin(ts.toIndexedSeq: _*)))

  // ------------------------------------------------------- segmented index

  /** Incremental indexing, Lucene's segment model adapted: each crawl
    * batch becomes its OWN immutable segment — postings WITHOUT the
    * denormalized df (df is a global statistic; baking it in is what
    * forces the monolithic index to rebuild on every batch) plus a
    * per-segment `(term, df)` table, both bucket-partitioned with the
    * same hash as [[build]]. Adding a batch costs O(batch) and touches no
    * existing segment file; the global df is reassembled at query time
    * from the PRUNED per-segment term tables (query-term-sized work).
    * Caller contract: segments hold disjoint doc ids (crawl batches).
    * Adding a segment name again (a retried batch) replaces that segment:
    * its files are overwritten and its `segmeta` row is rewritten, not
    * appended, so the registry holds one row per name.
    */
  def addSegment(spark: SparkSession, outDir: String, docs: DataFrame,
      idCol: String, textCol: String, segment: String, nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"RetrievalIndexJob.addSegment: nBuckets must be > 0, got $nBuckets")
    require(segment.matches("[A-Za-z0-9_-]+"),
      s"RetrievalIndexJob.addSegment: segment name must be path-safe, got '$segment'")
    val idx = Retrieval.buildIndex(docs, idCol, textCol)
    Buckets.write(idx.postings.withColumn("bucket", Buckets.of(col("term"), nBuckets)),
      "bucket", nBuckets, s"$outDir/segments/$segment/postings")
    Buckets.write(idx.termStats.withColumn("bucket", Buckets.of(col("term"), nBuckets)),
      "bucket", nBuckets, s"$outDir/segments/$segment/terms")
    // the registry is one row per segment: read whole to the driver, so
    // the overwrite below never reads the files it replaces
    val registry = s"$outDir/segmeta"
    val others = Buckets.readMetaIfAny[SegMeta](spark, registry).filterNot(_.segment == segment)
    Buckets.writeMeta(spark, registry,
      others :+ SegMeta(segment, idx.nDocs, idx.totalTerms, nBuckets))
  }

  /** Search across every registered segment: global n_docs/avgdl from the
    * segment metas (a bounded collect — one row per segment), global df =
    * SUM of per-segment dfs over the pruned term reads (disjoint doc ids
    * make df additive), then the same broadcast-join + scoreMatched shape
    * as [[search]]. Every per-segment read is planning-time
    * bucket-pruned; the unioned postings scan is the only corpus-sized
    * input and it never shuffles on term — the one exchange is
    * scoreMatched's (query, doc) aggregation.
    */
  def searchSegments(spark: SparkSession, outDir: String, queries: DataFrame,
      minMatchNum: Int = 3, minMatchDen: Int = 5,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val metas = Buckets.readMetaIfAny[SegMeta](spark, s"$outDir/segmeta")
    require(metas.nonEmpty, s"searchSegments: no segments registered under $outDir")
    val nBucketsAll = metas.map(_.nBuckets).distinct
    require(nBucketsAll.length == 1,
      s"searchSegments: segments disagree on n_buckets: ${nBucketsAll.mkString(",")}")
    val nBuckets = nBucketsAll.head
    val nDocs = metas.map(_.nDocs).sum
    val totalTerms = metas.map(_.totalTerms).sum
    val segments = metas.map(_.segment).sorted
    val qt = Retrieval.queryTerms(queries).localCheckpoint(true)
    val (buckets, qtTerms) = collectTermBuckets(qt, nBuckets) // once — all segments share
    def pruned(sub: String): DataFrame =
      termPushdown(Buckets.read(spark, s"$outDir/segments/$sub", "bucket", buckets), qtTerms)
    val dfGlobal = segments.map(s => pruned(s"$s/terms"))
      .reduce(_ unionByName _)
      .join(broadcast(qt.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(sum("df").as("df"))
    val posts = segments.map(s => pruned(s"$s/postings")).reduce(_ unionByName _)
    Retrieval.scoreMatched(
      posts.join(broadcast(qt), Seq("term")).join(broadcast(dfGlobal), Seq("term")),
      nDocs, totalTerms.toDouble / nDocs.toDouble, minMatchNum, minMatchDen, k1, b)
  }

  /** [[build]] once per corpus key per JVM ([[Staging.cachedDir]]). */
  def cachedIndexDir(key: String, spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, nBuckets: Int = 64): String =
    Staging.cachedDir("graft_bm25_idx", key)(build(spark, docs, idCol, textCol, _, nBuckets))
}
