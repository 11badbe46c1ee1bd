package graft.engine

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** DSIR-style data selection (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling"): weight every raw-corpus
  * document by how much more likely its n-gram features are under a
  * TARGET (trusted / in-domain) distribution than under the RAW corpus
  * distribution, then keep the high-ratio documents. This is the
  * model-free data-selection stage of a pretraining pipeline — the
  * published method reduces "make Common Crawl look like Wikipedia" to
  * two feature-count passes and a per-document log-likelihood ratio.
  *
  * This implementation is the EXACT-bigram variant: features are word
  * bigrams over the shared alnum tokenizer ([[Retrieval.alnumTokens]]),
  * counted exactly. The published method hashes n-grams into a fixed
  * bucket array to bound model size at web scale; that variant is the
  * SAME plan with `xxhash64(term) % buckets` as the count key (and is the
  * right call at 100 TB, where the exact bigram vocabulary outgrows a
  * broadcast) — exact counts keep the oracle replayable bit-for-bit and
  * `minCount` pruning covers the middle ground.
  *
  * Determinism contract (the [[LangModel]] discipline):
  *   - `n_bigrams`, `target_mass` (= Σ target-count of the doc's bigram
  *     occurrences) and `raw_mass` are integer-exact.
  *   - `rel_mass` = (target_mass/Tt) / (raw_mass/Tr) — the document's
  *     mean target-frequency relative to its mean raw-frequency, a chain
  *     of correctly-rounded IEEE divisions over exact integers, hence
  *     bit-identical in any engine. The SELECTION bit compares `rel_mass`
  *     against tau, never a summed float.
  *   - `logratio_4dp` is the actual smoothed DSIR log-likelihood ratio
  *     Σ [ln((ct+1)/(Tt+V)) − ln((cr+1)/(Tr+V))] (add-one smoothing,
  *     V = raw vocabulary) — a float sum, emitted rounded to 4dp as a
  *     score, not used for selection.
  *
  * Plan shape: two vocabulary-sized count aggregations (map-side combine;
  * materialized via localCheckpoint so the scoring pass never re-reads
  * them), then one narrow corpus explode joined against the BROADCAST
  * models and re-aggregated per document — the corpus shuffles only
  * (doc_id, partials). A vocabulary too large to broadcast needs the
  * hashed-feature variant.
  *
  * Documents with fewer than 2 alnum tokens have no features and drop
  * from the output (no bigrams ⇒ the ratio is undefined); scoring a
  * document whose bigrams are absent from the raw model (only possible
  * when scoring out-of-corpus text or after aggressive `minCount`
  * pruning) takes the add-one floor on both sides.
  */
object Importance {

  /** Exact bigram counts of a corpus: (term, cnt), `minCount`-pruned. */
  def bigramCounts(docs: DataFrame, textCol: String, minCount: Long = 1L): DataFrame = {
    val c = docs
      .select(explode(Retrieval.bigramTerms(Retrieval.alnumTokens(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    if (minCount > 1L) c.where(col("cnt") >= minCount) else c
  }

  /** Score `raw` documents against target/raw bigram models fitted on
    * `target` and `raw` themselves. Output: (idCol, n_bigrams,
    * target_mass, raw_mass, rel_mass, logratio_4dp, selected).
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, tau: Double = 1.0, minCount: Long = 1L): DataFrame = {
    val rawCnt = bigramCounts(raw, textCol, minCount).localCheckpoint(true)
    val tgtCnt = bigramCounts(target, textCol, minCount).localCheckpoint(true)
    val rRow = rawCnt.agg(coalesce(sum("cnt"), lit(0L)).cast("long"), count(lit(1))).head
    val tr = rRow.getLong(0)
    val v = rRow.getLong(1)
    val tt = {
      val t = tgtCnt.agg(coalesce(sum("cnt"), lit(0L)).cast("long")).head.getLong(0)
      require(t > 0L, "Importance.importanceWeights: empty target model")
      t
    }
    require(tr > 0L, "Importance.importanceWeights: empty raw model")
    val toks = raw.select(col(idCol).cast("long").as("__imp_id"),
      explode(Retrieval.bigramTerms(Retrieval.alnumTokens(col(textCol)))).as("term"))
    // ONE merged (term, cr, ct) model instead of two separate broadcast
    // builds + two corpus-side joins: the full-outer vocabulary merge is
    // vocabulary-sized (cheap), and `toks LEFT JOIN merged` is
    // row-for-row equivalent to the two sequential left joins (null cr/ct
    // coalesce to 0 either way)
    val merged = rawCnt.withColumnRenamed("cnt", "cr")
      .join(tgtCnt.withColumnRenamed("cnt", "ct"), Seq("term"), "full_outer")
    toks
      .join(F.broadcast(merged), Seq("term"), "left")
      .withColumn("cr", coalesce(col("cr"), lit(0L)))
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .groupBy(col("__imp_id").as(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("ct")).as("target_mass"),
        sum(col("cr")).as("raw_mass"),
        sum(log((col("ct") + lit(1.0)) / lit((tt + v).toDouble)) -
          log((col("cr") + lit(1.0)) / lit((tr + v).toDouble))).as("__lr"))
      .withColumn("rel_mass",
        (col("target_mass").cast("double") / lit(tt.toDouble)) /
          (col("raw_mass").cast("double") / lit(tr.toDouble)))
      .withColumn("logratio_4dp", round(col("__lr"), 4))
      .withColumn("selected", col("rel_mass") >= lit(tau))
      .drop("__lr")
  }
}
