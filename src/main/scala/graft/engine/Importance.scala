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
  * Plan shape: ONE plan, no Spark job at construction. Two
  * vocabulary-sized count aggregations (map-side combine), then one narrow
  * corpus explode joined against the BROADCAST models and re-aggregated
  * per document — the corpus shuffles only (doc_id, partials). The model
  * totals Tr, V and Tt are a one-row aggregate over the merged model (the
  * planner reuses both count exchanges, so each count still runs once),
  * broadcast and cross-joined into the scoring rows; an empty model fails
  * the run with its message. A vocabulary too large to broadcast needs the
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
    val rawCnt = bigramCounts(raw, textCol, minCount)
    val tgtCnt = bigramCounts(target, textCol, minCount)
    val toks = raw.select(col(idCol).cast("long").as("__imp_id"),
      explode(Retrieval.bigramTerms(Retrieval.alnumTokens(col(textCol)))).as("term"))
    // ONE merged (term, cr, ct) model instead of two separate broadcast
    // builds + two corpus-side joins: the full-outer vocabulary merge is
    // vocabulary-sized (cheap), and `toks LEFT JOIN merged` is
    // row-for-row equivalent to the two sequential left joins (null cr/ct
    // coalesce to 0 either way)
    val merged = rawCnt.withColumnRenamed("cnt", "cr")
      .join(tgtCnt.withColumnRenamed("cnt", "ct"), Seq("term"), "full_outer")
    // Tr, V, Tt as one row: each term has one merged row, so the sums and
    // the non-null count of cr are exact. Every scoring row reads __tr, so
    // its check guards both models, the target first
    val totals = merged
      .agg(coalesce(sum("cr"), lit(0L)).cast("long").as("tr"), count("cr").as("__v"),
        coalesce(sum("ct"), lit(0L)).cast("long").as("__tt"))
      .select(col("__tt"), col("__v"),
        when(col("__tt") <= 0L, raise_error(lit("Importance.importanceWeights: empty target model")))
          .when(col("tr") <= 0L, raise_error(lit("Importance.importanceWeights: empty raw model")))
          .otherwise(col("tr")).as("__tr"))
    toks
      .join(F.broadcast(merged), Seq("term"), "left")
      .crossJoin(F.broadcast(totals))
      .withColumn("cr", coalesce(col("cr"), lit(0L)))
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      // every row carries the same totals: grouping by them keeps one
      // group per document and hands them to the ratios below
      .groupBy(col("__imp_id").as(idCol), col("__tt"), col("__tr"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("ct")).as("target_mass"),
        sum(col("cr")).as("raw_mass"),
        sum(log((col("ct") + lit(1.0)) / (col("__tt") + col("__v")).cast("double")) -
          log((col("cr") + lit(1.0)) / (col("__tr") + col("__v")).cast("double"))).as("__lr"))
      .withColumn("rel_mass",
        (col("target_mass").cast("double") / col("__tt").cast("double")) /
          (col("raw_mass").cast("double") / col("__tr").cast("double")))
      .withColumn("logratio_4dp", round(col("__lr"), 4))
      .withColumn("selected", col("rel_mass") >= lit(tau))
      .drop("__tt", "__tr", "__lr")
  }
}
