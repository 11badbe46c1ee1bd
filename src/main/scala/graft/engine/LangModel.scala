package graft.engine

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Unigram language-model quality scoring — the CCNet-style "perplexity
  * bucketing" stage of a pretraining pipeline (Wenzek et al. 2020 fit a
  * 5-gram KenLM on a trusted corpus and split Common Crawl into
  * head/middle/tail by perplexity; the unigram variant keeps the exact
  * same pipeline shape with a model this sandbox can fit and an oracle
  * can replay bit-for-bit).
  *
  * Two stages, mirroring CCNet:
  *   1. [[fitUnigram]] — one corpus pass: explode tokens, count per token
  *      (shuffle on token with map-side combine; vocabulary-sized output).
  *   2. [[scoreDocs]] — per-document cross-entropy under the fitted model
  *      plus a head/middle/tail bucket.
  *
  * Determinism contract (what the oracle pins byte-exactly):
  *   - `n_tokens`, `freq_mass` (= Σ over the doc's tokens of the corpus
  *     count of that token) are integer-exact.
  *   - `mean_freq` = freq_mass / n_tokens as an IEEE double: a single
  *     correctly-rounded division of two integers — bit-identical in any
  *     engine, so the BUCKET thresholds compare against it (never against
  *     a summed float).
  *   - `xent` (the actual cross-entropy, ln(total) − mean ln(count)) is a
  *     float sum and therefore only reproducible to rounding; it is
  *     emitted rounded to 4dp as a score column, not used for bucketing.
  *
  * Scale notes: the model is vocabulary-sized. For web-scale corpora prune
  * with `minCount` (CCNet ships a fixed ~few-GB model for the same
  * reason); pruned-away and unseen tokens score with a floor count of 1
  * (add-one style) via the left join's coalesce. The model broadcasts, so
  * the corpus never shuffles for the join; the pruned vocabulary must fit
  * executor memory. The per-doc aggregate shuffles (doc_id, partials)
  * only — tokens of one document are co-located in the source row, so
  * map-side combine collapses to ~one row per doc per partition before
  * the exchange.
  */
object LangModel {

  /** Token counts over the corpus: (token, cnt). Tokens are single-space
    * splits with empties dropped (the corpus contract elsewhere in this
    * repo: single-space separated text; `string_split` replayable).
    */
  def fitUnigram(docs: DataFrame, textCol: String, minCount: Long = 1L): DataFrame = {
    val counts = docs
      .select(explode(split(col(textCol), " ", -1)).as("token"))
      .where(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
    if (minCount > 1L) counts.where(col("cnt") >= minCount) else counts
  }

  /** Score every document against a fitted unigram model.
    *
    * Output columns: idCol, carry…, n_tokens, freq_mass, mean_freq, rel_freq,
    * xent (4dp), bucket. `rel_freq` = mean_freq ÷ (total/vocab), the
    * document's mean token frequency relative to the corpus-average
    * token frequency — a SCALE-FREE quality coordinate (invariant to
    * corpus size, so the same thresholds work at every SF / on a 100-TB
    * corpus). It is a chain of correctly-rounded IEEE divisions over
    * exact integer operands, hence bit-identical in any engine; the
    * bucket ('head' when rel_freq ≥ tauHead — tokens are on average
    * corpus-frequent, the fluent/common-language band; 'tail' when
    * rel_freq < tauTail; 'middle' otherwise) compares against it, never
    * against a summed float.
    *
    * The model dataframe is materialized once (eager localCheckpoint) so
    * the corpus isn't re-read for the total/vocab scalars; the scalar
    * collect is one row (justified driver-side, same class as the ANN
    * centroid loads).
    */
  def scoreDocs(docs: DataFrame, lm: DataFrame, idCol: String, textCol: String,
      tauHead: Double, tauTail: Double, carry: Seq[String] = Nil): DataFrame = {
    require(tauHead >= tauTail, "scoreDocs: tauHead must be >= tauTail")
    val model = lm.localCheckpoint(true)
    val totRow = model.agg(sum(col("cnt")).cast("long"), count(lit(1))).collect()(0)
    val total = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
    val vocab = totRow.getLong(1)
    require(total > 0L, "scoreDocs: empty language model")
    val corpusMean = total.toDouble / vocab.toDouble
    val toks = docs
      .select(col(idCol) +: carry.map(col) :+
        explode(split(col(textCol), " ", -1)).as("token"): _*)
      .where(col("token") =!= "")
    val joined = toks.join(F.broadcast(model), Seq("token"), "left")
      // unseen / pruned-away tokens take the add-one floor count
      .withColumn("cnt", coalesce(col("cnt"), lit(1L)))
    joined
      // `carry` columns are per-document attributes riding along (lang,
      // domain, …): grouping by them too keeps ONE exchange instead of a
      // score-then-rejoin
      .groupBy(col(idCol) +: carry.map(col): _*)
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("freq_mass"),
        sum(log(col("cnt").cast("double"))).as("sum_ln"))
      .withColumn("mean_freq", col("freq_mass").cast("double") / col("n_tokens").cast("double"))
      .withColumn("rel_freq", col("mean_freq") / lit(corpusMean))
      .withColumn("xent", round(lit(math.log(total.toDouble)) - col("sum_ln") / col("n_tokens").cast("double"), 4))
      .withColumn("bucket",
        when(col("rel_freq") >= tauHead, "head")
          .when(col("rel_freq") < tauTail, "tail")
          .otherwise("middle"))
      .drop("sum_ln")
  }
}
