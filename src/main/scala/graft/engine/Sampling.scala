package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-shaping operators for training-data curation: deterministic
  * stratified sampling (source/language mixing weights) and per-group
  * document caps (host-level frequency limits a la Common-Crawl curation).
  *
  * Both are defined so a SQL oracle can replay them bit-exactly and both
  * keep the corpus-side plan narrow — sampling is a pure filter (zero
  * shuffle); the cap prunes locally before anything wide runs, so a hot
  * host never serializes one reducer's sort.
  */
object Sampling {

  /** Deterministic uniform hash of `key` into [0, 2^60) — the sampling
    * coordinate. md5 is used (NOT xxhash64) deliberately: both Spark and
    * DuckDB expose byte-identical md5 hex, so an oracle can recompute the
    * exact coordinate; 15 hex digits = 60 bits keeps `conv`'s long exact.
    * The salt decorrelates independent sampling decisions over the same
    * keys (different salt → fresh coordinate).
    */
  def hashCoord(key: Column, salt: String): Column =
    conv(substring(md5(concat(key.cast("string"), lit(":" + salt))), 1, 15), 16, 10)
      .cast("long")

  /** Stratified sample: keep a row iff its hash coordinate falls under its
    * stratum's rate threshold. `rates` maps stratum value → keep fraction
    * in [0,1]; strata absent from the map use `defaultRate`.
    *
    * Determinism contract: the decision depends ONLY on (key, salt, rate) —
    * re-running on any cluster size, partitioning, or row order keeps the
    * same rows, so downstream pipelines can re-derive the sample instead
    * of persisting it. Rates that are exact binary fractions (k/2^n) make
    * the threshold integer-exact; arbitrary doubles are fine operationally
    * (both engines truncate the same IEEE product) but the binary-fraction
    * form is what the oracle pins.
    *
    * Scale: narrow filter, zero shuffle, codegen'd md5 — the rate map
    * becomes a literal CASE chain, fine for the usual dozens of strata.
    * For a rates TABLE (thousands of strata) join it broadcast instead:
    *   df.join(broadcast(ratesDf), Seq(strataCol), "left")
    *     .filter(hashCoord(col(keyCol), salt) < col("threshold"))
    */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double,
      salt: String): DataFrame = {
    require(
      (rates.valuesIterator ++ Iterator(defaultRate)).forall(r => r >= 0.0 && r <= 1.0),
      "stratifiedSample: rates must be in [0,1]")
    val coord = hashCoord(col(keyCol), salt)
    val two60 = 1L << 60
    def thresholdOf(r: Double): Long =
      if (r >= 1.0) two60 else (r * two60.toDouble).toLong
    val threshold = rates.foldLeft(lit(thresholdOf(defaultRate))) {
      case (acc, (stratum, r)) =>
        when(col(strataCol) === lit(stratum), lit(thresholdOf(r))).otherwise(acc)
    }
    df.filter(coord < threshold)
  }

  /** Weighted epoch repetition — the UPSAMPLING half of corpus mixing
    * ([[stratifiedSample]] is the downsampling half): each stratum's
    * weight is the expected number of training epochs for its documents
    * (Wikipedia 3×, books 2.5×, raw web 0.5× — the standard mixture
    * recipe). A weight `w` emits each document `floor(w)` times plus one
    * more iff its 60-bit md5 coordinate falls under `frac(w)·2^60` — so
    * the realized corpus mass converges to `w·|stratum|` while every
    * individual decision stays a pure function of (key, salt, w):
    * deterministic under any cluster size, partitioning, or row order,
    * and SQL-replayable. `w < 1` degenerates to stratified sampling with
    * the SAME kept set as [[stratifiedSample]] at rate `w` (same
    * coordinate, same threshold) — one coordinate discipline across both
    * halves. Output: input rows with an `epoch` column (0-based copy
    * index); weight-0 strata vanish.
    *
    * Scale: narrow `explode(sequence(...))` — zero shuffle; output size
    * is the mixture's token budget, chosen explicitly by the weights.
    * Binary-fraction weights (k/2^n) make the threshold integer-exact
    * (the [[stratifiedSample]] discipline).
    */
  def epochRepeat(df: DataFrame, keyCol: String, strataCol: String,
      weights: Map[String, Double], defaultWeight: Double, salt: String,
      epochCol: String = "epoch"): DataFrame = {
    require(
      (weights.valuesIterator ++ Iterator(defaultWeight)).forall(_ >= 0.0),
      "epochRepeat: weights must be >= 0")
    val two60 = 1L << 60
    def floorOf(w: Double): Long = math.floor(w).toLong
    def fracThr(w: Double): Long = ((w - math.floor(w)) * two60.toDouble).toLong
    def caseChain(f: Double => Long): Column =
      weights.foldLeft(lit(f(defaultWeight))) { case (acc, (stratum, w)) =>
        when(col(strataCol) === lit(stratum), lit(f(w))).otherwise(acc)
      }
    val coord = hashCoord(col(keyCol), salt)
    val copies = caseChain(floorOf) +
      when(coord < caseChain(fracThr), lit(1L)).otherwise(lit(0L))
    df.withColumn("__copies", copies)
      .filter(col("__copies") > 0)
      .withColumn(epochCol, explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__copies")
  }

  /** Temperature-based mixture weights — the standard multilingual
    * sampling recipe (mT5 / XLM-R: `p_l ∝ mass_l^alpha`): solves the
    * per-stratum epoch weights that [[epochRepeat]]/[[epochRepeatWeighted]]
    * consume from the corpus's OWN mass statistics instead of hand-picked
    * numbers. For each stratum, `share = mass^alpha / Σ mass^alpha` and
    * `weight = budget · share / mass` (expected epochs so the realized
    * stratum mass converges to `budget · share`). `alpha = 1` degenerates
    * to natural proportions (every weight = budget/totalMass); `alpha = 0`
    * to the uniform mixture; between them low-resource strata are
    * upsampled smoothly — the α-temperature dial.
    *
    * Output: one row per stratum — (strata, mass, share, weight), with
    * `share`/`weight` rounded to 6 decimals so the floating-point surface
    * is pinned for the SQL oracle (the sums/pow differ by ULPs across
    * engines; rounding collapses them, the q66 discipline).
    *
    * Scale: one tiny aggregate (strata-cardinality rows — languages or
    * sources, dozens) + a broadcast of the 1-row denominator; the corpus
    * is read once for the mass sum and never shuffled full-width.
    */
  def temperatureWeights(df: DataFrame, strataCol: String, massCol: String,
      alpha: Double, budget: Long): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0,
      s"temperatureWeights: alpha must be in [0,1], got $alpha")
    require(budget >= 0L, s"temperatureWeights: budget must be >= 0, got $budget")
    val stats = df.groupBy(col(strataCol))
      .agg(sum(col(massCol)).cast("long").as("mass"))
      // a zero-mass stratum contributes nothing and must not divide the
      // budget (at alpha=0, pow(0,0)=1 would hand it a uniform share and
      // an INFINITE weight); it pins to share 0 / weight 0 explicitly
      .withColumn("__p",
        when(col("mass") > 0, pow(col("mass").cast("double"), lit(alpha)))
          .otherwise(lit(0.0)))
    val denom = stats.agg(sum(col("__p")).as("__z"))
    stats.crossJoin(broadcast(denom))
      .withColumn("share", round(col("__p") / col("__z"), 6))
      .withColumn("weight",
        when(col("mass") > 0,
          round(lit(budget.toDouble) * (col("__p") / col("__z")) / col("mass"), 6))
          .otherwise(lit(0.0)))
      .select(col(strataCol), col("mass"), col("share"), col("weight"))
  }

  /** [[epochRepeat]] with the weights coming from a TABLE (the
    * [[temperatureWeights]] output or any (strata, weight) frame) instead
    * of a driver-side literal map — the form that scales past dozens of
    * strata and composes the solve→apply loop in ONE plan with no
    * driver round-trip. Semantics per row are identical to
    * [[epochRepeat]]: `floor(w)` copies plus one more iff the row's 60-bit
    * md5 coordinate < `frac(w)·2^60`, every decision a pure function of
    * (key, salt, w). The threshold arithmetic is cross-engine exact GIVEN
    * w: `w − floor(w)` is an exact IEEE subtraction and `·2^60` only
    * shifts the exponent, so an oracle replaying `floor(frac·2^60)` sees
    * the same long — which is why [[temperatureWeights]] pins w itself to
    * 6 decimals. Strata absent from `weights` are DROPPED (weight 0);
    * negative weights yield no copies.
    *
    * Scale: broadcast join on the strata key (the weights table is
    * strata-sized) + the same narrow `explode(sequence)` — the corpus
    * never shuffles.
    */
  def epochRepeatWeighted(df: DataFrame, keyCol: String, strataCol: String,
      weights: DataFrame, salt: String, weightCol: String = "weight",
      epochCol: String = "epoch"): DataFrame = {
    val w = col(weightCol)
    val coord = hashCoord(col(keyCol), salt)
    val thr = ((w - floor(w).cast("double")) * lit((1L << 60).toDouble))
      .cast("long")
    df.join(broadcast(weights.select(col(strataCol), w)), Seq(strataCol))
      .withColumn("__copies",
        floor(w) + when(coord < thr, lit(1L)).otherwise(lit(0L)))
      .filter(col("__copies") > 0)
      .withColumn(epochCol, explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__copies", weightCol)
  }

  /** Keep at most `k` rows per group, the ones with the SMALLEST `orderCol`
    * (host-level caps: "at most k pages per host, earliest first").
    *
    * Contract: `orderCol` must be unique within a group (a document id) —
    * that makes the kept set total-order deterministic. Rows whose group
    * or order is null are DROPPED (they cannot rank; the semi join never
    * matches null keys).
    *
    * Scale shape:
    *   1. local prune: per input partition, keep the k smallest orderCol
    *     per group (sortWithinPartitions + one linear run-length pass over
    *     the (group, order) PAIRS only — narrow, two columns wide);
    *     survivors ≤ k·numPartitions per group, regardless of skew;
    *   2. global rank over the pruned pairs — cap-bounded input, and
    *     Spark 4's WindowGroupLimit prunes it again on both exchange
    *     sides;
    *   3. left-semi join the winners back to the full-width corpus —
    *     winners are ≤ k·nGroups rows of two columns, so AQE broadcasts
    *     them in the normal case and the corpus side NEVER shuffles
    *     (verified plan: BroadcastHashJoin LeftSemi over the raw scan).
    *
    * Honest delta vs the naive `row_number() OVER (PARTITION BY group)`
    * filter: since Spark 3.5, WindowGroupLimit already gives the naive
    * window a partition-local prune (a hot host's reducer receives
    * ≤ k·numPartitions rows, not the whole host). What the naive shape
    * still pays and this one avoids: the surviving rows cross the wire
    * FULL-WIDTH (every column shuffled through the rank exchange), while
    * here only (group, order) pairs shuffle and the corpus keeps its
    * scan-local layout — the difference grows with row width (web pages:
    * kilobytes of text per row vs ~tens of bytes of key).
    */
  def capPerGroup(df: DataFrame, groupCol: String, orderCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"capPerGroup: k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val g = "__cap_g"
    val o = "__cap_o"
    val keyed = df
      .withColumn(g, col(groupCol).cast("string"))
      .withColumn(o, col(orderCol).cast("long"))
    val pruned = keyed.select(col(g), col(o))
      // nulls cannot rank and would throw in the primitive-Long decode
      // under ANSI; the semi join below drops them from the output anyway
      .filter(col(g).isNotNull && col(o).isNotNull)
      .as[(String, Long)]
      .sortWithinPartitions(col(g), col(o))
      .mapPartitions { it =>
        // rows arrive grouped by g and ascending in o: run-length count
        var cur: String = null
        var n = 0
        it.filter { case (grp, _) =>
          if (grp != cur) { cur = grp; n = 0 }
          n += 1
          n <= k
        }
      }
      .toDF(g, o)
    val winners = pruned
      .withColumn("__rn", row_number().over(Window.partitionBy(g).orderBy(o)))
      .filter(col("__rn") <= k)
      .drop("__rn")
    keyed.join(winners, Seq(g, o), "left_semi").drop(g, o)
  }

  /** Deterministic multi-way corpus split (train/valid/test) keyed by an
    * arbitrary grouping column — typically the REGISTERED DOMAIN, so
    * near-duplicate pages of one site can never straddle a split boundary
    * (URL- or page-level splitting leaks template variants of the same
    * page into evaluation; the standard fix is to split at the domain
    * granularity and then VERIFY with an n-gram overlap witness — see
    * `Dedup.contaminatedDocs` / `Dedup.fuzzyContaminatedDocs`).
    *
    * Assignment: the 60-bit md5 coordinate of (key, salt) checked against
    * the cumulative weight thresholds, first interval wins; the LAST
    * label is the `otherwise` default, so the full [0, 2^60) range is
    * covered regardless of float rounding in the cumulative products.
    * Same determinism contract as [[stratifiedSample]]: the label depends
    * ONLY on (key, salt, weights) — re-derivable on any cluster size,
    * partitioning, or row order, and SQL-replayable (md5 hex is
    * byte-identical across engines). Null keys coalesce to "" (one
    * deterministic split), consistent with `Dedup.urlGroups`' null-url
    * keying. Pure narrow projection — ZERO shuffle at any corpus size.
    */
  def splitByKey(df: DataFrame, key: Column, splits: Seq[(String, Double)],
      salt: String, outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "splitByKey: at least one split required")
    require(splits.map(_._1).distinct.size == splits.size,
      "splitByKey: split labels must be distinct")
    require(splits.forall(_._2 > 0.0), "splitByKey: weights must be > 0")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"splitByKey: weights must sum to 1, got $total")
    val coord = hashCoord(coalesce(key.cast("string"), lit("")), salt)
    val label = splits.init.zip(cumThresholds(splits).init)
      .foldRight(lit(splits.last._1): Column) {
        case (((l, _), t), els) => when(coord < lit(t), lit(l)).otherwise(els)
      }
    df.withColumn(outCol, label)
  }

  /** Near-duplicate-aware train/valid/test split — the leakage class
    * [[splitByKey]] alone cannot close: hashing DOCUMENT keys puts two
    * near-duplicates of the same page on both sides of a train/test
    * boundary (the GPT-3/Pile contamination lesson), so the split key must
    * be the near-dup CLUSTER, not the doc. `assignment` is the
    * (id, keeper_id) table from `Dedup.resolveClusters` over the verified
    * pair graph; every row hashes on `coalesce(keeper_id, id)` — all
    * members of a component share a keeper and therefore a split, and
    * docs outside the pair graph (singletons, absent from `assignment`)
    * hash on themselves, which for a singleton is exactly [[splitByKey]].
    * The coordinate discipline is splitByKey's own (same salt → same
    * boundaries), so the two are interchangeable downstream.
    *
    * Scale shape: ONE broadcast hash join of the corpus against the
    * assignment (which covers only pair-graph members, typically a small
    * fraction of the corpus) + the narrow split expression — the corpus
    * never shuffles, and the dup-graph node set must fit executor memory
    * (the bet [[Dedup.dedupLines]]' broadcast side makes for its
    * repeated-line vocabulary).
    *
    * Contract: `assignment.id` unique (resolveClusters' groupBy output);
    * `idCol` castable to long, non-null.
    */
  def splitByCluster(df: DataFrame, idCol: String, assignment: DataFrame,
      splits: Seq[(String, Double)], salt: String, outCol: String = "split",
      keeperOut: String = ""): DataFrame = {
    val a = broadcast(assignment.select(col("id").cast("long").as("__sc_id"),
      col("keeper_id").cast("long").as("__sc_keeper")))
    val joined = df
      .join(a, col(idCol).cast("long") === col("__sc_id"), "left")
      .withColumn("__sc_k", coalesce(col("__sc_keeper"), col(idCol).cast("long")))
    val split = splitByKey(joined, col("__sc_k"), splits, salt, outCol)
    val out = if (keeperOut.nonEmpty) split.withColumn(keeperOut, col("__sc_k"))
      else split
    out.drop("__sc_id", "__sc_keeper", "__sc_k")
  }

  /** Cumulative 60-bit thresholds for `splitByKey`'s weight vector —
    * exposed so an external replay (SQL oracle, audit notebook) can pin
    * the EXACT integer boundaries the engine used rather than re-deriving
    * them through its own float rounding.
    */
  def cumThresholds(splits: Seq[(String, Double)]): Seq[Long] = {
    val two60 = 1L << 60
    splits.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => if (c >= 1.0) two60 else (c * two60.toDouble).toLong)
  }

  /** Weighted sampling WITHOUT replacement, exactly k per stratum —
    * Efraimidis–Spirakis via the exponential race: each doc draws
    * `u ∈ (0, 1]` from its md5 coordinate and enters the race at arrival
    * time `-ln(u) / w`; the k earliest arrivals per stratum win, which
    * selects without replacement with probability proportional to `w`
    * (the fixed-budget complement of [[stratifiedSample]]'s rate form:
    * "the best k docs per language, quality-weighted" — a heavier doc
    * divides its exponential clock and tends to arrive earlier).
    *
    * Determinism / replay contract: `u = (coord+1) / 2^60` (never 0) and
    * the arrival is quantized to an integer MICRO-arrival
    * `floor(-ln(u)/w · 1e6 + 0.5)` (half-up — the NaiveBayes micro-nat
    * discipline) with ties broken on the key's string form, so the
    * winner set is a pure function of (key, stratum, w, salt): invariant
    * under partitioning/cluster size and SQL-replayable (ln agreement at
    * the 1e-6 grain leaves ~1e-10/doc of boundary exposure vs the
    * ~1e-7/doc a nano-grain key would carry). Quantization ties are
    * FINE — the tiebreak is deterministic in both engines.
    *
    * Scale shape (the [[capPerGroup]] two-phase discipline): a narrow
    * per-partition run-length prune first cuts each partition to ≤ k rows
    * per stratum (so the global rank never sees more than
    * k·numPartitions·|strata| rows — a hot stratum cannot serialize one
    * reducer's sort), then the winner KEYS (≤ k·|strata| rows) broadcast
    * into a left-semi join: the corpus itself never shuffles.
    *
    * Contract: `keyCol` is the corpus's unique id; weights ≥ 1e-6 (null,
    * non-positive, or sub-1e-6 weights `raise_error` loudly — a curation
    * weight that small is a dropped doc, and silently losing it from the
    * race would corrupt the budget; filter such rows out FIRST if that is
    * the intent). Null strata drop (capPerGroup's convention).
    */
  def weightedSample(df: DataFrame, keyCol: String, strataCol: String,
      weight: Column, k: Int, salt: String,
      arrivalCol: String = "arrival"): DataFrame = {
    require(k >= 1, s"weightedSample: k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val w = weight.cast("double")
    val wOk = when(w.isNotNull && w >= 1e-6, w)
      .otherwise(raise_error(lit(
        "weightedSample: weight must be >= 1e-6 and non-null (filter " +
          "dropped docs out before sampling)")))
    val u = (hashCoord(col(keyCol), salt) + lit(1L)).cast("double") /
      lit((1L << 60).toDouble)
    val keyed = df.withColumn(arrivalCol,
      floor(-log(u) / wOk * lit(1e6) + lit(0.5)).cast("long"))
    val g = "__ws_g"
    val o = "__ws_o"
    val kk = "__ws_k"
    val pruned = keyed
      .select(col(strataCol).cast("string").as(g), col(arrivalCol).as(o),
        col(keyCol).cast("string").as(kk))
      // null keys produce a null md5 coordinate and hence a null arrival,
      // which would NPE opaquely in the non-nullable Long decode below —
      // filter them like capPerGroup does (null keys cannot race)
      .filter(col(g).isNotNull && col(o).isNotNull)
      .as[(String, Long, String)]
      .sortWithinPartitions(col(g), col(o), col(kk))
      .mapPartitions { it =>
        // rows arrive grouped by g, ascending (o, kk): run-length top-k
        var cur: String = null
        var n = 0
        it.filter { case (grp, _, _) =>
          if (grp != cur) { cur = grp; n = 0 }
          n += 1
          n <= k
        }
      }
      .toDF(g, o, kk)
    val winners = pruned
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col(g)).orderBy(col(o), col(kk))))
      .filter(col("__rn") <= k)
      .select(col(kk))
    keyed.join(broadcast(winners),
      keyed(keyCol).cast("string") === winners(kk), "left_semi")
  }
}
