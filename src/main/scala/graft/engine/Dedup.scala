package graft.engine

import graft.core.Fingerprint
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Corpus deduplication at scale: exact (hash groupBy), MinHash+LSH banded
  * near-dup, SimHash hamming blocking, exact n-gram-Jaccard verification,
  * embedding-cosine near-dup. Shuffle discipline: one exchange per stage —
  * band/block keys are the shuffle keys; candidate generation happens inside
  * buckets; exact verification only touches candidate pairs, never the full
  * cross product. Recall: pigeonhole/banding guarantees hold for buckets up
  * to `maxBucket` members; larger (hot) buckets pair only against the
  * bucket's smallest id, which keeps work linear but can drop a true pair
  * whose members are both far from the keeper — capped buckets are counted
  * in the `graft.dedup.cappedBuckets` accumulator so the loss is observable.
  */
object Dedup {

  /** Named accumulator counting LSH buckets that exceeded their cap (and so
    * were paired keeper-only). One is registered per dedup call and captured
    * in the bucket-pairing closure; visible in the Spark UI under
    * `graft.dedup.cappedBuckets`.
    *
    * Caveats of Spark accumulator semantics: the count is per-EXECUTION,
    * not per-logical-job — running two actions on a lazy result (or Spark
    * recomputing after executor loss / a speculative retry) re-executes the
    * pairing stage and inflates the count; and several dedup calls in one
    * session each register a separate accumulator under the same display
    * name. Treat it as an observability signal (zero vs non-zero, order of
    * magnitude), not an exact tally.
    */
  private def newCappedCounter(spark: SparkSession): LongAccumulator =
    spark.sparkContext.longAccumulator("graft.dedup.cappedBuckets")

  /** The capped-star pairing of one bucket of `n` members sorted by id:
    * up to `maxBucket` members every (i, j) with i < j; above the cap only
    * (0, j), the keeper against each other member, and the bucket is
    * counted in `capped`. A bucket of fewer than two members pairs nothing.
    */
  private def cappedStar(n: Int, maxBucket: Int, capped: LongAccumulator)(
      pair: (Int, Int) => Unit): Unit =
    if (n > maxBucket && n >= 2) {
      capped.add(1L)
      var j = 1
      while (j < n) { pair(0, j); j += 1 }
    } else {
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { pair(i, j); j += 1 }
        i += 1
      }
    }

  /** Exact duplicate groups by content hash. Map-side partial agg → one
    * shuffle on the 128-bit hash. Returns (text_hash, n_docs, keeper_id).
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("text_hash"), col(idCol).cast("long").as("id"))
      .groupBy("text_hash")
      .agg(count(lit(1)).as("n_docs"), min("id").as("keeper_id"))

  /** Exact dedup: keep the smallest id per hash (deterministic keeper). */
  def dedupExact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exactGroups(df, idCol, textCol).select(col("keeper_id").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** URL-keyed exact dedup: group by the CANONICAL url (graft.core.UrlOps —
    * case/port/fragment/tracking-param variants collapse to one key) and
    * keep the smallest id per canonical url. Same one-shuffle shape as
    * [[exactGroups]] — the canonicalization is a per-row map before the
    * groupBy, so map-side partial aggregation still applies. This is the
    * entry stage of web dedup: it runs BEFORE content hashing because it
    * needs no page body at all.
    */
  def urlGroups(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(urlCol).cast("string").as("u"), col(idCol).cast("long").as("id"))
      .as[(String, Long)]
      // crawl corpora routinely carry null/missing urls — they group under
      // the empty key rather than NPE-ing the task
      .mapPartitions(_.map { case (u, id) =>
        (if (u == null) "" else graft.core.UrlOps.canonicalize(u), id)
      })
      .toDF("canon_url", "id")
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_docs"), min("id").as("keeper_id"))
  }

  /** URL-keyed dedup: keep the smallest id per canonical url. */
  def dedupByUrl(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val keepers = urlGroups(df, idCol, urlCol).select(col("keeper_id").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** Keep the smallest-id row per key, carrying the FULL row through ONE
    * hash exchange (row_number over the key) — the composition-friendly
    * dedup shape for chained pipelines. The groupBy + semi-join-back shape
    * ([[dedupExact]]/[[dedupByUrl]]) evaluates its input on BOTH join sides,
    * which is free when the input is a re-readable scan but re-executes the
    * whole upstream chain when the input is itself a pipeline stage; this
    * window form keeps the plan linear (and its exchange is reusable by
    * Catalyst's ReuseExchange for any downstream branch). Shuffles full
    * rows rather than (key, id) pairs — prefer the semi-join form when
    * deduping a raw scan by a tiny key, this form when composing stages.
    *
    * NULL keys group TOGETHER (Spark window semantics) and keep one row —
    * consistent with [[urlGroups]]' null-url → "" keying. Callers who need
    * null keys treated as distinct must coalesce the key first.
    */
  def keepFirstBy(df: DataFrame, idCol: String, key: org.apache.spark.sql.Column): DataFrame = {
    val rn = "__graft_keep_first_rn"
    require(!df.columns.contains(rn),
      s"keepFirstBy: input already has a $rn column — rename it before deduping")
    val w = Window.partitionBy(key).orderBy(col(idCol).cast("long").asc)
    df.withColumn(rn, row_number().over(w)).filter(col(rn) === 1).drop(rn)
  }

  /** Benchmark decontamination (the standard pre-training hygiene step):
    * flag every document sharing at least one word n-gram (n=13 by
    * convention) with a benchmark/eval text set, so evaluation data can be
    * removed from the training corpus. The benchmark side is tiny relative
    * to the corpus, so its distinct n-grams BROADCAST and the corpus is
    * never shuffled — one narrow explode of built-in expressions
    * (transform/sequence/slice, codegen-resident) and a broadcast
    * left-semi join. Exact string n-grams, no hashing — zero false
    * positives by construction.
    *
    * Both sides are whitespace-normalized first (`\s+` → one space,
    * trimmed): a benchmark passage that reappears in the corpus re-wrapped
    * with newlines — the single most common transformation web text
    * undergoes — must still form the same 13-grams, per the standard
    * n-gram decontamination convention (GPT-3 appendix C / PaLM-style).
    */
  def contaminatedDocs(df: DataFrame, idCol: String, textCol: String,
      benchGrams: DataFrame, n: Int = 13): DataFrame = {
    val normBench = benchGrams
      .select(trim(regexp_replace(col("gram"), "\\s+", " ")).as("gram"))
      .distinct()
    wordGrams(df, idCol, textCol, n)
      .join(broadcast(normBench), Seq("gram"), "left_semi")
      .select(idCol).distinct()
  }

  /** All word n-gram windows of a corpus after `\s+` whitespace
    * normalization — (id, gram) rows from ONE narrow codegen explode.
    * This is the shared gram generator behind [[contaminatedDocs]]; its
    * output doubles as another decontamination call's `benchGrams`, which
    * is how cross-set overlap witnesses compose ("which TRAIN documents
    * share a 13-gram with the HELDOUT split" = contaminatedDocs(train,
    * wordGrams(heldout))). contaminatedDocs always broadcasts the gram
    * side, so a gram side cut from a full corpus split rather than an
    * eval-set-sized benchmark must still fit executor memory.
    */
  def wordGrams(df: DataFrame, idCol: String, textCol: String,
      n: Int = 13): DataFrame = {
    val ws = split(trim(regexp_replace(col(textCol), "\\s+", " ")), " ")
    // the token array is PROJECTED before the window lambda: slice() inside
    // a higher-order lambda substitutes its argument expression, so an
    // inline `ws` would re-run the regex normalize+split once per WINDOW —
    // O(tokens²) interpreted work per document (measured 2-3x the whole
    // query wall at sf0.1). Bound to a column, each window slices a
    // materialized array. Multiple references keep CollapseProject from
    // inlining the projection back.
    df.select(col(idCol), ws.as("__ws"))
      .select(
        col(idCol),
        explode(
          when(size(col("__ws")) >= n,
            transform(sequence(lit(0), size(col("__ws")) - n),
              i => array_join(slice(col("__ws"), i + lit(1), lit(n)), " ")))
            .otherwise(array().cast("array<string>"))).as("gram"))
  }

  /** Fuzzy benchmark decontamination: flag every document sharing a word
    * n-gram with the benchmark set up to ONE token substitution (Hamming
    * distance ≤ 1 over the n token positions). Exact 13-gram matching
    * ([[contaminatedDocs]]) misses eval passages that reappear with a
    * single token edited — a year updated, a name swapped, an OCR typo —
    * the standard argument for fuzzy decontamination in pre-training
    * hygiene audits.
    *
    * Technique: PIGEONHOLE HALVES + exact verification. If two n-grams
    * differ in at most one position, the edit falls in one half, so the
    * OTHER half matches exactly — blocking on the two half-grams
    * (floor(n/2) and the remainder) finds every Hamming≤1 pair with only
    * TWO exact join keys per window. Candidates then verify true Hamming
    * distance with a zip_with/filter count — exact, collision-free, no
    * distance UDF, no cross product. (The one-deletion masked-variant
    * neighborhood — n join keys per window, the form the SQL oracle
    * replays — is match-equivalent but builds n variant strings per
    * corpus window: measured 10× the exact operator's wall at sf0.1.
    * Pigeonholing emits 2 keys and defers the n-token comparison to the
    * rare candidate, which is why it is the shape that survives scale.)
    *
    * Scale shape: bench halves broadcast (|bench grams| × 2 keys + their
    * token arrays); the corpus side stays ONE narrow explode of
    * codegen-resident built-ins (2 half keys per window) + broadcast hash
    * join + Hamming filter + distinct on the small flagged set. The
    * corpus never shuffles. Precision caveat: none — candidates are
    * verified by exact token comparison, so false positives are
    * impossible regardless of half-key collisions.
    *
    * Both sides whitespace-normalize first (`\s+` → one space), same as
    * the exact operator.
    */
  def fuzzyContaminatedDocs(df: DataFrame, idCol: String, textCol: String,
      benchGrams: DataFrame, n: Int = 13): DataFrame = {
    require(n >= 2, s"fuzzyContaminatedDocs: n must be >= 2, got $n")
    val half = n / 2
    def halfKeys(toks: org.apache.spark.sql.Column) = array(
      concat(lit("L:"), array_join(slice(toks, 1, half), " ")),
      concat(lit("R:"), array_join(slice(toks, half + 1, n - half), " ")))
    val benchToks = split(trim(regexp_replace(col("gram"), "\\s+", " ")), " ")
    val bench = benchGrams
      .select(benchToks.as("btoks"))
      .filter(size(col("btoks")) === n)
      .distinct()
      .select(col("btoks"), explode(halfKeys(col("btoks"))).as("hk"))
    val ws = split(trim(regexp_replace(col(textCol), "\\s+", " ")), " ")
    // projected before the window lambda — same O(tokens²) substitution
    // hazard as [[wordGrams]] (slice would re-run the regex chain per
    // window if `ws` stayed inline)
    val windows = df.select(col(idCol), ws.as("__ws"))
      .select(
        col(idCol),
        explode(
          when(size(col("__ws")) >= n,
            transform(sequence(lit(0), size(col("__ws")) - n),
              i => slice(col("__ws"), i + lit(1), lit(n))))
            .otherwise(array().cast("array<array<string>>"))).as("wtoks"))
    windows
      .select(col(idCol), col("wtoks"), explode(halfKeys(col("wtoks"))).as("hk"))
      .join(broadcast(bench), Seq("hk"))
      .filter(size(filter(zip_with(col("wtoks"), col("btoks"),
        (x, y) => x =!= y), d => d)) <= 1)
      .select(idCol).distinct()
  }

  /** Exact substring deduplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"), token-granular: remove
    * every token SPAN of length ≥ `minLen` that occurs elsewhere in the
    * corpus, keeping only the corpus-wide first occurrence. This is the
    * span-level counterpart of document dedup — syndicated article
    * bodies, license blocks and quoted passages shared between otherwise
    * distinct pages are cut out of every copy but one; a fully duplicated
    * document loses its whole body (document dedup falls out as the
    * special case).
    *
    * The paper builds a corpus-wide suffix array; the Spark-native
    * equivalent is `minLen`-gram ANCHORING, which needs only hash
    * groupBys and joins: a span of ≥ minLen tokens repeats iff every
    * minLen-window inside it repeats, so (1) hash every window (md5 of
    * the token run — the gram string itself never leaves its narrow
    * projection), (2) keep the REPEATED window vocabulary only
    * (count > 1, with the packed-long `id * maxTokens + pos` first-key —
    * same ordering contract as [[dedupLines]], enforced loudly with
    * `raise_error`), (3) re-join to mark every non-first window
    * occurrence, (4) drop each document's covered token positions with a
    * per-row indexed filter. Windows are recomputed (one narrow explode)
    * on each side of the repeated-vocabulary join rather than
    * materialized — at corpus scale the exploded window table is ~the
    * tokenized corpus itself and must never be checkpointed.
    *
    * Scale shape: the dominant cost is the window groupBy/join exchange of
    * (id, pos, hash128) triples — proportional to corpus token count,
    * the honest price of exact-substring dedup (the suffix-array original
    * sorts the same volume). Map-side partial agg applies to the count +
    * packed-min; the repeated-window vocabulary BROADCASTS, so the
    * corpus-side join never shuffles — it must fit executor memory (the
    * boilerplate-dominated web-corpus case, the same bet as dedupLines'
    * broadcast side); the final starts-per-doc table only holds
    * AFFECTED documents, so AQE broadcasts it into the reassembly join in
    * the normal case. Cleanup is O(T × W) per doc
    * (W = duplicate windows in that doc) via built-in `filter`/`exists` —
    * expression-only, no UDF.
    *
    * Composition caveat (same as dedupLines): the input is evaluated on
    * both sides of the repeated-vocabulary join — `localCheckpoint` a
    * computed upstream stage first; a plain scan is fine as-is.
    *
    * Returns (idCol cast long, textCol cleaned); other columns drop.
    */
  def dedupSubstrings(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 50, maxTokens: Long = 1L << 20): DataFrame = {
    require(minLen >= 2, s"dedupSubstrings: minLen must be >= 2, got $minLen")
    val maxId = Long.MaxValue / maxTokens
    val toks = split(trim(regexp_replace(col(textCol), "\\s+", " ")), " ")
    val guarded = df.select(
      when(col(idCol).cast("long") >= 0 && col(idCol).cast("long") < lit(maxId),
        col(idCol).cast("long"))
        .otherwise(raise_error(lit(
          s"dedupSubstrings: id outside packing bounds [0, $maxId)"))).as("id"),
      when(size(toks) < lit(maxTokens),
        toks)
        .otherwise(raise_error(lit(
          s"dedupSubstrings: document exceeds $maxTokens tokens"))).as("toks"))
    def windows(base: DataFrame) = base
      .select(col("id"),
        explode(
          when(size(col("toks")) >= minLen,
            transform(sequence(lit(0), size(col("toks")) - minLen),
              p => struct(p.as("pos"),
                md5(array_join(slice(col("toks"), p + lit(1), lit(minLen)), " "))
                  .as("gh"))))
            .otherwise(array().cast("array<struct<pos:int,gh:string>>"))).as("w"))
      .select(col("id"), col("w.pos").as("pos"), col("w.gh").as("gh"))
    val rep = windows(guarded)
      .groupBy("gh")
      .agg(count(lit(1)).as("__n"),
        min(col("id") * lit(maxTokens) + col("pos")).as("fkey"))
      .filter(col("__n") > 1)
      .select("gh", "fkey")
    val starts = windows(guarded)
      .join(broadcast(rep), Seq("gh"))
      .filter(col("id") * lit(maxTokens) + col("pos") =!= col("fkey"))
      .groupBy("id")
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    guarded.join(starts, Seq("id"), "left")
      .select(col("id").as(idCol),
        array_join(
          filter(col("toks"), (t, i) =>
            !exists(coalesce(col("starts"), array().cast("array<int>")),
              s => s <= i && i < s + lit(minLen))),
          " ").as(textCol))
  }

  /** Intra-document repeated-line removal: within each document keep only
    * the FIRST occurrence of every line, preserving order — the per-page
    * half of CCNet-style boilerplate removal (navigation blocks, cookie
    * banners and ad slots repeat inside one page long before they repeat
    * across the corpus; RefinedWeb applies the same in-page pass before
    * any global dedup).
    *
    * Unlike [[dedupLines]] this is a PURE NARROW transformation — the
    * whole corpus-scale operator is a per-row expression (split →
    * indexed filter on first-occurrence position → rejoin), zero
    * shuffles, zero state: the ideal 100-TB shape. Cost is O(L²) array
    * scans per document over the materialized line array (L = lines per
    * doc, bounded by page size — never corpus size).
    *
    * Built-ins only (`filter` with index + `array_position`), no UDF;
    * the line array is projected as its own column first so the
    * optimizer does not inline the split into every lambda evaluation.
    */
  def dedupLinesWithinDoc(df: DataFrame, textCol: String): DataFrame = {
    val linesCol = "__graft_lines"
    df.withColumn(linesCol, split(col(textCol), "\n"))
      .withColumn(textCol,
        array_join(
          filter(col(linesCol),
            (x, i) => array_position(col(linesCol), x) === (i + lit(1)).cast("long")),
          "\n"))
      .drop(linesCol)
  }

  /** Corpus-wide line-level dedup (the CCNet/RefinedWeb pattern): a line is
    * kept only in the document holding its corpus-wide FIRST occurrence —
    * first = smallest (id, line index) — so boilerplate repeated across
    * pages (headers, footers, nav fragments) survives exactly once.
    * Whitespace-only lines are never deduplicated (they are structure, not
    * content). Entirely built-in Catalyst functions: posexplode → groupBy
    * on the line (map-side partial min+count, REPEATED lines only kept) →
    * join back on the line → ordered reassembly via
    * sort_array(collect_list(struct(idx, line))). Exchanges: the firsts
    * groupBy and the reassembly (both partial-agg friendly), plus the
    * join's probe-side hash on `line` — UNLESS the firsts table
    * broadcasts, in which case the corpus lines never shuffle for the
    * join at all (two keyed exchanges total, and reduce-side boilerplate
    * skew structurally cannot occur). The path is chosen by MEASUREMENT:
    * the firsts aggregate is materialized once, one small count+size
    * action estimates the repeated-line vocabulary's in-memory size, and
    * the vocabulary broadcasts when that estimate fits
    * `broadcastMaxBytes` (the normal web-corpus case: boilerplate
    * vocabulary ≪ corpus, so the skew-prone corpus-side shuffle never
    * exists); above it the join stays a shuffled join, for adversarial
    * corpora where even the repeated vocabulary is huge. The operator is
    * therefore eager (one action at build time).
    *
    * The choice is measured because AQE cannot rescue this shape at
    * runtime: the build side is a post-shuffle aggregation on the join
    * key, which OptimizeSkewedJoin never matches, and AQE's skew stats
    * measure COMPRESSED bytes which boilerplate defeats by 50-100× (the
    * round-4 q56 audit in PLANS.md).
    *
    * A document whose every line is deduplicated away (an exact duplicate
    * of earlier documents) disappears from the output entirely — the
    * CCNet-style reading that a page reduced to pure boilerplate carries
    * no content.
    *
    * ID-RANGE CONTRACT (hard precondition, enforced with `raise_error`):
    * first-occurrence ordering packs (id, idx) into one long as
    * `id * maxLines + idx`, so ids must lie in
    * `[0, Long.MaxValue / maxLines)` and every doc must have fewer than
    * `maxLines` lines. At the default `maxLines = 1e6` the id ceiling is
    * ≈ 9.22e12 — adequate for the 1e12-row target corpus but only one
    * order of magnitude above it. Corpora with synthetic/hashed 64-bit ids
    * (e.g. xxhash64-derived) WILL exceed it: re-key them first, or lower
    * `maxLines` to widen the id range. Violations fail the job loudly
    * rather than silently mis-ordering first occurrences.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      maxLines: Long = 1000000L, broadcastMaxBytes: Long = 64L << 20): DataFrame = {
    val id = col(idCol).cast("long")
    val maxId = Long.MaxValue / maxLines
    val lines = df
      .select(id.as("id"), posexplode(split(col(textCol), "\n")).as(Seq("idx", "line")))
      .withColumn("pos",
        when(col("idx") < lit(maxLines) && col("id") >= 0 && col("id") < lit(maxId),
          col("id") * lit(maxLines) + col("idx"))
          .otherwise(raise_error(lit(
            s"dedupLines: (id, idx) outside packing bounds (0 <= id < $maxId, idx < $maxLines)"))))
    val firsts = lines
      // whitespace-only = nothing but space/tab/CR/FF (trim would only
      // strip spaces, treating a tab-indent line as dedupable content)
      .filter(translate(col("line"), " \t\r\f", "") =!= "")
      .groupBy("line")
      .agg(min("pos").as("first_pos"), count(lit(1)).as("__n"))
      // only REPEATED lines matter to the join: a unique line trivially
      // satisfies first_pos == pos, which is exactly the LeftOuter NULL
      // branch below — filtering count==1 is a pure shrink of the join's
      // build/probe side (boilerplate vocabulary, not the whole corpus's
      // distinct-line set) with identical semantics. The aggregation
      // itself absorbs the hot boilerplate keys map-side (partial min +
      // partial count). NOTE on the residual join skew: the hot keys are
      // by definition repeated boilerplate, which compresses 50-100× in
      // shuffle files — AQE's skew detection measures COMPRESSED partition
      // bytes, so byte-based skew-split can stay blind to a 5× row-count
      // skew here (observed in the round-4 q56 audit, PLANS.md). The
      // scale mitigation is therefore NOT AQE but broadcasting the
      // firsts: when the repeated-line vocabulary fits (the normal
      // web-corpus case), the corpus lines never shuffle on `line` at all
      // and reduce-side skew cannot exist.
      .filter(col("__n") > 1)
      .drop("__n")
    // one eager materialization of the aggregate (localCheckpoint, NOT
    // persist: a persist inside an operator has no unpersist point and
    // would pin one CacheManager entry per call for the session's
    // lifetime; checkpoint blocks are released by the ContextCleaner
    // when the plan is GC'd) — the measured rows then feed the
    // downstream join from the materialized blocks instead of
    // recomputing the explode+groupBy. Same preemption tradeoff as the
    // q17/q59 checkpoint sites: a block lost to executor
    // decommissioning fails the job LOUDLY (lineage is truncated).
    // Estimated in-memory size = UTF-16 line chars + per-row object
    // overhead.
    val f = firsts.localCheckpoint(true)
    val m = f.agg(
      coalesce(sum(length(col("line")).cast("long")), lit(0L)),
      count(lit(1))).head
    val estBytes = m.getLong(0) * 2 + m.getLong(1) * 48
    val buildSide = if (estBytes <= broadcastMaxBytes) broadcast(f) else f
    lines.join(buildSide, Seq("line"), "left")
      .filter(col("first_pos").isNull || col("first_pos") === col("pos"))
      .groupBy(col("id").as(idCol))
      .agg(
        array_join(
          transform(sort_array(collect_list(struct(col("idx"), col("line")))),
            s => s.getField("line")),
          "\n").as(textCol),
        count(lit(1)).as("n_lines_kept"))
  }

  /** Document-frequency boilerplate stripping — the REMOVAL half of
    * CCNet-style line filtering: delete EVERY occurrence of any line that
    * appears in at least `minDocs` DISTINCT documents. [[dedupLines]]
    * keeps a repeated line's corpus-wide first occurrence (dedup
    * semantics); this operator treats high-document-frequency lines as
    * boilerplate and keeps none of them (filter semantics) — the two
    * compose: strip template boilerplate by DF first, then first-occurrence
    * dedup what remains. Whitespace-only lines are structure, never
    * counted and never stripped (same rule as [[dedupLines]]).
    *
    * Plan shape: the common-line vocabulary is a per-line distinct-doc
    * count — Spark plans the `countDistinct` as two keyed aggregations
    * ((line, id) partial-distinct, then line), both map-side-combinable —
    * whose qualifying output is BOILERPLATE-sized, so it BROADCASTS into
    * a left-anti join and the corpus lines never shuffle for the filter;
    * the only corpus-wide exchange is the ordered reassembly groupBy
    * (sort_array(collect_list)) shared with [[dedupLines]]. The
    * common-line vocabulary is boilerplate-sized and must fit executor
    * memory.
    *
    * A document whose every line is boilerplate disappears from the
    * output entirely (same reading as [[dedupLines]]).
    */
  def stripCommonLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long): DataFrame = {
    require(minDocs >= 2L, s"stripCommonLines: minDocs must be >= 2, got $minDocs")
    val lines = df.select(col(idCol).cast("long").as("id"),
      posexplode(split(col(textCol), "\n")).as(Seq("idx", "line")))
    val common = lines
      .filter(translate(col("line"), " \t\r\f", "") =!= "")
      .groupBy("line")
      .agg(countDistinct(col("id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("line")
    lines.join(broadcast(common), Seq("line"), "left_anti")
      .groupBy(col("id").as(idCol))
      .agg(
        array_join(
          transform(sort_array(collect_list(struct(col("idx"), col("line")))),
            s => s.getField("line")),
          "\n").as(textCol),
        count(lit(1)).as("n_lines_kept"))
  }

  final case class Sig(id: Long, sig: Array[Long], bands: Array[Long])
  final case class Pair(a: Long, b: Long)
  final case class ScoredPair(a: Long, b: Long, estimated_jaccard: Double)

  /** MinHash signatures + LSH band keys per row — one narrow pass. */
  def signatures(ds: Dataset[(Long, String)], shingleK: Int = 3,
      numPerm: Int = Fingerprint.DefaultNumPerm, bands: Int = Fingerprint.DefaultBands): Dataset[Sig] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.map { case (id, text) =>
      val sig = Fingerprint.minhash(Fingerprint.shingles(text, shingleK), numPerm)
      Sig(id, sig, Fingerprint.bandKeys(sig, bands))
    })
  }

  /** Candidate pairs from shared LSH bands. Shuffles once on the band key;
    * pair generation is per-bucket with a deterministic cap (buckets larger
    * than `maxBucket` — e.g. boilerplate-identical shells — pair only against
    * the bucket's smallest id, preserving connectivity for dedup while
    * keeping the output linear; each capped bucket bumps the
    * `graft.dedup.cappedBuckets` accumulator).
    */
  def candidatePairs(sigs: Dataset[Sig], maxBucket: Int = 1000): Dataset[Pair] = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val capped = newCappedCounter(spark)
    sigs.flatMap(s => s.bands.map(b => (b, s.id)))
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val ids = it.map(_._2).toArray.sorted
        val out = scala.collection.mutable.ArrayBuffer.empty[Pair]
        cappedStar(ids.length, maxBucket, capped)((i, j) => out += Pair(ids(i), ids(j)))
        out.iterator
      }
      .distinct()
  }

  /** Verify candidates with signature-estimated Jaccard ≥ threshold.
    * Signatures are re-joined (shuffle on id) — at scale the sig table is
    * ~64*8 bytes/doc, far smaller than texts.
    */
  def verifyPairs(sigs: Dataset[Sig], pairs: Dataset[Pair], threshold: Double): Dataset[ScoredPair] = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val sa = sigs.select(col("id").as("a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("id").as("b"), col("sig").as("sig_b"))
    pairs.toDF().join(sa, "a").join(sb, "b")
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (b, a, siga, sigb) => ScoredPair(a, b, Fingerprint.estimatedJaccard(siga, sigb)) }
      .filter(_.estimated_jaccard >= threshold)
  }

  /** Full MinHash-LSH near-dup pipeline over (id, text). EAGER: the
    * signature table is cached for the two passes (bands, verify), the
    * small pair result is materialized (localCheckpoint), and the
    * signature cache is released before returning — repeated job-level
    * calls don't accumulate executor memory. Tradeoff: materialization
    * truncates lineage, so on a preemptible cluster an executor loss after
    * return makes the result blocks unrecomputable.
    */
  def minhashNearDups(ds: Dataset[(Long, String)], threshold: Double = 0.8): Dataset[ScoredPair] = {
    val sigs = signatures(ds).persist()
    try verifyPairs(sigs, candidatePairs(sigs), threshold).localCheckpoint(true)
    finally sigs.unpersist()
  }

  /** Near-dup pairs by SimHash hamming distance ≤ maxDist, using
    * 4-block pigeonhole keys (one shuffle on the block key). Buckets larger
    * than `maxBucket` (boilerplate-identical shells all share a 16-bit
    * block) pair only against the bucket's smallest id — connectivity is
    * preserved for HOMOGENEOUS buckets while per-bucket work stays linear.
    * Caveat: a capped bucket can drop a true pair whose members are both
    * far from the keeper; recall then rests on the pair's other 3 blocks
    * landing in an uncapped shared bucket. That is the deliberate
    * bounded-work/recall tradeoff for hot keys — raise `maxBucket` (or
    * pre-split hot block values) when hot-bucket recall matters more than
    * the O(bucket²) bound.
    */
  def simhashNearDups(ds: Dataset[(Long, String)], maxDist: Int = 3, maxBucket: Int = 1000): Dataset[ScoredPair] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val capped = newCappedCounter(spark)
    val hashes = ds.mapPartitions(_.map { case (id, t) => (id, Fingerprint.simhash64(t)) })
    val pairs = hashes.flatMap { case (id, h) => Fingerprint.simhashBlocks(h).map(b => (b, id, h)) }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val members = it.map(m => (m._2, m._3)).toArray.sortBy(_._1)
        val out = scala.collection.mutable.ArrayBuffer.empty[ScoredPair]
        cappedStar(members.length, maxBucket, capped) { (i, j) =>
          val d = Fingerprint.hamming(members(i)._2, members(j)._2)
          if (d <= maxDist && members(i)._1 != members(j)._1)
            out += ScoredPair(members(i)._1, members(j)._1, 1.0 - d / 64.0)
        }
        out.iterator
      }
    pairs.distinct()
  }

  /** Exact n-gram Jaccard for a pair set — the final verification stage
    * (joins texts back only for surviving candidates).
    *
    * Shape chosen by MEASUREMENT at 100× (see BENCH.md round 5): the
    * shingle pass — the dominant compute — runs EXACTLY ONCE (eager
    * `localCheckpoint`, so this operator materializes the shingle table),
    * and the pair set joins it TWICE against the materialized blocks.
    * Per-join the shingle table ships once regardless of how many pairs a
    * document appears in; an explode-per-pair-member + regroup shape
    * (tried first) ships each document's array once PER PAIR, which at a
    * dense near-dup corpus (12 pairs/doc at 100×) meant a 24 GB array
    * shuffle vs ~4 GB here. When the pair set is small (the normal
    * LSH-verify case) it broadcasts and the shingle blocks never shuffle
    * at all. Tradeoff of the checkpoint: one materialization of
    * O(corpus tokens) longs — spillable, lineage-truncated; a lost block
    * on preemptible executors fails loudly.
    */
  def exactJaccard(ds: Dataset[(Long, String)], pairs: Dataset[Pair], k: Int = 3): Dataset[ScoredPair] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val sh = ds.mapPartitions(_.map { case (id, t) => (id, Fingerprint.shingles(t, k)) })
      .select(col("_1").as("id"), col("_2").as("sh"))
      .localCheckpoint(true)
    val sa = sh.select(col("id").as("a"), col("sh").as("sh_a"))
    val sb = sh.select(col("id").as("b"), col("sh").as("sh_b"))
    pairs.toDF().join(sa, "a").join(sb, "b")
      // using-joins move their keys first; re-fix order before the
      // positional decode (the classic q19 a/b-swap trap)
      .select(col("a"), col("b"), col("sh_a"), col("sh_b"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (a, b, sha, shb) => ScoredPair(a, b, Fingerprint.jaccard(sha, shb)) }
  }

  /** Embedding-cosine near-dup pairs via banded multi-table hyperplane LSH
    * (see [[Similarity.hyperplaneKey]]): eight independent 10-bit
    * sign-pattern tables (distinct plane seeds) so a pair below the ~0.999
    * regime still collides in at least one table with high probability —
    * at cosine 0.95 the single-table hit rate of a 10-bit key is ~0.35;
    * eight tables lift recall to ~0.97. One shuffle on the (table, key)
    * pair; per-bucket pairing is capped at `maxBucket` members (larger
    * buckets — clustered or degenerate embeddings, exactly the dedup
    * target — pair only against the bucket's smallest id, keeping
    * connectivity and linear output).
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, maxBucket: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val capped = newCappedCounter(spark)
    val ds = df.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
    ds.flatMap { case (id, v) =>
        Iterator.tabulate(8)(t =>
          ((t.toLong << 56) ^ Similarity.hyperplaneKey(v, 10, seed = 7L + 1013L * t), id, v))
      }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val members = it.map(m => (m._2, m._3)).toArray.sortBy(_._1)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        cappedStar(members.length, maxBucket, capped) { (i, j) =>
          val c = Similarity.cosine(members(i)._2, members(j)._2)
          if (c >= threshold) out += ((members(i)._1, members(j)._1, c))
        }
        out.iterator
      }
      .toDF("a", "b", "cosine")
      .dropDuplicates("a", "b")
  }

  final case class ClusterResult(assignment: DataFrame, iterations: Int)

  /** Edge-count gate below which [[resolveClustersDetailed]] collects the
    * canonical edge set and resolves components with a driver-side
    * union-find instead of iterating distributed rounds. The assignment is
    * IDENTICAL (component minimum as keeper) — this is purely an execution
    * strategy choice: each Kiveris round costs two shuffles plus two
    * actions of fixed latency, so a bounded pair graph (the normal output
    * of capped-bucket candidate generation) pays ~10 rounds of scheduling
    * overhead to move a few MB. Sizing is accounted at the JVM's real
    * cost, not the raw tuple bytes: union-find builds boxed
    * HashMap/TreeSet structures of roughly 200–300 bytes per edge
    * worst-case, so the 1M-edge default bounds the transient driver heap
    * at a few hundred MB — the justified-bounded-collect class. Above the
    * gate the distributed rounds run unchanged (the arbitrary-scale path).
    * Tunable via `spark.graft.cc.localMaxEdges` (0 disables the fast
    * path; size any increase against driver heap, not tuple bytes).
    */
  private def ccLocalMaxEdges(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.cc.localMaxEdges").map(_.toLong).getOrElse(1000000L)

  /** Driver-side union-find over canonical (u > v) edges: returns every
    * node mapped to its component minimum — the same fixed point the
    * large-star/small-star rounds converge to (roots only ever shrink:
    * unions attach the larger root under the smaller, so the final root
    * of a component is its minimum node).
    */
  private[engine] def unionFindAssignment(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    // clamp the capacity hint: a raised gate could push length*2 past Int
    val parent = new java.util.HashMap[Long, Long](
      math.min(edges.length.toLong * 2, (Int.MaxValue - 8).toLong).toInt)
    def find(x: Long): Long = {
      var r = x
      var p = parent.getOrDefault(r, r)
      while (p != r) { r = p; p = parent.getOrDefault(r, r) }
      // path compression
      var c = x
      while (c != r) { val n = parent.getOrDefault(c, c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (u, v) =>
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        // union by MIN root: the keeper contract is the component minimum
        if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    val nodes = new java.util.TreeSet[java.lang.Long]()
    edges.foreach { case (u, v) => nodes.add(u); nodes.add(v) }
    val out = new Array[(Long, Long)](nodes.size)
    var i = 0
    val it = nodes.iterator()
    while (it.hasNext) { val n = it.next().longValue(); out(i) = (n, find(n)); i += 1 }
    out
  }

  /** Connected-component resolution over a near-duplicate pair graph — the
    * stage that turns pair emission ([[minhashNearDups]] /
    * [[simhashNearDups]] / [[embeddingNearDups]]) into an actual
    * deduplication: transitive chains A~B, B~C collapse onto ONE keeper
    * (the component's minimum id) even when A and C never formed a pair
    * themselves, which is exactly the case naive pair-dropping gets wrong
    * (dropping `b` of every pair would remove BOTH B and C but also leaves
    * order-dependent survivors when chains overlap).
    *
    * Algorithm: the alternating large-star/small-star method (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * every round is two keyed aggregation+join passes over the edge set,
    * no driver-side graph, converging in O(log² n) rounds (paths/trees
    * collapse in O(log n); real near-dup graphs are dense cliques and
    * finish in 2-3):
    *
    *  - large-star: every node points its LARGER neighbors at the minimum
    *    of its closed neighborhood;
    *  - small-star: every node points its smaller neighbors (and itself)
    *    at the minimum of its smaller neighborhood.
    *
    * At the fixed point the edge set is a star per component — (member,
    * root) for every non-root member — which IS the assignment table.
    *
    * EAGER operator: each round `localCheckpoint`s the shrinking edge set
    * (truncating lineage — an iterative plan would otherwise double per
    * round) and runs one small aggregation action on the materialized
    * result for the convergence check (count + order-independent hash-sum
    * signature; stable signature on a materialized set = stable set).
    * The edge set is bounded by the candidate-pair output, not the corpus.
    * Throws `IllegalStateException` if `maxIterations` rounds pass without
    * a fixed point (the O(log² n) bound makes the default unreachable for
    * any physical edge set; hitting it means the input is pathological).
    *
    * Returns (id, keeper_id) for every node that appears in a pair;
    * isolated documents never enter the graph and implicitly keep
    * themselves ([[dedupNear]] relies on that). Bounded graphs take the
    * [[unionFindAssignment]] driver fast path (see [[ccLocalMaxEdges]]).
    */
  def resolveClustersDetailed(pairs: Dataset[Pair], maxIterations: Int = 30): ClusterResult = {
    val spark = pairs.sparkSession
    def sig(df: DataFrame): (Long, Long) = {
      // order-independent, overflow-free set signature (ANSI mode makes a
      // long SUM throw on overflow; XOR of 64-bit hashes cannot)
      val r = df.agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }
    // canonical directed form: (u, v) with u > v, self-pairs dropped
    var edges = pairs.toDF()
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    val gate = ccLocalMaxEdges(spark)
    if (gate > 0 && gate <= Int.MaxValue - 1) {
      // bounded-collect probe: limit(gate+1) short-circuits, so either the
      // WHOLE canonical edge set comes back (≤ gate rows) or the overflow
      // row proves it is too big and the distributed rounds run instead
      import spark.implicits._
      val probe = edges.select(col("u"), col("v")).as[(Long, Long)]
        .limit(gate.toInt + 1).collect()
      if (probe.length <= gate) {
        val local = unionFindAssignment(probe)
        val assignment = spark.createDataset(
            spark.sparkContext.parallelize(local.toIndexedSeq,
              math.max(1, math.min(spark.sparkContext.defaultParallelism,
                local.length / 4096 + 1))))
          .toDF("id", "keeper_id")
        return ClusterResult(assignment, 0)
      }
    }
    var prev = sig(edges)
    var iter = 0
    var converged = prev._1 == 0L
    while (!converged && iter < maxIterations) {
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val largeMins = sym.groupBy("u").agg(min("v").as("m"))
      val large = sym.join(largeMins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("u"), col("m")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      val smallMins = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(smallMins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(smallMins.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(true)
      val cur = sig(small)
      converged = cur == prev
      prev = cur
      edges = small
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"resolveClusters: no fixed point after $maxIterations large-star/small-star rounds")
    val assignment = edges.select(col("u").as("id"), col("v").as("keeper_id"))
      .union(edges.select(col("v").as("id"), col("v").as("keeper_id")).distinct())
    ClusterResult(assignment, iter)
  }

  /** [[resolveClustersDetailed]] without the round count. */
  def resolveClusters(pairs: Dataset[Pair], maxIterations: Int = 30): DataFrame =
    resolveClustersDetailed(pairs, maxIterations).assignment

  /** Near-duplicate DEDUPLICATION: collapse the pair graph to connected
    * components ([[resolveClusters]]) and keep only each component's
    * minimum-id keeper — the callable `dedupNear(df, pairs)` a pretraining
    * pipeline chains after candidate generation + verification. The
    * non-keeper table is (component-member count − component count) ids —
    * for web corpora a large fraction of the corpus, so the anti-join is
    * a keyed shuffle on `idCol` (NOT a broadcast; AQE still broadcasts it
    * when the graph turns out small). Isolated documents never enter the
    * graph and pass through untouched.
    */
  def dedupNear(df: DataFrame, idCol: String, pairs: Dataset[Pair],
      maxIterations: Int = 30): DataFrame = {
    val nonKeepers = resolveClusters(pairs, maxIterations)
      .filter(col("id") =!= col("keeper_id"))
      .select(col("id").as(idCol))
    df.join(nonKeepers, Seq(idCol), "left_anti")
  }

  /** ONE-CALL near-dedup of a text corpus — the full production chain:
    * MinHash signatures → LSH candidate pairs (capped buckets) → exact
    * word-3-gram Jaccard verify at `threshold` → connected-component
    * resolution → anti-join non-keepers. This is the operator a
    * pretraining pipeline calls as
    * `Dedup.dedupNearText(corpus, "doc_id", "text")`; q59's flagship
    * stage routes through it.
    *
    * EAGER (like its parts): signatures persist for the two passes,
    * exactJaccard checkpoints the shingle table, and cluster resolution
    * materializes the graph — the returned frame is `df` minus a small
    * non-keeper table, lazily composable downstream. The text input is
    * evaluated by two passes (signatures, shingles); feed it from a scan
    * or checkpoint it first. `maxBucket` trades exact pair coverage for
    * bounded work on dense near-dup families (mirror sites; see
    * [[candidatePairs]] — the capped star is a disclosed approximation
    * that preserves connectivity w.h.p.).
    */
  def dedupNearText(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.85, maxBucket: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
    val sigs = signatures(ds).persist()
    try {
      val pairs = exactJaccard(ds, candidatePairs(sigs, maxBucket))
        .filter(_.estimated_jaccard >= threshold)
        .map(p => Pair(p.a, p.b))
      val nonKeepers = resolveClusters(pairs)
        .filter(col("id") =!= col("keeper_id"))
        .select(col("id").cast("long").as(idCol))
      // cheap count: the assignment derives from the checkpointed edge
      // set, and at web scale non-keepers can be half the corpus — never
      // collect them to the driver
      if (nonKeepers.count() == 0L) df else df.join(nonKeepers, Seq(idCol), "left_anti")
    } finally sigs.unpersist()
  }
}
