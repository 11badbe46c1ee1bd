package graft

import graft.core._
import graft.engine._
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: one query per implemented operator family (SURVEY §2),
  * each with a DuckDB-equivalent oracle where SQL can express the semantics.
  * Column names/types are aligned with the oracle SQL (the driver hashes
  * columns by name); every result carries a deterministic ORDER BY.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(graft.jobs.Staging.parquetSchema(spark, path)).parquet(path)
  }

  /** Flagship: full extraction pipeline over the synthetic web corpus —
    * html → boilerplate strip → tokenize → score → merge, zero shuffle.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Extraction.extractDF(spark, 200, 8)
      .select($"url", length($"extracted_text").as("n_chars"), $"n_tokens",
        size($"labels").as("n_labels"), $"text_sha256")
      .orderBy($"url")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (Catalyst-optimized scans/joins/aggs) ----
    "q01_pushdown_agg" -> ((s, dir) => {
      // TPC-H Q1 flavor: filter pushed to parquet, partial aggs map-side
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q02_broadcast_join" -> ((s, dir) => {
      // dim side broadcast explicitly — no shuffle of the fact table
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 4).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),
    "q03_shuffle_join_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("n_name"))
    }),
    "q04_filter_project" -> ((s, dir) => {
      // predicate + projection pushdown (ReadSchema must shrink to 4 cols)
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    }),
    "q05_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),
    "q06_anti_join" -> ((s, dir) => {
      // U2 flavor: left-anti = customers without any large order
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 200000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_nationkey"))
    }),
    "q07_window_rank" -> ((s, dir) => {
      // O3/O4 flavor: per-key ordered ranking
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_suppkey"), col("rn"))
    }),
    "q08_time_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    }),
    "q09_weighted_mode" -> ((s, dir) => {
      // E3: confidence-weighted mode via custom Aggregator (UDAF surface)
      import s.implicits._
      val wm = udaf(new Evaluate.WeightedMode())
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(wm(col("user_id"), col("value")).as("mode_user"))
        .orderBy(col("event_type"))
    }),

    // ---- span algebra / evaluation (E1/E2 joins over derived spans) ----
    "q10_compare_strict" -> ((s, dir) => {
      // E1: full outer join on exact (doc, start, end)
      val d = t(s, dir, "documents")
      def chunks(stride: Int) = d
        .select(col("doc_id"), explode(sequence(lit(0), col("n_chars") - 1, lit(stride))).as("cstart"), col("n_chars"))
        .select(col("doc_id"), col("cstart"), least(col("cstart") + stride, col("n_chars")).as("cend"))
      val a = chunks(100).withColumnRenamed("cstart", "s").withColumnRenamed("cend", "e")
      val b = chunks(150).withColumnRenamed("cstart", "s").withColumnRenamed("cend", "e")
        .withColumn("from_b", lit(1))
      val joined = a.withColumn("from_a", lit(1))
        .join(b, Seq("doc_id", "s", "e"), "outer")
      joined.groupBy(col("doc_id"))
        .agg(
          sum(when(col("from_a").isNotNull && col("from_b").isNotNull, 1).otherwise(0)).as("n_matched"),
          sum(when(col("from_a").isNotNull && col("from_b").isNull, 1).otherwise(0)).as("n_a_only"),
          sum(when(col("from_a").isNull && col("from_b").isNotNull, 1).otherwise(0)).as("n_b_only"))
        .orderBy(col("doc_id"))
    }),
    "q11_compare_overlap" -> ((s, dir) => {
      // E2: non-strict interval-overlap join (equi on doc + range predicate)
      val d = t(s, dir, "documents")
      def chunks(stride: Int, off: Int, idName: String) = d
        .filter(col("n_chars") > off)
        .select(col("doc_id").as(idName),
          explode(sequence(lit(off), col("n_chars") - 1, lit(stride))).as("cstart"), col("n_chars"))
        .select(col(idName), col("cstart"), least(col("cstart") + stride, col("n_chars")).as("cend"))
      val a = chunks(100, 0, "doc_id")
      val b = chunks(100, 50, "doc_id_b").withColumnRenamed("cstart", "bs").withColumnRenamed("cend", "be")
      a.join(b, col("doc_id") === col("doc_id_b") && col("bs") <= col("cend") && col("be") >= col("cstart"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_overlaps"))
        .orderBy(col("doc_id"))
    }),
    "q12_token_count" -> ((s, dir) => {
      // native codegen'd expression (T2 counter) — stays in WholeStageCodegen
      t(s, dir, "documents")
        .select(col("doc_id"), GraftFunctions.token_count(col("text")).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    }),
    "q13_line_stats" -> ((s, dir) => {
      // T13 line splitter arithmetic (\n / \f contracts)
      t(s, dir, "documents").select(
        col("doc_id"),
        (length(col("text")) - length(regexp_replace(col("text"), "\n", "")) + 1).cast("long").as("n_lines"),
        (length(col("text")) - length(regexp_replace(col("text"), "\f", "")) + 1).cast("long").as("n_pages"),
        length(col("text")).cast("long").as("len_check"))
        .orderBy(col("doc_id"))
    }),
    "q26_missing_offsets" -> ((s, dir) => {
      // F2: gap complement via the reference gap-walk (chunks at stride 250)
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("n_chars").cast("int"))
        .as[(Long, Int)]
        .mapPartitions(_.flatMap { case (docId, n) =>
          val annotated = (0 until n by 250).map(k => Span(k, math.min(k + 100, n)))
          TextOffsets.missingOffsets(0, n, annotated).map(sp => (docId, sp.start, sp.end))
        })
        .toDF("doc_id", "gap_start", "gap_end")
        .select(col("doc_id"), col("gap_start").cast("long"), col("gap_end").cast("long"))
        .orderBy(col("doc_id"), col("gap_start"))
    }),

    // ---- text analysis over documents ----
    "q14_exact_dedup" -> ((s, dir) => {
      // duplicated corpus guarantees non-trivial groups
      val d = t(s, dir, "documents")
      val doubled = d.select(col("doc_id"), col("text"))
        .union(d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.exactGroups(doubled, "doc_id", "text").orderBy(col("text_hash"))
    }),
    "q15_quality_counts" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        (length(col("text")) - length(regexp_replace(col("text"), "[a-zA-Z]", ""))).cast("long").as("n_alpha"),
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))).cast("long").as("n_digit"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("long").as("n_space"),
        GraftFunctions.token_count(col("text")).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    }),
    "q16_langid" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) => (id, LangId.detect(text)) })
        .toDF("doc_id", "lang_pred")
        .orderBy(col("doc_id"))
    }),
    "q17_minhash_neardups" -> ((s, dir) => {
      // production-shaped two-stage dedup: MinHash-LSH candidate generation
      // -> EXACT word-3-gram Jaccard verify at 0.85. At this threshold the
      // 16x4 banding misses a true pair w.p. ~7e-6, so the oracle can
      // enumerate the exact >=0.85 pair set with an all-pairs SQL check
      // over the bounded (doc_id < 150, doubled) input.
      import s.implicits._
      val d = t(s, dir, "documents").filter(col("doc_id") < 150)
      val doubled = d.select(col("doc_id"), col("text"))
        .union(d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        .as[(Long, String)]
      val sigs = Dedup.signatures(doubled).persist()
      val out = Dedup.exactJaccard(doubled, Dedup.candidatePairs(sigs))
        .filter(_.estimated_jaccard >= 0.85)
        .toDF()
        .select(col("a"), col("b"), round(col("estimated_jaccard"), 6).as("jaccard"))
        .orderBy(col("a"), col("b"))
        .localCheckpoint(true)
      sigs.unpersist()
      out
    }),
    "q18_simhash" -> ((s, dir) => {
      // §2.15 native-expr surface with SELF-WITNESS columns: the raw 64-bit
      // hash is not SQL-reproducible, so the query emits the kernel's
      // provable invariants instead — bag-of-words simhash is exactly
      // invariant under token reordering and corpus doubling (vote sums
      // scale, signs unchanged), and a single-token edit moves every vote
      // by at most ±2 (measured max hamming 12 on the corpus; bound 20).
      // All four simhash evaluations run through the codegen'd native
      // expression, so a kernel regression breaks the constant oracle.
      val base = GraftFunctions.simhash64(col("text"))
      val doubled = GraftFunctions.simhash64(concat(col("text"), lit(" "), col("text")))
      val sorted = GraftFunctions.simhash64(array_join(array_sort(split(col("text"), " ")), " "))
      val oneEdit = GraftFunctions.simhash64(regexp_replace(col("text"), "^[^ ]+", "zzzz"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          bit_count(base.bitwiseXOR(doubled)).cast("long").as("ham_doubled"),
          bit_count(base.bitwiseXOR(sorted)).cast("long").as("ham_sorted"),
          // the ≤20 bound only holds when many tokens anchor the vote sums:
          // a one-token edit moves each bit's vote by at most ±2, so short
          // docs (where every |vote| ≤ 2) can legitimately flip most bits —
          // witness only docs with enough tokens for the bound to be sound
          (size(split(col("text"), " ")) < lit(64) ||
            bit_count(base.bitwiseXOR(oneEdit)) <= lit(20)).as("locality_ok"))
        .orderBy(col("doc_id"))
    }),
    "q19_ngram_jaccard" -> ((s, dir) => {
      // exact 3-gram Jaccard of consecutive doc pairs
      import s.implicits._
      val d = t(s, dir, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
      val pairs = t(s, dir, "documents").select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
        .join(t(s, dir, "documents").select(col("doc_id").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")) // using-join moves the key first; re-fix order before the positional decode
        .as[(Long, Long)].map { case (a, b) => Dedup.Pair(a, b) }
      Dedup.exactJaccard(d, pairs).toDF()
        .select(col("a"), col("b"), round(col("estimated_jaccard"), 6).as("jaccard"))
        .orderBy(col("a"))
    }),

    // ---- similarity search over embeddings ----
    "q20_ann_bruteforce" -> ((s, dir) => {
      import s.implicits._
      val corpus = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
      val queries = corpus.filter(_._1 < 10).collect().sortBy(_._1)
      Similarity.bruteForceTopK(corpus, queries, 5).toDF()
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q21_ann_lsh" -> ((s, dir) => {
      // approximate by design (no SQL oracle for the probe internals) —
      // SELF-WITNESS: each row carries recall@5 against the exact top-5
      // from the verified brute-force kernel (q20's oracle-green path), so
      // the output certifies its own quality deterministically.
      import s.implicits._
      val corpus = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
      val queries = corpus.filter(_._1 < 10).collect().sortBy(_._1)
      val exactTop = Similarity.bruteForceTopK(corpus, queries, 5).collect()
        .groupBy(_.query_id).view.mapValues(_.map(_.neighbor_id).toSet).toMap
      val lsh = Similarity.lshTopK(corpus, queries, 5).collect()
      val recall = lsh.groupBy(_.query_id).view
        .mapValues(ns => ns.count(n => exactTop(n.query_id).contains(n.neighbor_id)) / 5.0).toMap
      lsh.toVector.sortBy(r => (r.query_id, r.rank))
        .map(r => (r.query_id, r.neighbor_id, math.rint(r.cosine * 1e6) / 1e6, r.rank,
          recall(r.query_id)))
        .toDF("query_id", "neighbor_id", "cosine", "rank", "recall_at_5_vs_exact")
        .orderBy(col("query_id"), col("rank"))
    }),
    "q47_ann_ivf" -> ((s, dir) => {
      // IVF with the quantizer OUT of the query path AND the scale read
      // path exercised: the index is built once per corpus (AnnIndexJob;
      // deterministic local k-means over a take-ordered sample), persisted
      // cell-partitioned, and the query reads `cells/` through
      // `col("cell").isin(probed)` — parquet partition pruning
      // (PartitionFilters, asserted in AnnIndexJobSpec) opens only the
      // nProbe probed cells' files. Identical results to the inline
      // full-scan path over the same index.
      import s.implicits._
      val corpus = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
      val queries = corpus.filter(_._1 < 10).collect().sortBy(_._1)
      val indexDir = graft.jobs.AnnIndexJob.cachedIndexDir(s"$dir/embeddings", s, corpus)
      // SELF-WITNESS recall@5 vs the exact top-5, like q21
      val exactTop = Similarity.bruteForceTopK(corpus, queries, 5).collect()
        .groupBy(_.query_id).view.mapValues(_.map(_.neighbor_id).toSet).toMap
      val ivf = graft.jobs.AnnIndexJob.queryIndex(s, indexDir, queries, 5, nProbe = 3).collect()
      val recall = ivf.groupBy(_.query_id).view
        .mapValues(ns => ns.count(n => exactTop(n.query_id).contains(n.neighbor_id)) / 5.0).toMap
      ivf.toVector.sortBy(r => (r.query_id, r.rank))
        .map(r => (r.query_id, r.neighbor_id, math.rint(r.cosine * 1e6) / 1e6, r.rank,
          recall(r.query_id)))
        .toDF("query_id", "neighbor_id", "cosine", "rank", "recall_at_5_vs_exact")
        .orderBy(col("query_id"), col("rank"))
    }),
    "q22_embedding_neardups" -> ((s, dir) => {
      // bounded subset so the DuckDB oracle's exact pairwise check is cheap
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      val doubled = e.select(col("vec_id"), col("embedding"))
        .union(e.select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      Dedup.embeddingNearDups(doubled, "vec_id", "embedding", 0.999)
        .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("a"), col("b"))
    }),

    // ---- extraction pipeline (flagship path over real tables) ----
    "q23_extract_sha" -> ((s, dir) => {
      // text-passthrough extraction: sha + token counts oracle-checkable
      withTextStats(t(s, dir, "documents").select(col("doc_id"), col("text")))
        .select("doc_id", "n_tokens", "text_sha256")
        .orderBy(col("doc_id"))
    }),
    "q24_extract_entities" -> ((s, dir) => {
      // end-to-end extraction with closed-form ground truth: construct an
      // entity-bearing invoice line per lineitem row, run the FULL pipeline
      // (tokenize -> score -> normalize -> percent-sign attach -> merge),
      // and let the oracle enumerate the exact expected entities. Exercises
      // number/amount/date/percent/email labeling plus the "7 %" two-token
      // percent attachment.
      import s.implicits._
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          col("l_shipdate"), col("l_discount"))
        // deterministic total order WITHOUT re-executing the extraction: a
        // global orderBy AFTER the mapPartitions range-samples its child,
        // which runs the expensive kernel twice. Range-partition the CHEAP
        // input instead (sampling re-reads only the pruned lineitem scan),
        // extract, then sort within partitions — same total order, the
        // kernel runs once. The computed projection (date_format, cents)
        // sits ABOVE the exchange: the boundary-sampling pass then runs
        // only the raw scan, and the shuffle carries the int32 date, not
        // the formatted string (guide §2.3: project before the exchange —
        // here the cheap columns go through, the derived ones after).
        .repartitionByRange(32, col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          date_format(col("l_shipdate"), "dd.MM.yyyy").as("gdate"),
          round(col("l_discount") * 100).cast("long").as("pct"))
        .as[(Long, Int, Long, String, Long)]
        .mapPartitions(_.flatMap { case (ok, ln, cents, gdate, pct) =>
          // quantity stays 2-digit: 4/6/8-digit bare integers are
          // date-shaped (year / positional formats) and would rightly be
          // labeled date by the scorer
          val text = s"Rechnung Anzahl ${ln * 7 + 3} Betrag ${cents / 100},${"%02d".format(cents % 100)} " +
            s"am $gdate Rabatt $pct % Kontakt kunde$ok@firma.de"
          // labels are the only consumed field: extractLabelsOnly runs the
          // identical tokenize→score→merge chain and skips the
          // sha/simhash/langid fingerprints this query drops
          Extraction.extractLabelsOnly(text).iterator.map { l =>
            val numeric = l.label == "number" || l.label == "amount" || l.label == "percent"
            (ok, ln, l.label, l.text,
              if (numeric) l.normalized.toDouble else 0.0,
              if (numeric) "" else l.normalized)
          }
        })
        .toDF("l_orderkey", "l_linenumber", "label", "span_text", "norm_num", "norm_str")
        .sortWithinPartitions(col("l_orderkey"), col("l_linenumber"), col("label"))
    }),
    "q25_normalize_number" -> ((s, dir) => {
      // N2 against an arithmetic oracle: German-formatted amounts round-trip
      import s.implicits._
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .as[(Long, Int, Long)]
        .mapPartitions(_.map { case (ok, ln, cents) =>
          val german = s"${cents / 100},${"%02d".format(cents % 100)}"
          (ok, ln, Normalize.normalizeToFloat(german).getOrElse(Double.NaN))
        })
        .toDF("l_orderkey", "l_linenumber", "normalized")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "q27_normalize_date" -> ((s, dir) => {
      // N4 against strftime oracle: DD.MM.YYYY → ISO
      import s.implicits._
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          date_format(col("l_shipdate"), "dd.MM.yyyy").as("german"))
        .as[(Long, Int, String)]
        .mapPartitions(_.map { case (ok, ln, g) => (ok, ln, Normalize.normalizeToDate(g).getOrElse("")) })
        .toDF("l_orderkey", "l_linenumber", "iso_date")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "q28_features" -> ((s, dir) => {
      // X1 feature scalars of each doc's first token, vs regexp-count oracle
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val tok = Rx.tokenSpans(text, Tokenizers.whitespace).headOption
            .map(sp => text.substring(sp.start, sp.end)).getOrElse("")
          (id, tok, tok.length.toLong, Features.digitCount(tok).toLong,
            Features.vowelCount(tok).toLong, Features.upperCount(tok).toLong)
        })
        .toDF("doc_id", "first_token", "tok_len", "n_digit", "n_vowel", "n_upper")
        .orderBy(col("doc_id"))
    }),
    "q29_sessionize" -> ((s, dir) => {
      // stateful per-key sequential kernel (gaps-and-islands), 30-minute gap
      import s.implicits._
      t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("timestamp").cast("long").as("tsec"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .mapGroups { (uid, it) =>
          val times = it.map(_._2).toArray.sorted
          var sessions = if (times.nonEmpty) 1L else 0L
          var i = 1
          while (i < times.length) {
            if (times(i) - times(i - 1) > 1800) sessions += 1
            i += 1
          }
          (uid, sessions, times.length.toLong)
        }
        .toDF("user_id", "n_sessions", "n_events")
        .orderBy(col("user_id"))
    }),
    "q30_stream_window" -> ((s, dir) => {
      // Structured Streaming surface: same aggregation as q08 via readStream
      val schema = t(s, dir, "events").schema
      // file-stream source requires a directory: stage the parquet file
      // (deleted once the query stops: the memory sink holds the rows)
      val stage = java.nio.file.Files.createTempDirectory("graft_stream_src")
      val qname = "graft_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
      try {
        java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
          stage.resolve("events.parquet"))
        val stream = s.readStream.schema(schema).parquet(stage.toString)
          .withColumn("ts", col("ts").cast("timestamp")) // NTZ → session-UTC event time
        val agg = stream
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        val q = agg.writeStream.outputMode("complete").format("memory").queryName(qname).start()
        q.processAllAvailable(); q.stop()
      } finally graft.jobs.Staging.deleteTree(stage)
      s.table(qname)
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    }),
    "q31_view_annotations" -> ((s, dir) => {
      // F3 engine operator (data.py:1847-1882) over a closed-form candidate
      // lattice: per 100-char window, candidate A [0,45) and B [30,75)
      // overlap (greedy keeps the priority winner), C is user-rejected
      // (revised && !correct -> dropped), D sits below the 0.5 threshold
      // (dropped). Every 5th window B is is_correct, which outranks any
      // confidence. The oracle recomputes the winner per window.
      import s.implicits._
      val anns = t(s, dir, "documents").select(col("doc_id"), col("n_chars").cast("int"))
        .as[(Long, Int)]
        .flatMap { case (docId, n) =>
          Iterator.from(0).takeWhile(k => 100 * k + 75 <= n).flatMap { k =>
            def h(j: Long): Long = (docId * 1000003L + j * 2654435761L) % 65536L
            val confA = 0.5 + 0.4 * h(2L * k) / 65536.0
            val confB = 0.5 + 0.4 * h(2L * k + 1) / 65536.0
            val base = 100 * k
            Seq(
              (docId, 4L * k, "val", base, base + 45, false, false, confA),
              (docId, 4L * k + 1, "val", base + 30, base + 75, k % 5 == 0, false, confB),
              (docId, 4L * k + 2, "val", base + 10, base + 55, false, true, 0.99),
              (docId, 4L * k + 3, "val", base + 5, base + 50, false, false, 0.2))
          }
        }
        .toDF("doc_id", "ann_id", "label", "start", "end", "is_correct", "revised", "confidence")
      Annotations.viewAnnotationsDF(anns, Map("val" -> LabelDef("val", "Text", 0.5)))
        .select(col("doc_id"), col("ann_id"),
          col("start").cast("long").as("span_start"), col("end").cast("long").as("span_end"),
          col("is_correct").cast("long").as("is_correct"),
          round(col("confidence"), 6).as("confidence"))
        .orderBy(col("doc_id"), col("span_start"))
    }),
    "q32_regex_induction" -> ((s, dir) => {
      // R3/R5: learned W/N/F token patterns for each doc's first token. On
      // pure-lowercase tokens the generalization is closed-form (escape and
      // digit-replace are no-ops; F collapses the letter run), so the
      // oracle rebuilds all three patterns including group names.
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val tok = Rx.tokenSpans(text, Tokenizers.whitespace).headOption
            .map(sp => text.substring(sp.start, sp.end)).getOrElse("")
          val ts = RegexGen.annotationTokens(tok, labelId = 1, annotationId = id, start = 0)
          (id, ts(0).regex, ts(1).regex, ts(2).regex)
        })
        .toDF("doc_id", "regex_w", "regex_n", "regex_f")
        .orderBy(col("doc_id"))
    }),
    "q33_multimodal" -> ((s, dir) => {
      // multimodal plumbing with a content-complete oracle: the payload is
      // emitted as hex so DuckDB can rebuild the exact bytes from the
      // generator closed-form (sha256 stays engine-internal — DuckDB's
      // sha256 is VARCHAR-only and can't hash raw blobs)
      import s.implicits._
      Multimodal.syntheticMedia(s, 500, 8)
        .mapPartitions(_.map { row =>
          val f = Multimodal.StubCodec.decode(row)
          val hex = row.payload.map("%02x".format(_)).mkString
          (f.media_id, f.media_type, f.n_bytes.toLong, hex, f.frames_sampled.toLong)
        })
        .toDF("media_id", "media_type", "n_bytes", "payload_hex", "frames_sampled")
        .orderBy(col("media_id"))
    }),
    "q53_frame_crossline" -> ((s, dir) => {
      // X4 cross-line variant INSIDE the assembled frame: with acrossLines
      // on, a target short of same-line neighbors probes adjacent lines
      // (reference py:1506-1560 — previous-line candidates reversed, pos =
      // signed line distance). On the 8-token lattice the probe resolves to
      // tokens i±1/i±2 with line-delta positions, so every l/r dist+pos
      // column has a closed form the oracle recomputes independently.
      import s.implicits._
      val names = FeatureFrame.featureNames(2, 2, firstWord = true, acrossLines = true)
      def ix(n: String): Int = names.indexOf(n)
      val (iLd0, iLd1, iLp0, iLp1) = (ix("l_dist0"), ix("l_dist1"), ix("l_pos0"), ix("l_pos1"))
      val (iRd0, iRd1, iRp0, iRp1) = (ix("r_dist0"), ix("r_dist1"), ix("r_pos0"), ix("r_pos1"))
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartitionByRange(32, col("doc_id")) // see q24: single kernel execution
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          val toks = text.split(" ", -1) // string_split parity: keep trailing empties
          val sb = new java.lang.StringBuilder(text.length)
          var j = 0
          while (j < toks.length) {
            if (j > 0) sb.append(if (j % 8 == 0) '\n' else ' ')
            sb.append(toks(j))
            j += 1
          }
          val m = sb.toString
          val spans = Rx.tokenSpans(m, Tokenizers.whitespace).toIndexedSeq
          FeatureFrame.assembleDoc(m, Geometry.syntheticGrid(m), spans, spans,
              2, 2, firstWord = true, acrossLines = true, Nil, Nil)
            .map { r =>
              val f = r.features
              (id, r.start.toLong,
                f(iLd0).toLong, f(iLp0).toLong, f(iLd1).toLong, f(iLp1).toLong,
                f(iRd0).toLong, f(iRp0).toLong, f(iRd1).toLong, f(iRp1).toLong,
                f.length.toLong)
            }
        })
        .toDF("doc_id", "start", "l_dist0", "l_pos0", "l_dist1", "l_pos1",
          "r_dist0", "r_pos0", "r_dist1", "r_pos1", "width")
        .sortWithinPartitions(col("doc_id"), col("start"))
    }),
    "q51_image_decode" -> ((s, _) => {
      // REAL image decode through the JDK's headless ImageIO: encode a
      // closed-form pixel pattern as PNG (lossless), decode it back through
      // the production ImageCodec, and emit exact integer pixel statistics —
      // the oracle recomputes every value from the pattern formula, so a
      // decode/pooling regression breaks the hash. This is the image leg of
      // the multimodal surface, stub-free.
      import s.implicits._
      // range partitions are ALREADY contiguous ascending id slices, so the
      // old repartitionByRange(8) was a redundant exchange (plus its
      // boundary-sampling pass) AND pinned the ImageIO work to 8 tasks;
      // core-count partitions spread the codec work across the session's
      // full parallelism with the identical output order
      s.range(0L, 500L, 1L, s.sparkContext.defaultParallelism)
        .as[Long]
        .mapPartitions(_.map { i =>
          val w = 16 + (i % 5).toInt
          val h = 12 + (i % 3).toInt
          val png = Multimodal.ImageCodec.patternPng(i, w, h)
          val f = Multimodal.ImageCodec.decode(png)
            .getOrElse(throw new IllegalStateException(s"PNG $i failed to decode"))
          // exact integer sums of the corner grid cells (x*4/w == 0 / == 3)
          (i, f.width.toLong, f.height.toLong, f.lumaSum, f.edgeSum)
        })
        .toDF("media_id", "width", "height", "luma_sum", "edge_sum")
        .sortWithinPartitions(col("media_id"))
    }),
    "q52_audio_decode" -> ((s, _) => {
      // REAL RIFF/PCM16 WAV parse: closed-form triangle-ish wave → encode →
      // decode through the production WavCodec → exact integer statistics
      // (sample count, abs-sum, zero crossings), all recomputed by the
      // oracle from the waveform formula.
      import s.implicits._
      // contiguous range partitions — no exchange needed (see q51)
      s.range(0L, 500L, 1L, s.sparkContext.defaultParallelism)
        .as[Long]
        .mapPartitions(_.map { i =>
          val n = 800 + (i % 100).toInt
          val wav = Multimodal.WavCodec.patternWav(i, n)
          val f = Multimodal.WavCodec.decode(wav)
            .getOrElse(throw new IllegalStateException(s"WAV $i failed to parse"))
          (i, f.sampleRate.toLong, f.channels.toLong, f.nSamples.toLong,
            f.absSum, f.zeroCrossings.toLong)
        })
        .toDF("media_id", "sample_rate", "channels", "n_samples", "abs_sum", "zero_crossings")
        .sortWithinPartitions(col("media_id"))
    }),
    "q54_video_frames" -> ((s, _) => {
      // REAL video-container decode: encode a closed-form gray pattern as a
      // multi-frame GIF (lossless indexed round-trip, luma(gray g) = g
      // exactly), decode it back through the production VideoCodec's even
      // frame sampling, and emit exact per-frame statistics — the oracle
      // recomputes every value from the pattern formula. This is the
      // frame-sample leg of the multimodal surface, stub-free.
      import s.implicits._
      // contiguous range partitions — no exchange needed (see q51); GIF
      // encode/decode through ImageIO is the cost, spread over all cores
      s.range(0L, 500L, 1L, s.sparkContext.defaultParallelism)
        .as[Long]
        .mapPartitions(_.map { i =>
          val nFrames = (i % 5).toInt + 2 // 2..6 — all under the sample cap
          val gif = Multimodal.VideoCodec.patternGif(i, 16, 12, nFrames)
          val f = Multimodal.VideoCodec.decode(gif)
            .getOrElse(throw new IllegalStateException(s"GIF $i failed to decode"))
          (i, f.nFrames.toLong, f.framesSampled.toLong,
            f.lumaTotal, f.lumaFirst, f.lumaLast, f.temporalDiff)
        })
        .toDF("media_id", "n_frames", "frames_sampled",
          "luma_total", "luma_first", "luma_last", "temporal_diff")
        .sortWithinPartitions(col("media_id"))
    }),
    "q55_url_canon" -> ((s, dir) => {
      // URL canonicalization — the first stage of web-scale url-keyed
      // dedup: build a messy-but-deterministic URL per doc (case variants,
      // default/explicit ports, tracking params, unordered query, fragment)
      // and canonicalize it through the production UrlOps parser. The
      // oracle reconstructs BOTH the messy url and the expected canonical
      // closed form from doc_id, so any parser regression breaks the hash.
      import s.implicits._
      t(s, dir, "documents")
        .select(col("doc_id"))
        .repartitionByRange(8, col("doc_id"))
        .as[Long]
        .mapPartitions(_.map { i =>
          val scheme = if (i % 2 == 0) "HTTPS" else "http"
          val www = if (i % 4 == 0) "WWW." else ""
          val host = s"${www}Site${i % 7}.Example.COM"
          val port = (i % 3) match {
            case 0 => ""
            case 1 => if (i % 2 == 0) ":443" else ":80" // scheme default → strip
            case _ => ":8080" // explicit non-default → keep
          }
          val path =
            if (i % 11 == 0) ""
            // percent-encoded variants (RFC 3986 §6.2.2.2): %7E decodes to
            // '~' (unreserved), %2f uppercases to %2F (reserved '/'), %4d
            // decodes to 'M' — canonical form "/DirN/~user%2FpM"
            else if (i % 6 == 0) s"/Dir${i % 5}/%7Euser%2fp%4d"
            else s"/Dir${i % 5}/p"
          val query = (i % 4) match {
            case 0 => ""
            case 1 => "?utm_source=feed&b=2&a=1"
            case 2 => "?gclid=x&%75tm_source=y" // %75 = 'u': decode precedes the tracking strip
            case _ => "?z=9&a=1"
          }
          val frag = if (i % 2 == 1) "#frag" else ""
          val messy = s"$scheme://$host$port$path$query$frag"
          (i, messy, graft.core.UrlOps.canonicalize(messy),
            graft.core.UrlOps.host(messy), graft.core.UrlOps.dedupHost(messy))
        })
        .toDF("doc_id", "messy_url", "canon_url", "canon_host", "dedup_host")
        .sortWithinPartitions(col("doc_id"))
    }),
    "q58_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: every 25th doc's first 13 tokens form
      // the "eval set"; any doc sharing a word 13-gram with it is flagged
      // (the bench docs flag themselves, and the corpus's planted exact
      // duplicates of them get caught too — the point of the op). The
      // corpus additionally carries LINE-WRAPPED duplicates of each bench
      // passage (id + 1e6, tokens re-joined with newlines) — the most
      // common transformation web text undergoes — caught only because
      // contaminatedDocs whitespace-normalizes both sides. The corpus side
      // never shuffles: bench grams broadcast, one narrow explode +
      // broadcast semi-join + distinct.
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val benchSel = col("doc_id") % 25 === 0 && size(split(col("text"), " ")) >= 13
      val planted = base.filter(benchSel)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 13), "\n").as("text"))
      val docs = base.unionByName(planted)
      val bench = base.filter(benchSel)
        .select(array_join(slice(split(col("text"), " "), 1, 13), " ").as("gram"))
      Dedup.contaminatedDocs(docs, "doc_id", "text", bench)
        .orderBy("doc_id") // behind the distinct exchange
    }),
    "q57_pii_redact" -> ((s, dir) => {
      // PII redaction: build a deterministic line per doc carrying one real
      // email, one real url, one www-form url, and two near-misses, then
      // mask through the production Redact (which shares its token
      // predicates with the extraction scorer). The oracle states the
      // redacted line's closed form directly — parser and masks verified
      // end-to-end, negatives proven untouched.
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"))
        .repartitionByRange(8, col("doc_id"))
        .as[Long]
        .mapPartitions(_.map { i =>
          val line = s"Kontakt kunde$i@firma.de Seite https://ex$i.example.com/p?x=$i " +
            s"oder www.site$i.org aber kunde$i(at)firma und http:/kaputt$i Ende ${i % 100},50"
          (i, Redact.redactPII(line))
        })
        .toDF("doc_id", "redacted")
        .sortWithinPartitions(col("doc_id"))
    }),
    "q60_repetition" -> ((s, dir) => {
      // Gopher-style repetition quality stats (Rae et al. 2021 §A1.1):
      // duplicate / dominant word-n-gram character masses, the standard
      // machine-generated-page filter. Repetition is PLANTED per doc (the
      // first-2-token phrase appended doc_id % 5 times) on top of the
      // text's natural duplicate n-grams; masses are exact INTEGERS
      // (count × gram length, division left to the consumer) so the
      // oracle replays them byte-exactly with no float rounding surface.
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartitionByRange(8, col("doc_id"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (i, text) =>
          val toks = text.split(" ", -1)
          val phrase = toks.take(2).mkString(" ")
          val page = text + (" " + phrase) * (i % 5).toInt
          val r2 = Quality.repetition(page, 2)
          val r3 = Quality.repetition(page, 3)
          (i, r2.dupChars, r2.topChars, r2.totalChars,
            r3.dupChars, r3.topChars, r3.totalChars)
        })
        .toDF("doc_id", "dup2_chars", "top2_chars", "total2_chars",
          "dup3_chars", "top3_chars", "total3_chars")
        .sortWithinPartitions("doc_id")
    }),
    "q61_near_components" -> ((s, dir) => {
      // Near-dup CLUSTER RESOLUTION — the operator that turns pair
      // emission into an actual dedup: a deterministic pair lattice with
      // transitive chains of varying length (block b of 7 ids chains its
      // first (b%6)+1 consecutive edges) and sparse long-range bridges
      // (block b's node 7b+2 links to block b+3's head when b%11==0, so
      // two chains must MERGE) feeds resolveClusters; every member must
      // map to its component's minimum id even where no direct pair
      // exists (A~B~C with no A~C pair — the case naive pair-dropping
      // gets wrong). The oracle recomputes the same lattice and its
      // components independently via a recursive CTE.
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id").cast("long").as("i"))
      val chain = ids
        .filter(col("i") % 7 < (expr("i DIV 7") % 6) + 1)
        .select(col("i").as("a"), (col("i") + 1).as("b"))
      val cross = ids
        .filter(col("i") % 7 === 2 && expr("i DIV 7") % 11 === 0)
        .select(col("i").as("a"), (expr("i DIV 7") * 7 + 21).as("b"))
      val present = ids.select(col("i").as("b"))
      val pairs = chain.union(cross).join(present, Seq("b"), "left_semi")
        .select(col("a"), col("b")) // using-join moves the key first; re-fix order before the positional decode
        .as[(Long, Long)].map { case (a, b) => Dedup.Pair(a, b) }
      Dedup.resolveClusters(pairs)
        .select(col("id").as("doc_id"), col("keeper_id"))
        .orderBy("doc_id")
    }),
    "q56_line_dedup" -> ((s, dir) => {
      // Corpus-wide line dedup (the CCNet/RefinedWeb boilerplate-removal
      // pattern): rebuild each doc as lines of 8 tokens wrapped in planted
      // cross-document boilerplate (a corpus-wide header on every doc, a
      // footer shared by every 10th), then run the production dedupLines —
      // each repeated line must survive only at its corpus-wide first
      // (doc_id, idx) occurrence. The oracle recomputes the construction
      // AND the dedup semantics independently in SQL.
      Dedup.dedupLines(boilerplateLines(s, dir), "doc_id", "text")
        .orderBy("doc_id") // behind the reassembly exchange — no double kernel
    }),
    "q59_llm_pipeline" -> ((s, dir) => {
      // THE composed pretraining-data pipeline — the LLM-data analog of
      // the q24 extraction flagship: url-canon dedup → exact dedup →
      // NEAR-dedup (MinHash-LSH candidates → exact-Jaccard verify →
      // connected-component cluster resolution → anti-join non-keepers) →
      // benchmark decontamination → corpus-wide line dedup → PII
      // redaction → extraction, chained over the documents table. The
      // construction plants a deterministic lattice for every stage: doc
      // i%10==9 carries a url whose canonical form collapses onto doc
      // i-1 (scheme case + tracking params + host case), docs i%17==0
      // share one constant page (exact dups, keeper doc 0), docs
      // i%13∈{1,2,3} (not constant-paged) form per-anchor NEAR-dup
      // cliques (identical 120-token synthetic body + anchor email,
      // differing variant/footer lines → pairwise word-3-gram Jaccard
      // ≈0.94, so the 16×4 banding miss probability is ~3e-11 and the
      // oracle can replay the exact ≥0.85 pair set all-pairs), every
      // 25th doc's original first-13-gram forms the eval set, every page
      // is wrapped in corpus-wide header/footer boilerplate, one email
      // per doc is masked by redaction, and extraction emits sha + token
      // counts the oracle recomputes byte-exactly. Stage dedup uses
      // keepFirstBy (window over ONE exchange) so the composed plan
      // stays linear; the near-dup stage is inherently ITERATIVE
      // (connected components), so its input is persisted for the two
      // signature passes, the tiny resolved non-keeper table is
      // materialized inside dedupNear, and the downstream chain stays a
      // single lazy plan with one extra anti-join.
      import s.implicits._
      val pages = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (i, text) =>
          val key = if (i % 10 == 9) i - 1 else i
          val scheme = if (i % 2 == 0) "HTTPS" else "https"
          val qs = if (i % 3 == 0) "?utm_source=feed&x=1" else "?x=1"
          val url = s"$scheme://Site${key % 7}.Example.com/d$key$qs"
          val page =
            if (i % 17 == 0)
              "CORPUS HEADER\nshared duplicate page body here words repeated\n" +
                "contact dup@dup.com now\nFooter X"
            else if (i % 13 >= 1 && i % 13 <= 3) {
              // near-dup clique: anchor a (a%13==1) donates body + email;
              // members differ only in the variant line and footer digit
              val a = i - (i % 13) + 1
              val body = (0 until 120).map(j => s"u${a}x$j")
                .grouped(8).map(_.mkString(" ")).mkString("\n")
              s"CORPUS HEADER\n$body\nvariant v${i % 13}\n" +
                s"contact user$a@mail${a % 5}.com now\nFooter ${i % 10}"
            } else {
              val body = text.split(" ", -1) /* keep trailing empties: DuckDB string_split semantics, or a trailing-space doc diverges from the oracle */ .grouped(8).map(_.mkString(" ")).mkString("\n")
              s"CORPUS HEADER\n$body\ncontact user$i@mail${i % 5}.com now\nFooter ${i % 10}"
            }
          (i, graft.core.UrlOps.canonicalize(url), page)
        })
        .toDF("doc_id", "canon_url", "page_text")
      val s1 = Dedup.keepFirstBy(pages, "doc_id", col("canon_url"))
      val s2 = Dedup.keepFirstBy(s1, "doc_id", md5(col("page_text")))
      // stage 3: near-dedup. The upstream chain (page construction + two
      // dedup windows) executes exactly ONCE: s2 is localCheckpoint'ed
      // eagerly and the materialized blocks feed the signature pass, the
      // exact-Jaccard verify, AND the returned downstream plan — without
      // the checkpoint the eager component resolution plus the final
      // action would re-derive s2 three times. Tradeoff (as in q17): on
      // preemptible executors a lost checkpoint block is a loud failure.
      val s2cp = s2.localCheckpoint(true)
      // maxBucket=48: for DEDUP (unlike pair-emission queries q17/q22)
      // only CONNECTIVITY matters, and a big near-identical family — e.g.
      // a mirror site, or ScaleData's ~100-replica derived families at
      // sf10 — would otherwise emit O(m²) verify pairs per family
      // (measured: 24M pairs / ~95 GB of shingle-array shuffle at 100×);
      // keeper-star pairing above the cap keeps each family connected at
      // O(m) pairs WITH HIGH PROBABILITY, not certainty — the documented
      // capped-bucket recall tradeoff (cappedBuckets accumulator) leaked
      // 219 of ~480k family members (0.05%) at 100×. The sf0.01 oracle
      // gate is exact: no bucket there reaches the cap
      val s3 = Dedup.dedupNearText(s2cp, "doc_id", "page_text",
        threshold = 0.85, maxBucket = 48)
      val bench = t(s, dir, "documents")
        .filter(col("doc_id") % 25 === 0 && size(split(col("text"), " ")) >= 13)
        .select(array_join(slice(split(col("text"), " "), 1, 13), " ").as("gram"))
      val contaminated = Dedup.contaminatedDocs(s3, "doc_id", "page_text", bench)
      // checkpoint the decontaminated corpus: dedupLines' Auto mode runs an
      // eager vocabulary-measure action and the final action runs the line
      // join — without the checkpoint each would re-execute the 13-gram
      // decontamination explode and both dedup windows (measured 2× cost
      // at 100× input)
      val clean = s3.join(contaminated, Seq("doc_id"), "left_anti").localCheckpoint(true)
      val deduped = Dedup.dedupLines(clean, "doc_id", "page_text")
      // the pipeline's emitted surface is (tokens, sha) of the redacted text
      val redacted = deduped.select(col("doc_id"), col("page_text")).as[(Long, String)]
        .map { case (i, txt) => (i, Redact.redactPII(txt)) }
        .toDF("doc_id", "text")
      withTextStats(redacted)
        .select("doc_id", "n_tokens", "text_sha256")
        .orderBy("doc_id")
    }),
    "q34_geometry" -> ((s, dir) => {
      // §2.13 + S3: rebuild each doc with structure (every 8th token
      // boundary becomes a newline, every 5th a 3-space run), emit the grid
      // as a per-char OCR payload, push it through the REAL bbox
      // ingestion/validation stage (Ingest.validatedCharBoxes,
      // data.py:2097-2120), then run the layout kernels. Counts are
      // closed-form: lines = ceil(ntok/8); a 3-space gap (18 units) breaks
      // a word-run (maxGap 1.5 x meanW 6 = 9), a single space (6) does not.
      import s.implicits._
      // range-partition the cheap input so the output order needs only an
      // in-partition sort — a global orderBy after the kernel would sample
      // (= re-execute) the whole geometry pass
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartitionByRange(32, col("doc_id"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val toks = text.split(" ", -1) // string_split parity: keep trailing empties
          val sb = new java.lang.StringBuilder(text.length + toks.length * 2)
          var j = 0
          while (j < toks.length) {
            if (j > 0) {
              if (j % 8 == 0) sb.append('\n')
              else if (j % 5 == 0) sb.append("   ")
              else sb.append(' ')
            }
            sb.append(toks(j))
            j += 1
          }
          val m = sb.toString
          // page bounds derived from the grid's own maxima so validation and
          // generator geometry cannot diverge: a >101-char line or a >66-line
          // doc would otherwise exceed the default 612x792 and fail the whole
          // query inside mapPartitions. Counts (the oracle columns) are
          // invariant to the page size, so in-bounds docs hash identically.
          val lines = m.split('\n')
          val pageW = math.max(612.0, 6.0 * lines.iterator.map(_.length).max)
          val pageH = math.max(792.0, (lines.length - 1) * 12.0 + 10.0)
          // columnar end-to-end: grid → payload → validation → kernels share
          // the same primitive arrays; no per-char objects at any stage
          val payload = Ingest.payloadOf(Geometry.syntheticGrid(m, pageH))
          val grid = Ingest.validatedGrid(m, payload, pageW, pageH)
            .fold(err => throw new IllegalStateException(err), identity)
          var boxed = 0L
          var ci = 0
          while (ci < grid.length) { if (grid.chars.charAt(ci) != ' ') boxed += 1; ci += 1 }
          (id, Geometry.lineBoxes(grid).length.toLong,
            Geometry.mergedBoxes(grid, 1.5).length.toLong,
            boxed)
        })
        .toDF("doc_id", "n_line_boxes", "n_merged_boxes", "n_boxed_chars")
        .sortWithinPartitions(col("doc_id"))
    }),
    "q36_section_assign" -> ((s, dir) => {
      // C6: as-of routing — each chunk joins the latest preceding section
      // start (window last(), one shuffle, no self-join)
      val d = t(s, dir, "documents")
      val chunks = d
        .select(col("doc_id"), explode(sequence(lit(0), col("n_chars") - 1, lit(100))).as("pos"))
        .withColumn("is_start", (col("pos") / 100 % 4) === 0)
      Sections.assignSections(chunks, "doc_id", "pos", "is_start")
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("section_start").cast("long").as("section_start"))
        .orderBy(col("doc_id"), col("pos"))
    }),
    "q37_categorize" -> ((s, dir) => {
      // C7: first-matching fallback keyword, codegen'd when-chain
      val cats = Seq("alpha" -> "spark", "beta" -> "window", "gamma" -> "join", "delta" -> "stream")
      Categorize.categorize(t(s, dir, "documents"), "text", cats)
        .select(col("doc_id"), col("category"))
        .orderBy(col("doc_id"))
    }),
    "q38_feature_frame" -> ((s, dir) => {
      // X8: the assembled 270-column feature frame (information_extraction
      // .py:1345-1647). Columns are pulled from the frame BY NAME through
      // featureNames — the oracle recomputes token offsets, grid geometry
      // and neighbor x-distances independently, so a wrong column order or
      // a shifted feature breaks the hash.
      import s.implicits._
      val names = FeatureFrame.featureNames(2, 2)
      def ix(n: String): Int = names.indexOf(n)
      val (iLen, iDig, iVow) = (ix("feat_len"), ix("feat_digit_len"), ix("feat_vowel_len"))
      val (iX0, iX1, iAq2) = (ix("x0"), ix("x1"), ix("area_quadrant_two"))
      val (iL0, iL1, iR0) = (ix("l_dist0"), ix("l_dist1"), ix("r_dist0"))
      val (iL0Len, iR0Len) = (ix("l0_feat_len"), ix("r0_feat_len"))
      val (iFwX1, iFwY1) = (ix("first_word_x1"), ix("first_word_y1"))
      // range-partition the cheap input; a global orderBy after the kernel
      // would sample (= re-execute) the whole frame assembly
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartitionByRange(32, col("doc_id"))
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          val toks = Rx.tokenSpans(text, Tokenizers.whitespace).toIndexedSeq
          FeatureFrame.assembleDoc(text, Geometry.syntheticGrid(text), toks, toks,
              2, 2, firstWord = true, acrossLines = false, Nil, Nil)
            .map { r =>
              val f = r.features
              (id, r.start.toLong, r.offsetString, f(iLen), f(iDig), f(iVow),
                f(iX0), f(iX1), f(iAq2), f(iL0), f(iL1), f(iR0),
                f(iL0Len), f(iR0Len), f(iFwX1), f(iFwY1), f.length.toLong)
            }
        })
        .toDF("doc_id", "start", "offset_string", "feat_len", "feat_digit_len", "feat_vowel_len",
          "x0", "x1", "area_quadrant_two", "l_dist0", "l_dist1", "r_dist0",
          "l0_feat_len", "r0_feat_len", "first_word_x1", "first_word_y1", "width")
        .sortWithinPartitions(col("doc_id"), col("start"))
    }),
    "q39_label_distribution" -> ((s, dir) => {
      // E10: label share across the derived annotation set
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), explode(sequence(lit(0), col("n_chars") - 1, lit(100))).as("start"))
        .withColumn("label_id", (col("start") / 100) % 3)
        .groupBy(col("label_id").cast("long").as("label_id"))
        .agg(count(lit(1)).as("n_spans"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("label_id"))
    }),
    "q40_neighbors" -> ((s, dir) => {
      // X4 over the documents table: every 5th whitespace token is a target;
      // the oracle recomputes the same-line left/right gaps via lag/lead
      // window functions over independently derived token offsets.
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          val toks = Rx.tokenSpans(text, Tokenizers.whitespace).toIndexedSeq
          toks.indices.iterator.collect { case ti if ti % 5 == 2 =>
            val (l, r) = Neighbors.nNearest(text, toks, toks(ti), 2)
            (id, toks(ti).start.toLong, l(0).text, l(0).distance.toLong, l(1).distance.toLong,
              r(0).text, r(0).distance.toLong, r(1).distance.toLong)
          }
        })
        .toDF("doc_id", "t_start", "l1_text", "l1_dist", "l2_dist", "r1_text", "r1_dist", "r2_dist")
        .orderBy(col("doc_id"), col("t_start"))
    }),
    "q41_bio_export" -> ((s, dir) => {
      // S7 over the documents table: whitespace tokens tagged against the
      // closed-form annotation grid [200j, 200j+100) labeled L(j%3); the
      // oracle recomputes containment and the B/I transition in SQL.
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          val toks = Rx.tokenSpans(text, Tokenizers.whitespace).toIndexedSeq
          val n = text.length
          val labels = (0 until n by 200).map { st =>
            (s"L${(st / 200) % 3}", Span(st, math.min(st + 100, n)))
          }
          Bio.tag(text, toks, labels).map(b => (id, b.index.toLong, b.token, b.tag))
        })
        .toDF("doc_id", "token_index", "token", "tag")
        .orderBy(col("doc_id"), col("token_index"))
    }),
    "q42_clf_metrics" -> ((s, dir) => {
      // E8 full classifier metrics (information_extraction.py:2977-3132):
      // accuracy / balanced accuracy / weighted F1 (all rows and excluding
      // NO_LABEL true positives), per-label P/R/F1/support, and
      // floor(conf*10) calibration buckets — over a closed-form
      // (y_true, y_pred, confidence) frame the oracle can rebuild.
      val d = t(s, dir, "documents")
      val i = (col("pos") / 100).cast("long")
      val frame = d.select(col("doc_id"), explode(sequence(lit(0), col("n_chars") - 1, lit(100))).as("pos"))
        .withColumn("y_true",
          when(i % 11 === 0, lit("NO_LABEL")).otherwise(concat(lit("L"), (i % 3).cast("string"))))
        .withColumn("y_pred",
          when(i % 13 === 0, lit("NO_LABEL"))
            .otherwise(concat(lit("L"),
              ((i + when(i % 7 === 3, 1).otherwise(0)) % 3).cast("string"))))
        .withColumn("confidence", lit(0.5) + (i % 50).cast("double") / 100.0)
      Evaluate.classifierMetrics(frame)
        .orderBy(col("scope"), col("metric"))
    }),
    "q43_containment_label" -> ((s, dir) => {
      // C3: token inherits the label of the fully-containing annotation
      val d = t(s, dir, "documents")
      val tokens = d
        .select(col("doc_id"), explode(sequence(lit(0), col("n_chars") - 1, lit(50))).as("start_offset"), col("n_chars"))
        .select(col("doc_id"), col("start_offset"), least(col("start_offset") + 50, col("n_chars")).as("end_offset"))
      val anns = d
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), explode(sequence(lit(0), col("n_chars") - 1, lit(200))).as("ann_s"), col("n_chars"))
        .select(col("doc_id"), col("ann_s").as("start_offset"),
          least(col("ann_s") + 100, col("n_chars")).as("end_offset"),
          ((col("ann_s") / 200) % 3).as("label_id"))
      Evaluate.labelByContainment(tokens, anns)
        .select(col("doc_id"), col("start_offset"), col("end_offset"),
          coalesce(col("label_id"), lit(-1L)).cast("long").as("label_id"))
        .orderBy(col("doc_id"), col("start_offset"))
    }),
    "q44_stream_extract" -> ((s, dir) => {
      // Structured Streaming flagship: stream the REAL documents table
      // through the extraction stats (plan columns inside a stream); the
      // oracle checks tokens + sha256 per document in DuckDB.
      // The memory sink is an oracle surface only — the production sink is
      // a checkpointed file/Kafka sink (PLANS.md).
      // (deleted once the query stops: the memory sink holds the rows)
      val stage = java.nio.file.Files.createTempDirectory("graft_stream_docs")
      val qname = "graft_stream_extract_" + java.util.UUID.randomUUID().toString.replace("-", "")
      try {
        // the table may be a single parquet file (driver testdata) or a
        // Spark-written DIRECTORY of part files (derived scale data) — stage
        // whichever part files exist, not the bare directory entry
        val srcP = java.nio.file.Paths.get(s"$dir/documents.parquet")
        if (java.nio.file.Files.isDirectory(srcP)) {
          val listing = java.nio.file.Files.list(srcP)
          try {
            val it = listing.iterator()
            while (it.hasNext) {
              val p = it.next()
              val nm = p.getFileName.toString
              if (nm.endsWith(".parquet")) java.nio.file.Files.copy(p, stage.resolve(nm))
            }
          } finally listing.close() // the stream holds a directory fd
        } else java.nio.file.Files.copy(srcP, stage.resolve("documents.parquet"))
        val schema = graft.jobs.Staging.parquetSchema(s, s"$dir/documents.parquet")
        val stream = s.readStream.schema(schema).parquet(stage.toString)
          .select(col("doc_id"), col("text"))
        val extracted = withTextStats(stream).select("doc_id", "n_tokens", "text_sha256")
        val q = extracted.writeStream.outputMode("append").format("memory").queryName(qname).start()
        q.processAllAvailable(); q.stop()
      } finally graft.jobs.Staging.deleteTree(stage)
      s.table(qname).orderBy(col("doc_id"))
    }),
    "q45_salted_agg" -> ((s, dir) => {
      // skew handling: salted two-phase aggregation over a hot key
      Skew.twoPhaseAgg(t(s, dir, "documents"), "source", nSalts = 8, Seq(
        (count(lit(1)), (c: String) => sum(col(c)), "n_docs"),
        (sum(col("n_chars")), (c: String) => sum(col(c)), "sum_chars"),
      ))
        .select(col("source"), col("n_docs").cast("long"), col("sum_chars").cast("long"))
        .orderBy(col("source"))
    }),
    "q46_json_props" -> ((s, dir) => {
      // semi-structured column handling: JSON path extraction + agg
      t(s, dir, "events")
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),
    "q48_extract_html" -> ((s, dir) => {
      // the HTML strip path with a hard oracle: wrap each document's text
      // in boilerplate-bearing markup (link-dense nav + footer the
      // extractor must drop, script/title excluded, content in <article>);
      // the golden extracted text is the original text, so length/tokens/
      // sha256 are SQL-checkable against the raw table.
      withTextStats(t(s, dir, "documents").select(col("doc_id"),
        GraftFunctions.html_text(boilerplateWrap(col("text"))).as("text")))
        .select("doc_id", "n_chars_extracted", "n_tokens", "text_sha256")
        .orderBy(col("doc_id"))
    }),
    "q49_fixture_golden" -> ((s, _) => {
      // E9: the composed train→extract golden over the reference's FROZEN
      // fixture corpus — train the balanced softmax scorer on the X8 frame
      // of the 5 training payslips (real OCR boxes), extract
      // TEST_DOCUMENT_ID through predict→drop-NO_LABEL→argmax→threshold→
      // merge. The oracle is the PINNED engine tuple set (all 20 of the
      // reference's entity_results_data tuples plus 2 engine extras;
      // span-strict F1 vs ground truth 0.930 — the reference's own RF
      // scores 0.811 on the same doc). Falls back to an empty frame when
      // the fixture corpus is absent.
      if (graft.jobs.FixtureGoldenJob.available())
        graft.jobs.FixtureGoldenJob.extractDF(s)
      else {
        import s.implicits._
        Seq.empty[(String, Long, Long, String)].toDF("label", "start", "end", "offset_string")
      }
    }),
    "q50_frame_optional_blocks" -> ((s, dir) => {
      // X6/X7 INSIDE the assembled frame: rebuild each doc with a newline
      // every 8 tokens, assemble the 272-column frame with a word-on-page
      // block ("spark") and a catchphrase block ("table"), and pull both
      // optional columns BY NAME — the oracle recomputes the page-contains
      // flag and the nearest-previous-line-with-phrase distance
      // independently, so a misplaced optional block in the ordered
      // feature contract (information_extraction.py:1650-1682) breaks the
      // hash.
      import s.implicits._
      val substrings = Seq("spark")
      val phrases = Seq("table")
      val names = FeatureFrame.featureNames(2, 2, firstWord = true, acrossLines = false,
        substringFeatures = substrings, catchphrases = phrases)
      val iWop = names.indexOf("word_on_page_feat0")
      val iCat = names.indexOf("catchphrase_dist_table")
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartitionByRange(32, col("doc_id")) // see q38: avoid kernel re-execution
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          val toks = text.split(" ", -1) // string_split parity: keep trailing empties
          val sb = new java.lang.StringBuilder(text.length)
          var j = 0
          while (j < toks.length) {
            if (j > 0) sb.append(if (j % 8 == 0) '\n' else ' ')
            sb.append(toks(j))
            j += 1
          }
          val m = sb.toString
          val spans = Rx.tokenSpans(m, Tokenizers.whitespace).toIndexedSeq
          FeatureFrame.assembleDoc(m, Geometry.syntheticGrid(m), spans, spans,
              2, 2, firstWord = true, acrossLines = false, substrings, phrases)
            .map(r => (id, r.start.toLong, r.offsetString,
              r.features(iWop).toLong, r.features(iCat).toLong, r.features.length.toLong))
        })
        .toDF("doc_id", "start", "token", "word_on_page_spark", "catchphrase_dist_table", "width")
        .sortWithinPartitions(col("doc_id"), col("start"))
    }),
    "q35_eval_pipeline" -> ((s, dir) => {
      // E1-E6 end-to-end: ground truth vs noisy predictions → TP/FP/FN sums
      import s.implicits._
      val d = t(s, dir, "documents")
      val gt = d.select(col("doc_id"),
        explode(sequence(lit(0), col("n_chars") - 1, lit(100))).as("start_offset"), col("n_chars"))
        .select(col("doc_id"), col("start_offset"),
          least(col("start_offset") + 100, col("n_chars")).as("end_offset"))
        .withColumn("ann_id", col("doc_id") * 1000 + col("start_offset") / 100)
        .withColumn("annotation_set_id", col("doc_id"))
        .withColumn("label_id", (col("start_offset") / 100) % 3)
        .withColumn("label_set_id", lit(1L))
        .withColumn("is_correct", lit(true))
        .withColumn("confidence", lit(1.0))
        .withColumn("label_threshold", lit(0.1))
    // predictions: drop chunks where (start/100) % 5 == 4, mislabel % 7 == 3
      val pred = gt
        .filter((col("start_offset") / 100) % 5 =!= 4)
        .withColumn("label_id",
          when((col("start_offset") / 100) % 7 === 3, lit(99L)).otherwise(col("label_id")))
        .withColumn("is_correct", lit(false))
        .withColumn("confidence", lit(0.9))
      val flags = Evaluate.compareStrict(gt, pred)
      Evaluate.summarize(flags, Seq(col("doc_id")))
        .select(col("doc_id"), col("tp"), col("fp"), col("fn"), col("n_spans"))
        .orderBy(col("doc_id"))
    }),
    "q62_gopher_rules" -> ((s, dir) => {
      // Gopher document-filter rule set (Rae et al. 2021 Table A1) as
      // exact integer counts + integer-inequality keep verdict — planted
      // features per doc_id exercise every rule both ways: bullet lines
      // (i%5==0), ellipsis lines (i%7==0), '#' symbol runs (i%11==0),
      // non-alpha numeric words (i%13==0), a stopword-rich tail (i%3==0);
      // short word-salad docs fail the 50-word floor naturally. Narrow
      // per-row pass, no shuffle.
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartitionByRange(8, col("doc_id"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (i, text) =>
          val sb = new StringBuilder(text)
          if (i % 5 == 0) sb.append("\n- alpha item\n- beta item\n* gamma item")
          if (i % 7 == 0) sb.append("\ntrailing thought...\nanother one…")
          if (i % 11 == 0) sb.append(" ").append("# " * ((i % 4).toInt + 1)).append("#")
          if (i % 13 == 0) sb.append("\n12345 67890 11111 22222")
          if (i % 3 == 0) sb.append("\nthe cat wants to be part of and that have fun with it")
          val g = Quality.gopher(sb.toString)
          (i, g.nWords, g.wordChars, g.nLines, g.hashCount, g.ellipsisCount,
            g.bulletLines, g.ellipsisLines, g.alphaWords, g.stopwordHits,
            if (g.keep) 1 else 0)
        })
        .toDF("doc_id", "n_words", "word_chars", "n_lines", "hash_count",
          "ellipsis_count", "bullet_lines", "ellipsis_lines", "alpha_words",
          "stopword_hits", "keep")
        .sortWithinPartitions("doc_id")
    }),
    "q63_stratified_sample" -> ((s, dir) => {
      // deterministic corpus mixing: per-language keep rates over a 60-bit
      // md5 coordinate (md5 hex is byte-identical across engines, unlike
      // xxhash64) — the oracle recomputes the exact coordinate and replays
      // the binary-fraction thresholds as integer literals. Pure narrow
      // filter: zero shuffle; the rate map folds to a literal CASE chain.
      Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 1.0, "de" -> 0.5, "es" -> 0.25, "zh" -> 0.125),
          defaultRate = 0.0625, salt = "mix1")
        .select(col("doc_id"), col("lang"),
          Sampling.hashCoord(col("doc_id"), "mix1").as("coord"))
        .orderBy("doc_id")
    }),
    "q64_pack_sequences" -> ((s, dir) => {
      // concat-and-chunk training-shard assignment: global token-stream
      // positions via the two-phase scan (per-partition sums + broadcast
      // offsets) — the naive `sum() OVER (ORDER BY id)` window runs the
      // whole corpus in ONE task. Tokens = the q12-validated whitespace
      // counter; budget = 512 tokens per shard.
      val docs = t(s, dir, "documents").select(col("doc_id"),
        GraftFunctions.token_count(col("text")).cast("long").as("toks"))
      Pack.chunkAssign(docs, "doc_id", "toks", 512L)
        .orderBy("doc_id")
    }),
    "q65_host_cap" -> ((s, dir) => {
      // host-level frequency cap: at most 10 docs per source, smallest
      // doc_id first — two-phase (partition-local prune → cap-bounded
      // global rank → semi join back) so a hot host's rows never
      // serialize into one reducer's sort.
      Sampling.capPerGroup(t(s, dir, "documents"), "source", "doc_id", 10)
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy("doc_id")
    }),
    "q66_lm_perplexity" -> ((s, dir) => {
      // CCNet-style LM quality bucketing (Wenzek et al. 2020): fit a
      // unigram model on the corpus itself, score each document's
      // cross-entropy, split head/middle/tail. The bucket compares the
      // BIT-EXACT integer-ratio mean_freq (one IEEE division of two
      // integer sums — identical in any engine), never the float
      // cross-entropy, which is emitted rounded as a score column. Fit =
      // one token shuffle with map-side combine; score = narrow explode
      // + broadcast model join + per-doc partial agg (a doc's tokens
      // stay in one partition, so one partial row per doc crosses the
      // exchange).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val lm = LangModel.fitUnigram(docs, "text")
      LangModel.scoreDocs(docs, lm, "doc_id", "text",
          tauHead = QmTauHead, tauTail = QmTauTail)
        .select(col("doc_id"), col("n_tokens"), col("freq_mass"),
          col("mean_freq"), col("rel_freq"), col("xent"), col("bucket"))
        .orderBy("doc_id")
    }),
    "q67_url_blocklist" -> ((s, dir) => {
      // RefinedWeb-style URL filtering: hard domain blocklist (broadcast
      // join on the registered domain, UT1-style) + weighted soft-word
      // score, both integer-exact. URLs are built closed-form from
      // doc_id (incl. a co.uk multi-label-suffix case so the registered-
      // domain logic is exercised, not just last-two-labels); bad words
      // are planted on a lattice ON TOP of any natural occurrences in
      // the corpus text — the oracle counts both. Corpus side stays
      // narrow: regexp host parse + array built-ins, one broadcast join,
      // zero shuffles.
      val s2 = s
      import s2.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("url", concat(lit("https://"),
          when(col("doc_id") % 23 === 5, lit("Shop.Site5.CO.UK"))
            .otherwise(concat(lit("sub"), col("doc_id") % 5,
              lit(".site"), col("doc_id") % 23, lit(".com"))),
          when(col("doc_id") % 4 === 1, lit(":443")).otherwise(lit("")),
          lit("/page/"), col("doc_id")))
        .withColumn("text", concat(col("text"),
          when(col("doc_id") % 6 === 0, lit(" casino casino buy"))
            .when(col("doc_id") % 9 === 1, lit(" viagra"))
            .otherwise(lit(""))))
      val blocked = Seq("site3.com", "site7.com", "site11.com", "site5.co.uk")
        .toDF("domain")
      Blocklist.filterDocs(docs, "url", "text", blocked,
          Map("casino" -> 5, "viagra" -> 10, "buy" -> 1), maxBadPerMille = 8L)
        .select(col("doc_id"), col("host"), col("reg_domain"),
          col("host_blocked"), col("n_tokens"), col("bad_score"), col("keep"))
        .orderBy("doc_id")
    }),
    "q68_line_dedup_local" -> ((s, dir) => {
      // Intra-document repeated-line removal — the per-page half of
      // CCNet boilerplate dedup: wrap each doc into 6-token lines with
      // an ad-banner line planted after every 4th line (same line text
      // each time → in-page repeats) and the first body line re-appended
      // on doc_id%3==0. dedupLinesWithinDoc keeps only each line's first
      // in-page occurrence — a PURE NARROW per-row expression, zero
      // shuffles: the ideal corpus-scale shape. The oracle rebuilds the
      // page and replays first-occurrence keeping via window functions,
      // down to the sha256 of the cleaned text.
      val s2 = s
      import s2.implicits._
      val built = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartitionByRange(8, col("doc_id"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (i, text) =>
          val groups = text.split(" ", -1).grouped(6).map(_.mkString(" ")).toArray
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < groups.length) {
            buf += groups(j)
            if (j % 4 == 3) buf += "ad banner buy now"
            j += 1
          }
          if (i % 3 == 0 && groups.nonEmpty) buf += groups(0)
          (i, buf.mkString("\n"))
        })
        .toDF("doc_id", "text")
        .withColumn("n_lines", size(split(col("text"), "\n")).cast("long"))
      Dedup.dedupLinesWithinDoc(built, "text")
        .select(col("doc_id"), col("n_lines"),
          size(split(col("text"), "\n")).cast("long").as("n_kept"),
          sha2(col("text"), 256).as("clean_sha"))
        .orderBy("doc_id")
    }),
    "q69_curation_pipeline" -> ((s, dir) => {
      // THE corpus-curation flagship — the shaping complement of the q59
      // dedup pipeline: URL blocklist gate → in-page line dedup → LM
      // quality bucketing (tail dropped) → stratified language mixing →
      // per-domain caps → training-sequence packing, composed end-to-end
      // over the documents table. Every stage decision is integer-exact
      // or bit-exact-ratio and the oracle replays the WHOLE chain in SQL
      // (domains closed-form; line windows; LM refit; md5 coordinate;
      // rank cap; prefix-sum pack). Plan: narrow gate + wrap + dedup,
      // one model-fit pass, one per-doc agg, narrow sample filter, the
      // cap's pair-rank exchange, packing's range exchange.
      val s2 = s
      import s2.implicits._
      val withUrl = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
        .withColumn("url", concat(lit("https://"),
          when(col("doc_id") % 23 === 5, lit("Shop.Site5.CO.UK"))
            .otherwise(concat(lit("sub"), col("doc_id") % 5,
              lit(".site"), col("doc_id") % 23, lit(".com"))),
          lit("/page/"), col("doc_id")))
      val blocked = Seq("site3.com", "site7.com", "site11.com", "site5.co.uk")
        .toDF("domain")
      // stage 1: hard domain gate + NATURAL soft-word score (no plants —
      // the corpus's own occurrences decide)
      val gated = Blocklist.filterDocs(withUrl, "url", "text", blocked,
          Map("casino" -> 5, "viagra" -> 10, "buy" -> 1), maxBadPerMille = 8L)
        .where(col("keep") === 1)
        .select(col("doc_id"), col("text"), col("lang"), col("reg_domain"))
      // stage 2: wrap into 6-token lines with the q68 in-page-repeat
      // lattice, then intra-doc first-occurrence line dedup (pure narrow)
      val wrapped = gated.as[(Long, String, String, String)]
        .map { case (i, text, lang, dom) =>
          val groups = text.split(" ", -1).grouped(6).map(_.mkString(" ")).toArray
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < groups.length) {
            buf += groups(j)
            if (j % 4 == 3) buf += "ad banner buy now"
            j += 1
          }
          if (i % 3 == 0 && groups.nonEmpty) buf += groups(0)
          (i, buf.mkString("\n"), lang, dom)
        }
        .toDF("doc_id", "text", "lang", "reg_domain")
      // one eager checkpoint: the LM fit and the scoring pass each
      // execute the frame (the model totals reuse the fit's exchange) —
      // without it the narrow gate+wrap+dedup chain runs twice (q59's
      // `clean` lesson)
      val deduped = Dedup.dedupLinesWithinDoc(wrapped, "text")
        .withColumn("flat", regexp_replace(col("text"), "\n", " "))
        .localCheckpoint(true)
      // stage 3: LM bucketing on the cleaned corpus; tail dropped
      val scored = LangModel.scoreDocs(deduped,
          LangModel.fitUnigram(deduped, "flat"), "doc_id", "flat",
          tauHead = CurTauHead, tauTail = CurTauTail,
          carry = Seq("lang", "reg_domain"))
        .where(col("bucket") =!= "tail")
      // stage 4: deterministic language mixing (md5 coordinate)
      val sampled = Sampling.stratifiedSample(scored, "doc_id", "lang",
        Map("en" -> 1.0, "de" -> 0.5, "es" -> 0.25, "zh" -> 0.125),
        defaultRate = 0.0625, salt = "cur1")
      // stage 5: per-domain frequency cap (20 smallest doc_ids win)
      val capped = Sampling.capPerGroup(sampled, "reg_domain", "doc_id", 20)
        .select(col("doc_id"), col("lang"), col("reg_domain"), col("bucket"),
          col("n_tokens"))
        .localCheckpoint(true) // consumed twice below (pack + attribute join)
      // stage 6: concat-and-chunk shard assignment over the survivors
      // the attribute side is cap-bounded (≤ cap × #domains rows) by
      // construction — broadcast it; AQE can't see that through the
      // mapPartitions stats
      Pack.chunkAssign(capped, "doc_id", "n_tokens", 512L)
        .join(broadcast(capped.select("doc_id", "lang", "reg_domain", "bucket")),
          "doc_id")
        .select(col("doc_id"), col("lang"), col("reg_domain"), col("bucket"),
          col("n_tokens"), col("start_pos"), col("shard_start"),
          col("shard_end"), col("spans_boundary"))
        .orderBy("doc_id")
    }),
    "q70_semantic_dedup" -> ((s, dir) => {
      // SemDeDup (Abbas et al. 2023): embedding-level near-duplicate
      // REMOVAL as one callable chain — LSH candidate pairs over the
      // vector corpus → connected components → keeper anti-join (the
      // embedding face of dedupNearText). Planted lattice: every vector
      // <500 cloned at +1e6, every 4th also at +2e6, so components have
      // 2–3 members and the keeper (min id) is always the original;
      // identical vectors collide in EVERY LSH band, so candidate recall
      // on the planted pairs is structural, not probabilistic. The
      // oracle enumerates exact all-pairs cosine ≥ 0.999 and resolves
      // components via the recursive-CTE reachability closure.
      import s.implicits._
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
        .select(col("vec_id"), col("embedding"), col("label"))
      val tripled = e
        .union(e.select((col("vec_id") + 1000000).as("vec_id"),
          col("embedding"), col("label")))
        .union(e.filter(col("vec_id") % 4 === 0)
          .select((col("vec_id") + 2000000).as("vec_id"),
            col("embedding"), col("label")))
      val pairs = Dedup.embeddingNearDups(tripled, "vec_id", "embedding", 0.999)
        .select(col("a"), col("b")).as[(Long, Long)]
        .map { case (a, b) => Dedup.Pair(a, b) }
      Dedup.dedupNear(tripled, "vec_id", pairs)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    }),
    "q71_fuzzy_decontaminate" -> ((s, dir) => {
      // Fuzzy (Hamming ≤ 1) benchmark decontamination via masked-position
      // variant hashing: every 25th doc's first 13 tokens form the eval
      // set (q58's bench); the corpus additionally carries PLANTED
      // one-token-substituted, line-wrapped copies of each bench passage
      // (id + 2e6 — invisible to exact 13-gram matching, the recall half)
      // and two-token-substituted copies (id + 3e6 — Hamming 2, which
      // must NOT flag: the precision half). The substituted position
      // walks the gram (doc_id/25 mod 13) so every mask index is
      // exercised. Corpus side: ONE narrow explode (13 variants per
      // window, built-ins only) + broadcast semi-join — the corpus never
      // shuffles, q58's shape at n× the explode width.
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val ws = split(col("text"), " ")
      val first13 = slice(ws, 1, 13)
      val benchSel = col("doc_id") % 25 === 0 && size(ws) >= 13
      val plantSel = benchSel && !array_contains(first13, "")
      val p = (floor(col("doc_id") / 25) % 13).cast("int")
      val q = ((p + 5) % 13).cast("int")
      def subst(reps: (Column, String)*) =
        transform(first13, (tok, k) =>
          reps.foldLeft(tok) { case (acc, (pos, rep)) =>
            when(k === pos, lit(rep)).otherwise(acc) })
      val planted1 = base.filter(plantSel)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          array_join(subst(p -> "xq71suba"), "\n").as("text"))
      val planted2 = base.filter(plantSel)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          array_join(subst(p -> "xq71suba", q -> "xq71subb"), " ").as("text"))
      val docs = base.unionByName(planted1).unionByName(planted2)
      val bench = base.filter(benchSel)
        .select(array_join(first13, " ").as("gram"))
      Dedup.fuzzyContaminatedDocs(docs, "doc_id", "text", bench)
        .orderBy("doc_id")
    }),
    "q72_split_leakage" -> ((s, dir) => {
      // Leakage-safe corpus splitting: deterministic DOMAIN-keyed
      // train/valid/test assignment (Sampling.splitByKey over the 60-bit
      // md5 coordinate — near-duplicate pages of one site can never
      // straddle a split boundary) + the overlap WITNESS a split audit
      // needs: which train documents still share a word 13-gram with the
      // heldout splits (template text syndicated ACROSS domains — exactly
      // what domain splitting cannot prevent and what the witness must
      // surface). A 14-token slogan is planted on every 11th doc so
      // cross-split overlap provably exists at every SF; natural
      // duplicate texts count too (the oracle replays both). Assignment
      // is a pure narrow projection (zero shuffle); the witness is one
      // narrow explode per side + a semi-join (heldout grams broadcast —
      // the eval-split-sized assumption).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("reg_domain",
          when(col("doc_id") % 23 === 5, lit("site5.co.uk"))
            .otherwise(concat(lit("site"), col("doc_id") % 23, lit(".com"))))
        .withColumn("text",
          when(col("doc_id") % 11 === 4,
            concat(col("text"), lit(" " + Q72Slogan)))
            .otherwise(col("text")))
      val labeled = Sampling.splitByKey(docs, col("reg_domain"), Q72Splits, "q72")
      val held = labeled.filter(col("split") =!= "train")
      val leaky = Dedup.contaminatedDocs(
          labeled.filter(col("split") === "train"), "doc_id", "text",
          Dedup.wordGrams(held, "doc_id", "text").select("gram"))
        .withColumn("leaked", lit(true))
      labeled.join(leaky, Seq("doc_id"), "left")
        .select(col("doc_id"), col("reg_domain"), col("split"),
          coalesce(col("leaked"), lit(false)).as("leaked"))
        .orderBy("doc_id")
    }),
    "q73_substring_dedup" -> ((s, dir) => {
      // Exact substring deduplication (Lee et al. 2022) via minLen-gram
      // anchoring: a 30-token boilerplate slogan is appended to every
      // 31st doc — every copy after the corpus-wide first loses exactly
      // those 30 tokens (the slogan's 11 interior 20-windows repeat
      // across docs; boundary windows don't, because each doc's
      // preceding context differs), and naturally duplicated documents
      // collapse to their first occurrence entirely (document dedup as
      // the span special case — n_after = 0). The repeated-window
      // vocabulary here is boilerplate-sized, the normal web-corpus case,
      // so it broadcasts and the corpus-side join never shuffles.
      // Output pins token counts before/after and the cleaned sha256.
      val prepped = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("text",
          when(col("doc_id") % 31 === 7, concat(col("text"), lit(" " + Q73Slogan)))
            .otherwise(col("text")))
      val nb = size(filter(
        split(trim(regexp_replace(col("text"), "\\s+", " ")), " "),
        x => x =!= ""))
      val before = prepped.select(col("doc_id"), nb.cast("long").as("n_before"))
      val cleaned = Dedup.dedupSubstrings(prepped, "doc_id", "text", minLen = 20)
      cleaned.join(before, Seq("doc_id"))
        .select(col("doc_id"), col("n_before"),
          when(col("text") === "", lit(0L))
            .otherwise(size(split(col("text"), " ")).cast("long")).as("n_after"),
          sha2(col("text"), 256).as("sha"))
        .orderBy("doc_id")
    }),
    "q74_snapshot_dedup" -> ((s, dir) => {
      // Incremental cross-snapshot dedup: the historical corpus is
      // summarized ONCE into a persisted index (bucketed sha table +
      // per-bucket bloom filters, DedupIndexJob.build), and an incoming
      // crawl batch is deduped against the INDEX — never against the
      // corpus. Snapshot = 3/4 of documents; batch = the remaining 1/4
      // plus relabeled copies of every 20th snapshot doc (guaranteed
      // cross-snapshot duplicates at every SF, on top of the corpus's
      // natural near-identical families). Bloom negatives are provably
      // novel and skip the confirm join; positives are confirmed by an
      // exact anti-join over only the touched buckets (planning-time
      // partition pruning), so the result is exact regardless of fpp.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val snapshot = docs.filter(col("doc_id") % 4 =!= 0)
      val batch = docs.filter(col("doc_id") % 4 === 0)
        .unionByName(snapshot.filter(col("doc_id") % 20 === 1)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text")))
      val idx = graft.jobs.DedupIndexJob.cachedIndexDir(
        s"$dir/documents#q74", s, snapshot, "text", nBuckets = 16)
      graft.jobs.DedupIndexJob.novelAgainst(s, batch, "text", idx)
        .select(col("doc_id"),
          sha2(coalesce(col("text"), lit("")), 256).as("sha"))
        .orderBy("doc_id")
    }),
    "q75_warc_roundtrip" -> ((s, dir) => {
      // WARC ingest with a hard oracle: each document's text is wrapped in
      // the q48 boilerplate template, serialized into per-record-gzip WARC
      // archives (ISO 28500, the crawl's own container — built once per
      // JVM), stream-parsed back through sources.Warc, and extracted. The
      // url and second-aligned timestamp must survive the container
      // byte-identically and the golden extracted text is the original
      // text, so every output column is SQL-checkable against the raw
      // table: ids/timestamps are closed-form, chars/tokens/sha replay
      // q48's extraction contract.
      withTextStats(warcDocs(graft.sources.Warc.read(s, cachedWarcDir(s, dir))))
        .select("doc_id", "ts_epoch", "n_chars_extracted", "n_tokens", "text_sha256")
        .orderBy("doc_id")
    }),
    "q76_heavy_hitters" -> ((s, dir) => {
      // Boilerplate DISCOVERY: the exact top-20 most frequent corpus lines
      // WITHOUT a corpus-wide shuffle — per-partition Misra-Gries candidate
      // summaries (bounded state), broadcast semi-join, exact confirm count
      // over candidates only, and the integer-arithmetic exactness witness
      // (kth_cnt × counters > N) carried in the output. 24 banner lines
      // planted at harmonic frequencies (every (i+2)-th doc) guarantee a
      // full provable top-20 at every SF on top of natural repeats; the
      // oracle computes the full-shuffle answer, so a witnessed result that
      // diverged from truth would hash-mismatch.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val natural = docs.select(explode(split(col("text"), "\n")).as("line"))
      val planted = docs
        .select(col("doc_id"), explode(sequence(lit(0), lit(23))).as("i"))
        .filter(col("doc_id") % (col("i") + 2) === 0)
        .select(concat(lit("graft boilerplate banner "), col("i")).as("line"))
      HeavyHitters.topK(natural.unionByName(planted), col("line"), k = 20, counters = 1024)
        .withColumnRenamed("key", "line")
        .orderBy("rank")
    }),
    "q77_ingest_pipeline" -> ((s, dir) => {
      // The composed incremental-crawl ingest path, end to end: WARC
      // archives (q75's staging) → streaming container parse → boilerplate
      // extraction → cross-snapshot dedup against the persisted index
      // (q74's — built from the 3/4 snapshot, so every non-novel page is
      // dropped without ever re-reading the snapshot). One linear plan:
      // parse and extraction are narrow, the dedup adds only the bloom
      // probe + the bucket-pruned confirm anti-join. The oracle replays
      // the whole chain as one text-level anti-join because extraction of
      // the wrapped page returns the original text byte-identically
      // (q48's contract) and the index is an exact summary (q74's).
      val warcDir = cachedWarcDir(s, dir)
      val snapshot = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 4 =!= 0)
      val idx = graft.jobs.DedupIndexJob.cachedIndexDir(
        s"$dir/documents#q74", s, snapshot, "text", nBuckets = 16)
      val extracted = withTextStats(warcDocs(graft.sources.Warc.read(s, warcDir)))
        .select("doc_id", "text", "n_tokens")
        // one eager checkpoint: the batch lineage here is parse+extract —
        // novelAgainst otherwise re-executes it for the touched-bucket
        // collect AND both output branches (measured 1.5x the checkpointed
        // wall at 100x: 13.9 s -> 9.4 s, same-JVM staged archives)
        .localCheckpoint(true)
      graft.jobs.DedupIndexJob.novelAgainst(s, extracted, "text", idx)
        .select(col("doc_id"), col("n_tokens"),
          sha2(coalesce(col("text"), lit("")), 256).as("sha"))
        .orderBy("doc_id")
    }),
    "q78_stream_ingest" -> ((s, dir) => {
      // q77's incremental-crawl ingest as a CONTINUOUS stream: archives
      // arrive in a watched directory, each micro-batch parses only files
      // the source has not seen (the file-source's checkpointed seen-log
      // is the exactly-once contract), extraction runs inside the stream,
      // and snapshot dedup is the stateless bloom gate + stream-static
      // anti-join (no state store — nothing grows). Computes the SAME
      // relation as q77, so the oracle is identical; the memory sink is
      // the oracle surface, the production sink is the checkpointed file
      // sink evidenced by StreamFileSinkSpec.
      val warcDir = cachedWarcDir(s, dir)
      val snapshot = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 4 =!= 0)
      val idx = graft.jobs.DedupIndexJob.cachedIndexDir(
        s"$dir/documents#q74", s, snapshot, "text", nBuckets = 16)
      val stream = withTextStats(warcDocs(graft.sources.Warc.readStream(s, warcDir)))
        .select("doc_id", "text", "n_tokens")
      val novel = graft.jobs.DedupIndexJob.novelAgainstStream(s, stream, "text", idx)
        .select(col("doc_id"), col("n_tokens"),
          sha2(coalesce(col("text"), lit("")), 256).as("sha"))
      val qname = "graft_stream_ingest_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = novel.writeStream.outputMode("append").format("memory").queryName(qname).start()
      q.processAllAvailable(); q.stop()
      s.table(qname).orderBy("doc_id")
    }),
    "q79_link_graph" -> ((s, dir) => {
      // crawl-frontier analytics, extraction half: the host-level link
      // graph pulled straight out of page markup (href scan + entity
      // decode + relative/protocol-relative resolution + scheme filtering)
      // and aggregated to weighted host edges. Pages carry a deterministic
      // planted link lattice (two absolute links keyed on doc_id, one
      // relative link, one mailto and one fragment that must drop), so the
      // whole graph is closed-form in doc_id and the oracle rebuilds it
      // without parsing any HTML.
      LinkGraph.hostEdges(q79Pages(s, dir), "url", "html")
        .groupBy("src_host", "dst_host")
        .agg(count(lit(1)).cast("long").as("n_links"))
        .orderBy("src_host", "dst_host")
    }),
    "q80_host_rank" -> ((s, dir) => {
      // crawl-frontier analytics, ranking half: bounded power-iteration
      // PageRank (2 rounds, d=0.85, dangling mass redistributed) over the
      // q79 graph, joined with exact in/out degrees. Degrees are
      // integer-exact; the rank replay matches the oracle's identical
      // float expression tree at 6-decimal rounding (sum ORDER is the one
      // engine-dependent piece — error ~1e-13 vs a 1e-6 grid).
      val edges = LinkGraph.hostEdges(q79Pages(s, dir), "url", "html")
        .localCheckpoint(true)
      val ranks = LinkGraph.pageRank(edges, iters = 2)
      val outd = edges.groupBy(col("src_host").as("host"))
        .agg(count(lit(1)).as("out_links"))
      val ind = edges.groupBy(col("dst_host").as("host"))
        .agg(count(lit(1)).as("in_links"))
      ranks.join(outd, Seq("host"), "left").join(ind, Seq("host"), "left")
        .select(col("host"),
          coalesce(col("out_links"), lit(0L)).as("out_links"),
          coalesce(col("in_links"), lit(0L)).as("in_links"),
          round(col("rank"), 6).as("rank"))
        .orderBy("host")
    }),
    "q81_bm25_retrieval" -> ((s, dir) => {
      // Lexical retrieval over an inverted index — BM25 scoring of every
      // candidate that shares >= 1/5 of a query's distinct bigram terms.
      // Queries are the first-12-token prefixes of a fixed doc set
      // (doc_id % 61 == 0, < 488 — the same 8 queries at every SF), so
      // each query's source document is a guaranteed candidate. Candidate
      // SELECTION is integer set-overlap (engine-exact); qn / n_matched /
      // tf_mass are integer-exact; the BM25 float sum is emitted at 4dp.
      // The oracle rebuilds postings, df, avgdl and the identical score
      // expression tree in SQL.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val idx = Retrieval.buildIndex(docs, "doc_id", "text")
      val queries = docs.filter(col("doc_id") % 61 === 0 && col("doc_id") < 488)
        .select((col("doc_id") / 61).cast("long").as("query_id"),
          concat_ws(" ", slice(Retrieval.alnumTokens(col("text")), 1, 12)).as("qtext"))
      Retrieval.search(idx, queries, minMatchNum = 1, minMatchDen = 5)
        .select(col("query_id"), col("id").as("doc_id"), col("qn"),
          col("n_matched"), col("tf_mass"), round(col("score"), 4).as("bm25_4dp"))
        .orderBy("query_id", "doc_id")
    }),
    "q82_strip_common_lines" -> ((s, dir) => {
      // Document-frequency boilerplate stripping (the REMOVAL half of
      // CCNet line filtering; q56 is the keep-first half): rebuild each
      // doc as 8-token lines wrapped in planted boilerplate (q56's
      // construction — a corpus-wide header, a footer shared by every
      // 10th doc), then strip EVERY line that appears in >= 3 distinct
      // documents. The header and footers must vanish from all docs;
      // natural body lines repeated across >= 3 docs vanish too, and the
      // oracle recomputes the DF rule independently.
      Dedup.stripCommonLines(boilerplateLines(s, dir), "doc_id", "text", minDocs = 3)
        .orderBy("doc_id")
    }),
    "q83_dsir_weights" -> ((s, dir) => {
      // DSIR-style data selection: importance-weight every document by
      // target-vs-raw bigram likelihood (target = the lang='de' slice,
      // raw = the whole corpus; add-one smoothing, V = raw vocabulary).
      // n_bigrams / target_mass / raw_mass are integer-exact; rel_mass is
      // a chain of exact-integer IEEE divisions (bit-identical in any
      // engine) and drives the selection bit at tau=1.0; the true DSIR
      // log-likelihood ratio is emitted at 4dp. Docs with < 2 alnum
      // tokens have no features and drop (documented operator contract).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
      Importance.importanceWeights(
          docs, docs.filter(col("lang") === "de"), "doc_id", "text", tau = 1.0)
        .orderBy("doc_id")
    }),
    "q84_bm25_indexed" -> ((s, dir) => {
      // q81's search routed through the PERSISTED bucket-partitioned
      // inverted index (RetrievalIndexJob): postings written once
      // partitioned by xxhash64(term) % 64 with df denormalized in, the
      // search reading ONLY the buckets its query terms hash into
      // (planning-time PartitionFilters — spec-asserted). Same queries,
      // same scoring kernel, SAME ORACLE as q81: the pruned persisted
      // path must be lossless vs the in-memory index. Index build is
      // memoized per JVM (the q47/q74 convention — trial 2 measures the
      // search path).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val idxDir = graft.jobs.RetrievalIndexJob.cachedIndexDir(
        s"$dir/documents#q84", s, docs, "doc_id", "text", nBuckets = 64)
      val queries = docs.filter(col("doc_id") % 61 === 0 && col("doc_id") < 488)
        .select((col("doc_id") / 61).cast("long").as("query_id"),
          concat_ws(" ", slice(Retrieval.alnumTokens(col("text")), 1, 12)).as("qtext"))
      graft.jobs.RetrievalIndexJob.search(s, idxDir, queries,
          minMatchNum = 1, minMatchDen = 5)
        .select(col("query_id"), col("id").as("doc_id"), col("qn"),
          col("n_matched"), col("tf_mass"), round(col("score"), 4).as("bm25_4dp"))
        .orderBy("query_id", "doc_id")
    }),
    "q85_html_tables" -> ((s, dir) => {
      // structured table extraction: every page carries a planted
      // closed-form table lattice (3-col header row + 2 data rows with
      // values v{(7*id+3r+c)%101}, an entity-bearing cell, and on every
      // 5th doc a second table whose first cell CONTAINS a nested table —
      // which must flatten into that cell's text, not emit as its own
      // table). The oracle rebuilds every cell from doc_id without
      // parsing any HTML.
      Structure.tableCells(q85Pages(s, dir), "doc_id", "html")
        .orderBy("doc_id", "table_idx", "row_idx", "col_idx")
    }),
    "q86_page_meta" -> ((s, dir) => {
      // page-metadata extraction: title/description/keywords/canonical/
      // og:title/published/robots-noindex, all planted closed-form in
      // doc_id — including a COMMENTED-OUT description that must be
      // ignored and a noindex directive on every 4th doc.
      Structure.pageMeta(q85Pages(s, dir), "doc_id", "html")
        .orderBy("doc_id")
    }),
    "q87_anchor_text" -> ((s, dir) => {
      // anchor-text mining over the crawl graph: aggregate what the web
      // CALLS each host — per (dst_host, anchor) link counts from the
      // planted lattice (two absolute links with closed-form anchor
      // phrases, one styled anchor whose inner <b> tag must strip, plus
      // mailto/fragment/href-less anchors that contribute no edge).
      LinkGraph.anchorEdges(q87Pages(s, dir), "url", "html")
        .groupBy("dst_host", "anchor")
        .agg(count(lit(1)).cast("long").as("n_links"))
        .orderBy("dst_host", "anchor")
    }),
    "q88_robots_filter" -> ((s, dir) => {
      // robots-exclusion filtering of the crawl frontier (RFC 9309):
      // per-host robots.txt with agent-specific groups, wildcard + '$'
      // rules, longest-match-wins, allow-on-tie; hosts without a robots
      // row pass. Even hosts exercise exact-agent-group precedence (their
      // '*' group disallows EVERYTHING); odd hosts exercise the '*'
      // fallback plus a wildcard Allow carve-out; host 6 has no row. The
      // url lattice makes every verdict pure doc_id arithmetic for the
      // oracle.
      val frontier = q88Frontier(s, dir)
      Robots.filterAllowed(frontier, "url", q88Robots(s), agent = "graftbot")
        .orderBy("doc_id")
    }),
    "q89_bpe_pairs" -> ((s, dir) => {
      // BPE training, round 1 as a hard oracle: adjacent char-pair counts
      // over the DISTINCT-WORD table weighted by word frequency (the
      // corpus collapse that makes web-scale BPE tractable), top 50 under
      // the training total order (count desc, then pair asc). The
      // iterative merge loop is spec-verified (Sennrich fixture); this
      // pins the distributed statistic it argmaxes over.
      val docs = t(s, dir, "documents").select(col("text"))
      Bpe.pairCounts(Bpe.symbolize(Bpe.wordCounts(docs, "text")))
        // lhs/rhs: LEFT/RIGHT are SQL keywords — keep the oracle unquoted
        .select(col("left").as("lhs"), col("right").as("rhs"), col("pair_cnt"))
        .orderBy(col("pair_cnt").desc, col("lhs"), col("rhs"))
        .limit(50)
    }),
    "q90_bpe_tokenize" -> ((s, dir) => {
      // BPE application at corpus scale: per-document subword token count
      // under the PINNED merge table (training order, leftmost-first
      // non-overlapping application). The oracle replays the merges as a
      // replace() chain over space-joined characters — the exact
      // left-to-right semantics — so every count is integer-exact.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Bpe.tokenCounts(docs, "doc_id", "text", Q90Merges)
        .orderBy("doc_id")
    }),
    "q91_warc_indexed" -> ((s, dir) => {
      // q75's ingest routed through the MEMBER INDEX (the .cdx path): the
      // archives are written once WITH per-record offsets, and the read
      // seeks straight to each response member — record-range parallelism
      // instead of file parallelism. SAME ORACLE as q75: the seek path
      // must be lossless vs the sequential parse. Archive+index build is
      // memoized per JVM (the q47/q74/q84 convention — trial 2 measures
      // the indexed read).
      val base = cachedIndexedWarcDir(s, dir)
      val idx = s.read.parquet(s"$base/index").filter(col("warc_type") === "response")
      withTextStats(warcDocs(graft.sources.Warc.readIndexed(s, idx)))
        .select("doc_id", "ts_epoch", "n_chars_extracted", "n_tokens", "text_sha256")
        .orderBy("doc_id")
    }),
    "q92_canonical_dedup" -> ((s, dir) => {
      // rel=canonical dedup — the crawl-side complement of url-key dedup:
      // pages DECLARE their canonical form, and mirror/variant URLs
      // collapse onto it. Every 3 consecutive docs share a canonical
      // (planted in the head); keepFirstBy keeps the lowest doc_id of
      // each group. Composes Structure.pageMeta (narrow parse) with the
      // one-exchange window dedup.
      val meta = Structure.pageMeta(q92Pages(s, dir), "doc_id", "html")
        .select(col("doc_id"), col("canonical"))
      Dedup.keepFirstBy(meta, "doc_id", col("canonical"))
        .orderBy("doc_id")
    }),
    "q93_heading_outline" -> ((s, dir) => {
      // document outline extraction: h1-h6 headings with ancestor paths
      // (the HTML5 outline pop discipline — a sibling h2 pops the previous
      // h2+h3 before pushing). The planted 4-heading lattice exercises
      // push, deepen, and pop; every heading and path is closed-form in
      // doc_id.
      Structure.outline(q93Pages(s, dir), "doc_id", "html")
        .orderBy("doc_id", "seq")
    }),
    "q94_crawl_planner" -> ((s, dir) => {
      // composed crawl scheduling: which frontier URLs to fetch next.
      // (1) host in-link counts from the page graph (q79's planted
      // lattice — the OPIC-style priority signal, integer-exact);
      // (2) robots-exclusion gate on the candidate frontier (q88's rule
      // shapes on site hosts); (3) per-host fetch budget: top-2 allowed
      // URLs per host by doc_id. One linear plan: edge agg → broadcast
      // rule join + narrow verdict kernel → window rank; every stage
      // replayable in SQL.
      val inlinks = LinkGraph.hostEdges(q79Pages(s, dir), "url", "html")
        .groupBy(col("dst_host").as("host"))
        .agg(count(lit(1)).cast("long").as("in_links"))
      val frontier = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://site"), col("doc_id") % 23, lit(".example/p"),
          col("doc_id") % 4, lit("/page"), col("doc_id")).as("url"))
      val allowed = Robots.filterAllowed(frontier, "url", q94Robots(s), agent = "graftbot")
      val w = Window.partitionBy(col("host")).orderBy(col("doc_id"))
      allowed
        .withColumn("host", Blocklist.hostOf(col("url")))
        .join(inlinks, Seq("host"), "left")
        .withColumn("fetch_rank", row_number().over(w))
        .filter(col("fetch_rank") <= 2)
        .select(col("host"), col("doc_id"), col("url"),
          coalesce(col("in_links"), lit(0L)).as("in_links"),
          col("fetch_rank").cast("int").as("fetch_rank"))
        .orderBy("host", "fetch_rank")
    }),
    "q95_bm25_segmented" -> ((s, dir) => {
      // q81's search through the SEGMENTED incremental index: the corpus
      // is indexed as two disjoint crawl batches (even/odd doc_id), each
      // its own immutable segment (postings WITHOUT denormalized df +
      // per-segment df table); the search reassembles the global df from
      // the pruned per-segment term reads. SAME ORACLE as q81/q84 — a
      // two-segment index must compute the identical relation as the
      // monolithic one. Build memoized per JVM (trial 2 measures the
      // multi-segment search).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val idxDir = cachedSegmentedIndexDir(s"$dir/documents#q95", s, docs)
      val queries = docs.filter(col("doc_id") % 61 === 0 && col("doc_id") < 488)
        .select((col("doc_id") / 61).cast("long").as("query_id"),
          concat_ws(" ", slice(Retrieval.alnumTokens(col("text")), 1, 12)).as("qtext"))
      graft.jobs.RetrievalIndexJob.searchSegments(s, idxDir, queries,
          minMatchNum = 1, minMatchDen = 5)
        .select(col("query_id"), col("id").as("doc_id"), col("qn"),
          col("n_matched"), col("tf_mass"), round(col("score"), 4).as("bm25_4dp"))
        .orderBy("query_id", "doc_id")
    }),
    "q96_fix_mojibake" -> ((s, dir) => {
      // encoding hygiene (the ftfy stage): repair UTF-8-as-CP1252
      // mojibake via the strict round-trip test. Each doc carries one
      // PLANTED mojibake string (must repair — including the 0x9D
      // undefined-CP1252 byte of a curly close-quote) and one genuinely
      // accented clean string (must pass through untouched: a real é is
      // CP1252 0xE9, never a valid UTF-8 head+continuation). Both
      // outcomes are closed-form in doc_id.
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val m = s"cafÃ© nÂ°${id % 7} " +
            "â€œquoteâ€"
          val c = s"résumé ${id % 5}"
          val fm = Encoding.repairMojibake(m)
          val fc = Encoding.repairMojibake(c)
          (id, fm, fc, fm != m, fc != c)
        })
        .toDF("doc_id", "fixed_mojibake", "fixed_clean",
          "repaired_mojibake", "repaired_clean")
        .orderBy("doc_id")
    }),
    "q100_neardup_index" -> ((s, dir) => {
      // incremental cross-snapshot near-dedup: a new crawl batch (50 exact
      // copies of history + 50 novel docs) probed against the PERSISTED
      // MinHash-LSH index of the historical corpus (built once per
      // session, probe reads only the touched band/sig buckets), then
      // exact word-3-gram verified at 0.85 — the q17 discipline: at this
      // threshold 16x4 banding misses a true pair w.p. ~7e-6, so the
      // oracle enumerates the exact batch x history pair set in SQL.
      import s.implicits._
      val docs = t(s, dir, "documents")
      val hist = docs.filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text")).as[(Long, String)]
      val batch = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
        .union(docs.filter(col("doc_id") >= 300 && col("doc_id") < 350)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
        .as[(Long, String)]
      val idx = graft.jobs.NearDupIndexJob.cachedIndexDir(
        s"$dir/documents_hist200", s, hist, nBuckets = 16)
      val cands = graft.jobs.NearDupIndexJob.probe(s, batch, idx)
        .map(p => Dedup.Pair(p.a, p.b))
      Dedup.exactJaccard(hist.union(batch), cands)
        .filter(_.estimated_jaccard >= 0.85)
        .toDF()
        .select(col("a").as("batch_id"), col("b").as("hist_id"),
          round(col("estimated_jaccard"), 6).as("jaccard"))
        .orderBy("batch_id", "hist_id")
    }),
    "q101_bpe_encode" -> ((s, dir) => {
      // BPE token-ID emission — the actual training artifact (q90 counts
      // tokens, q101 emits them): every document's subword-id sequence
      // under the pinned merge table and the deterministic chars+merges
      // vocab (36 alnum base symbols at ids 0-35, merge outputs at
      // 36+step). The oracle maps q90's proven replace-chain subwords
      // onto ids with a SECOND generated full-token replace chain, so
      // both the segmentation and the id assignment replay independently.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Bpe.encodeIds(docs, "doc_id", "text", Q90Merges)
        .orderBy("doc_id")
    }),
    "q102_training_windows" -> ((s, dir) => {
      // the LAST MILE composed: raw text -> BPE token ids (q101's pinned
      // vocab) -> overlapping fixed-length training windows (q98's
      // window/stride lattice, 32 ids every 24) in ONE linear plan — the
      // encodeIds mapPartitions and the posexplode slicer are both
      // narrow, so the only exchange is the output sort. This is the
      // relation a pretraining data loader actually reads.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val ids = Bpe.encodeIds(docs, "doc_id", "text", Q90Merges)
      Pack.contextWindows(ids, "doc_id", "token_ids", window = 32, stride = 24)
        .orderBy("doc_id", "win_idx")
    }),
    "q103_seeded_shuffle" -> ((s, dir) => {
      // reproducible global training order: every doc keyed by the MMIX
      // multiply-add step (bijective mod 2^64 — no ties) and totally
      // ordered; the same seed replays the same order on any cluster, at
      // any parallelism, across retries. The oracle reproduces the
      // wrapped 64-bit arithmetic in HUGEINT and must agree on every key.
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Pack.seededShuffle(docs, "doc_id", seed = 42L)
    }),
    "q104_epoch_repeat" -> ((s, dir) => {
      // weighted mixture UPSAMPLING: each language's weight = expected
      // training epochs (en 1x, de 2.5x, es 0.25x, zh 3x, default 0.5x);
      // floor(w) guaranteed copies + one more iff the shared 60-bit md5
      // coordinate (q63's discipline) falls under frac(w)*2^60. Narrow
      // explode — zero shuffle; every copy decision a pure function of
      // (doc_id, salt, weight), so the oracle replays the CASE chain and
      // lateral-unnests generate_series.
      Sampling.epochRepeat(t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 1.0, "de" -> 2.5, "es" -> 0.25, "zh" -> 3.0),
          defaultWeight = 0.5, salt = "epochs1")
        .select(col("doc_id"), col("lang"),
          Sampling.hashCoord(col("doc_id"), "epochs1").as("coord"),
          col("epoch"))
        .orderBy("doc_id", "epoch")
    }),
    "q105_shard_assign" -> ((s, dir) => {
      // training-shard layout over the seeded order: global rank in
      // q103's shuffle via the two-phase scan (no single-task window),
      // shard = rank / 64, pos_in_shard = rank % 64 — exact balance,
      // and reading shards in (shard, pos) order replays the epoch's
      // shuffle order. Oracle = the q103 HUGEINT key replay + a
      // row_number over it.
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Pack.shardAssign(docs, "doc_id", seed = 42L, shardSize = 64L)
        .orderBy("rank")
    }),
    "q106_mixture_weights" -> ((s, dir) => {
      // temperature-based mixture solve (mT5/XLM-R p ∝ mass^α): per-lang
      // char-mass shares at α=0.5 and the epoch weights that realize a
      // 150k-char budget — weights derived from the corpus's OWN stats,
      // not hand-picked. share/weight rounded to 6 decimals so the
      // pow/sum ULP surface is pinned cross-engine (the q66 discipline).
      // One strata-sized aggregate; the corpus never shuffles full-width.
      Sampling.temperatureWeights(t(s, dir, "documents"), "lang", "n_chars",
          alpha = 0.5, budget = 150000L)
        .orderBy("lang")
    }),
    "q107_weighted_mixture" -> ((s, dir) => {
      // the solve→apply loop in ONE plan: q106's weights table broadcast
      // back onto the corpus and applied with q104's copy discipline —
      // floor(w) copies + one more iff the shared md5 coordinate falls
      // under frac(w)·2^60 (exact given the 6-decimal w: the subtraction
      // is exact IEEE, ·2^60 only shifts the exponent). No driver
      // round-trip between solve and apply; the corpus side stays narrow.
      val docs = t(s, dir, "documents")
      val weights = Sampling.temperatureWeights(docs, "lang", "n_chars",
        alpha = 0.5, budget = 150000L)
      Sampling.epochRepeatWeighted(docs, "doc_id", "lang", weights, salt = "mix1")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("epoch"))
        .orderBy("doc_id", "epoch")
    }),
    "q108_nb_classifier" -> ((s, dir) => {
      // hashed Naive Bayes (the fastText-class curation scorer): fit on
      // the lang labels (one capped-key aggregation — ≤ buckets×classes
      // rows shuffle regardless of corpus size), score in one narrow
      // broadcast-model pass. Every weight is a micro-nat BIGINT
      // (floor(ln·1e6 + .5)), so scores are exact integer sums and the
      // argmax has no float surface — the oracle replays fit AND score.
      // The synthetic table draws one shared vocabulary for every lang,
      // so accuracy here sits at the prior-informed ceiling (~0.44) BY
      // CONSTRUCTION of the data; discriminative power is witnessed in
      // NaiveBayesSpec on a separable corpus (accuracy 1.0). The contract
      // gate is the exact fit+score replay, not the accuracy.
      val docs = t(s, dir, "documents")
      val model = engine.NaiveBayes.fit(docs, "text", "lang", buckets = 4096)
      engine.NaiveBayes.score(docs, "text", model)
        .select(col("doc_id"), col("lang"), col("pred"), col("score"),
          when(col("pred") === col("lang"), 1).otherwise(0)
            .cast("int").as("correct"))
        .orderBy("doc_id")
    }),
    "q109_cluster_split" -> ((s, dir) => {
      // Near-dup-AWARE splits — the leakage class q72's domain split
      // cannot close: q61's transitive pair lattice resolves to
      // components, and every document hashes on its component KEEPER,
      // so two near-duplicates can never straddle train/test (the
      // GPT-3/Pile contamination lesson). Singletons (absent from the
      // assignment) hash on themselves — plain splitByKey. Same split
      // weights as q72; the oracle replays components (recursive CTE)
      // + the md5 boundary chain with the engine's exact thresholds.
      import s.implicits._
      val docs = t(s, dir, "documents")
      val ids = docs.select(col("doc_id").cast("long").as("i"))
      val chain = ids
        .filter(col("i") % 7 < (expr("i DIV 7") % 6) + 1)
        .select(col("i").as("a"), (col("i") + 1).as("b"))
      val cross = ids
        .filter(col("i") % 7 === 2 && expr("i DIV 7") % 11 === 0)
        .select(col("i").as("a"), (expr("i DIV 7") * 7 + 21).as("b"))
      val present = ids.select(col("i").as("b"))
      val pairs = chain.union(cross).join(present, Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .as[(Long, Long)].map { case (a, b) => Dedup.Pair(a, b) }
      val assignment = Dedup.resolveClusters(pairs)
      Sampling.splitByCluster(docs.select(col("doc_id")), "doc_id",
          assignment, Q72Splits, salt = "cls1", keeperOut = "keeper_id")
        .select(col("doc_id"), col("keeper_id"), col("split"))
        .orderBy("doc_id")
    }),
    "q110_training_layout" -> ((s, dir) => {
      // the COMPOSED training-layout last mile — corpus → temperature
      // mixture solve (q106) → weighted epoch copies (q107) → packed
      // (doc, epoch) uid → seeded global shuffle (q103) → shard layout
      // (q105) — in ONE plan. The only corpus-side exchange in the whole
      // pipeline is the range exchange any total order costs: the solve
      // is a strata-sized aggregate, the apply a broadcast join + narrow
      // explode, the rank the two-phase scan. uid = doc_id·8 + epoch
      // (loud raise_error bound — weights here cap epochs at 2, and the
      // mixture contract is "single-digit epochs", Muennighoff-style).
      val docs = t(s, dir, "documents")
      val weights = Sampling.temperatureWeights(docs, "lang", "n_chars",
        alpha = 0.5, budget = 150000L)
      val epochs = Sampling.epochRepeatWeighted(
        docs.select(col("doc_id"), col("lang")), "doc_id", "lang",
        weights, salt = "mix1")
      val uids = epochs.select(
        when(col("epoch") < lit(8L), col("doc_id") * 8 + col("epoch"))
          .otherwise(raise_error(lit(
            "q110: epoch exceeds the uid packing bound 8"))).as("uid"))
      Pack.shardAssign(uids, "uid", seed = 7L, shardSize = 128L)
        .select(expr("uid DIV 8").as("doc_id"),
          (col("uid") % 8).as("epoch"),
          col("shuffle_key"), col("rank"), col("shard"), col("pos_in_shard"))
        .orderBy("rank")
    }),
    "q111_corpus_profile" -> ((s, dir) => {
      // the corpus report card: per-(lang, source), per-lang, and overall
      // doc/char/bound statistics from ONE ROLLUP aggregate — one
      // exchange for all three grouping levels, where three separate
      // groupBys would read the corpus three times. grouping() flags
      // disambiguate rollup subtotal rows from genuine NULL dimension
      // values (web metadata is full of real nulls).
      t(s, dir, "documents")
        .rollup(col("lang"), col("source"))
        .agg(grouping(col("lang")).cast("int").as("g_lang"),
          grouping(col("source")).cast("int").as("g_source"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("chars"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("g_lang"), col("g_source"), col("lang"), col("source"))
    }),
    "q112_shard_store" -> ((s, dir) => {
      // persisted shard store: q105's layout written ONCE shard-partitioned
      // (per-sf memoized, the q47 index discipline), then epoch shards
      // 1 and 3 read back through planning-time PartitionFilters
      // (ShardStoreJobSpec asserts the pruned scan) in (shard, pos) order
      // — a loader resumes mid-epoch by opening rank/64 and seeking
      // rank%64, never scanning the preceding corpus. Oracle = the q105
      // rank replay filtered to the same shards.
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val storeDir = graft.jobs.ShardStoreJob.cachedStoreDir(s"$dir/documents",
        Pack.shardAssign(docs, "doc_id", seed = 42L, shardSize = 64L))
      graft.jobs.ShardStoreJob.readShards(s, storeDir, Seq(1L, 3L))
        .select(col("doc_id"), col("shuffle_key"), col("rank"),
          col("shard"), col("pos_in_shard"))
        .orderBy("rank")
    }),
    "q113_weighted_sample" -> ((s, dir) => {
      // quality-weighted fixed-budget curation: keep EXACTLY 25 docs per
      // language with selection probability proportional to n_chars (the
      // stand-in quality mass), without replacement — the Efraimidis-
      // Spirakis exponential race over the md5 coordinate. The corpus
      // never shuffles: a per-partition run-length prune feeds the global
      // rank, and the 25·|langs| winner keys broadcast into a left-semi
      // join. The oracle replays coordinate → u → micro-arrival →
      // (arrival, key) window rank identically.
      Sampling.weightedSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", "lang", col("n_chars"), k = 25, salt = "ws1")
        .orderBy("doc_id")
    }),
    "q114_scale_profile" -> ((s, dir) => {
      // the 100-TB planning statistics: sketch cardinality (HLL++, rsd
      // 1%) and sketch quantiles (percentile_approx) per source, each
      // WITNESSED against the exact answer at test scale. At production
      // scale the exact columns (countDistinct's Expand pass, the exact
      // percentile's per-group value buffer) are dropped and only the
      // sketches run — both partial-aggregable, ONE exchange of
      // sketch-sized partials. Raw sketch estimates are not
      // cross-engine-replayable (HLL register merges and the quantile
      // summary are engine-internal), so the emitted surface is the
      // exact statistics plus within-tolerance witness booleans: HLL at
      // 5x its configured rsd, quantiles at max(2 chars, 2%) — both
      // deterministic per dataset (the sketches are hash-based, not
      // randomized).
      // Witness geometry: percentile_approx returns an ELEMENT while the
      // exact percentile interpolates, and at a small stratum one rank
      // step is a sizable value jump — so the quantile witness is a band
      // in RANK space (the element must lie between the exact quantiles
      // at p ± 0.08), not a value tolerance. All six exact quantiles come
      // from ONE percentile buffer (array form).
      t(s, dir, "documents").groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("distinct_texts"),
          approx_count_distinct(md5(col("text")), 0.01).as("__hll"),
          expr("percentile(n_chars, array(0.42D, 0.5D, 0.58D, 0.82D, 0.9D, 0.98D))")
            .as("__q"),
          expr("percentile_approx(n_chars, 0.5D, 50000)").as("__ap50"),
          expr("percentile_approx(n_chars, 0.9D, 50000)").as("__ap90"))
        .withColumn("p50_chars", round(col("__q")(1), 4))
        .withColumn("p90_chars", round(col("__q")(4), 4))
        .withColumn("hll_ok",
          abs(col("__hll") - col("distinct_texts")).cast("double") <=
            col("distinct_texts").cast("double") * 0.05)
        .withColumn("p50_ok",
          col("__ap50").cast("double").between(col("__q")(0), col("__q")(2)))
        .withColumn("p90_ok",
          col("__ap90").cast("double").between(col("__q")(3), col("__q")(5)))
        .select(col("source"), col("n_docs"), col("distinct_texts"),
          col("p50_chars"), col("p90_chars"),
          col("hll_ok"), col("p50_ok"), col("p90_ok"))
        .orderBy("source")
    }),
    "q115_curated_layout" -> ((s, dir) => {
      // the COMPLETE data recipe, raw corpus → training shards in one
      // plan: quality-weighted budget cut (q113's A-ES race, 80 docs per
      // lang, probability ∝ n_chars) → temperature mixture solved on the
      // SAMPLE's own masses (q106) → weighted epoch copies (q107) →
      // packed uid → seeded shuffle (q103, seed 11) → shard layout
      // (q105, 64/shard). Corpus-side exchanges: the winner semi-join's
      // broadcast build + the ONE range exchange any total order costs —
      // the solve is strata-sized, the apply broadcast+narrow. The base
      // table is scanned twice (mass solve + epoch rows — the q110
      // shape); every stage decision is a pure function of
      // (doc_id, salt/seed, weights), so the oracle replays the whole
      // composition to hash equality.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val sampled = Sampling.weightedSample(docs, "doc_id", "lang",
        col("n_chars"), k = 80, salt = "cur1")
      val weights = Sampling.temperatureWeights(sampled, "lang", "n_chars",
        alpha = 0.5, budget = 300000L)
      val epochs = Sampling.epochRepeatWeighted(
        sampled.select(col("doc_id"), col("lang")), "doc_id", "lang",
        weights, salt = "mix2")
      val uids = epochs.select(
        when(col("epoch") < lit(8L), col("doc_id") * 8 + col("epoch"))
          .otherwise(raise_error(lit(
            "q115: epoch exceeds the uid packing bound 8"))).as("uid"))
      Pack.shardAssign(uids, "uid", seed = 11L, shardSize = 64L)
        .select(expr("uid DIV 8").as("doc_id"),
          (col("uid") % 8).as("epoch"),
          col("shuffle_key"), col("rank"), col("shard"), col("pos_in_shard"))
        .orderBy("rank")
    }),
    "q99_script_mix" -> ((s, dir) => {
      // Unicode-script profiling + homoglyph-spam signal: each doc plants
      // a deterministic multi-script string (latin base; cyrillic, greek,
      // han, arabic, hangul, kana, a confusable 'pаypal' token, digits —
      // each gated on doc_id arithmetic). The oracle rebuilds the plant
      // and counts with RE2's independent \p{Script} implementation.
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val sb = new StringBuilder("The quick brown fox ")
          if (id % 2 == 0) sb.append("привет мир ")
          if (id % 3 == 0) sb.append("Ελλάδα ")
          if (id % 5 == 0) sb.append("漢字文化 ")
          if (id % 7 == 0) sb.append("مرحبا ")
          if (id % 11 == 0) sb.append("한국어 ")
          if (id % 13 == 0) sb.append("ひらがなカタカナ ")
          if (id % 9 == 0) sb.append("привет" * 5).append(' ')
          if (id % 4 == 0) sb.append("pаypal advert ")
          sb.append("num ").append(id % 100)
          val p = Script.profile(sb.toString)
          (id, p.latin, p.cyrillic, p.greek, p.han, p.arabic, p.hangul,
            p.kana, p.digits, p.confusableWords, p.dominant)
        })
        .toDF("doc_id", "latin", "cyrillic", "greek", "han", "arabic",
          "hangul", "kana", "digits", "confusable_words", "dominant")
        .orderBy("doc_id")
    }),
    "q98_context_windows" -> ((s, dir) => {
      // training-window layout: overlapping 32-token windows every 24
      // tokens within each document (tail clamped, no token dropped) —
      // a single narrow codegen stage (split once, transform+posexplode),
      // no shuffle; the oracle replays the slicing with DuckDB list ops.
      Pack.contextWindows(t(s, dir, "documents"), "doc_id", "text",
          window = 32, stride = 24)
        .orderBy("doc_id", "win_idx")
    }),
    "q97_normalize_text" -> ((s, dir) => {
      // Unicode hygiene (the stage after mojibake repair): per doc, a
      // planted dirty string exercises every rule — NFC composition
      // (e+U+0301), CRLF/CR/FF newline canonicalization, format-invisible
      // strips (ZWSP/SHY/WJ/BOM), C0/C1 control strips with tab kept.
      // The oracle rebuilds the same plant with chr() and replays the
      // rules with DuckDB's own nfc_normalize + RE2 classes — an
      // independent Unicode implementation agreeing byte-for-byte.
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val dirty = "Cafe\u0301 " + (id % 9) + "\r\nzero\u200bwidth" +
            "\u00adsoft\u2060join\ufeff tab\tkeep\u0007bell\u0085nel" +
            "\rcr\fff"
          val clean = Encoding.normalizeText(dirty)
          (id, clean, dirty.length - clean.length, clean != dirty)
        })
        .toDF("doc_id", "clean_text", "removed", "changed")
        .orderBy("doc_id")
    }),
  )

  /** q79/q80's page set: one page per document with a planted
    * deterministic link lattice — source host `src(doc_id%11).example`,
    * absolute links to `site((doc_id+1)%23).example` and
    * `site((2*doc_id+5)%23).example` (which COLLIDE when doc_id ≡ 19
    * mod 23, exercising multiplicity), one relative link resolving to the
    * source host, plus a mailto and a fragment that must be filtered.
    */
  private def q79Pages(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val k1 = (id + 1) % 23
        val k2 = (2 * id + 5) % 23
        val html = "<html><body><nav><a href=\"/home\">h</a> " +
          "<a href=\"mailto:x@y.example\">m</a> <a href=\"#top\">t</a></nav>" +
          s"<p>doc $id</p>" +
          s"<a href=\"https://site$k1.example/p\">x</a> " +
          s"<A HREF='https://site$k2.example/q?a=1&amp;b=2'>y</A>" +
          "</body></html>"
        (s"https://src${id % 11}.example/d/$id",
          html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      })
      .toDF("url", "html")
  }

  /** q85/q86's page set: per-doc markup with a closed-form table lattice
    * and closed-form head metadata, so structured extraction needs no
    * HTML parse on the oracle side. Table 0 = one 3-col `<th>` header row
    * plus 2 data rows (`v{(7*id+3r+c)%101}`; cell (1,2) spells `&amp;`);
    * every 5th doc adds table 1 whose first cell CONTAINS a nested table
    * (must flatten); head carries title/description/keywords/canonical/
    * og:title/published, a commented-out decoy description, and noindex
    * on every 4th doc.
    */
  private def q85Pages(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val head = "<head>" +
          s"<title>Doc $id &amp; Co</title>" +
          "<!-- <meta name=\"description\" content=\"WRONG decoy\"> -->" +
          s"""<meta name="description" content="summary ${id % 13} of page">""" +
          s"""<meta name="keywords" content="k${id % 3},k${id % 7}">""" +
          s"""<link rel="canonical" href="https://docs.example.com/d/$id">""" +
          s"""<meta property="og:title" content="OG ${id % 5}">""" +
          s"""<meta property="article:published_time" content="2024-0${1 + id % 9}-11">""" +
          (if (id % 4 == 0) """<meta name="robots" content="noindex, nofollow">""" else "") +
          "</head>"
        def v(r: Int, c: Int): String =
          if (r == 1 && c == 2) s"a&amp;b ${(7 * id + 3 * r + c) % 101}"
          else s"v${(7 * id + 3 * r + c) % 101}"
        val t0 = "<table><tr><th>h0</th><th>h1</th><th>h2</th></tr>" +
          (0 to 1).map(r => s"<tr><td>${v(r, 0)}</td><td>${v(r, 1)}</td><td>${v(r, 2)}</td></tr>")
            .mkString + "</table>"
        val t1 =
          if (id % 5 == 0)
            s"<table><tr><td>outer <table><tr><td>inner${id % 9}</td></tr></table></td>" +
              "<td>plain</td></tr></table>"
          else ""
        val html = s"<html>$head<body><h1>doc $id</h1>$t0$t1</body></html>"
        (id, html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      })
      .toDF("doc_id", "html")
  }

  /** q87's page set: the q79 link lattice with closed-form ANCHOR TEXT —
    * absolute links labeled `best site {k} ever` / `visit {k} now` (the
    * second with an inner `<b>` that must strip), a relative link labeled
    * `home`, plus mailto/fragment/href-less anchors that contribute no
    * edge.
    */
  private def q87Pages(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val k1 = (id + 1) % 23
        val k2 = (2 * id + 5) % 23
        val html = "<html><body>" +
          "<a href=\"/home\">home</a> <a href=\"mailto:x@y.example\">mail me</a> " +
          "<a href=\"#top\">top</a> <a name=\"x\">no target</a>" +
          s"<p>doc $id</p>" +
          s"<a href=\"https://site$k1.example/p\">best site $k1 ever</a> " +
          s"<A HREF='https://site$k2.example/q'>visit <b>$k2</b> now</A>" +
          "</body></html>"
        (s"https://src${id % 11}.example/d/$id",
          html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      })
      .toDF("url", "html")
  }

  /** q56's and q82's documents: each doc rebuilt as lines of 8 tokens
    * wrapped in planted cross-document boilerplate, a corpus-wide header on
    * every doc and a footer shared by every 10th.
    */
  private def boilerplateLines(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        // keep trailing empties: DuckDB string_split semantics, or a
        // trailing-space doc diverges from the oracle
        val body = text.split(" ", -1).grouped(8).map(_.mkString(" ")).mkString("\n")
        (id, s"CORPUS HEADER BOILERPLATE\n$body\nFooter ${id % 10}")
      }
      .toDF("doc_id", "text")
  }

  /** q88's crawl frontier: one candidate URL per doc on hosts
    * `h{id%7}.example` with path `/p{id%4}/page{id}` — every robots
    * verdict is doc_id arithmetic (see [[q88Robots]]).
    */
  private def q88Frontier(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat(lit("https://h"), col("doc_id") % 7, lit(".example/p"),
        col("doc_id") % 4, lit("/page"), col("doc_id")).as("url"))

  /** q88's per-host robots rules, [[parityRobots]] for hosts 0–5 (host 6
    * deliberately has NO row).
    */
  private def q88Robots(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 to 5).map(k => (s"h$k.example", parityRobots(k))).toDF("host", "robots_txt")
  }

  /** The robots.txt of q88's and q94's host k, by k's parity: even — a
    * graftbot group (Disallow `/p{k%4}/`, wildcard-anchored Allow
    * `/p{k%4}/page*0$`) that must SHADOW a disallow-everything `*` group,
    * under a comment line; odd — an inapplicable `other` group plus a `*`
    * group (Disallow `/p1/` and `/p3/`, Allow `/p3/page1*`).
    */
  private def parityRobots(k: Int): String =
    if (k % 2 == 0)
      s"""# crawl policy for host $k
         |User-agent: graftbot
         |Disallow: /p${k % 4}/
         |Allow: /p${k % 4}/page*0$$
         |
         |User-agent: *
         |Disallow: /
         |""".stripMargin
    else
      """User-agent: other
        |Disallow: /
        |
        |User-agent: *
        |Disallow: /p1/
        |Disallow: /p3/
        |Allow: /p3/page1*
        |""".stripMargin

  /** q90's pinned BPE merge table (training order). Chosen from frequent
    * English bigrams so the synthetic corpus exercises every merge,
    * including the two-level `t h`→`th`→`the` chain.
    */
  private val Q90Merges: IndexedSeq[(String, String)] = IndexedSeq(
    ("t", "h"), ("th", "e"), ("a", "n"), ("i", "n"), ("e", "r"), ("o", "n"),
    ("r", "e"), ("an", "d"), ("o", "r"), ("e", "n"), ("a", "t"), ("e", "s"))

  /** q90's oracle kernel, generated from [[Q90Merges]] so the two sides
    * can never drift: per merge, TWO chained `replace(' l r ', ' lr ')`
    * passes over the space-joined char string (see the q90 oracle comment
    * for why two passes are exact for left != right merges).
    */
  private val q90ReplaceChain: String =
    Q90Merges.foldLeft("' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' '") {
      case (acc, (l, r)) =>
        val pat = s"' $l $r '"
        val rep = s"' $l$r '"
        s"replace(replace($acc, $pat, $rep), $pat, $rep)"
    }

  /** q101's oracle id chain: [[q90ReplaceChain]]'s subword string mapped
    * onto the shared chars+merges vocab ([[graft.engine.Bpe.vocabIds]])
    * with one more generated full-token replace chain — per symbol, two
    * chained `replace(' sym ', ' id ')` passes. Every replacement keeps
    * both boundary spaces, so only RUNS of the same token share spaces and
    * the q90 double-pass argument applies verbatim (pass 1 consumes every
    * other occurrence of a run, pass 2 the rest). Patterns are full-token
    * anchored, so replacement order is irrelevant, numeric id tokens can
    * never re-match a letter pattern, and digit symbols (ids 0-9, mapping
    * to themselves) are skipped as identities. Generated from the same
    * Scala vocab the engine encodes with, so the two sides cannot drift.
    */
  private val q101IdChain: String =
    graft.engine.Bpe.vocabIds(Q90Merges).toSeq.sortBy(_._2)
      .filter { case (sym, id) => sym != id.toString }
      .foldLeft(q90ReplaceChain) { case (acc, (sym, id)) =>
        val pat = s"' $sym '"
        val rep = s"' $id '"
        s"replace(replace($acc, $pat, $rep), $pat, $rep)"
      }

  /** The q48/q75 extraction-oracle HTML template, as UTF-8 page bytes:
    * link-dense nav + footer the extractor must drop, script/title
    * excluded, content in <article> — so the golden extracted text is
    * exactly the wrapped text. A null text has no page (null).
    */
  private def boilerplateWrap(text: Column): Column = concat(
    lit("<html><head><title>t</title><script>var x=1;</script></head><body>" +
      "<nav><a href=\"/a\">home</a> <a href=\"/b\">about</a> <a href=\"/c\">contact</a></nav>" +
      "<article><p>"),
    text,
    lit("</p></article>" +
      "<footer><a href=\"/d\">privacy</a> <a href=\"/e\">terms</a></footer></body></html>"),
  ).cast("binary")

  /** `pages` with its `text` column resolved (null reads as "") and the
    * extraction contract's stats of that text beside it: `n_chars_extracted`
    * in UTF-16 units (Java's `String.length`, not Spark's code-point
    * `length`), `n_tokens` and the hex `text_sha256` — the fields
    * [[Extraction.extractTextStats]] computes, as plan columns, so Catalyst
    * drops every stat a query does not read.
    */
  private[graft] def withTextStats(pages: DataFrame): DataFrame = {
    val text = col("text")
    pages.withColumn("text", coalesce(text, lit(""))).select(col("*"),
      (octet_length(encode(text, "UTF-16LE")) / 2).cast("long").as("n_chars_extracted"),
      GraftFunctions.token_count(text).cast("long").as("n_tokens"),
      sha2(text, 256).as("text_sha256"))
  }

  /** A WARC page set as q48-style documents: the doc id is the url's last
    * path segment, `ts_epoch` the capture time in epoch seconds and `text`
    * the page's extracted html text.
    */
  private def warcDocs(pages: DataFrame): DataFrame = pages.select(
    substring_index(col("url"), "/", -1).cast("long").as("doc_id"),
    unix_seconds(col("warc_ts")).as("ts_epoch"),
    GraftFunctions.html_text(col("html")).as("text"))

  /** The page set q75 and q91 stage as WARC archives: each document's text
    * in the [[boilerplateWrap]] template at a closed-form url and capture
    * time, spread one archive per core slot (staging gzip work must use
    * the session's full parallelism, not a fixed file count — a fixed 8
    * made the sf1 staging 4x slower than the read it feeds).
    */
  private def wrappedPages(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(concat(lit("https://docs.example.com/d/"), col("doc_id")).as("url"),
        timestamp_seconds(col("doc_id") + 1700000000L).as("warc_ts"),
        boilerplateWrap(col("text")).as("html"))
      .repartition(math.max(8, s.sparkContext.defaultParallelism))

  // q75's WARC staging, built once per sf dir per JVM (bench trial 2
  // measures the read+extract path, not the serialization); production
  // reads the crawler's own archives, it never builds them.
  private def cachedWarcDir(s: SparkSession, dir: String): String =
    graft.jobs.Staging.cachedDir("graft_warc_q75", dir)(
      graft.sources.Warc.write(wrappedPages(s, dir), _))

  /** q92's page set: every 3 consecutive docs declare the SAME
    * `rel=canonical` target (the mirror/variant-URL shape), so canonical
    * dedup must keep exactly the lowest doc_id of each triple.
    */
  private def q92Pages(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val html = "<html><head>" +
          s"""<link rel="canonical" href="https://docs.example.com/c/${id - id % 3}">""" +
          s"</head><body><p>variant $id</p></body></html>"
        (id, html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      })
      .toDF("doc_id", "html")
  }

  /** q93's page set: a 4-heading lattice (h1 → h2 → h3 → sibling h2) that
    * exercises outline push, deepen, and pop — every heading and ancestor
    * path is closed-form in doc_id.
    */
  private def q93Pages(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val html = "<html><body>" +
          s"<h1>Part ${id % 3}</h1><p>intro text</p>" +
          s"<h2>Chapter ${id % 5}</h2><p>chapter text</p>" +
          s"<h3>Section ${id % 7}</h3><p>section text</p>" +
          s"<h2>Chapter ${(id + 1) % 5}</h2><p>closing text</p>" +
          "</body></html>"
        (id, html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      })
      .toDF("doc_id", "html")
  }

  /** q94's robots rules for the `site{k}.example` hosts: q88's two group
    * shapes keyed by k's parity, with every k ≡ 4 (mod 5) host missing its
    * robots row (must pass).
    */
  private def q94Robots(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 to 22).filter(_ % 5 != 4).map(k => (s"site$k.example", parityRobots(k)))
      .toDF("host", "robots_txt")
  }

  /** q95's segmented-index staging: two disjoint crawl-batch segments
    * (even/odd doc_id), one build per sf dir per JVM.
    */
  private def cachedSegmentedIndexDir(key: String, s: SparkSession, docs: DataFrame): String =
    graft.jobs.Staging.cachedDir("graft_bm25_seg", key) { out =>
      graft.jobs.RetrievalIndexJob.addSegment(
        s, out, docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", "batch-even")
      graft.jobs.RetrievalIndexJob.addSegment(
        s, out, docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", "batch-odd")
    }

  /** q91's indexed WARC staging: archives + member-index parquet, one
    * build per sf dir per JVM (the cachedWarcDir convention).
    */
  private def cachedIndexedWarcDir(s: SparkSession, dir: String): String =
    graft.jobs.Staging.cachedDir("graft_warc_q91", dir) { out =>
      graft.sources.Warc.writeIndexed(wrappedPages(s, dir), s"$out/warc")
        .write.mode("overwrite").parquet(s"$out/index")
    }

  /** q72's split weights and the 14-token cross-split slogan (planted on
    * every 11th document — guaranteed heldout↔train overlap witness).
    */
  private val Q72Splits: Seq[(String, Double)] =
    Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
  private val Q72Slogan: String =
    "big sale ends soon visit our store for best prices and free shipping today"

  /** q73's 30-token shared boilerplate span (appended to every 31st doc —
    * the planted exact-substring duplicate; holds 11 interior 20-token
    * windows, so anchoring covers all 30 positions in non-first copies).
    */
  private val Q73Slogan: String =
    "subscribe to our newsletter for weekly updates and exclusive offers " +
      "delivered straight to your inbox every single morning without fail " +
      "plus bonus content from partners worldwide at zero cost today"

  /** q66 bucket thresholds over mean corpus token frequency: documents
    * whose tokens average ≥ tauHead corpus occurrences are 'head'
    * (common fluent language), < tauTail are 'tail'. Values chosen to
    * cut the synthetic corpus into three non-degenerate strata at every
    * SF (the token frequencies scale with corpus size, so thresholds are
    * expressed relative to corpus scale in the oracle too — both sides
    * use these exact literals).
    */
  private val QmTauHead: Double = 1.036
  private val QmTauTail: Double = 1.030

  /** q69 bucket thresholds (the cleaned, banner-bearing corpus has its own
    * rel_freq distribution — probed the same way as q66's).
    */
  private val CurTauHead: Double = 1.065
  private val CurTauTail: Double = 1.049

  /** Shared by q81 (in-memory index) and q84 (persisted bucket-pruned
    * index): the two paths must compute the identical relation.
    */
  private val bm25OracleSql =
    """WITH d AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
      |  FROM documents),
      |guard AS (SELECT CASE WHEN max(len(tk)) > 3950
      |    THEN error('q81 oracle: document exceeds the 3950-token range cap')
      |    ELSE 0 END AS g FROM d),
      |nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 4000) t(i)),
      |bg AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS term
      |  FROM d JOIN nums ON i <= len(tk) - 1),
      |post AS (SELECT doc_id, term, count(*) AS tf FROM bg GROUP BY 1, 2),
      |dl AS (SELECT doc_id, greatest(len(tk) - 1, 0) AS dl FROM d),
      |stats AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
      |gl AS (SELECT CAST(count(*) AS BIGINT) AS nd,
      |    CAST(coalesce(sum(greatest(len(tk) - 1, 0)), 0) AS BIGINT) AS tot FROM d),
      |qt0 AS (SELECT CAST(doc_id // 61 AS BIGINT) AS query_id,
      |    tk[i] || ' ' || tk[i+1] AS term
      |  FROM d JOIN nums ON i <= least(len(tk), 12) - 1
      |  WHERE doc_id % 61 = 0 AND doc_id < 488),
      |qt AS (SELECT DISTINCT query_id, term FROM qt0),
      |qs AS (SELECT query_id, CAST(count(*) AS BIGINT) AS qn FROM qt GROUP BY 1),
      |sc AS (SELECT qt.query_id, p.doc_id, qs.qn,
      |    CAST(count(*) AS BIGINT) AS n_matched,
      |    CAST(sum(p.tf) AS BIGINT) AS tf_mass,
      |    sum( ln(1.0 + (CAST(gl.nd AS DOUBLE) - s.df + 0.5) / (s.df + 0.5))
      |         * p.tf * (1.2 + 1.0)
      |         / (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl.dl)
      |             / (CAST(gl.tot AS DOUBLE) / CAST(gl.nd AS DOUBLE)))) ) AS score
      |  FROM post p JOIN qt ON p.term = qt.term
      |    JOIN stats s ON p.term = s.term
      |    JOIN dl ON p.doc_id = dl.doc_id
      |    JOIN qs ON qt.query_id = qs.query_id, gl
      |  GROUP BY qt.query_id, p.doc_id, qs.qn
      |  HAVING count(*) * 5 >= qs.qn * 1)
      |SELECT query_id, doc_id, qn, n_matched, tf_mass, round(score, 4) AS bm25_4dp
      |FROM sc, guard WHERE guard.g = 0
      |ORDER BY query_id, doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pushdown_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 4) AS sum_qty,
        | round(sum(l_extendedprice), 4) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        | round(avg(l_quantity), 6) AS avg_qty,
        | CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_broadcast_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        | round(sum(o_totalprice), 4) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q03_shuffle_join_agg" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q04_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 30
        |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q05_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q06_anti_join" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers
        |FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q07_window_rank" ->
      """WITH r AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |SELECT l_suppkey, CAST(rn AS INT) AS rn, l_orderkey, l_linenumber
        |FROM r WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin,
    "q08_time_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        | event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q09_weighted_mode" ->
      """WITH w AS (
        |  SELECT event_type, user_id, sum(value) AS wsum
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, user_id,
        |    row_number() OVER (PARTITION BY event_type ORDER BY wsum DESC, user_id ASC) AS rn
        |  FROM w)
        |SELECT event_type, user_id AS mode_user FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "q10_compare_strict" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(0, 64) t(i)),
        |a AS (
        |  SELECT doc_id, i * 100 AS s, least(i * 100 + 100, n_chars) AS e
        |  FROM documents JOIN nums ON i * 100 < n_chars),
        |b AS (
        |  SELECT doc_id, i * 150 AS s, least(i * 150 + 150, n_chars) AS e
        |  FROM documents JOIN nums ON i * 150 < n_chars)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  CAST(count(CASE WHEN a.s IS NOT NULL AND b.s IS NOT NULL THEN 1 END) AS BIGINT) AS n_matched,
        |  CAST(count(CASE WHEN a.s IS NOT NULL AND b.s IS NULL THEN 1 END) AS BIGINT) AS n_a_only,
        |  CAST(count(CASE WHEN a.s IS NULL AND b.s IS NOT NULL THEN 1 END) AS BIGINT) AS n_b_only
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id AND a.s = b.s AND a.e = b.e
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_compare_overlap" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(0, 64) t(i)),
        |a AS (
        |  SELECT doc_id, i * 100 AS cstart, least(i * 100 + 100, n_chars) AS cend
        |  FROM documents JOIN nums ON i * 100 < n_chars),
        |b AS (
        |  SELECT doc_id, 50 + i * 100 AS bs, least(50 + i * 100 + 100, n_chars) AS be
        |  FROM documents JOIN nums ON 50 + i * 100 < n_chars)
        |SELECT a.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_overlaps
        |FROM a JOIN b ON a.doc_id = b.doc_id AND b.bs <= a.cend AND b.be >= a.cstart
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_token_count" ->
      """SELECT doc_id, CAST(length(list_filter(string_split_regex(text, '[ \n\t\f]'), x -> x <> '')) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q13_line_stats" ->
      """SELECT doc_id,
        | CAST(length(text) - length(replace(text, chr(10), '')) + 1 AS BIGINT) AS n_lines,
        | CAST(length(text) - length(replace(text, chr(12), '')) + 1 AS BIGINT) AS n_pages,
        | CAST(length(text) AS BIGINT) AS len_check
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q26_missing_offsets" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(0, 64) t(i)),
        |gaps AS (
        |  SELECT doc_id, n_chars,
        |    least(i * 250 + 100, n_chars) AS gap_start,
        |    least(i * 250 + 250, n_chars) AS gap_end
        |  FROM documents JOIN nums ON i * 250 < n_chars)
        |SELECT doc_id, CAST(gap_start AS BIGINT) AS gap_start, CAST(gap_end AS BIGINT) AS gap_end
        |FROM gaps WHERE gap_end > gap_start
        |  -- reference quirk (utils.py get_missing_offsets, mirrored by
        |  -- TextOffsets.missingOffsets): the pairwise walk silently drops a
        |  -- trailing 2-char missing run; under this stride-250/len-100
        |  -- chunking that happens exactly when n_chars = 101 (lone gap
        |  -- [100,101)), so the oracle excludes it by the quirk condition
        |  AND NOT (n_chars = 101 AND gap_start = 100)
        |ORDER BY doc_id, gap_start""".stripMargin,
    "q14_exact_dedup" ->
      """WITH doubled AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS keeper_id
        |FROM doubled GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_quality_counts" ->
      """SELECT doc_id,
        | CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
        | CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        | CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_space,
        | CAST(length(list_filter(string_split_regex(text, '[ \n\t\f]'), x -> x <> '')) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q16_langid" ->
      // the oracle replicates LangId.detect exactly on this corpus: stopword
      // hits per language profile, argmax with lexicographic tie-break,
      // 'und' when nothing scores (the CJK branch cannot fire on [a-z ]
      // text, and no document reaches the 200-token cap — both verified)
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    len(list_filter(ts, x -> list_contains(['der','die','das','und','ist','ich','nicht','ein','eine','mit','für','auf','den','von','zu','sich','des','im','dem','auch','es','an','werden','aus'], x))) AS s_de,
        |    len(list_filter(ts, x -> list_contains(['the','and','of','to','in','is','that','it','was','for','on','are','with','as','at','this','but','by','from','they','you','have','not','be'], x))) AS s_en,
        |    len(list_filter(ts, x -> list_contains(['el','la','los','las','de','y','es','un','una','del','que','en','por','con','no','se','su','para','como','más','pero','sus','le','ha'], x))) AS s_es,
        |    len(list_filter(ts, x -> list_contains(['le','la','les','de','des','et','est','un','une','du','que','qui','dans','pour','pas','sur','au','avec','ne','se','ce','il','sont','par'], x))) AS s_fr,
        |    len(list_filter(ts, x -> list_contains(['il','la','di','che','e','è','un','una','per','non','sono','con','si','del','della','le','nel','da','al','come','dei','anche','più','ma'], x))) AS s_it,
        |    len(list_filter(ts, x -> list_contains(['de','het','een','en','van','is','dat','op','te','zijn','voor','met','die','niet','aan','er','om','ook','als','maar','bij','dan','uit','naar'], x))) AS s_nl,
        |    len(list_filter(ts, x -> list_contains(['o','a','os','as','de','e','é','um','uma','do','da','que','em','para','não','com','se','por','mais','dos','como','mas','ao','das'], x))) AS s_pt
        |  FROM toks),
        |m AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_it, s_nl, s_pt) AS mx FROM sc)
        |SELECT doc_id,
        |  CASE WHEN mx = 0 THEN 'und'
        |       WHEN s_de = mx THEN 'de' WHEN s_en = mx THEN 'en' WHEN s_es = mx THEN 'es'
        |       WHEN s_fr = mx THEN 'fr' WHEN s_it = mx THEN 'it' WHEN s_nl = mx THEN 'nl'
        |       ELSE 'pt' END AS lang_pred
        |FROM m ORDER BY doc_id""".stripMargin,
    "q40_neighbors" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 300) t(i)),
        |parts AS (SELECT doc_id, string_split(text, ' ') AS ps FROM documents),
        |tok AS (
        |  SELECT doc_id, i, ps[i] AS tok,
        |    CAST(COALESCE(sum(length(ps[i]) + 1) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS s
        |  FROM parts JOIN nums ON i <= len(ps)),
        |pos AS (SELECT doc_id, i, tok, s, s + length(tok) AS e FROM tok WHERE tok <> ''),
        |nbr AS (
        |  SELECT doc_id, i, tok, s, e,
        |    lag(tok) OVER w AS l1t, lag(e) OVER w AS l1e, lag(e, 2) OVER w AS l2e,
        |    lead(tok) OVER w AS r1t, lead(s) OVER w AS r1s, lead(s, 2) OVER w AS r2s
        |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i))
        |SELECT doc_id, CAST(s AS BIGINT) AS t_start,
        |  COALESCE(l1t, '') AS l1_text,
        |  CAST(COALESCE(s - l1e, 100000) AS BIGINT) AS l1_dist,
        |  CAST(COALESCE(s - l2e, 100000) AS BIGINT) AS l2_dist,
        |  COALESCE(r1t, '') AS r1_text,
        |  CAST(COALESCE(r1s - e, 100000) AS BIGINT) AS r1_dist,
        |  CAST(COALESCE(r2s - e, 100000) AS BIGINT) AS r2_dist
        |FROM nbr WHERE i % 5 = 3 ORDER BY doc_id, t_start""".stripMargin,
    // overlap semantics (utils.py:230-247 tokenizes each annotation's own
    // slice, so straddling words still tag): the engine tags a token with
    // the FIRST annotation whose end exceeds the token start, iff the token
    // end exceeds that annotation's start; first such token per annotation
    // is B-, the rest I-. Annotations are [200j, 200j+100) while 200j is
    // inside the text.
    "q41_bio_export" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 300) t(i)),
        |parts AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ps FROM documents),
        |tok AS (
        |  SELECT doc_id, n_chars, i, ps[i] AS tok,
        |    CAST(COALESCE(sum(length(ps[i]) + 1) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS s
        |  FROM parts JOIN nums ON i <= len(ps)),
        |pos AS (
        |  SELECT doc_id, i, tok, s, s + length(tok) AS e,
        |    CAST(greatest(0, floor((s - 100) / 200) + 1) AS INT) AS j,
        |    n_chars
        |  FROM tok WHERE tok <> ''),
        |c AS (SELECT *,
        |    (200 * j < n_chars AND e > 200 * j) AS overlapped FROM pos)
        |SELECT doc_id, CAST(i - 1 AS BIGINT) AS token_index, tok AS token,
        |  CASE WHEN NOT overlapped THEN 'O'
        |       WHEN row_number() OVER (PARTITION BY doc_id, j, overlapped ORDER BY i) = 1
        |         THEN 'B-L' || CAST(j % 3 AS VARCHAR)
        |       ELSE 'I-L' || CAST(j % 3 AS VARCHAR) END AS tag
        |FROM c ORDER BY doc_id, token_index""".stripMargin,
    "q48_extract_html" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars_extracted,
        | CAST(length(list_filter(string_split_regex(text, '[ \n\t\f]'), x -> x <> '')) AS BIGINT) AS n_tokens,
        | sha256(text) AS text_sha256
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the frozen composed-golden tuple set (FixtureGoldenSpec pins the same
    // values; training is deterministic at every parallelism level)
    "q49_fixture_golden" ->
      """SELECT * FROM (VALUES
        | ('Austellungsdatum', CAST(159 AS BIGINT), CAST(169 AS BIGINT), '22.05.2018'),
        | ('Personalausweis', CAST(352 AS BIGINT), CAST(357 AS BIGINT), '00104'),
        | ('Steuerklasse', CAST(365 AS BIGINT), CAST(366 AS BIGINT), '1'),
        | ('Personalausweis', CAST(1194 AS BIGINT), CAST(1199 AS BIGINT), '00104'),
        | ('Gesamt-Brutto', CAST(1498 AS BIGINT), CAST(1504 AS BIGINT), '198,34'),
        | ('Vorname', CAST(1507 AS BIGINT), CAST(1518 AS BIGINT), 'Erna-Muster'),
        | ('Nachname', CAST(1519 AS BIGINT), CAST(1527 AS BIGINT), 'Eiermann'),
        | ('Gesamt-Brutto', CAST(1582 AS BIGINT), CAST(1587 AS BIGINT), '10,89'),
        | ('Lohnart', CAST(1758 AS BIGINT), CAST(1762 AS BIGINT), '2000'),
        | ('Bezeichnung', CAST(1763 AS BIGINT), CAST(1769 AS BIGINT), 'Gehalt'),
        | ('Betrag', CAST(1831 AS BIGINT), CAST(1839 AS BIGINT), '3.120,00'),
        | ('Gesamt-Brutto', CAST(2111 AS BIGINT), CAST(2119 AS BIGINT), '3.120,00'),
        | ('Sozialversicherung', CAST(2255 AS BIGINT), CAST(2262 AS BIGINT), '3.12000'),
        | ('Sozialversicherung', CAST(2269 AS BIGINT), CAST(2274 AS BIGINT), '25732'),
        | ('Sozialversicherung', CAST(2281 AS BIGINT), CAST(2285 AS BIGINT), '2062'),
        | ('Sozialversicherung', CAST(2292 AS BIGINT), CAST(2296 AS BIGINT), '1417'),
        | ('Steuerrechtliche Abzüge', CAST(2324 AS BIGINT), CAST(2330 AS BIGINT), '292,11'),
        | ('Sozialversicherung', CAST(2685 AS BIGINT), CAST(2692 AS BIGINT), '3.12000'),
        | ('Steuerrechtliche Abzüge', CAST(2734 AS BIGINT), CAST(2740 AS BIGINT), '638,82'),
        | ('Netto-Verdienst', CAST(3004 AS BIGINT), CAST(3012 AS BIGINT), '2.189,07'),
        | ('Steuer-Brutto', CAST(3141 AS BIGINT), CAST(3149 AS BIGINT), '42.42950'),
        | ('Auszahlungsbetrag', CAST(3777 AS BIGINT), CAST(3785 AS BIGINT), '2.189,07')
        |) t(label, "start", "end", offset_string)
        |ORDER BY "start", "end", label""".stripMargin,
    // X6/X7 optional frame blocks: rebuilt text inserts '\n' every 8th token
    // (all separators width 1, so global offsets match the single-space
    // prefix sums); word-on-page = page-contains; catchphrase distance =
    // line distance to the nearest PREVIOUS line containing the phrase
    "q50_frame_optional_blocks" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 4000) t(i)),
        |parts AS (SELECT doc_id, text, string_split(text, ' ') AS ps FROM documents),
        |tok AS (
        |  SELECT doc_id, text, i, ps[i] AS tok,
        |    CAST(COALESCE(sum(length(ps[i]) + 1) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS s
        |  FROM parts JOIN nums ON i <= len(ps)),
        |pos AS (SELECT doc_id, text, i, tok, s,
        |        CAST((i - 1) // 8 AS INT) AS line FROM tok WHERE tok <> ''),
        |linetext AS (SELECT doc_id, line, string_agg(tok, ' ' ORDER BY i) AS lt
        |             FROM pos GROUP BY doc_id, line),
        |flag AS (SELECT doc_id, line,
        |         CASE WHEN contains(lt, 'table') THEN line END AS mline FROM linetext),
        |prevm AS (SELECT doc_id, line,
        |          max(mline) OVER (PARTITION BY doc_id ORDER BY line
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |          FROM flag)
        |SELECT p.doc_id, CAST(p.s AS BIGINT) AS start, p.tok AS token,
        |  CAST(CASE WHEN contains(p.text, 'spark') THEN 1 ELSE 0 END AS BIGINT) AS word_on_page_spark,
        |  CAST(COALESCE(p.line - prevm.pm, -1) AS BIGINT) AS catchphrase_dist_table,
        |  CAST(272 AS BIGINT) AS width
        |FROM pos p JOIN prevm ON p.doc_id = prevm.doc_id AND p.line = prevm.line
        |ORDER BY p.doc_id, start""".stripMargin,
    "q44_stream_extract" ->
      """SELECT doc_id,
        | CAST(length(list_filter(string_split_regex(text, '[ \n\t\f]'), x -> x <> '')) AS BIGINT) AS n_tokens,
        | sha256(text) AS text_sha256
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q18's witness columns are invariants of the simhash kernel (exact
    // reorder/doubling invariance, bounded one-edit drift), so the oracle
    // is the constant truth they must hit — computed through four real
    // codegen'd simhash evaluations per row on the Spark side
    "q18_simhash" ->
      """SELECT doc_id, CAST(0 AS BIGINT) AS ham_doubled,
        | CAST(0 AS BIGINT) AS ham_sorted, TRUE AS locality_ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q17_minhash_neardups" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 150
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 150),
        |nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 300) t(i)),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d),
        |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS gr
        |      FROM w JOIN nums ON i <= len(ws) - 2),
        |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS ni
        |          FROM g x JOIN g y ON x.gr = y.gr AND x.doc_id < y.doc_id
        |          GROUP BY 1, 2),
        |j AS (SELECT a, b, ni * 1.0 / (ca.n + cb.n - ni) AS jac
        |      FROM inter JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b)
        |SELECT a, b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.85 ORDER BY a, b""".stripMargin,
    "q19_ngram_jaccard" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 300) t(i)),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS gr
        |      FROM w JOIN nums ON i <= len(ws) - 2),
        |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        |inter AS (SELECT x.doc_id AS a, count(*) AS ni
        |          FROM g x JOIN g y ON y.doc_id = x.doc_id + 1 AND x.gr = y.gr GROUP BY 1)
        |SELECT ca.doc_id AS a, ca.doc_id + 1 AS b,
        |  round(COALESCE(ni, 0) * 1.0 / (ca.n + cb.n - COALESCE(ni, 0)), 6) AS jaccard
        |FROM cnt ca JOIN cnt cb ON cb.doc_id = ca.doc_id + 1
        |LEFT JOIN inter ON inter.a = ca.doc_id
        |ORDER BY a""".stripMargin,
    "q32_regex_induction" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    COALESCE(list_filter(string_split_regex(text, '[ \n\t\f]'), x -> x <> '')[1], '') AS tok
        |  FROM documents)
        |SELECT doc_id,
        |  '(?P<Label_1_W_' || CAST(doc_id AS VARCHAR) || '_0>' || tok || ')' AS regex_w,
        |  '(?P<Label_1_N_' || CAST(doc_id AS VARCHAR) || '_0>' || tok || ')' AS regex_n,
        |  '(?P<Label_1_F_' || CAST(doc_id AS VARCHAR) || '_0>' ||
        |    CASE WHEN length(tok) >= 2 THEN '[a-zäöüß]+' ELSE '[a-zäöüß]' END || ')' AS regex_f
        |FROM f ORDER BY doc_id""".stripMargin,
    "q20_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT qid, vec_id AS nid,
        |        list_cosine_similarity(CAST(qe AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS c
        |      FROM q, embeddings),
        |r AS (SELECT qid, nid, c,
        |        row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid ASC) AS rn FROM s)
        |SELECT qid AS query_id, nid AS neighbor_id, round(c, 6) AS cosine, CAST(rn AS INT) AS rank
        |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,
    "q22_embedding_neardups" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
        |d AS (SELECT vec_id, embedding FROM e
        |      UNION ALL SELECT vec_id + 1000000, embedding FROM e),
        |p AS (SELECT a.vec_id AS a, b.vec_id AS b,
        |        list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS c
        |      FROM d a JOIN d b ON a.vec_id < b.vec_id)
        |SELECT a, b, round(c, 6) AS cosine FROM p WHERE c >= 0.999 ORDER BY a, b""".stripMargin,
    "q23_extract_sha" ->
      """SELECT doc_id,
        | CAST(length(list_filter(string_split_regex(text, '[ \n\t\f]'), x -> x <> '')) AS BIGINT) AS n_tokens,
        | sha256(text) AS text_sha256
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q24_extract_entities" ->
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_linenumber AS ln,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    strftime(l_shipdate, '%d.%m.%Y') AS gdate,
        |    strftime(l_shipdate, '%Y-%m-%d') AS iso,
        |    CAST(round(l_discount * 100) AS BIGINT) AS pct
        |  FROM lineitem)
        |SELECT ok AS l_orderkey, ln AS l_linenumber, label, span_text, norm_num, norm_str FROM (
        |  SELECT ok, ln, 'number' AS label, CAST(ln * 7 + 3 AS VARCHAR) AS span_text,
        |    CAST(ln * 7 + 3 AS DOUBLE) AS norm_num, '' AS norm_str FROM li
        |  UNION ALL SELECT ok, ln, 'amount',
        |    CAST(cents // 100 AS VARCHAR) || ',' || lpad(CAST(cents % 100 AS VARCHAR), 2, '0'),
        |    cents / 100.0, '' FROM li
        |  UNION ALL SELECT ok, ln, 'date', gdate, 0.0, iso FROM li
        |  UNION ALL SELECT ok, ln, 'percent', CAST(pct AS VARCHAR) || ' %', pct / 100.0, '' FROM li
        |  UNION ALL SELECT ok, ln, 'email', 'kunde' || CAST(ok AS VARCHAR) || '@firma.de', 0.0,
        |    'kunde' || CAST(ok AS VARCHAR) || '@firma.de' FROM li)
        |ORDER BY l_orderkey, l_linenumber, label""".stripMargin,
    "q25_normalize_number" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE) / 100 AS normalized
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q27_normalize_date" ->
      """SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS iso_date
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q28_features" ->
      """WITH f AS (
        |  SELECT doc_id, COALESCE(list_filter(string_split_regex(text, '[ \n\t\f]'), x -> x <> '')[1], '') AS tok
        |  FROM documents)
        |SELECT doc_id, tok AS first_token,
        | CAST(length(tok) AS BIGINT) AS tok_len,
        | CAST(length(tok) - length(regexp_replace(tok, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        | CAST(length(lower(tok)) - length(regexp_replace(lower(tok), '[aeiou]', '', 'g')) AS BIGINT) AS n_vowel,
        | CAST(length(tok) - length(regexp_replace(tok, '[A-Z]', '', 'g')) AS BIGINT) AS n_upper
        |FROM f ORDER BY doc_id""".stripMargin,
    "q29_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, epoch(ts) AS tsec,
        |    lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY epoch(ts)) AS prev
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev IS NULL OR tsec - prev > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,
    "q30_stream_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        | event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q33_multimodal" ->
      """WITH ids AS (SELECT CAST(i AS BIGINT) AS media_id FROM range(0, 500) t(i)),
        |nums AS (SELECT CAST(j AS INT) AS j FROM range(0, 600) t(j)),
        |m AS (
        |  SELECT media_id,
        |    CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    64 + (media_id % 512) AS n_bytes,
        |    CASE WHEN media_id % 3 = 0 THEN 0 ELSE 1000 + (media_id % 9000) END AS dur
        |  FROM ids),
        |hexs AS (
        |  SELECT media_id,
        |    string_agg(lpad(lower(to_hex((media_id * 131 + j * 31) % 256)), 2, '0'), '' ORDER BY j) AS payload_hex
        |  FROM m JOIN nums ON j < n_bytes GROUP BY media_id)
        |SELECT m.media_id AS media_id, media_type, CAST(n_bytes AS BIGINT) AS n_bytes, payload_hex,
        |  CAST(CASE media_type
        |    WHEN 'video' THEN greatest(1, CAST(floor(dur / 1000.0) AS BIGINT))
        |    WHEN 'audio' THEN greatest(1, CAST(floor(dur / 100.0) AS BIGINT))
        |    ELSE 1 END AS BIGINT) AS frames_sampled
        |FROM m JOIN hexs ON m.media_id = hexs.media_id
        |ORDER BY media_id""".stripMargin,
    // q53: cross-line neighbor dists/positions over the 8-token lattice —
    // neighbors are tokens i±1/i±2; same-line dist is the x-gap, cross-line
    // dist is the min corner gap, pos is the signed line delta, pad 100000/0
    "q53_frame_crossline" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 4000) t(i)),
        |parts AS (SELECT doc_id, string_split(text, ' ') AS ps FROM documents),
        |tok AS (
        |  SELECT doc_id, i, ps[i] AS tok,
        |    CAST(COALESCE(sum(length(ps[i]) + 1) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS s
        |  FROM parts JOIN nums ON i <= len(ps)),
        |pos AS (SELECT doc_id, i, tok, s, length(tok) AS len,
        |        CAST((i - 1) // 8 AS INT) AS line FROM tok WHERE tok <> ''),
        |ls AS (SELECT doc_id, line, min(s) AS lstart FROM pos GROUP BY doc_id, line),
        |cx AS (SELECT p.doc_id, i, s, p.line AS line,
        |        6.0 * (s - lstart) AS x0, 6.0 * (s - lstart + len) AS x1
        |       FROM pos p JOIN ls ON p.doc_id = ls.doc_id AND p.line = ls.line),
        |n AS (SELECT doc_id, i, s, line, x0, x1,
        |    lag(line) OVER w AS al, lag(x0) OVER w AS ax0, lag(x1) OVER w AS ax1,
        |    lag(line, 2) OVER w AS bl, lag(x0, 2) OVER w AS bx0, lag(x1, 2) OVER w AS bx1,
        |    lead(line) OVER w AS cl, lead(x0) OVER w AS cx0, lead(x1) OVER w AS cx1,
        |    lead(line, 2) OVER w AS dl, lead(x0, 2) OVER w AS dx0, lead(x1, 2) OVER w AS dx1
        |  FROM cx WINDOW w AS (PARTITION BY doc_id ORDER BY i))
        |SELECT doc_id, CAST(s AS BIGINT) AS start,
        |  CAST(CASE WHEN al IS NULL THEN 100000 WHEN al = line THEN x0 - ax1
        |    ELSE least(abs(x0-ax0), abs(x0-ax1), abs(x1-ax0), abs(x1-ax1)) END AS BIGINT) AS l_dist0,
        |  CAST(CASE WHEN al IS NULL OR al = line THEN 0 ELSE al - line END AS BIGINT) AS l_pos0,
        |  CAST(CASE WHEN bl IS NULL THEN 100000 WHEN bl = line THEN x0 - bx1
        |    ELSE least(abs(x0-bx0), abs(x0-bx1), abs(x1-bx0), abs(x1-bx1)) END AS BIGINT) AS l_dist1,
        |  CAST(CASE WHEN bl IS NULL OR bl = line THEN 0 ELSE bl - line END AS BIGINT) AS l_pos1,
        |  CAST(CASE WHEN cl IS NULL THEN 100000 WHEN cl = line THEN cx0 - x1
        |    ELSE least(abs(x0-cx0), abs(x0-cx1), abs(x1-cx0), abs(x1-cx1)) END AS BIGINT) AS r_dist0,
        |  CAST(CASE WHEN cl IS NULL OR cl = line THEN 0 ELSE cl - line END AS BIGINT) AS r_pos0,
        |  CAST(CASE WHEN dl IS NULL THEN 100000 WHEN dl = line THEN dx0 - x1
        |    ELSE least(abs(x0-dx0), abs(x0-dx1), abs(x1-dx0), abs(x1-dx1)) END AS BIGINT) AS r_dist1,
        |  CAST(CASE WHEN dl IS NULL OR dl = line THEN 0 ELSE dl - line END AS BIGINT) AS r_pos1,
        |  CAST(274 AS BIGINT) AS width
        |FROM n ORDER BY doc_id, start""".stripMargin,
    // q51: the PNG round-trip is lossless, so every decoded pixel statistic
    // is recomputable from the pattern formula in exact integer arithmetic
    "q51_image_decode" ->
      """WITH ids AS (SELECT CAST(i AS BIGINT) AS media_id,
        |    16 + CAST(i % 5 AS INT) AS w, 12 + CAST(i % 3 AS INT) AS h
        |  FROM range(0, 500) t(i)),
        |xs AS (SELECT CAST(x AS INT) AS x FROM range(0, 21) t(x)),
        |ys AS (SELECT CAST(y AS INT) AS y FROM range(0, 15) t(y)),
        |px AS (
        |  SELECT media_id, w, h, x, y,
        |    (299 * ((x*17 + y*3 + media_id) % 256)
        |     + 587 * ((x*5 + y*29 + 2*media_id) % 256)
        |     + 114 * ((x*11 + y*13 + 3*media_id) % 256)) // 1000 AS luma
        |  FROM ids JOIN xs ON x < w JOIN ys ON y < h),
        |edges AS (
        |  SELECT media_id, sum(abs(luma - prev)) AS es FROM (
        |    SELECT media_id, y, x, luma,
        |      lag(luma) OVER (PARTITION BY media_id, y ORDER BY x) AS prev
        |    FROM px) q WHERE prev IS NOT NULL GROUP BY media_id)
        |SELECT p.media_id AS media_id, CAST(max(w) AS BIGINT) AS width,
        |  CAST(max(h) AS BIGINT) AS height,
        |  CAST(sum(luma) AS BIGINT) AS luma_sum, CAST(max(es) AS BIGINT) AS edge_sum
        |FROM px p JOIN edges e ON p.media_id = e.media_id
        |GROUP BY p.media_id ORDER BY media_id""".stripMargin,
    // q52: RIFF/PCM16 round-trip is exact; waveform statistics recomputed
    // from the closed-form triangle wave
    "q52_audio_decode" ->
      """WITH ids AS (SELECT CAST(i AS BIGINT) AS media_id,
        |    800 + CAST(i % 100 AS INT) AS n FROM range(0, 500) t(i)),
        |ks AS (SELECT CAST(k AS BIGINT) AS k FROM range(0, 900) t(k)),
        |smp AS (SELECT media_id, k,
        |    (k * (17 + media_id % 13)) % 2048 - 1024 AS v
        |  FROM ids JOIN ks ON k < n),
        |z AS (SELECT media_id, v,
        |    CASE WHEN lag(v) OVER w IS NULL THEN 0
        |         WHEN (v < 0) <> (lag(v) OVER w < 0) THEN 1 ELSE 0 END AS c
        |  FROM smp WINDOW w AS (PARTITION BY media_id ORDER BY k))
        |SELECT media_id, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(abs(v)) AS BIGINT) AS abs_sum,
        |  CAST(sum(c) AS BIGINT) AS zero_crossings
        |FROM z GROUP BY media_id ORDER BY media_id""".stripMargin,
    // q58: the oracle regenerates every 13-gram window and the bench set
    // independently and joins them exactly — no hashing on either side.
    // The planted line-wrapped duplicates (id + 1e6) flag only when their
    // whitespace-NORMALIZED token run still forms the 13-gram (an empty
    // token among the first 13 — consecutive/trailing spaces — collapses
    // under \s+ normalization on BOTH engine sides, leaving fewer than 13
    // tokens and no gram), so the planted branch regenerates that
    // condition instead of flagging unconditionally; the guard CTE errors
    // loudly on source ids that would collide with the planted id space
    // and on documents past the token range cap.
    "q58_decontaminate" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
        |guard AS (SELECT CASE
        |    WHEN max(doc_id) >= 1000000
        |      THEN error('q58 oracle: source doc_id collides with the planted +1e6 id space')
        |    WHEN max(len(ws)) > 3950
        |      THEN error('q58 oracle: document exceeds the 3950-token range cap')
        |    WHEN max(CASE WHEN regexp_matches(text, '[\t\n\x0b\f\r]') THEN 1 ELSE 0 END) = 1
        |      THEN error('q58 oracle: non-space whitespace in source text - space-split replay invalid')
        |    ELSE 0 END AS g FROM d),
        |wf AS (SELECT doc_id, list_filter(ws, x -> x <> '') AS fs FROM d),
        |bench AS (
        |  SELECT DISTINCT array_to_string(list_filter(ws[1:13], x -> x <> ''), ' ') AS gram
        |  FROM d WHERE doc_id % 25 = 0 AND len(ws) >= 13),
        |nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 4000) t(i)),
        |g AS (
        |  SELECT doc_id, array_to_string(fs[i : i + 12], ' ') AS gram
        |  FROM wf JOIN nums ON i <= len(fs) - 12)
        |SELECT DISTINCT doc_id FROM g JOIN bench USING (gram)
        |UNION
        |SELECT doc_id + 1000000 AS doc_id FROM d
        |WHERE doc_id % 25 = 0 AND len(ws) >= 13
        |  AND len(list_filter(ws[1:13], x -> x <> '')) = 13
        |  AND (SELECT g FROM guard) = 0
        |ORDER BY doc_id""".stripMargin,
    // q57: the redacted line has a closed form — email and the two url
    // shapes mask, the (at)-obfuscated and malformed-scheme tokens survive
    "q57_pii_redact" ->
      """SELECT doc_id,
        |  'Kontakt <EMAIL> Seite <URL> oder <URL> aber kunde'
        |    || CAST(doc_id AS VARCHAR) || '(at)firma und http:/kaputt'
        |    || CAST(doc_id AS VARCHAR) || ' Ende '
        |    || CAST(doc_id % 100 AS VARCHAR) || ',50' AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q61: the oracle rebuilds the pair lattice and resolves connected
    // components from first principles — a recursive CTE closes the
    // reachability relation over the symmetric edge set, then keeper =
    // min reachable node; transitive chains and cross-block merges come
    // out right only if the engine's large-star/small-star fixed point
    // equals true connectivity
    "q61_near_components" ->
      """WITH RECURSIVE ids AS (SELECT doc_id AS i FROM documents),
        |e0 AS (
        |  SELECT i AS a, i + 1 AS b FROM ids
        |  WHERE (i % 7) < ((i // 7) % 6) + 1
        |    AND EXISTS (SELECT 1 FROM ids x WHERE x.i = ids.i + 1)
        |  UNION ALL
        |  SELECT i AS a, (i // 7) * 7 + 21 AS b FROM ids
        |  WHERE i % 7 = 2 AND (i // 7) % 11 = 0
        |    AND EXISTS (SELECT 1 FROM ids x WHERE x.i = (ids.i // 7) * 7 + 21)),
        |edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |r(id, k) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.a, r.k FROM edges e JOIN r ON e.b = r.id)
        |SELECT id AS doc_id, min(k) AS keeper_id FROM r GROUP BY id
        |ORDER BY doc_id""".stripMargin,
    // q56: the oracle rebuilds the same boilerplate-wrapped line corpus and
    // replays the dedup rule (first corpus-wide (doc,idx) occurrence wins;
    // whitespace-only lines exempt) with window-free min aggregation
    "q56_line_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |guard AS (SELECT CASE WHEN max(len(ws)) > 3950
        |    THEN error('q56 oracle: document exceeds the 3950-token range cap')
        |    ELSE 0 END AS g FROM d),
        |lin AS (
        |  SELECT doc_id, 0 AS idx, 'CORPUS HEADER BOILERPLATE' AS line FROM d
        |  UNION ALL
        |  SELECT doc_id, CAST(j + 1 AS INT),
        |    array_to_string(ws[8*j+1 : 8*j+8], ' ')
        |  FROM d, range(0, 500) t(j) WHERE 8*j < len(ws)
        |  UNION ALL
        |  SELECT doc_id, CAST(ceil(len(ws) / 8.0) AS INT) + 1,
        |    'Footer ' || CAST(doc_id % 10 AS VARCHAR) FROM d),
        |firsts AS (
        |  SELECT line, min(doc_id * 1000000 + idx) AS fp
        |  FROM lin
        |  WHERE translate(line, ' ' || chr(9) || chr(13) || chr(12), '') != ''
        |  GROUP BY line),
        |kept AS (
        |  SELECT l.doc_id, l.idx, l.line
        |  FROM lin l LEFT JOIN firsts f ON l.line = f.line
        |  WHERE f.fp IS NULL OR f.fp = l.doc_id * 1000000 + l.idx)
        |SELECT doc_id,
        |  string_agg(line, chr(10) ORDER BY idx) AS text,
        |  CAST(count(*) AS BIGINT) AS n_lines_kept
        |FROM kept, guard WHERE guard.g = 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q60: the oracle reconstructs the planted-repetition page and
    // regenerates every n-gram's (count × length) mass independently —
    // integer-exact, no float surface
    "q60_repetition" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
        |guard AS (SELECT CASE WHEN max(len(ws)) > 3950
        |    THEN error('q60 oracle: document exceeds the 3950-token range cap')
        |    ELSE 0 END AS g FROM d),
        |pg AS (SELECT doc_id,
        |    text || repeat(' ' || array_to_string(ws[1:2], ' '), CAST(doc_id % 5 AS INT)) AS page
        |  FROM d),
        |pw AS (SELECT doc_id, string_split(page, ' ') AS pws FROM pg),
        |nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 4000) t(i)),
        |c2 AS (
        |  SELECT doc_id, gram, count(*) AS c, length(gram) AS l FROM (
        |    SELECT doc_id, array_to_string(pws[i : i + 1], ' ') AS gram
        |    FROM pw JOIN nums ON i <= len(pws) - 1) GROUP BY doc_id, gram),
        |a2 AS (SELECT doc_id,
        |    sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) AS dup2,
        |    max(c * l) AS top2, sum(c * l) AS tot2
        |  FROM c2 GROUP BY doc_id),
        |c3 AS (
        |  SELECT doc_id, gram, count(*) AS c, length(gram) AS l FROM (
        |    SELECT doc_id, array_to_string(pws[i : i + 2], ' ') AS gram
        |    FROM pw JOIN nums ON i <= len(pws) - 2) GROUP BY doc_id, gram),
        |a3 AS (SELECT doc_id,
        |    sum(CASE WHEN c >= 2 THEN c * l ELSE 0 END) AS dup3,
        |    max(c * l) AS top3, sum(c * l) AS tot3
        |  FROM c3 GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(dup2, 0) AS BIGINT) AS dup2_chars,
        |  CAST(COALESCE(top2, 0) AS BIGINT) AS top2_chars,
        |  CAST(COALESCE(tot2, 0) AS BIGINT) AS total2_chars,
        |  CAST(COALESCE(dup3, 0) AS BIGINT) AS dup3_chars,
        |  CAST(COALESCE(top3, 0) AS BIGINT) AS top3_chars,
        |  CAST(COALESCE(tot3, 0) AS BIGINT) AS total3_chars
        |FROM d LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id), guard
        |WHERE guard.g = 0
        |ORDER BY doc_id""".stripMargin,
    // q59: the oracle replays the ENTIRE composed pipeline — page
    // construction (normal / constant / near-dup-clique classes), the
    // two keep-first dedups (closed forms: url canon collapses i%10==9
    // onto i-1, the constant page collapses i%17==0 onto doc 0), the
    // NEAR-dedup stage (all-pairs exact word-3-gram Jaccard over the
    // reconstructed page texts at ≥0.85, connected components closed by
    // a recursive CTE, non-keepers dropped), the 13-gram decontamination
    // (gram join regenerated over the page token stream), the
    // corpus-wide line dedup (first (doc,idx) occurrence rule), the
    // email redaction (chain docs carry their ANCHOR's email), and the
    // final sha256/token-count extraction — independently in SQL. The
    // capguard CTE makes the fixed range() windows LOUD: a document
    // longer than the cap errors the oracle instead of silently
    // desynchronizing from the unbounded engine side.
    "q59_llm_pipeline" ->
      """WITH RECURSIVE d AS (SELECT doc_id AS i, text, string_split(text, ' ') AS ws FROM documents),
        |capguard AS (SELECT CASE
        |    WHEN max(len(ws)) > 3950
        |      THEN error('q59 oracle: document exceeds the 3950-token range cap')
        |    WHEN max(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> ''))) > 3930
        |      THEN error('q59 oracle: alnum token count exceeds the word-gram range cap')
        |    ELSE 0 END AS g FROM d),
        |cls AS (SELECT i, ws,
        |    CASE WHEN i % 17 = 0 THEN 'C'
        |      WHEN i % 13 IN (1, 2, 3) THEN 'K' ELSE 'N' END AS c,
        |    i - (i % 13) + 1 AS anch FROM d),
        |lin AS (
        |  SELECT i, 0 AS idx, 'CORPUS HEADER' AS line FROM cls
        |  UNION ALL
        |  SELECT i, CAST(j + 1 AS INT), array_to_string(ws[8*j+1 : 8*j+8], ' ')
        |  FROM cls, range(0, 500) t(j) WHERE 8*j < len(ws) AND c = 'N'
        |  UNION ALL
        |  SELECT i, 1, 'shared duplicate page body here words repeated' FROM cls WHERE c = 'C'
        |  UNION ALL
        |  SELECT i, CAST(j + 1 AS INT),
        |    array_to_string(list_transform(range(8*j, 8*j + 8),
        |      m -> 'u' || CAST(anch AS VARCHAR) || 'x' || CAST(m AS VARCHAR)), ' ')
        |  FROM cls, range(0, 15) t(j) WHERE c = 'K'
        |  UNION ALL
        |  SELECT i, 16, 'variant v' || CAST(i % 13 AS VARCHAR) FROM cls WHERE c = 'K'
        |  UNION ALL
        |  SELECT i,
        |    CAST(CASE c WHEN 'C' THEN 2 WHEN 'K' THEN 17
        |      ELSE CAST(ceil(len(ws) / 8.0) AS INT) + 1 END AS INT),
        |    CASE c WHEN 'C' THEN 'contact dup@dup.com now'
        |      WHEN 'K' THEN 'contact user' || CAST(anch AS VARCHAR) || '@mail'
        |        || CAST(anch % 5 AS VARCHAR) || '.com now'
        |      ELSE 'contact user' || CAST(i AS VARCHAR) || '@mail'
        |        || CAST(i % 5 AS VARCHAR) || '.com now' END
        |  FROM cls
        |  UNION ALL
        |  SELECT i,
        |    CAST(CASE c WHEN 'C' THEN 3 WHEN 'K' THEN 18
        |      ELSE CAST(ceil(len(ws) / 8.0) AS INT) + 2 END AS INT),
        |    CASE WHEN c = 'C' THEN 'Footer X' ELSE 'Footer ' || CAST(i % 10 AS VARCHAR) END
        |  FROM cls),
        |s2 AS (SELECT i FROM d WHERE i % 10 <> 9 AND (i % 17 <> 0 OR i = 0)),
        |ptext AS (
        |  SELECT l.i, string_agg(line, chr(10) ORDER BY idx) AS txt
        |  FROM lin l JOIN s2 USING (i) GROUP BY l.i),
        |wtoks AS (SELECT i,
        |    list_filter(string_split_regex(lower(txt), '[^a-z0-9]+'), x -> x <> '') AS wt
        |  FROM ptext),
        |wg AS (SELECT DISTINCT i, array_to_string(wt[k : k + 2], ' ') AS gr
        |  FROM wtoks, range(1, 4000) t(k) WHERE k <= len(wt) - 2),
        |wcnt AS (SELECT i, count(*) AS n FROM wg GROUP BY 1),
        |winter AS (SELECT x.i AS a, y.i AS b, count(*) AS ni
        |  FROM wg x JOIN wg y ON x.gr = y.gr AND x.i < y.i GROUP BY 1, 2),
        |near AS (SELECT a, b FROM winter
        |  JOIN wcnt ca ON ca.i = a JOIN wcnt cb ON cb.i = b
        |  WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.85),
        |nearedges AS (SELECT a, b FROM near UNION SELECT b AS a, a AS b FROM near),
        |nearnodes AS (SELECT DISTINCT a AS id FROM nearedges),
        |reach(id, kk) AS (
        |  SELECT id, id FROM nearnodes
        |  UNION
        |  SELECT e.a, reach.kk FROM nearedges e JOIN reach ON e.b = reach.id),
        |comp AS (SELECT id, min(kk) AS keeper FROM reach GROUP BY id),
        |s2n AS (SELECT i FROM s2
        |  WHERE i NOT IN (SELECT id FROM comp WHERE id <> keeper)),
        |bench AS (
        |  SELECT DISTINCT array_to_string(ws[1:13], ' ') AS gram
        |  FROM d WHERE i % 25 = 0 AND len(ws) >= 13),
        |ptoks AS (SELECT p.i,
        |    list_filter(string_split_regex(txt, '[ \n]'), x -> x <> '') AS pw
        |  FROM ptext p JOIN s2n USING (i)),
        |contaminated AS (
        |  SELECT DISTINCT p.i
        |  FROM ptoks p, range(1, 4000) t(k), bench b
        |  WHERE k <= len(pw) - 12 AND array_to_string(pw[k : k + 12], ' ') = b.gram),
        |s3 AS (SELECT i FROM s2n WHERE i NOT IN (SELECT i FROM contaminated)),
        |slin AS (SELECT l.* FROM lin l JOIN s3 USING (i)),
        |firsts AS (
        |  SELECT line, min(i * 1000000 + idx) AS fp FROM slin
        |  WHERE translate(line, ' ' || chr(9) || chr(13) || chr(12), '') != ''
        |  GROUP BY line),
        |kept AS (
        |  SELECT s.i, s.idx, s.line
        |  FROM slin s LEFT JOIN firsts f ON s.line = f.line
        |  WHERE f.fp IS NULL OR f.fp = s.i * 1000000 + s.idx),
        |red AS (
        |  SELECT i, replace(string_agg(line, chr(10) ORDER BY idx),
        |    CASE WHEN i % 17 = 0 THEN 'dup@dup.com'
        |      WHEN i % 13 IN (1, 2, 3) THEN 'user' || CAST(i - (i % 13) + 1 AS VARCHAR)
        |        || '@mail' || CAST((i - (i % 13) + 1) % 5 AS VARCHAR) || '.com'
        |      ELSE 'user' || CAST(i AS VARCHAR) || '@mail'
        |        || CAST(i % 5 AS VARCHAR) || '.com' END,
        |    '<EMAIL>') AS txt
        |  FROM kept GROUP BY i)
        |SELECT i AS doc_id,
        |  CAST(length(list_filter(string_split_regex(txt, '[ \n\t\f]'), x -> x <> '')) AS BIGINT) AS n_tokens,
        |  sha256(txt) AS text_sha256
        |FROM red, capguard WHERE capguard.g = 0 ORDER BY doc_id""".stripMargin,
    // q55: both the messy url and its canonical form have closed forms in
    // doc_id, so the oracle validates the UrlOps parser end-to-end without
    // reimplementing it — it just states what the canonical MUST be
    "q55_url_canon" ->
      """WITH d AS (SELECT doc_id AS i FROM documents),
        |m AS (
        |  SELECT i,
        |    CASE WHEN i % 2 = 0 THEN 'HTTPS' ELSE 'http' END AS scheme,
        |    CASE WHEN i % 4 = 0 THEN 'WWW.' ELSE '' END
        |      || 'Site' || CAST(i % 7 AS VARCHAR) || '.Example.COM' AS host,
        |    CASE i % 3 WHEN 0 THEN ''
        |      WHEN 1 THEN CASE WHEN i % 2 = 0 THEN ':443' ELSE ':80' END
        |      ELSE ':8080' END AS port,
        |    CASE WHEN i % 11 = 0 THEN ''
        |      WHEN i % 6 = 0 THEN '/Dir' || CAST(i % 5 AS VARCHAR) || '/%7Euser%2fp%4d'
        |      ELSE '/Dir' || CAST(i % 5 AS VARCHAR) || '/p' END AS path,
        |    CASE i % 4 WHEN 0 THEN '' WHEN 1 THEN '?utm_source=feed&b=2&a=1'
        |      WHEN 2 THEN '?gclid=x&%75tm_source=y' ELSE '?z=9&a=1' END AS query,
        |    CASE WHEN i % 2 = 1 THEN '#frag' ELSE '' END AS frag
        |  FROM d)
        |SELECT i AS doc_id,
        |  scheme || '://' || host || port || path || query || frag AS messy_url,
        |  lower(scheme) || '://' || lower(host)
        |    || CASE WHEN i % 3 = 2 THEN ':8080' ELSE '' END
        |    || CASE WHEN i % 11 = 0 THEN '/'
        |         WHEN i % 6 = 0 THEN '/Dir' || CAST(i % 5 AS VARCHAR) || '/~user%2FpM'
        |         ELSE path END
        |    || CASE i % 4 WHEN 1 THEN '?a=1&b=2' WHEN 3 THEN '?a=1&z=9' ELSE '' END
        |    AS canon_url,
        |  lower(host) AS canon_host,
        |  CASE WHEN i % 4 = 0
        |    THEN 'site' || CAST(i % 7 AS VARCHAR) || '.example.com'
        |    ELSE lower(host) END AS dedup_host
        |FROM m ORDER BY doc_id""".stripMargin,
    // q54: the indexed-gray GIF round-trip is lossless and luma(gray g) = g,
    // so every sampled-frame statistic is recomputed exactly from the
    // pattern formula (all 2..6 frames are under the sample cap)
    "q54_video_frames" ->
      """WITH ids AS (SELECT CAST(i AS BIGINT) AS media_id,
        |    CAST(i % 5 + 2 AS INT) AS nf FROM range(0, 500) t(i)),
        |fr AS (SELECT media_id, nf, CAST(f AS INT) AS f
        |  FROM ids, range(0, 6) t(f) WHERE f < nf),
        |px AS (
        |  SELECT media_id, nf, f,
        |    sum((x*17 + y*3 + media_id + 7*f) % 256) AS s
        |  FROM fr, range(0, 16) tx(x), range(0, 12) ty(y)
        |  GROUP BY media_id, nf, f),
        |w AS (SELECT media_id, nf, f, s,
        |    lag(s) OVER (PARTITION BY media_id ORDER BY f) AS prev FROM px)
        |SELECT media_id, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(nf AS BIGINT) AS frames_sampled,
        |  CAST(sum(s) AS BIGINT) AS luma_total,
        |  CAST(max(CASE WHEN f = 0 THEN s END) AS BIGINT) AS luma_first,
        |  CAST(max(CASE WHEN f = nf - 1 THEN s END) AS BIGINT) AS luma_last,
        |  CAST(coalesce(sum(abs(s - prev)), 0) AS BIGINT) AS temporal_diff
        |FROM w GROUP BY media_id, nf ORDER BY media_id""".stripMargin,
    "q34_geometry" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 300) t(i)),
        |d AS (SELECT doc_id, len(string_split(text, ' ')) AS ntok,
        |        length(replace(text, ' ', '')) AS boxed
        |      FROM documents),
        |breaks AS (
        |  SELECT doc_id, count(*) AS n_breaks
        |  FROM d JOIN nums ON i <= ntok - 1
        |  WHERE i % 5 = 0 AND i % 8 <> 0
        |  GROUP BY doc_id)
        |SELECT d.doc_id AS doc_id,
        |  CAST(ceil(ntok / 8.0) AS BIGINT) AS n_line_boxes,
        |  CAST(ceil(ntok / 8.0) + COALESCE(n_breaks, 0) AS BIGINT) AS n_merged_boxes,
        |  CAST(boxed AS BIGINT) AS n_boxed_chars
        |FROM d LEFT JOIN breaks ON d.doc_id = breaks.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q36_section_assign" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(0, 64) t(i)),
        |chunks AS (
        |  SELECT doc_id, i * 100 AS pos, i FROM documents JOIN nums ON i * 100 < n_chars)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  CAST((i - (i % 4)) * 100 AS BIGINT) AS section_start
        |FROM chunks ORDER BY doc_id, pos""".stripMargin,
    "q37_categorize" ->
      """SELECT doc_id,
        | CASE WHEN contains(lower(text), 'spark') THEN 'alpha'
        |      WHEN contains(lower(text), 'window') THEN 'beta'
        |      WHEN contains(lower(text), 'join') THEN 'gamma'
        |      WHEN contains(lower(text), 'stream') THEN 'delta'
        |      ELSE 'none' END AS category
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q35_eval_pipeline" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(0, 64) t(i)),
        |spans AS (SELECT doc_id, i FROM documents JOIN nums ON i * 100 < n_chars)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN i % 5 <> 4 AND i % 7 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(sum(CASE WHEN i % 5 <> 4 AND i % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(sum(CASE WHEN i % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |  CAST(count(*) AS BIGINT) AS n_spans
        |FROM spans GROUP BY 1 ORDER BY 1""".stripMargin,
    "q42_clf_metrics" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(0, 64) t(i)),
        |r AS (
        |  SELECT
        |    CASE WHEN i % 11 = 0 THEN 'NO_LABEL' ELSE 'L' || CAST(i % 3 AS VARCHAR) END AS y_true,
        |    CASE WHEN i % 13 = 0 THEN 'NO_LABEL'
        |         ELSE 'L' || CAST((i + CASE WHEN i % 7 = 3 THEN 1 ELSE 0 END) % 3 AS VARCHAR) END AS y_pred,
        |    0.5 + (i % 50) / 100.0 AS conf
        |  FROM documents JOIN nums ON i * 100 < n_chars),
        |cm AS (SELECT y_true, y_pred, count(*) AS n FROM r GROUP BY 1, 2),
        |g AS (SELECT 'general' AS scope, y_true, y_pred, n FROM cm
        |      UNION ALL
        |      SELECT 'general_filtered', y_true, y_pred, n FROM cm
        |      WHERE NOT (y_true = 'NO_LABEL' AND y_pred = 'NO_LABEL')),
        |tot AS (SELECT scope, sum(n) AS nn,
        |         sum(CASE WHEN y_true = y_pred THEN n ELSE 0 END) AS ok
        |        FROM g GROUP BY 1),
        |bt AS (SELECT scope, y_true AS lbl, sum(n) AS support,
        |         sum(CASE WHEN y_true = y_pred THEN n ELSE 0 END) AS tp
        |        FROM g GROUP BY 1, 2),
        |bp AS (SELECT scope, y_pred AS lbl, sum(n) AS predicted FROM g GROUP BY 1, 2),
        |pc AS (SELECT bt.scope, bt.lbl, support, tp, COALESCE(predicted, 0) AS predicted,
        |         tp * 1.0 / support AS recall,
        |         CASE WHEN tp = 0 THEN 0.0
        |              ELSE tp * 2.0 / (support + COALESCE(predicted, 0)) END AS f1
        |       FROM bt LEFT JOIN bp ON bt.scope = bp.scope AND bt.lbl = bp.lbl),
        |bal AS (SELECT scope, avg(recall) AS bal,
        |          sum(f1 * support) / sum(support) AS wf1
        |        FROM pc GROUP BY 1),
        |gen AS (
        |  SELECT tot.scope, 'accuracy' AS metric, round(ok * 1.0 / nn, 6) AS value FROM tot
        |  UNION ALL SELECT bal.scope, 'balanced_accuracy', round(bal, 6) FROM bal
        |  UNION ALL SELECT bal.scope, 'weighted_f1', round(wf1, 6) FROM bal
        |  UNION ALL SELECT tot.scope, 'n', CAST(nn AS DOUBLE) FROM tot),
        |lbls AS (SELECT DISTINCT y_true AS lbl FROM cm UNION SELECT DISTINCT y_pred FROM cm),
        |tps AS (SELECT y_true AS lbl, sum(n) AS tp FROM cm WHERE y_true = y_pred GROUP BY 1),
        |tr AS (SELECT y_true AS lbl, sum(n) AS support FROM cm GROUP BY 1),
        |pr AS (SELECT y_pred AS lbl, sum(n) AS predicted FROM cm GROUP BY 1),
        |pl AS (SELECT l.lbl, COALESCE(tp, 0) AS tp, COALESCE(support, 0) AS support,
        |         COALESCE(predicted, 0) AS predicted
        |       FROM lbls l LEFT JOIN tps USING (lbl) LEFT JOIN tr USING (lbl) LEFT JOIN pr USING (lbl)),
        |lab AS (
        |  SELECT 'label:' || lbl AS scope, 'precision' AS metric,
        |    round(CASE WHEN predicted = 0 THEN 0.0 ELSE tp * 1.0 / predicted END, 6) AS value FROM pl
        |  UNION ALL SELECT 'label:' || lbl, 'recall',
        |    round(CASE WHEN support = 0 THEN 0.0 ELSE tp * 1.0 / support END, 6) FROM pl
        |  UNION ALL SELECT 'label:' || lbl, 'f1',
        |    round(CASE WHEN support + predicted = 0 THEN 0.0
        |               ELSE tp * 2.0 / (support + predicted) END, 6) FROM pl
        |  UNION ALL SELECT 'label:' || lbl, 'support', CAST(support AS DOUBLE) FROM pl),
        |cal AS (SELECT CAST(floor(conf * 10) AS BIGINT) AS b, count(*) AS n,
        |          avg(CASE WHEN y_true = y_pred THEN 1.0 ELSE 0.0 END) AS acc
        |        FROM r GROUP BY 1),
        |calr AS (
        |  SELECT 'calib:' || CAST(b AS VARCHAR) AS scope, 'n' AS metric, CAST(n AS DOUBLE) AS value FROM cal
        |  UNION ALL SELECT 'calib:' || CAST(b AS VARCHAR), 'accuracy', round(acc, 6) FROM cal)
        |SELECT scope, metric, value FROM gen
        |UNION ALL SELECT scope, metric, value FROM lab
        |UNION ALL SELECT scope, metric, value FROM calr
        |ORDER BY scope, metric""".stripMargin,
    "q43_containment_label" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(0, 64) t(i)),
        |tokens AS (
        |  SELECT doc_id, i * 50 AS start_offset, least(i * 50 + 50, n_chars) AS end_offset
        |  FROM documents JOIN nums ON i * 50 < n_chars),
        |anns AS (
        |  SELECT doc_id, i * 200 AS ann_s, least(i * 200 + 100, n_chars) AS ann_e,
        |    CAST(i % 3 AS BIGINT) AS label_id
        |  FROM documents JOIN nums ON i * 200 < n_chars)
        |SELECT t.doc_id AS doc_id, t.start_offset, t.end_offset,
        |  COALESCE(a.label_id, -1) AS label_id
        |FROM tokens t LEFT JOIN anns a
        |  ON t.doc_id = a.doc_id AND t.start_offset >= a.ann_s AND t.end_offset <= a.ann_e
        |ORDER BY doc_id, start_offset""".stripMargin,
    "q46_json_props" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q45_salted_agg" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q31_view_annotations" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(0, 64) t(i)),
        |pairs AS (
        |  SELECT doc_id, i AS k,
        |    0.5 + 0.4 * ((doc_id * 1000003 + (2 * i) * 2654435761) % 65536) / 65536.0 AS conf_a,
        |    0.5 + 0.4 * ((doc_id * 1000003 + (2 * i + 1) * 2654435761) % 65536) / 65536.0 AS conf_b
        |  FROM documents JOIN nums ON 100 * i + 75 <= n_chars)
        |SELECT doc_id,
        |  CAST(CASE WHEN k % 5 = 0 OR conf_b > conf_a THEN 4 * k + 1 ELSE 4 * k END AS BIGINT) AS ann_id,
        |  CAST(CASE WHEN k % 5 = 0 OR conf_b > conf_a THEN 100 * k + 30 ELSE 100 * k END AS BIGINT) AS span_start,
        |  CAST(CASE WHEN k % 5 = 0 OR conf_b > conf_a THEN 100 * k + 75 ELSE 100 * k + 45 END AS BIGINT) AS span_end,
        |  CAST(CASE WHEN k % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_correct,
        |  round(CASE WHEN k % 5 = 0 OR conf_b > conf_a THEN conf_b ELSE conf_a END, 6) AS confidence
        |FROM pairs ORDER BY doc_id, span_start""".stripMargin,
    "q38_feature_frame" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 300) t(i)),
        |parts AS (SELECT doc_id, string_split(text, ' ') AS ps FROM documents),
        |tok AS (
        |  SELECT doc_id, i, ps[i] AS tok,
        |    CAST(COALESCE(sum(length(ps[i]) + 1) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS s,
        |    CAST(length(ps[1]) AS INT) AS fwlen
        |  FROM parts JOIN nums ON i <= len(ps)),
        |pos AS (SELECT doc_id, i, tok, s, s + length(tok) AS e, fwlen FROM tok WHERE tok <> ''),
        |nbr AS (
        |  SELECT doc_id, i, tok, s, e, fwlen,
        |    lag(e) OVER w AS le, lag(e, 2) OVER w AS le2,
        |    lag(tok) OVER w AS ltok, lead(s) OVER w AS rs, lead(tok) OVER w AS rtok
        |  FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i))
        |SELECT doc_id, CAST(s AS BIGINT) AS start, tok AS offset_string,
        |  CAST(length(tok) AS DOUBLE) AS feat_len,
        |  CAST(length(tok) - length(regexp_replace(tok, '[0-9]', '', 'g')) AS DOUBLE) AS feat_digit_len,
        |  CAST(length(lower(tok)) - length(regexp_replace(lower(tok), '[aeiou]', '', 'g')) AS DOUBLE) AS feat_vowel_len,
        |  CAST(6 * s AS DOUBLE) AS x0, CAST(6 * e AS DOUBLE) AS x1,
        |  CAST(6 * s * 782 AS DOUBLE) AS area_quadrant_two,
        |  CAST(CASE WHEN le IS NULL THEN 100000 ELSE 6 * (s - le) END AS DOUBLE) AS l_dist0,
        |  CAST(CASE WHEN le2 IS NULL THEN 100000 ELSE 6 * (s - le2) END AS DOUBLE) AS l_dist1,
        |  CAST(CASE WHEN rs IS NULL THEN 100000 ELSE 6 * (rs - e) END AS DOUBLE) AS r_dist0,
        |  CAST(COALESCE(length(ltok), 0) AS DOUBLE) AS l0_feat_len,
        |  CAST(COALESCE(length(rtok), 0) AS DOUBLE) AS r0_feat_len,
        |  CAST(6 * fwlen AS DOUBLE) AS first_word_x1,
        |  CAST(792 AS DOUBLE) AS first_word_y1,
        |  CAST(270 AS BIGINT) AS width
        |FROM nbr ORDER BY doc_id, start""".stripMargin,
    "q39_label_distribution" ->
      """WITH nums AS (SELECT CAST(i AS INT) AS i FROM range(0, 64) t(i)),
        |spans AS (
        |  SELECT doc_id, i % 3 AS label_id FROM documents JOIN nums ON i * 100 < n_chars)
        |SELECT CAST(label_id AS BIGINT) AS label_id,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM spans GROUP BY 1 ORDER BY 1""".stripMargin,
    // q62: the oracle reconstructs the planted page and regenerates every
    // Gopher statistic independently — all counts integer, the keep
    // verdict replayed as the same integer inequalities
    "q62_gopher_rules" ->
      """WITH d AS (SELECT doc_id AS i, text FROM documents),
        |pg AS (SELECT i, text
        |  || CASE WHEN i % 5 = 0 THEN chr(10) || '- alpha item' || chr(10)
        |       || '- beta item' || chr(10) || '* gamma item' ELSE '' END
        |  || CASE WHEN i % 7 = 0 THEN chr(10) || 'trailing thought...'
        |       || chr(10) || 'another one…' ELSE '' END
        |  || CASE WHEN i % 11 = 0 THEN ' ' || repeat('# ', CAST(i % 4 AS INT) + 1)
        |       || '#' ELSE '' END
        |  || CASE WHEN i % 13 = 0 THEN chr(10) || '12345 67890 11111 22222' ELSE '' END
        |  || CASE WHEN i % 3 = 0 THEN chr(10)
        |       || 'the cat wants to be part of and that have fun with it' ELSE '' END
        |  AS page FROM d),
        |w AS (SELECT i, page,
        |    list_filter(string_split_regex(page, '[ \n\t\f]+'), x -> x <> '') AS words,
        |    list_filter(string_split(page, chr(10)), x -> x <> '') AS lines
        |  FROM pg),
        |st AS (SELECT i,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    CAST(COALESCE(list_sum(list_transform(words, x -> length(x))), 0) AS BIGINT) AS word_chars,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(length(page) - length(replace(page, '#', '')) AS BIGINT) AS hash_count,
        |    CAST((length(page) - length(replace(page, '...', ''))) // 3 AS BIGINT) AS ellipsis_count,
        |    CAST(len(list_filter(lines, l -> left(l, 1) IN ('-', '*', '•'))) AS BIGINT) AS bullet_lines,
        |    CAST(len(list_filter(lines, l -> right(l, 3) = '...' OR right(l, 1) = '…')) AS BIGINT) AS ellipsis_lines,
        |    CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        |    CAST(len(list_filter(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
        |      sw -> list_contains(list_transform(words, x -> lower(x)), sw))) AS BIGINT) AS stopword_hits
        |  FROM w)
        |SELECT i AS doc_id, n_words, word_chars, n_lines, hash_count,
        |  ellipsis_count, bullet_lines, ellipsis_lines, alpha_words, stopword_hits,
        |  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
        |    AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
        |    AND 10 * (hash_count + ellipsis_count) <= n_words
        |    AND 10 * bullet_lines <= 9 * n_lines
        |    AND 10 * ellipsis_lines <= 3 * n_lines
        |    AND 5 * alpha_words >= 4 * n_words
        |    AND stopword_hits >= 2 THEN 1 ELSE 0 END AS INT) AS keep
        |FROM st ORDER BY doc_id""".stripMargin,
    // q63: the exact 60-bit md5 coordinate recomputed in SQL; thresholds
    // are the binary-fraction rate × 2^60 integer literals
    "q63_stratified_sample" ->
      """WITH d AS (SELECT doc_id, lang,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 15))::BIGINT AS coord
        |  FROM documents)
        |SELECT doc_id, lang, coord FROM d
        |WHERE coord < CASE lang
        |  WHEN 'en' THEN 1152921504606846976
        |  WHEN 'de' THEN 576460752303423488
        |  WHEN 'es' THEN 288230376151711744
        |  WHEN 'zh' THEN 144115188075855872
        |  ELSE 72057594037927936 END
        |ORDER BY doc_id""".stripMargin,
    // q64: the oracle uses the naive single-partition window the engine
    // deliberately avoids — same math, opposite plan shape
    "q64_pack_sequences" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '[ \n\t\f]+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_pos
        |  FROM d),
        |sh AS (SELECT doc_id, n_tokens, start_pos,
        |    CAST(start_pos // 512 AS BIGINT) AS shard_start,
        |    CAST(greatest(start_pos + n_tokens - 1, start_pos) // 512 AS BIGINT) AS shard_end
        |  FROM c)
        |SELECT doc_id, n_tokens, start_pos, shard_start, shard_end,
        |  CAST(CASE WHEN shard_end > shard_start THEN 1 ELSE 0 END AS INT) AS spans_boundary
        |FROM sh ORDER BY doc_id""".stripMargin,
    "q65_host_cap" ->
      """SELECT doc_id, source, lang FROM (
        |  SELECT doc_id, source, lang,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    // q66: the oracle refits the unigram model from scratch and replays the
    // scoring chain; mean_freq / rel_freq are chains of correctly-rounded
    // IEEE divisions over exact integers (bit-identical across engines) and
    // the bucket compares rel_freq only; xent is the one float-sum column,
    // rounded to 4dp on both sides.
    "q66_lm_perplexity" ->
      s"""WITH toks AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t <> ''),
        |lm AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY t),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total,
        |               CAST(count(*) AS BIGINT) AS vocab FROM lm),
        |sc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(c) AS BIGINT) AS freq_mass,
        |    sum(ln(CAST(c AS DOUBLE))) AS sum_ln
        |  FROM toks JOIN lm USING (t) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, freq_mass,
        |  CAST(freq_mass AS DOUBLE) / n_tokens AS mean_freq,
        |  (CAST(freq_mass AS DOUBLE) / n_tokens) / (CAST(total AS DOUBLE) / vocab)
        |    AS rel_freq,
        |  round(ln(CAST(total AS DOUBLE)) - sum_ln / n_tokens, 4) AS xent,
        |  CASE WHEN (CAST(freq_mass AS DOUBLE) / n_tokens) / (CAST(total AS DOUBLE) / vocab)
        |         >= $QmTauHead THEN 'head'
        |       WHEN (CAST(freq_mass AS DOUBLE) / n_tokens) / (CAST(total AS DOUBLE) / vocab)
        |         < $QmTauTail THEN 'tail'
        |       ELSE 'middle' END AS bucket
        |FROM sc, tot ORDER BY doc_id""".stripMargin,
    // q67: url/host/registered-domain are closed forms of doc_id (the engine
    // parses the real messy url; the oracle states the expected answer);
    // bad-word counts combine NATURAL occurrences in the corpus text
    // (list_filter count) with the planted lattice, so the counting path is
    // exercised, not just the plant.
    "q67_url_blocklist" ->
      """WITH d AS (SELECT doc_id AS i, text FROM documents),
        |m AS (
        |  SELECT i,
        |    CASE WHEN i % 23 = 5 THEN 'shop.site5.co.uk'
        |         ELSE 'sub' || CAST(i % 5 AS VARCHAR) || '.site'
        |           || CAST(i % 23 AS VARCHAR) || '.com' END AS host,
        |    CASE WHEN i % 23 = 5 THEN 'site5.co.uk'
        |         ELSE 'site' || CAST(i % 23 AS VARCHAR) || '.com' END AS reg_domain,
        |    CAST(CASE WHEN (i % 23) IN (3, 5, 7, 11) THEN 1 ELSE 0 END AS INTEGER)
        |      AS host_blocked,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
        |      + CASE WHEN i % 6 = 0 THEN 3 WHEN i % 9 = 1 THEN 1 ELSE 0 END AS n_tokens,
        |    5 * (len(list_filter(string_split(text, ' '), x -> x = 'casino'))
        |          + CASE WHEN i % 6 = 0 THEN 2 ELSE 0 END)
        |    + 10 * (len(list_filter(string_split(text, ' '), x -> x = 'viagra'))
        |          + CASE WHEN i % 6 <> 0 AND i % 9 = 1 THEN 1 ELSE 0 END)
        |    + 1 * (len(list_filter(string_split(text, ' '), x -> x = 'buy'))
        |          + CASE WHEN i % 6 = 0 THEN 1 ELSE 0 END) AS bad_score
        |  FROM d)
        |SELECT i AS doc_id, host, reg_domain, host_blocked,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(bad_score AS BIGINT) AS bad_score,
        |  CAST(CASE WHEN host_blocked = 0 AND bad_score * 1000 <= 8 * n_tokens
        |    THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    // q68: rebuild the 6-token-wrapped page with the planted ad-banner and
    // re-appended first line, then replay first-occurrence line keeping via
    // windows down to the sha256 of the cleaned text.
    "q68_line_dedup_local" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |guard AS (SELECT CASE WHEN max(len(ws)) > 3950
        |    THEN error('q68 oracle: document exceeds the 3950-token range cap')
        |    ELSE 0 END AS g FROM d),
        |body AS (
        |  SELECT doc_id, CAST(j AS INT) AS j, 0 AS sub,
        |    array_to_string(ws[6*j+1 : 6*j+6], ' ') AS line
        |  FROM d, range(0, 700) t(j) WHERE 6*j < len(ws)),
        |ban AS (
        |  SELECT doc_id, j, 1 AS sub, 'ad banner buy now' AS line
        |  FROM body WHERE j % 4 = 3),
        |app AS (
        |  SELECT doc_id, 1000000 AS j, 0 AS sub,
        |    array_to_string(ws[1:6], ' ') AS line
        |  FROM d WHERE doc_id % 3 = 0),
        |lin AS (
        |  SELECT * FROM body UNION ALL SELECT * FROM ban
        |  UNION ALL SELECT * FROM app),
        |ordd AS (
        |  SELECT doc_id, line,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY j, sub) AS pos
        |  FROM lin),
        |firsts AS (
        |  SELECT doc_id, line, pos,
        |    row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS occ
        |  FROM ordd),
        |counts AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM ordd
        |  GROUP BY doc_id),
        |kept AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    sha256(string_agg(line, chr(10) ORDER BY pos)) AS clean_sha
        |  FROM firsts WHERE occ = 1 GROUP BY doc_id)
        |SELECT c.doc_id, c.n_lines, k.n_kept, k.clean_sha
        |FROM counts c JOIN kept k USING (doc_id), guard WHERE guard.g = 0
        |ORDER BY c.doc_id""".stripMargin,
    // q69: the full curation chain replayed — blocklist gate (closed-form
    // domains + natural word counts), in-page line-dedup windows, LM refit
    // on the CLEANED corpus, md5 sampling coordinate, domain-cap rank, and
    // the naive-window pack the engine's two-phase scan must equal.
    "q69_curation_pipeline" ->
      s"""WITH d AS (SELECT doc_id AS i, text, lang,
        |    string_split(text, ' ') AS ws FROM documents),
        |guard AS (SELECT CASE WHEN max(len(ws)) > 3950
        |    THEN error('q69 oracle: document exceeds the 3950-token range cap')
        |    ELSE 0 END AS g FROM d),
        |u AS (
        |  SELECT i, lang, ws,
        |    CASE WHEN i % 23 = 5 THEN 'site5.co.uk'
        |         ELSE 'site' || CAST(i % 23 AS VARCHAR) || '.com' END AS reg_domain,
        |    CASE WHEN (i % 23) IN (3, 5, 7, 11) THEN 1 ELSE 0 END AS blocked,
        |    5 * len(list_filter(ws, x -> x = 'casino'))
        |      + 10 * len(list_filter(ws, x -> x = 'viagra'))
        |      + len(list_filter(ws, x -> x = 'buy')) AS bad_score,
        |    len(list_filter(ws, x -> x <> '')) AS base_n
        |  FROM d),
        |g1 AS (SELECT i, lang, reg_domain, ws FROM u
        |  WHERE blocked = 0 AND bad_score * 1000 <= 8 * base_n),
        |body AS (
        |  SELECT i, CAST(j AS INT) AS j, 0 AS sub,
        |    array_to_string(ws[6*j+1 : 6*j+6], ' ') AS line
        |  FROM g1, range(0, 700) t(j) WHERE 6*j < len(ws)),
        |ban AS (
        |  SELECT i, j, 1 AS sub, 'ad banner buy now' AS line
        |  FROM body WHERE j % 4 = 3),
        |app AS (
        |  SELECT i, 1000000 AS j, 0 AS sub,
        |    array_to_string(ws[1:6], ' ') AS line
        |  FROM g1 WHERE i % 3 = 0),
        |lin AS (
        |  SELECT * FROM body UNION ALL SELECT * FROM ban
        |  UNION ALL SELECT * FROM app),
        |ordd AS (
        |  SELECT i, line,
        |    row_number() OVER (PARTITION BY i ORDER BY j, sub) AS pos
        |  FROM lin),
        |firsts AS (
        |  SELECT i, line, pos,
        |    row_number() OVER (PARTITION BY i, line ORDER BY pos) AS occ
        |  FROM ordd),
        |ktoks AS (
        |  SELECT i, t FROM (
        |    SELECT i, unnest(string_split(line, ' ')) AS t
        |    FROM firsts WHERE occ = 1)
        |  WHERE t <> ''),
        |lm AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM ktoks GROUP BY t),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total,
        |               CAST(count(*) AS BIGINT) AS vocab FROM lm),
        |sc AS (
        |  SELECT i, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(c) AS BIGINT) AS freq_mass
        |  FROM ktoks JOIN lm USING (t) GROUP BY i),
        |bk AS (
        |  SELECT i, n_tokens,
        |    (CAST(freq_mass AS DOUBLE) / n_tokens) / (CAST(total AS DOUBLE) / vocab)
        |      AS rel
        |  FROM sc, tot),
        |g3 AS (
        |  SELECT bk.i, g1.lang, g1.reg_domain, bk.n_tokens,
        |    CASE WHEN rel >= $CurTauHead THEN 'head' ELSE 'middle' END AS bucket
        |  FROM bk JOIN g1 ON bk.i = g1.i WHERE rel >= $CurTauTail),
        |g4 AS (
        |  SELECT * FROM g3
        |  WHERE ('0x' || substring(md5(CAST(i AS VARCHAR) || ':cur1'), 1, 15))::BIGINT
        |    < CASE lang
        |        WHEN 'en' THEN 1152921504606846976
        |        WHEN 'de' THEN 576460752303423488
        |        WHEN 'es' THEN 288230376151711744
        |        WHEN 'zh' THEN 144115188075855872
        |        ELSE 72057594037927936 END),
        |g5 AS (
        |  SELECT i, lang, reg_domain, bucket, n_tokens FROM (
        |    SELECT *, row_number() OVER (PARTITION BY reg_domain ORDER BY i) AS rn
        |    FROM g4) WHERE rn <= 20),
        |pk AS (
        |  SELECT i, lang, reg_domain, bucket, n_tokens,
        |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_pos
        |  FROM g5),
        |sh AS (
        |  SELECT *, CAST(start_pos // 512 AS BIGINT) AS shard_start,
        |    CAST(greatest(start_pos + n_tokens - 1, start_pos) // 512 AS BIGINT)
        |      AS shard_end
        |  FROM pk)
        |SELECT i AS doc_id, lang, reg_domain, bucket, n_tokens, start_pos,
        |  shard_start, shard_end,
        |  CAST(CASE WHEN shard_end > shard_start THEN 1 ELSE 0 END AS INT)
        |    AS spans_boundary
        |FROM sh, guard WHERE guard.g = 0 ORDER BY doc_id""".stripMargin,
    // q70: exact all-pairs cosine enumerates the true near-dup graph; the
    // recursive CTE computes each node's min reachable id (true
    // connectivity, any chain length); survivors = corpus minus non-keepers.
    "q70_semantic_dedup" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 500),
        |d AS (
        |  SELECT vec_id, embedding, label FROM e
        |  UNION ALL SELECT vec_id + 1000000, embedding, label FROM e
        |  UNION ALL SELECT vec_id + 2000000, embedding, label FROM e
        |    WHERE vec_id % 4 = 0),
        |p AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM d a JOIN d b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |          CAST(b.embedding AS DOUBLE[])) >= 0.999),
        |edges AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |r(id, k) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e2.a, r.k FROM edges e2 JOIN r ON e2.b = r.id),
        |nonk AS (SELECT id FROM r GROUP BY id HAVING min(k) <> id)
        |SELECT vec_id, label FROM d
        |WHERE vec_id NOT IN (SELECT id FROM nonk) ORDER BY vec_id""".stripMargin,
    // q71: the oracle regenerates the corpus (source + both planted
    // substitution lattices), the bench set, and the FULL masked-variant
    // neighborhoods of both sides from first principles, then joins
    // variants exactly — the engine's Hamming<=1 semantics come out right
    // only if one-substitution grams match and two-substitution grams
    // don't, at every mask position. Guards fail loudly on id-space
    // collisions and range-cap overruns (same contract as q58).
    "q71_fuzzy_decontaminate" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
        |guard AS (SELECT CASE
        |    WHEN max(doc_id) >= 2000000
        |      THEN error('q71 oracle: source doc_id collides with the planted id space')
        |    WHEN max(len(ws)) > 3950
        |      THEN error('q71 oracle: document exceeds the 3950-token range cap')
        |    WHEN max(CASE WHEN regexp_matches(text, '[\t\n\x0b\f\r]') THEN 1 ELSE 0 END) = 1
        |      THEN error('q71 oracle: non-space whitespace in source text - space-split replay invalid')
        |    ELSE 0 END AS g FROM d),
        |el AS (
        |  SELECT doc_id, ws[1:13] AS t13,
        |    CAST(((doc_id // 25) % 13) + 1 AS INT) AS p,
        |    CAST((((doc_id // 25) % 13 + 5) % 13) + 1 AS INT) AS q
        |  FROM d
        |  WHERE doc_id % 25 = 0 AND len(ws) >= 13
        |    AND len(list_filter(ws[1:13], x -> x = '')) = 0
        |    AND (SELECT g FROM guard) = 0),
        |corp AS (
        |  SELECT doc_id, list_filter(ws, x -> x <> '') AS fs FROM d
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    list_transform(generate_series(1, 13),
        |      i -> CASE WHEN i = p THEN 'xq71suba' ELSE t13[i] END)
        |  FROM el
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |    list_transform(generate_series(1, 13),
        |      i -> CASE WHEN i = p THEN 'xq71suba'
        |                WHEN i = q THEN 'xq71subb' ELSE t13[i] END)
        |  FROM el),
        |bench AS (
        |  SELECT DISTINCT list_filter(ws[1:13], x -> x <> '') AS bt
        |  FROM d WHERE doc_id % 25 = 0 AND len(ws) >= 13),
        |ms AS (SELECT CAST(j AS INT) AS j FROM range(1, 14) t(j)),
        |bv AS (
        |  SELECT DISTINCT array_to_string(
        |      list_concat(list_concat(bt[1:j-1], ['']), bt[j+1:13]), ' ') AS variant
        |  FROM bench CROSS JOIN ms WHERE len(bt) = 13),
        |nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 4000) t(i)),
        |cg AS (SELECT doc_id, fs[i : i+12] AS toks
        |       FROM corp JOIN nums ON i <= len(fs) - 12),
        |cv AS (
        |  SELECT doc_id, array_to_string(
        |      list_concat(list_concat(toks[1:j-1], ['']), toks[j+1:13]), ' ') AS variant
        |  FROM cg CROSS JOIN ms)
        |SELECT DISTINCT doc_id FROM cv JOIN bv USING (variant)
        |ORDER BY doc_id""".stripMargin,
    // q72: the oracle re-derives the domain lattice, the 60-bit md5 split
    // coordinate against the ENGINE'S OWN integer thresholds (inlined from
    // Sampling.cumThresholds, so float-rounding in the cumulative weights
    // cannot diverge), and the cross-split 13-gram witness from both
    // regenerated gram sets.
    "q72_split_leakage" -> {
      val ts = Sampling.cumThresholds(Q72Splits)
      s"""WITH d0 AS (SELECT doc_id, text FROM documents),
        |guard AS (SELECT CASE
        |    WHEN max(len(string_split(text, ' '))) > 3900
        |      THEN error('q72 oracle: document exceeds the 3900-token range cap')
        |    WHEN max(CASE WHEN regexp_matches(text, '[\\t\\n\\x0b\\f\\r]') THEN 1 ELSE 0 END) = 1
        |      THEN error('q72 oracle: non-space whitespace in source text - space-split replay invalid')
        |    ELSE 0 END AS g FROM d0),
        |d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 23 = 5 THEN 'site5.co.uk'
        |         ELSE 'site' || CAST(doc_id % 23 AS VARCHAR) || '.com' END AS reg_domain,
        |    text || CASE WHEN doc_id % 11 = 4 THEN ' $Q72Slogan' ELSE '' END AS text
        |  FROM d0 WHERE (SELECT g FROM guard) = 0),
        |lab AS (
        |  SELECT doc_id, reg_domain, text,
        |    CASE WHEN ('0x' || substring(md5(reg_domain || ':q72'), 1, 15))::BIGINT
        |             < ${ts(0)} THEN 'train'
        |         WHEN ('0x' || substring(md5(reg_domain || ':q72'), 1, 15))::BIGINT
        |             < ${ts(1)} THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM d),
        |wf AS (SELECT doc_id, split,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS fs FROM lab),
        |nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 4000) t(i)),
        |g AS (SELECT doc_id, split, array_to_string(fs[i : i + 12], ' ') AS gram
        |      FROM wf JOIN nums ON i <= len(fs) - 12),
        |leaky AS (
        |  SELECT DISTINCT tg.doc_id FROM g tg
        |  JOIN (SELECT DISTINCT gram FROM g WHERE split <> 'train') hg USING (gram)
        |  WHERE tg.split = 'train')
        |SELECT l.doc_id, l.reg_domain, l.split,
        |  (l.split = 'train' AND l.doc_id IN (SELECT doc_id FROM leaky)) AS leaked
        |FROM lab l ORDER BY doc_id""".stripMargin
    },
    // q73: the oracle replays minLen-gram anchoring from first principles —
    // regenerates every 20-token window, the repeated vocabulary with its
    // packed-long first key (the engine's exact maxTokens=2^20 constant),
    // the per-doc duplicate-start lists, and the indexed token drop — down
    // to the sha256 of the cleaned text. The span semantics (later copies
    // lose the slogan, exact-duplicate docs empty out, first occurrences
    // untouched) come out right only if the engine's anchoring equals the
    // reference substring rule on these inputs.
    "q73_substring_dedup" -> {
      s"""WITH d0 AS (SELECT doc_id, text FROM documents),
        |guard AS (SELECT CASE
        |    WHEN max(len(string_split(text, ' '))) > 3950
        |      THEN error('q73 oracle: document exceeds the 3950-token range cap')
        |    WHEN max(CASE WHEN regexp_matches(text, '[\\t\\n\\x0b\\f\\r]') THEN 1 ELSE 0 END) = 1
        |      THEN error('q73 oracle: non-space whitespace in source text - space-split replay invalid')
        |    ELSE 0 END AS g FROM d0),
        |d AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 31 = 7 THEN ' $Q73Slogan' ELSE '' END AS text
        |  FROM d0 WHERE (SELECT g FROM guard) = 0),
        |wf AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS fs FROM d),
        |nums AS (SELECT CAST(i AS INT) AS i FROM range(0, 4000) t(i)),
        |w AS (SELECT doc_id, i AS pos, md5(array_to_string(fs[i + 1 : i + 20], ' ')) AS gh
        |      FROM wf JOIN nums ON i <= len(fs) - 20),
        |rep AS (SELECT gh, min(doc_id * 1048576 + pos) AS fkey
        |        FROM w GROUP BY gh HAVING count(*) > 1),
        |dup AS (SELECT doc_id, pos FROM w JOIN rep USING (gh)
        |        WHERE doc_id * 1048576 + pos <> fkey),
        |st AS (SELECT doc_id, list(pos ORDER BY pos) AS starts FROM dup GROUP BY doc_id),
        |o AS (SELECT wf.doc_id, fs, coalesce(starts, []) AS starts
        |      FROM wf LEFT JOIN st USING (doc_id)),
        |res AS (SELECT doc_id, CAST(len(fs) AS BIGINT) AS n_before,
        |  [fs[i] FOR i IN generate_series(1, len(fs))
        |     IF len(list_filter(starts, s -> s + 1 <= i AND i <= s + 20)) = 0] AS kept
        |  FROM o)
        |SELECT doc_id, n_before, CAST(len(kept) AS BIGINT) AS n_after,
        |  sha256(coalesce(array_to_string(kept, ' '), '')) AS sha
        |FROM res ORDER BY doc_id""".stripMargin
    },
    // q74: the index is an exact summary of the snapshot's distinct text
    // hashes, and bloom false positives are removed by the exact confirm
    // join — so the whole build+probe machinery replays as one text-level
    // anti-join of the batch against the snapshot (sha256 is injective on
    // the corpus for dedup purposes; the oracle compares texts directly,
    // which is the same relation). Null text folds to '' on both sides.
    "q74_snapshot_dedup" -> {
      """WITH snap AS (SELECT coalesce(text, '') AS t FROM documents WHERE doc_id % 4 <> 0),
        |batch AS (
        |  SELECT doc_id, coalesce(text, '') AS t FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, coalesce(text, '') AS t FROM documents
        |  WHERE doc_id % 4 <> 0 AND doc_id % 20 = 1
        |)
        |SELECT b.doc_id, sha256(b.t) AS sha
        |FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM snap s WHERE s.t = b.t)
        |ORDER BY b.doc_id""".stripMargin
    },
    // q75: the WARC container must be lossless — ids/timestamps are
    // closed-form in doc_id, and extraction of the wrapped page returns
    // the original text (q48's contract), so chars/tokens/sha replay
    // straight off the raw table
    "q75_warc_roundtrip" ->
      """SELECT doc_id, 1700000000 + doc_id AS ts_epoch,
        | CAST(n_chars AS BIGINT) AS n_chars_extracted,
        | CAST(length(list_filter(string_split_regex(text, '[ \n\t\f]'), x -> x <> '')) AS BIGINT) AS n_tokens,
        | sha256(text) AS text_sha256
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q76: the oracle is the FULL-SHUFFLE exact answer (group-count over
    // every line) plus the same closed-form witness arithmetic — so the
    // engine's shuffle-avoiding path must land on the identical relation
    "q76_heavy_hitters" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |nat AS (SELECT unnest(string_split(text, chr(10))) AS line FROM d),
        |pl AS (SELECT 'graft boilerplate banner ' || i AS line
        |       FROM d JOIN (SELECT CAST(i AS BIGINT) AS i FROM range(0, 24) t(i)) n
        |       ON doc_id % (i + 2) = 0),
        |al AS (SELECT line FROM nat UNION ALL SELECT line FROM pl),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM al),
        |c AS (SELECT line, CAST(count(*) AS BIGINT) AS cnt FROM al GROUP BY line),
        |tk AS (SELECT line, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, line) AS BIGINT) AS rank
        |       FROM c ORDER BY cnt DESC, line LIMIT 20)
        |SELECT line, cnt, rank, (SELECT n FROM tot) AS n_rows,
        |  ((SELECT count(*) FROM tk) = 20
        |    AND (SELECT min(cnt) FROM tk) * 1024 > (SELECT n FROM tot)) AS proven_exact
        |FROM tk ORDER BY rank""".stripMargin,
    // q77: WARC parse is lossless (q75), extraction returns the wrapped
    // text byte-identically (q48), and the snapshot index is an exact
    // text-set summary (q74) — so the composed chain collapses to one
    // anti-join of every document against the 3/4 snapshot's texts
    "q77_ingest_pipeline" ->
      """WITH snap AS (SELECT coalesce(text, '') AS t FROM documents WHERE doc_id % 4 <> 0)
        |SELECT doc_id,
        | CAST(length(list_filter(string_split_regex(text, '[ \n\t\f]'), x -> x <> '')) AS BIGINT) AS n_tokens,
        | sha256(coalesce(text, '')) AS sha
        |FROM documents b
        |WHERE NOT EXISTS (SELECT 1 FROM snap s WHERE s.t = coalesce(b.text, ''))
        |ORDER BY doc_id""".stripMargin,
    // q78 computes q77's relation through the streaming path — identical
    // oracle by construction
    "q78_stream_ingest" ->
      """WITH snap AS (SELECT coalesce(text, '') AS t FROM documents WHERE doc_id % 4 <> 0)
        |SELECT doc_id,
        | CAST(length(list_filter(string_split_regex(text, '[ \n\t\f]'), x -> x <> '')) AS BIGINT) AS n_tokens,
        | sha256(coalesce(text, '')) AS sha
        |FROM documents b
        |WHERE NOT EXISTS (SELECT 1 FROM snap s WHERE s.t = coalesce(b.text, ''))
        |ORDER BY doc_id""".stripMargin,
    // q79: the planted link lattice is closed-form in doc_id (self edge
    // from the relative link, two absolute site links, mailto/fragment
    // dropped), so the oracle rebuilds the graph without parsing HTML
    "q79_link_graph" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |e AS (
        |  SELECT 'src' || (doc_id % 11) || '.example' AS src_host,
        |         'src' || (doc_id % 11) || '.example' AS dst_host FROM d
        |  UNION ALL
        |  SELECT 'src' || (doc_id % 11) || '.example',
        |         'site' || ((doc_id + 1) % 23) || '.example' FROM d
        |  UNION ALL
        |  SELECT 'src' || (doc_id % 11) || '.example',
        |         'site' || ((2 * doc_id + 5) % 23) || '.example' FROM d)
        |SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
        |FROM e GROUP BY src_host, dst_host ORDER BY src_host, dst_host""".stripMargin,
    // q80: two power-iteration rounds unrolled with the engine's exact
    // float expression tree ((1-0.85)/n, 0.85*(contrib + dm/n)); degrees
    // integer-exact; rank compared at 6-decimal rounding (summation order
    // is the one engine-dependent piece, drift ~1e-13 vs the 1e-6 grid)
    "q80_host_rank" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |e AS (
        |  SELECT 'src' || (doc_id % 11) || '.example' AS src_host,
        |         'src' || (doc_id % 11) || '.example' AS dst_host FROM d
        |  UNION ALL
        |  SELECT 'src' || (doc_id % 11) || '.example',
        |         'site' || ((doc_id + 1) % 23) || '.example' FROM d
        |  UNION ALL
        |  SELECT 'src' || (doc_id % 11) || '.example',
        |         'site' || ((2 * doc_id + 5) % 23) || '.example' FROM d),
        |nodes AS (SELECT DISTINCT h FROM
        |  (SELECT src_host AS h FROM e UNION ALL SELECT dst_host FROM e) u),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |outd AS (SELECT src_host, count(*) AS o FROM e GROUP BY src_host),
        |r0 AS (SELECT h AS host, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
        |dm0 AS (SELECT coalesce(sum(r), 0) AS dm FROM r0
        |        LEFT JOIN outd ON host = src_host WHERE o IS NULL),
        |c1 AS (SELECT e.dst_host AS host, sum(r0.r / outd.o) AS c
        |       FROM e JOIN r0 ON e.src_host = r0.host
        |       JOIN outd ON e.src_host = outd.src_host GROUP BY e.dst_host),
        |r1 AS (SELECT nodes.h AS host,
        |        (1 - 0.85) / (SELECT n FROM nn)
        |          + 0.85 * (coalesce(c1.c, 0) + (SELECT dm FROM dm0) / (SELECT n FROM nn)) AS r
        |       FROM nodes LEFT JOIN c1 ON nodes.h = c1.host),
        |dm1 AS (SELECT coalesce(sum(r), 0) AS dm FROM r1
        |        LEFT JOIN outd ON host = src_host WHERE o IS NULL),
        |c2 AS (SELECT e.dst_host AS host, sum(r1.r / outd.o) AS c
        |       FROM e JOIN r1 ON e.src_host = r1.host
        |       JOIN outd ON e.src_host = outd.src_host GROUP BY e.dst_host),
        |r2 AS (SELECT nodes.h AS host,
        |        (1 - 0.85) / (SELECT n FROM nn)
        |          + 0.85 * (coalesce(c2.c, 0) + (SELECT dm FROM dm1) / (SELECT n FROM nn)) AS r
        |       FROM nodes LEFT JOIN c2 ON nodes.h = c2.host),
        |od2 AS (SELECT src_host AS host, CAST(count(*) AS BIGINT) AS o FROM e GROUP BY src_host),
        |ind AS (SELECT dst_host AS host, CAST(count(*) AS BIGINT) AS i FROM e GROUP BY dst_host)
        |SELECT r2.host,
        |  coalesce(od2.o, CAST(0 AS BIGINT)) AS out_links,
        |  coalesce(ind.i, CAST(0 AS BIGINT)) AS in_links,
        |  round(r2.r, 6) AS rank
        |FROM r2
        |LEFT JOIN od2 ON r2.host = od2.host
        |LEFT JOIN ind ON r2.host = ind.host
        |ORDER BY r2.host""".stripMargin,
    // q81: the oracle rebuilds the whole inverted index in SQL — postings
    // (term, tf, dl), df, avgdl, the 8 fixed query prefixes — and replays
    // the ENGINE'S exact float expression tree for the BM25 sum (every
    // coefficient written as the same IEEE double arithmetic, e.g.
    // (1.2 + 1.0) not 2.2, so constant folding matches bit-for-bit); set
    // membership is integer cross-multiplied overlap, so the result SET
    // is exact and only the 4dp score column is float-compared.
    // q84 shares it verbatim: the persisted bucket-pruned index path must
    // compute the identical relation.
    "q81_bm25_retrieval" -> bm25OracleSql,
    // q95 shares it too: the two-segment incremental index must compute
    // the identical relation as the monolithic build.
    "q95_bm25_segmented" -> bm25OracleSql,
    "q84_bm25_indexed" -> bm25OracleSql,
    // q82: q56's page construction, then the document-frequency rule
    // replayed independently — any line in >= 3 distinct docs is removed
    // EVERYWHERE (vs q56's keep-first), whitespace-only lines exempt.
    "q82_strip_common_lines" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |guard AS (SELECT CASE WHEN max(len(ws)) > 3950
        |    THEN error('q82 oracle: document exceeds the 3950-token range cap')
        |    ELSE 0 END AS g FROM d),
        |lin AS (
        |  SELECT doc_id, 0 AS idx, 'CORPUS HEADER BOILERPLATE' AS line FROM d
        |  UNION ALL
        |  SELECT doc_id, CAST(j + 1 AS INT),
        |    array_to_string(ws[8*j+1 : 8*j+8], ' ')
        |  FROM d, range(0, 500) t(j) WHERE 8*j < len(ws)
        |  UNION ALL
        |  SELECT doc_id, CAST(ceil(len(ws) / 8.0) AS INT) + 1,
        |    'Footer ' || CAST(doc_id % 10 AS VARCHAR) FROM d),
        |common AS (SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS nd FROM lin
        |    WHERE translate(line, ' ' || chr(9) || chr(13) || chr(12), '') != ''
        |    GROUP BY line) WHERE nd >= 3),
        |kept AS (
        |  SELECT doc_id, idx, line FROM lin
        |  WHERE line NOT IN (SELECT line FROM common))
        |SELECT doc_id,
        |  string_agg(line, chr(10) ORDER BY idx) AS text,
        |  CAST(count(*) AS BIGINT) AS n_lines_kept
        |FROM kept, guard WHERE guard.g = 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q83: both bigram models (raw = corpus, target = lang 'de'), the
    // corpus scalars Tt/Tr/V and the per-doc masses recomputed in SQL;
    // rel_mass is the same chain of exact-integer IEEE divisions as the
    // engine (bit-identical), the smoothed log-ratio mirrors the engine's
    // expression tree and is compared at 4dp only.
    "q83_dsir_weights" ->
      """WITH d AS (SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
        |  FROM documents),
        |guard AS (SELECT CASE WHEN max(len(tk)) > 3950
        |    THEN error('q83 oracle: document exceeds the 3950-token range cap')
        |    ELSE 0 END AS g FROM d),
        |nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 4000) t(i)),
        |bg AS (SELECT doc_id, lang, tk[i] || ' ' || tk[i+1] AS term
        |  FROM d JOIN nums ON i <= len(tk) - 1),
        |rc AS (SELECT term, CAST(count(*) AS BIGINT) AS cr FROM bg GROUP BY 1),
        |tc AS (SELECT term, CAST(count(*) AS BIGINT) AS ct FROM bg
        |  WHERE lang = 'de' GROUP BY 1),
        |gl AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM bg) AS tr,
        |    (SELECT CAST(count(*) AS BIGINT) FROM bg WHERE lang = 'de') AS tt,
        |    (SELECT CAST(count(*) AS BIGINT) FROM rc) AS v),
        |sc AS (SELECT b.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(coalesce(tc.ct, 0)) AS BIGINT) AS target_mass,
        |    CAST(sum(rc.cr) AS BIGINT) AS raw_mass,
        |    (CAST(sum(coalesce(tc.ct, 0)) AS DOUBLE) / CAST(gl.tt AS DOUBLE))
        |      / (CAST(sum(rc.cr) AS DOUBLE) / CAST(gl.tr AS DOUBLE)) AS rel_mass,
        |    round(sum( ln((coalesce(tc.ct, 0) + 1.0) / (gl.tt + gl.v))
        |             - ln((rc.cr + 1.0) / (gl.tr + gl.v)) ), 4) AS logratio_4dp
        |  FROM bg b JOIN rc ON b.term = rc.term
        |    LEFT JOIN tc ON b.term = tc.term, gl
        |  GROUP BY b.doc_id, gl.tt, gl.tr, gl.v)
        |SELECT doc_id, n_bigrams, target_mass, raw_mass, rel_mass, logratio_4dp,
        |  rel_mass >= 1.0 AS selected
        |FROM sc, guard WHERE guard.g = 0
        |ORDER BY doc_id""".stripMargin,
    // q85: every cell of the planted table lattice is closed-form in
    // doc_id — the oracle rebuilds coordinates and text without touching
    // HTML (nested-table flatten included: t1 cell 0 concatenates the
    // outer and inner text).
    "q85_html_tables" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |cols3 AS (SELECT CAST(c AS INT) AS c FROM range(0, 3) t(c)),
        |rows2 AS (SELECT CAST(r AS INT) AS r FROM range(0, 2) t(r)),
        |hdr AS (SELECT doc_id, CAST(0 AS INT) AS table_idx,
        |    CAST(0 AS INT) AS row_idx, c AS col_idx, TRUE AS is_header,
        |    'h' || c AS cell FROM ids, cols3),
        |dat AS (SELECT doc_id, CAST(0 AS INT), CAST(r + 1 AS INT), c, FALSE,
        |    CASE WHEN r = 1 AND c = 2
        |      THEN 'a&b ' || ((7 * doc_id + 3 * r + c) % 101)
        |      ELSE 'v' || ((7 * doc_id + 3 * r + c) % 101) END
        |  FROM ids, rows2, cols3),
        |t1 AS (SELECT doc_id, CAST(1 AS INT), CAST(0 AS INT), c1.c, FALSE,
        |    CASE WHEN c1.c = 0 THEN 'outer inner' || (doc_id % 9)
        |         ELSE 'plain' END
        |  FROM ids, (SELECT CAST(c AS INT) AS c FROM range(0, 2) t(c)) c1
        |  WHERE doc_id % 5 = 0)
        |SELECT * FROM (SELECT * FROM hdr UNION ALL SELECT * FROM dat
        |  UNION ALL SELECT * FROM t1)
        |ORDER BY doc_id, table_idx, row_idx, col_idx""".stripMargin,
    // q86: head metadata is closed-form in doc_id (title entity included);
    // the commented decoy must not surface.
    "q86_page_meta" ->
      """SELECT doc_id,
        |  'Doc ' || doc_id || ' & Co' AS title,
        |  'summary ' || (doc_id % 13) || ' of page' AS description,
        |  'k' || (doc_id % 3) || ',k' || (doc_id % 7) AS keywords,
        |  'https://docs.example.com/d/' || doc_id AS canonical,
        |  'OG ' || (doc_id % 5) AS og_title,
        |  '2024-0' || (1 + doc_id % 9) || '-11' AS published,
        |  doc_id % 4 = 0 AS noindex
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q87: the anchor-text edge set replayed closed-form (q79's oracle
    // pattern plus the anchor phrases; mailto/fragment/href-less anchors
    // contribute nothing).
    "q87_anchor_text" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |e AS (
        |  SELECT 'src' || (doc_id % 11) || '.example' AS dst_host,
        |         'home' AS anchor FROM d
        |  UNION ALL
        |  SELECT 'site' || ((doc_id + 1) % 23) || '.example',
        |         'best site ' || ((doc_id + 1) % 23) || ' ever' FROM d
        |  UNION ALL
        |  SELECT 'site' || ((2 * doc_id + 5) % 23) || '.example',
        |         'visit ' || ((2 * doc_id + 5) % 23) || ' now' FROM d)
        |SELECT dst_host, anchor, CAST(count(*) AS BIGINT) AS n_links
        |FROM e GROUP BY dst_host, anchor ORDER BY dst_host, anchor""".stripMargin,
    // q88: every robots verdict is doc_id arithmetic (see q88Robots'
    // scaladoc for the rule → arithmetic derivation). k=6 has no robots
    // row; even k: exact-agent group (disallow /p{k%4}/ unless the
    // wildcard-anchored allow matches, i.e. the page number ends in 0);
    // odd k: '*' group (disallow /p1/ and /p3/, allow /p3/page1*).
    "q88_robots_filter" ->
      """WITH f AS (SELECT doc_id, doc_id % 7 AS k, doc_id % 4 AS p
        |  FROM documents),
        |a AS (SELECT doc_id,
        |    'https://h' || k || '.example/p' || p || '/page' || doc_id AS url,
        |    CASE WHEN k = 6 THEN TRUE
        |         WHEN k % 2 = 0 THEN (p <> k % 4) OR (doc_id % 10 = 0)
        |         ELSE p = 0 OR p = 2
        |           OR (p = 3 AND CAST(doc_id AS VARCHAR) LIKE '1%')
        |    END AS ok
        |  FROM f)
        |SELECT doc_id, url FROM a WHERE ok ORDER BY doc_id""".stripMargin,
    // q89: round-1 BPE pair counts over the distinct-word table, weighted
    // by word frequency — the oracle rebuilds the word table and the
    // char-pair explosion in SQL under the identical total order.
    "q89_bpe_pairs" ->
      """WITH d AS (SELECT
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '') AS tk FROM documents),
        |w AS (SELECT unnest(tk) AS word FROM d),
        |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1),
        |guard AS (SELECT CASE WHEN max(len(word)) > 62
        |    THEN error('q89 oracle: word exceeds the 62-char range cap')
        |    ELSE 0 END AS g FROM wc),
        |nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 64) t(i)),
        |p AS (SELECT substr(word, i, 1) AS lhs, substr(word, i + 1, 1) AS rhs,
        |    cnt FROM wc JOIN nums ON i <= len(word) - 1)
        |SELECT lhs, rhs, CAST(sum(cnt) AS BIGINT) AS pair_cnt
        |FROM p, guard WHERE guard.g = 0
        |GROUP BY lhs, rhs
        |ORDER BY pair_cnt DESC, lhs, rhs LIMIT 50""".stripMargin,
    // q90: the pinned merge table replayed as a replace() chain over
    // space-joined chars. TWO replaces per merge: a single left-to-right
    // replace consumes the separator shared with an adjacent candidate
    // pair and can skip at most every other disjoint occurrence; the
    // skipped candidates are never adjacent, so one more pass catches
    // them all (exact for merges with left != right, which all of
    // Q90Merges are — see BpeSpec's equivalence property).
    // q103: the rotate-multiply shuffle key replayed in HUGEINT unsigned
    // arithmetic — u1 = (id+seed)*A mod 2^64, rotl32 via (lo*2^32 + hi),
    // u3 = u2*A mod 2^64 — then remapped to the two's-complement range.
    "q103_seeded_shuffle" ->
      """WITH c AS (SELECT 6364136223846793005::HUGEINT AS a,
        |    18446744073709551616::HUGEINT AS m64,
        |    4294967296::HUGEINT AS m32),
        |s1 AS (SELECT doc_id,
        |    ((CAST(doc_id AS HUGEINT) + 42) * a) % m64 AS u1, a, m64, m32
        |  FROM documents, c),
        |s2 AS (SELECT doc_id,
        |    ((u1 % m32) * m32 + u1 // m32) AS u2, a, m64 FROM s1),
        |s3 AS (SELECT doc_id, (u2 * a) % m64 AS u3, m64 FROM s2)
        |SELECT doc_id,
        |  CAST(CASE WHEN u3 >= m64 // 2 THEN u3 - m64 ELSE u3 END AS BIGINT)
        |    AS shuffle_key
        |FROM s3 ORDER BY shuffle_key""".stripMargin,
    // q104: the engine's copy count replayed as floor(w) + the q63-style
    // 60-bit md5 coordinate check against frac(w)*2^60 integer literals;
    // copies lateral-unnest via generate_series (empty when copies = 0,
    // inclusive-range semantics, matching the engine's copies>0 filter).
    "q104_epoch_repeat" ->
      """WITH d AS (SELECT doc_id, lang,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':epochs1'), 1, 15))::BIGINT AS coord
        |  FROM documents),
        |c AS (SELECT doc_id, lang, coord,
        |    CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 2
        |      WHEN 'es' THEN 0 WHEN 'zh' THEN 3 ELSE 0 END
        |    + CASE WHEN coord < CASE lang
        |        WHEN 'en' THEN 0
        |        WHEN 'de' THEN 576460752303423488
        |        WHEN 'es' THEN 288230376151711744
        |        WHEN 'zh' THEN 0
        |        ELSE 576460752303423488 END
        |      THEN 1 ELSE 0 END AS copies
        |  FROM d)
        |SELECT doc_id, lang, coord,
        |  CAST(unnest(generate_series(0, CAST(copies AS BIGINT) - 1)) AS BIGINT)
        |    AS epoch
        |FROM c ORDER BY doc_id, epoch""".stripMargin,
    // q105: q103's HUGEINT key replay + row_number over the signed key
    // (collision-free by the bijection, so the rank needs no tiebreak);
    // shard arithmetic is integer division — the oracle deliberately uses
    // the single-partition window the engine's two-phase scan avoids.
    "q105_shard_assign" ->
      """WITH c AS (SELECT 6364136223846793005::HUGEINT AS a,
        |    18446744073709551616::HUGEINT AS m64,
        |    4294967296::HUGEINT AS m32),
        |s1 AS (SELECT doc_id,
        |    ((CAST(doc_id AS HUGEINT) + 42) * a) % m64 AS u1, a, m64, m32
        |  FROM documents, c),
        |s2 AS (SELECT doc_id,
        |    ((u1 % m32) * m32 + u1 // m32) AS u2, a, m64 FROM s1),
        |s3 AS (SELECT doc_id, (u2 * a) % m64 AS u3, m64 FROM s2),
        |k AS (SELECT doc_id,
        |    CAST(CASE WHEN u3 >= m64 // 2 THEN u3 - m64 ELSE u3 END AS BIGINT)
        |      AS shuffle_key FROM s3),
        |r AS (SELECT doc_id, shuffle_key,
        |    row_number() OVER (ORDER BY shuffle_key) - 1 AS rank FROM k)
        |SELECT doc_id, shuffle_key, CAST(rank AS BIGINT) AS rank,
        |  CAST(rank // 64 AS BIGINT) AS shard,
        |  CAST(rank % 64 AS BIGINT) AS pos_in_shard
        |FROM r ORDER BY rank""".stripMargin,
    // q106: the temperature solve replayed step-by-step — exact BIGINT
    // masses, pow(mass, 0.5), the strata-sized double sum, shares and
    // weights rounded to 6 (the 6-decimal rounding collapses the pow/sum
    // ULP differences between JVM and DuckDB libm).
    "q106_mixture_weights" ->
      """WITH stats AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS mass
        |    FROM documents GROUP BY lang),
        |p AS (SELECT lang, mass, pow(CAST(mass AS DOUBLE), 0.5) AS pp
        |    FROM stats),
        |z AS (SELECT SUM(pp) AS z FROM p)
        |SELECT lang, mass, round(pp / z, 6) AS share,
        |  round(150000 * (pp / z) / mass, 6) AS weight
        |FROM p, z ORDER BY lang""".stripMargin,
    // q107: q106's weight replay joined back onto documents, then q104's
    // copy discipline: floor(w) + the md5-coordinate Bernoulli trial
    // against floor(frac(w)·2^60) — floor (== trunc for the positive
    // product) because DuckDB's double→BIGINT CAST rounds while Spark's
    // truncates; the product is exact given the 6-decimal w, so both
    // engines compare the same long. Copies lateral-unnest via
    // generate_series (empty when copies = 0).
    "q107_weighted_mixture" ->
      """WITH stats AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS mass
        |    FROM documents GROUP BY lang),
        |p AS (SELECT lang, mass, pow(CAST(mass AS DOUBLE), 0.5) AS pp
        |    FROM stats),
        |z AS (SELECT SUM(pp) AS z FROM p),
        |w AS (SELECT lang, round(150000 * (pp / z) / mass, 6) AS weight
        |    FROM p, z),
        |d AS (SELECT doc_id, documents.lang, n_chars, weight,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 15))::BIGINT
        |      AS coord
        |  FROM documents JOIN w ON documents.lang = w.lang),
        |c AS (SELECT doc_id, lang, n_chars,
        |    CAST(floor(weight) AS BIGINT)
        |      + CASE WHEN coord <
        |          CAST(floor((weight - floor(weight)) * 1152921504606846976e0) AS BIGINT)
        |        THEN 1 ELSE 0 END AS copies
        |  FROM d)
        |SELECT doc_id, lang, n_chars,
        |  CAST(unnest(generate_series(0, CAST(copies AS BIGINT) - 1)) AS BIGINT)
        |    AS epoch
        |FROM c ORDER BY doc_id, epoch""".stripMargin,
    // q108: the whole classifier — hashed counts, micro-nat weights,
    // integer score sums, argmax — replayed in SQL. Weights round as
    // floor(ln·1e6 + 0.5) (half-up in both engines; DuckDB's round()
    // ties-away would differ on negatives). Unseen (bucket, class) pairs
    // take the smoothed default via the LEFT JOIN's COALESCE on c=0.
    // Docs with no tokens score on priors alone (the documents CROSS JOIN
    // pri base). Ties break to the smallest class name — the engine's
    // sorted-index argmax.
    "q108_nb_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t <> ''),
        |tb AS (SELECT doc_id,
        |    ('0x' || substring(md5(t), 1, 15))::BIGINT % 4096 AS b FROM toks),
        |cnt AS (SELECT d.lang AS cls, tb.b, CAST(count(*) AS BIGINT) AS c
        |  FROM tb JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |tot AS (SELECT cls, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
        |nd AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |ndt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |pri AS (SELECT nd.cls,
        |    CAST(floor(ln(CAST(nd.n AS DOUBLE) / ndt.n) * 1000000 + 0.5) AS BIGINT)
        |      AS p
        |  FROM nd, ndt),
        |sc AS (SELECT tb.doc_id, tot.cls,
        |    SUM(CAST(floor(ln((COALESCE(cnt.c, 0) + 1.0) / (tot.t + 4096))
        |          * 1000000 + 0.5) AS BIGINT)) AS s
        |  FROM tb CROSS JOIN tot
        |  LEFT JOIN cnt ON cnt.b = tb.b AND cnt.cls = tot.cls
        |  GROUP BY 1, 2),
        |fin AS (SELECT d.doc_id, d.lang, pri.cls,
        |    pri.p + COALESCE(sc.s, 0) AS score
        |  FROM documents d CROSS JOIN pri
        |  LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.cls = pri.cls),
        |win AS (SELECT doc_id, lang, cls AS pred, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, cls ASC) AS rn
        |  FROM fin)
        |SELECT doc_id, lang, pred, score,
        |  CAST(CASE WHEN pred = lang THEN 1 ELSE 0 END AS INTEGER) AS correct
        |FROM win WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // q109: q61's recursive-CTE component replay feeds the q72-style md5
    // boundary chain — the coordinate key is the component KEEPER
    // (coalesced to the doc itself outside the graph), with the engine's
    // own exact 60-bit thresholds interpolated.
    "q109_cluster_split" -> {
      val ts = Sampling.cumThresholds(Q72Splits)
      s"""WITH RECURSIVE ids AS (SELECT doc_id AS i FROM documents),
        |e0 AS (
        |  SELECT i AS a, i + 1 AS b FROM ids
        |  WHERE (i % 7) < ((i // 7) % 6) + 1
        |    AND EXISTS (SELECT 1 FROM ids x WHERE x.i = ids.i + 1)
        |  UNION ALL
        |  SELECT i AS a, (i // 7) * 7 + 21 AS b FROM ids
        |  WHERE i % 7 = 2 AND (i // 7) % 11 = 0
        |    AND EXISTS (SELECT 1 FROM ids x WHERE x.i = (ids.i // 7) * 7 + 21)),
        |edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |r(id, k) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.a, r.k FROM edges e JOIN r ON e.b = r.id),
        |comp AS (SELECT id, min(k) AS keeper_id FROM r GROUP BY id),
        |full0 AS (SELECT d.doc_id, COALESCE(c.keeper_id, d.doc_id) AS keeper_id
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
        |lab AS (SELECT doc_id, keeper_id,
        |    ('0x' || substring(md5(CAST(keeper_id AS VARCHAR) || ':cls1'), 1, 15))::BIGINT
        |      AS h
        |  FROM full0)
        |SELECT doc_id, keeper_id,
        |  CASE WHEN h < ${ts(0)} THEN 'train'
        |       WHEN h < ${ts(1)} THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM lab ORDER BY doc_id""".stripMargin
    },
    // q110: q107's copy chain feeds q103's HUGEINT key replay (seed 7, on
    // the packed uid = doc_id·8 + epoch) and q105's row_number window —
    // the full solve→epochs→shuffle→shards composition replayed end to
    // end in SQL.
    "q110_training_layout" ->
      """WITH stats AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS mass
        |    FROM documents GROUP BY lang),
        |p AS (SELECT lang, mass, pow(CAST(mass AS DOUBLE), 0.5) AS pp
        |    FROM stats),
        |z AS (SELECT SUM(pp) AS z FROM p),
        |w AS (SELECT lang, round(150000 * (pp / z) / mass, 6) AS weight
        |    FROM p, z),
        |d AS (SELECT doc_id, documents.lang, weight,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 15))::BIGINT
        |      AS coord
        |  FROM documents JOIN w ON documents.lang = w.lang),
        |c AS (SELECT doc_id,
        |    CAST(floor(weight) AS BIGINT)
        |      + CASE WHEN coord <
        |          CAST(floor((weight - floor(weight)) * 1152921504606846976e0) AS BIGINT)
        |        THEN 1 ELSE 0 END AS copies
        |  FROM d),
        |u AS (SELECT doc_id * 8
        |    + CAST(unnest(generate_series(0, CAST(copies AS BIGINT) - 1)) AS BIGINT)
        |    AS uid FROM c),
        |k0 AS (SELECT 6364136223846793005::HUGEINT AS a,
        |    18446744073709551616::HUGEINT AS m64,
        |    4294967296::HUGEINT AS m32),
        |s1 AS (SELECT uid, ((CAST(uid AS HUGEINT) + 7) * a) % m64 AS u1,
        |    a, m64, m32 FROM u, k0),
        |s2 AS (SELECT uid, ((u1 % m32) * m32 + u1 // m32) AS u2, a, m64 FROM s1),
        |s3 AS (SELECT uid, (u2 * a) % m64 AS u3, m64 FROM s2),
        |k AS (SELECT uid,
        |    CAST(CASE WHEN u3 >= m64 // 2 THEN u3 - m64 ELSE u3 END AS BIGINT)
        |      AS shuffle_key FROM s3),
        |r AS (SELECT uid, shuffle_key,
        |    row_number() OVER (ORDER BY shuffle_key) - 1 AS rank FROM k)
        |SELECT CAST(uid // 8 AS BIGINT) AS doc_id,
        |  CAST(uid % 8 AS BIGINT) AS epoch, shuffle_key,
        |  CAST(rank AS BIGINT) AS rank,
        |  CAST(rank // 128 AS BIGINT) AS shard,
        |  CAST(rank % 128 AS BIGINT) AS pos_in_shard
        |FROM r ORDER BY rank""".stripMargin,
    // q111: the same ROLLUP in DuckDB; GROUPING() flags cast to INTEGER
    // on both sides (Spark's grouping() is a byte, DuckDB's a BIGINT).
    "q111_corpus_profile" ->
      """SELECT lang, source,
        |  CAST(GROUPING(lang) AS INTEGER) AS g_lang,
        |  CAST(GROUPING(source) AS INTEGER) AS g_source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents
        |GROUP BY ROLLUP (lang, source)
        |ORDER BY g_lang, g_source, lang, source""".stripMargin,
    // q112: q105's rank replay filtered to the stored shards read back in
    // the query — the store is path infrastructure, the CONTENT is pinned
    // by the same HUGEINT key chain.
    "q112_shard_store" ->
      """WITH c AS (SELECT 6364136223846793005::HUGEINT AS a,
        |    18446744073709551616::HUGEINT AS m64,
        |    4294967296::HUGEINT AS m32),
        |s1 AS (SELECT doc_id,
        |    ((CAST(doc_id AS HUGEINT) + 42) * a) % m64 AS u1, a, m64, m32
        |  FROM documents, c),
        |s2 AS (SELECT doc_id,
        |    ((u1 % m32) * m32 + u1 // m32) AS u2, a, m64 FROM s1),
        |s3 AS (SELECT doc_id, (u2 * a) % m64 AS u3, m64 FROM s2),
        |k AS (SELECT doc_id,
        |    CAST(CASE WHEN u3 >= m64 // 2 THEN u3 - m64 ELSE u3 END AS BIGINT)
        |      AS shuffle_key FROM s3),
        |r AS (SELECT doc_id, shuffle_key,
        |    row_number() OVER (ORDER BY shuffle_key) - 1 AS rank FROM k)
        |SELECT doc_id, shuffle_key, CAST(rank AS BIGINT) AS rank,
        |  CAST(rank // 64 AS BIGINT) AS shard,
        |  CAST(rank % 64 AS BIGINT) AS pos_in_shard
        |FROM r WHERE rank // 64 IN (1, 3) ORDER BY rank""".stripMargin,
    // q113: the A-ES race replayed — the 60-bit coordinate, u in (0,1],
    // micro-arrival floor(-ln(u)/w·1e6 + .5) half-up (ln agreement at the
    // 1e-6 grain is the q108 micro-nat discipline), window rank per lang
    // with the key-string tiebreak.
    "q113_weighted_sample" ->
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ws1'), 1, 15))::BIGINT
        |      AS coord
        |  FROM documents),
        |a AS (SELECT doc_id, lang, n_chars,
        |    CAST(floor(-ln(CAST(coord + 1 AS DOUBLE) / 1152921504606846976.0)
        |      / CAST(n_chars AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS arrival
        |  FROM d),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |      ORDER BY arrival, CAST(doc_id AS VARCHAR)) AS rn FROM a)
        |SELECT doc_id, lang, n_chars, arrival FROM r WHERE rn <= 25
        |ORDER BY doc_id""".stripMargin,
    // q114: the exact halves replay; the sketch halves reduce to witness
    // booleans the oracle pins TRUE (sketch internals are engine-specific;
    // their being within tolerance of the exact answer is the contract).
    "q114_scale_profile" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_texts,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
        |  TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p90_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // q115: the full composition — q113's A-ES winner CTE feeds q110's
    // mixture → copies → uid → HUGEINT shuffle-key → rank → shard chain,
    // with the mixture masses solved over the SAMPLE, not the corpus.
    "q115_curated_layout" ->
      """WITH dd AS (SELECT doc_id, lang, n_chars,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':cur1'), 1, 15))::BIGINT
        |      AS coord
        |  FROM documents),
        |aa AS (SELECT doc_id, lang, n_chars,
        |    CAST(floor(-ln(CAST(coord + 1 AS DOUBLE) / 1152921504606846976.0)
        |      / CAST(n_chars AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS arrival
        |  FROM dd),
        |ws AS (SELECT doc_id, lang, n_chars FROM (
        |    SELECT *, row_number() OVER (PARTITION BY lang
        |        ORDER BY arrival, CAST(doc_id AS VARCHAR)) AS rn FROM aa)
        |  WHERE rn <= 80),
        |stats AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS mass
        |    FROM ws GROUP BY lang),
        |p AS (SELECT lang, mass, pow(CAST(mass AS DOUBLE), 0.5) AS pp
        |    FROM stats),
        |z AS (SELECT SUM(pp) AS z FROM p),
        |w AS (SELECT lang, round(300000 * (pp / z) / mass, 6) AS weight
        |    FROM p, z),
        |d AS (SELECT ws.doc_id, ws.lang, weight,
        |    ('0x' || substring(md5(CAST(ws.doc_id AS VARCHAR) || ':mix2'), 1, 15))::BIGINT
        |      AS coord
        |  FROM ws JOIN w ON ws.lang = w.lang),
        |c AS (SELECT doc_id,
        |    CAST(floor(weight) AS BIGINT)
        |      + CASE WHEN coord <
        |          CAST(floor((weight - floor(weight)) * 1152921504606846976e0) AS BIGINT)
        |        THEN 1 ELSE 0 END AS copies
        |  FROM d),
        |u AS (SELECT doc_id * 8
        |    + CAST(unnest(generate_series(0, CAST(copies AS BIGINT) - 1)) AS BIGINT)
        |    AS uid FROM c WHERE copies > 0),
        |k0 AS (SELECT 6364136223846793005::HUGEINT AS a,
        |    18446744073709551616::HUGEINT AS m64,
        |    4294967296::HUGEINT AS m32),
        |s1 AS (SELECT uid, ((CAST(uid AS HUGEINT) + 11) * a) % m64 AS u1,
        |    a, m64, m32 FROM u, k0),
        |s2 AS (SELECT uid, ((u1 % m32) * m32 + u1 // m32) AS u2, a, m64 FROM s1),
        |s3 AS (SELECT uid, (u2 * a) % m64 AS u3, m64 FROM s2),
        |k AS (SELECT uid,
        |    CAST(CASE WHEN u3 >= m64 // 2 THEN u3 - m64 ELSE u3 END AS BIGINT)
        |      AS shuffle_key FROM s3),
        |r AS (SELECT uid, shuffle_key,
        |    row_number() OVER (ORDER BY shuffle_key) - 1 AS rank FROM k)
        |SELECT CAST(uid // 8 AS BIGINT) AS doc_id,
        |  CAST(uid % 8 AS BIGINT) AS epoch, shuffle_key,
        |  CAST(rank AS BIGINT) AS rank,
        |  CAST(rank // 64 AS BIGINT) AS shard,
        |  CAST(rank % 64 AS BIGINT) AS pos_in_shard
        |FROM r ORDER BY rank""".stripMargin,
    // q102: the composed last mile — q101's id-chain replay feeds q98's
    // list-slice window replay. Two guards make both fixed range() caps
    // LOUD: 3950 words in, 4800 ids out (200 windows × stride 24). An
    // id-less doc still emits one empty window: string_split('', ' ') is
    // [''] on both engines, so n=1 and window 0 exists — engine parity.
    "q102_training_windows" ->
      s"""WITH d AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |      x -> x <> '') AS tk FROM documents),
         |guard AS (SELECT CASE WHEN max(len(tk)) > 3950
         |    THEN error('q102 oracle: document exceeds the 3950-token range cap')
         |    ELSE 0 END AS g FROM d),
         |nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 4000) t(i)),
         |w AS (SELECT doc_id, i, tk[i] AS word FROM d JOIN nums ON i <= len(tk)),
         |enc AS (SELECT doc_id, i, trim($q101IdChain) AS ids FROM w),
         |agg AS (SELECT doc_id, string_agg(ids, ' ' ORDER BY i) AS token_ids
         |  FROM enc GROUP BY 1),
         |t2 AS (SELECT d.doc_id,
         |    string_split(coalesce(agg.token_ids, ''), ' ') AS ws
         |  FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id),
         |guard2 AS (SELECT CASE WHEN max(len(ws)) > 4800
         |    THEN error('q102 oracle: id sequence exceeds the 4800-id window cap')
         |    ELSE 0 END AS g FROM t2),
         |win AS (SELECT doc_id, CAST(j AS INT) AS win_idx,
         |    CAST(j * 24 AS INT) AS start_tok,
         |    CAST(least(j * 24 + 32, len(ws)) AS INT) AS end_tok,
         |    array_to_string(ws[j*24+1 : j*24+32], ' ') AS win_text
         |  FROM t2, range(0, 200) t(j) WHERE j * 24 < len(ws))
         |SELECT win.* FROM win, guard, guard2
         |WHERE guard.g = 0 AND guard2.g = 0
         |ORDER BY doc_id, win_idx""".stripMargin,
    // q101: q90's segmentation replay extended by the generated id chain
    // (see q101IdChain) — subwords become vocab ids in SQL, aggregated in
    // word order; the guard makes the fixed range() word cap LOUD.
    "q101_bpe_encode" ->
      s"""WITH d AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |      x -> x <> '') AS tk FROM documents),
         |guard AS (SELECT CASE WHEN max(len(tk)) > 3950
         |    THEN error('q101 oracle: document exceeds the 3950-token range cap')
         |    ELSE 0 END AS g FROM d),
         |nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 4000) t(i)),
         |w AS (SELECT doc_id, i, tk[i] AS word FROM d JOIN nums ON i <= len(tk)),
         |enc AS (SELECT doc_id, i, trim($q101IdChain) AS ids FROM w),
         |agg AS (SELECT doc_id,
         |    CAST(sum(len(string_split(ids, ' '))) AS BIGINT) AS n,
         |    string_agg(ids, ' ' ORDER BY i) AS token_ids
         |  FROM enc GROUP BY 1)
         |SELECT d.doc_id, coalesce(agg.n, 0) AS n_bpe_tokens,
         |  coalesce(agg.token_ids, '') AS token_ids
         |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
         |CROSS JOIN guard WHERE guard.g = 0
         |ORDER BY d.doc_id""".stripMargin,
    "q90_bpe_tokenize" ->
      s"""WITH d AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |      x -> x <> '') AS tk FROM documents),
         |w AS (SELECT doc_id, unnest(tk) AS word FROM d),
         |enc AS (SELECT doc_id,
         |    CAST(len(string_split(trim($q90ReplaceChain), ' ')) AS BIGINT)
         |      AS ntok FROM w),
         |agg AS (SELECT doc_id, CAST(sum(ntok) AS BIGINT) AS n_bpe
         |  FROM enc GROUP BY 1)
         |SELECT d.doc_id, CAST(len(d.tk) AS BIGINT) AS n_words,
         |  coalesce(agg.n_bpe, 0) AS n_bpe_tokens
         |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // q91: q75's oracle VERBATIM — the indexed seek path must compute the
    // identical relation as the sequential archive parse.
    "q91_warc_indexed" ->
      """SELECT doc_id, 1700000000 + doc_id AS ts_epoch,
        | CAST(n_chars AS BIGINT) AS n_chars_extracted,
        | CAST(length(list_filter(string_split_regex(text, '[ \n\t\f]'), x -> x <> '')) AS BIGINT) AS n_tokens,
        | sha256(text) AS text_sha256
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q92: keepFirstBy keeps min(doc_id) per declared canonical group —
    // exactly the grouped min, no contiguity assumption.
    "q92_canonical_dedup" ->
      """SELECT min(doc_id) AS doc_id,
        |  'https://docs.example.com/c/' || g AS canonical
        |FROM (SELECT doc_id, doc_id - doc_id % 3 AS g FROM documents)
        |GROUP BY g ORDER BY doc_id""".stripMargin,
    // q93: the 4-heading outline unrolled — push (h1), nest (h2, h3), pop
    // to a sibling h2; paths concatenate the live ancestor stack.
    "q93_heading_outline" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |o AS (
        |  SELECT doc_id, CAST(0 AS INT) AS seq, CAST(1 AS INT) AS level,
        |    'Part ' || (doc_id % 3) AS heading,
        |    'Part ' || (doc_id % 3) AS path FROM ids
        |  UNION ALL SELECT doc_id, CAST(1 AS INT), CAST(2 AS INT),
        |    'Chapter ' || (doc_id % 5),
        |    'Part ' || (doc_id % 3) || ' > Chapter ' || (doc_id % 5) FROM ids
        |  UNION ALL SELECT doc_id, CAST(2 AS INT), CAST(3 AS INT),
        |    'Section ' || (doc_id % 7),
        |    'Part ' || (doc_id % 3) || ' > Chapter ' || (doc_id % 5)
        |      || ' > Section ' || (doc_id % 7) FROM ids
        |  UNION ALL SELECT doc_id, CAST(3 AS INT), CAST(2 AS INT),
        |    'Chapter ' || ((doc_id + 1) % 5),
        |    'Part ' || (doc_id % 3) || ' > Chapter ' || ((doc_id + 1) % 5) FROM ids)
        |SELECT * FROM o ORDER BY doc_id, seq""".stripMargin,
    // q94: in-link counts from the q79 edge lattice, robots verdicts as
    // doc_id arithmetic (q88's derivation on site hosts, k ≡ 4 mod 5
    // rowless), per-host top-2 window — all integer-exact.
    "q94_crawl_planner" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |e AS (
        |  SELECT 'src' || (doc_id % 11) || '.example' AS dst FROM d
        |  UNION ALL SELECT 'site' || ((doc_id + 1) % 23) || '.example' FROM d
        |  UNION ALL SELECT 'site' || ((2 * doc_id + 5) % 23) || '.example' FROM d),
        |il AS (SELECT dst AS host, CAST(count(*) AS BIGINT) AS in_links
        |  FROM e GROUP BY 1),
        |f AS (SELECT doc_id, doc_id % 23 AS k, doc_id % 4 AS p,
        |    'https://site' || (doc_id % 23) || '.example/p' || (doc_id % 4)
        |      || '/page' || doc_id AS url FROM d),
        |a AS (SELECT doc_id, k, url,
        |    CASE WHEN k % 5 = 4 THEN TRUE
        |         WHEN k % 2 = 0 THEN (p <> k % 4) OR (doc_id % 10 = 0)
        |         ELSE p = 0 OR p = 2
        |           OR (p = 3 AND CAST(doc_id AS VARCHAR) LIKE '1%') END AS ok
        |  FROM f),
        |r AS (SELECT 'site' || k || '.example' AS host, doc_id, url,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY doc_id) AS INT)
        |      AS fetch_rank
        |  FROM a WHERE ok)
        |SELECT r.host AS host, r.doc_id, r.url,
        |  coalesce(il.in_links, 0) AS in_links, fetch_rank
        |FROM r LEFT JOIN il ON r.host = il.host
        |WHERE fetch_rank <= 2 ORDER BY r.host, fetch_rank""".stripMargin,
    // q96: both planted strings and their repairs are closed-form in
    // doc_id. The mojibake plant is UTF-8 bytes misdecoded as CP1252
    // (é→Ã©, °→Â°, “→â€œ, ”→â€+U+009D); the repair round-trip recovers
    // the clean text, so the oracle states the clean text directly. The
    // genuinely-accented control string must come through untouched.
    "q96_fix_mojibake" ->
      """SELECT doc_id,
        |  'café n°' || (doc_id % 7) || ' “quote”' AS fixed_mojibake,
        |  'résumé ' || (doc_id % 5) AS fixed_clean,
        |  TRUE AS repaired_mojibake,
        |  FALSE AS repaired_clean
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q98: the window lattice replayed with DuckDB list slicing (1-based
    // inclusive, auto-clamped — same semantics as Spark's slice). range
    // cap 200 windows covers 4700 tokens at stride 24; the guard fails
    // LOUDLY if a document ever exceeds it instead of silently dropping
    // windows.
    "q98_context_windows" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |guard AS (SELECT CASE WHEN max(len(ws)) > 4700
        |    THEN error('q98 oracle: document exceeds the 4700-token range cap')
        |    ELSE 0 END AS g FROM d),
        |w AS (SELECT doc_id, CAST(j AS INT) AS win_idx,
        |    CAST(j * 24 AS INT) AS start_tok,
        |    CAST(least(j * 24 + 32, len(ws)) AS INT) AS end_tok,
        |    array_to_string(ws[j*24+1 : j*24+32], ' ') AS win_text
        |  FROM d, range(0, 200) t(j) WHERE j * 24 < len(ws))
        |SELECT doc_id, win_idx, start_tok, end_tok, win_text
        |FROM w, guard WHERE guard.g = 0
        |ORDER BY doc_id, win_idx""".stripMargin,
    // q97: rebuild the planted dirty string with chr() and replay the
    // normalization rules with DuckDB's own Unicode machinery —
    // nfc_normalize for composition, RE2 classes for the strips. Two
    // independent Unicode implementations must agree byte-for-byte.
    "q97_normalize_text" ->
      """WITH d AS (SELECT doc_id,
        |  'Cafe' || chr(769) || ' ' || (doc_id % 9) || chr(13) || chr(10) ||
        |  'zero' || chr(8203) || 'width' || chr(173) || 'soft' || chr(8288) ||
        |  'join' || chr(65279) || ' tab' || chr(9) || 'keep' || chr(7) || 'bell' ||
        |  chr(133) || 'nel' || chr(13) || 'cr' || chr(12) || 'ff' AS dirty
        |  FROM documents),
        |n AS (SELECT doc_id, dirty,
        |  nfc_normalize(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(dirty, '\r\n?|\f', chr(10), 'g'),
        |        '[\x{200B}\x{00AD}\x{2060}\x{FEFF}]', '', 'g'),
        |      '[\x{0000}-\x{0008}\x{000B}\x{000E}-\x{001F}\x{007F}-\x{009F}]', '', 'g')) AS clean_text
        |  FROM d)
        |SELECT doc_id, clean_text,
        |  CAST(length(dirty) - length(clean_text) AS INT) AS removed,
        |  clean_text <> dirty AS changed
        |FROM n ORDER BY doc_id""".stripMargin,
    // q100: the index probe's exactness claim (q17's banding argument)
    // means the oracle can enumerate the TRUE exact >=0.85 pair set
    // between the batch and the historical corpus with an all-pairs
    // 3-gram Jaccard in SQL — identical gram machinery to q17/q19.
    "q100_neardup_index" ->
      """WITH h AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 200),
        |b AS (SELECT doc_id + 1000000 AS id, text FROM documents WHERE doc_id < 50
        |      UNION ALL
        |      SELECT doc_id + 2000000, text FROM documents
        |      WHERE doc_id >= 300 AND doc_id < 350),
        |nums AS (SELECT CAST(i AS INT) AS i FROM range(1, 300) t(i)),
        |wh AS (SELECT id, string_split(text, ' ') AS ws FROM h),
        |wb AS (SELECT id, string_split(text, ' ') AS ws FROM b),
        |gh AS (SELECT DISTINCT id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS gr
        |       FROM wh JOIN nums ON i <= len(ws) - 2),
        |gb AS (SELECT DISTINCT id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS gr
        |       FROM wb JOIN nums ON i <= len(ws) - 2),
        |ch AS (SELECT id, count(*) AS n FROM gh GROUP BY 1),
        |cb AS (SELECT id, count(*) AS n FROM gb GROUP BY 1),
        |inter AS (SELECT gb.id AS a, gh.id AS b, count(*) AS ni
        |          FROM gb JOIN gh ON gb.gr = gh.gr GROUP BY 1, 2),
        |j AS (SELECT a, b, ni * 1.0 / (cb.n + ch.n - ni) AS jac
        |      FROM inter JOIN cb ON cb.id = a JOIN ch ON ch.id = b)
        |SELECT a AS batch_id, b AS hist_id, round(jac, 6) AS jaccard
        |FROM j WHERE jac >= 0.85 ORDER BY 1, 2""".stripMargin,
    // q99: rebuild the planted multi-script string and count each script
    // with RE2's independent \p{Script} tables (DuckDB regexp_* are RE2);
    // the JVM side counts with java.lang.Character.UnicodeScript — two
    // independent Unicode implementations must agree on every code point.
    // Confusable words are recomputed generically (token matches BOTH
    // \p{Latin} and \p{Cyrillic}), not from the plant's closed form.
    "q99_script_mix" ->
      """WITH p AS (SELECT doc_id,
        |  'The quick brown fox '
        |  || CASE WHEN doc_id % 2 = 0 THEN 'привет мир ' ELSE '' END
        |  || CASE WHEN doc_id % 3 = 0 THEN 'Ελλάδα ' ELSE '' END
        |  || CASE WHEN doc_id % 5 = 0 THEN '漢字文化 ' ELSE '' END
        |  || CASE WHEN doc_id % 7 = 0 THEN 'مرحبا ' ELSE '' END
        |  || CASE WHEN doc_id % 11 = 0 THEN '한국어 ' ELSE '' END
        |  || CASE WHEN doc_id % 13 = 0 THEN 'ひらがなカタカナ ' ELSE '' END
        |  || CASE WHEN doc_id % 9 = 0 THEN repeat('привет', 5) || ' ' ELSE '' END
        |  || CASE WHEN doc_id % 4 = 0 THEN 'pаypal advert ' ELSE '' END
        |  || 'num ' || (doc_id % 100) AS s
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  length(regexp_replace(s, '[^\p{Latin}]', '', 'g')) AS latin,
        |  length(regexp_replace(s, '[^\p{Cyrillic}]', '', 'g')) AS cyrillic,
        |  length(regexp_replace(s, '[^\p{Greek}]', '', 'g')) AS greek,
        |  length(regexp_replace(s, '[^\p{Han}]', '', 'g')) AS han,
        |  length(regexp_replace(s, '[^\p{Arabic}]', '', 'g')) AS arabic,
        |  length(regexp_replace(s, '[^\p{Hangul}]', '', 'g')) AS hangul,
        |  length(regexp_replace(s, '[^\p{Hiragana}\p{Katakana}]', '', 'g')) AS kana,
        |  length(regexp_replace(s, '[^0-9]', '', 'g')) AS digits,
        |  len(list_filter(regexp_split_to_array(s, '\s+'),
        |    t -> regexp_matches(t, '\p{Latin}')
        |     AND regexp_matches(t, '\p{Cyrillic}'))) AS confusable_words
        |  FROM p)
        |SELECT doc_id, latin, cyrillic, greek, han, arabic, hangul, kana,
        |  digits, CAST(confusable_words AS BIGINT) AS confusable_words,
        |  CASE
        |    WHEN latin+cyrillic+greek+han+arabic+hangul+kana = 0 THEN 'none'
        |    WHEN latin >= greatest(cyrillic, greek, han, arabic, hangul, kana) THEN 'latin'
        |    WHEN cyrillic >= greatest(greek, han, arabic, hangul, kana) THEN 'cyrillic'
        |    WHEN greek >= greatest(han, arabic, hangul, kana) THEN 'greek'
        |    WHEN han >= greatest(arabic, hangul, kana) THEN 'han'
        |    WHEN arabic >= greatest(hangul, kana) THEN 'arabic'
        |    WHEN hangul >= kana THEN 'hangul'
        |    ELSE 'kana' END AS dominant
        |FROM c ORDER BY doc_id""".stripMargin,
  )
}
