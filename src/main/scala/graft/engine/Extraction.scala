package graft.engine

import graft.core._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The flagship inference pipeline (SURVEY §3.1 re-expressed Spark-first):
  *
  *   scan → [narrow] html-strip → tokenize → featurize/score → merge → emit
  *
  * One shuffle-free `mapPartitions` chain: spans stay nested per document
  * row, so the plan is a single WholeStage-friendly narrow pipeline whatever
  * the cluster size — the key property for 10^12-row scale (per-document
  * work is embarrassingly parallel; no exchange until an explicit
  * evaluation/dedup join needs one).
  */
object Extraction {

  private val sha256Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256") // getInstance has JCA lock contention
  }
  private val hexTable = "0123456789abcdef".toCharArray

  def sha256Hex(s: String): String = {
    val md = sha256Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = hexTable((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexTable(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** "12,34 %" arrives as two whitespace tokens; when an amount span is
    * followed (gap ≤ 1 space, same line) by a bare '%' token, relabel the
    * combined interval as a percentage iff it still normalizes — the M2
    * type-preserving rule applied across the token boundary.
    */
  private[engine] def attachPercentSignsPacked(
      text: String, packed: Array[Long], scored: Vector[Scorer.Scored]): Vector[Scorer.Scored] = {
    if (scored.isEmpty) return scored
    // '%'-only tokens by start offset (rare; tiny map)
    var pctStarts: Map[Int, Int] = null
    var i = 0
    while (i < packed.length) {
      val s = (packed(i) >>> 32).toInt; val e = (packed(i) & 0xffffffffL).toInt
      if (e - s == 1 && text.charAt(s) == '%') {
        if (pctStarts == null) pctStarts = Map.empty
        pctStarts = pctStarts.updated(s, e)
      }
      i += 1
    }
    if (pctStarts == null) return scored
    val pcts = pctStarts
    scored.map { sc =>
      if (sc.label == "amount" || sc.label == "number") {
        val adjacent = pcts.get(sc.span.end) // "12,34%" handled by scorer; this is "12,34 %"
        val gapped = if (sc.span.end < text.length && text.charAt(sc.span.end) == ' ')
          pcts.get(sc.span.end + 1) else None
        adjacent.orElse(gapped).flatMap { pctEnd =>
          val slice = text.substring(sc.span.start, pctEnd)
          Normalize.normalizeToPercentage(slice).map(v =>
            Scorer.Scored(Span(sc.span.start, pctEnd), "percent", sc.confidence, v.toString))
        }.getOrElse(sc)
      } else sc
    }
  }

  private val multilineLabels: Set[String] =
    Labels.all.filter(_.multiline).map(_.name).toSet

  /** M4 vertical merge in the flagship path (information_extraction.py:
    * 3398-3408): for multiline-capable labels, stack extractions whose line
    * boxes overlap in x with no foreign non-space character in the union
    * box. Char boxes are built lazily and only when a document actually has
    * >= 2 extractions of a multiline label — the common document pays
    * nothing (hot-path discipline).
    *
    * A merged annotation keeps its PER-LINE member spans (the reference's
    * multi-span Annotation): each member becomes one output row with its own
    * interval and slice, the shared merged confidence, and the joined
    * member text as the annotation-level normalized value. The flat hull
    * interval would include foreign inter-line content and violate the
    * single-line Span contract.
    */
  private[engine] def mergeVerticalForMultiline(
      text: String, merged: Vector[Scorer.Scored]): Vector[(Scorer.Scored, Vector[Span])] = {
    def passthrough = merged.map(m => (m, Vector(m.span)))
    if (multilineLabels.isEmpty) return passthrough
    var mlCount = 0
    merged.foreach(m => if (multilineLabels.contains(m.label)) mlCount += 1)
    if (mlCount < 2) return passthrough
    val (ml, rest) = merged.partition(m => multilineLabels.contains(m.label))
    // Exact allocation-free precheck: a vertical merge needs two same-label
    // rows on DIFFERENT lines whose grid x-intervals intersect — and since
    // rows only merge when they already x-overlap, the grown union hull
    // equals the interval union, so the pairwise test is exact (no false
    // negatives). Only documents that pass pay the char-box construction.
    val lineOf = new Array[Int](ml.length)
    val colS = new Array[Int](ml.length)
    val colE = new Array[Int](ml.length)
    var lineStart = 0
    var line = 0
    var prevOff = 0
    // mergeHorizontal returns rows sorted by (start, end, label), and
    // partition preserves order — ml is already start-sorted
    var i = 0
    while (i < ml.length) {
      val sp = ml(i).span
      var p = prevOff
      while (p < sp.start) {
        val c = text.charAt(p)
        if (c == '\n' || c == '\f') { line += 1; lineStart = p + 1 }
        p += 1
      }
      prevOff = sp.start
      lineOf(i) = line
      colS(i) = sp.start - lineStart
      colE(i) = sp.end - lineStart
      i += 1
    }
    var couldMerge = false
    var a = 0
    while (!couldMerge && a < ml.length) {
      var b = a + 1
      while (!couldMerge && b < ml.length) {
        if (ml(a).label == ml(b).label && lineOf(a) != lineOf(b) &&
            colS(a) <= colE(b) && colS(b) <= colE(a)) couldMerge = true
        b += 1
      }
      a += 1
    }
    if (!couldMerge) return passthrough
    val vertical = Merge.mergeVertical(text, Geometry.syntheticGrid(text), ml)
    (rest.map(m => (m, Vector(m.span))) ++ vertical)
      .sortBy { case (r, _) => (r.span.start, r.span.end, r.label) }
  }

  /** The page's text: the pre-extracted `text` when present (the
    * reference-parity path), else the html-stripped markup, else "".
    */
  private def resolveText(row: PageRow): String =
    if (row.text != null && row.text.nonEmpty) row.text
    else if (row.html != null && row.html.nonEmpty) graft.functions.StringKernels.htmlText(row.html)
    else ""

  /** The labels of a text whose whitespace tokens are `packed`: score →
    * percent-attach → horizontal merge → vertical merge → emit. A vertically
    * merged (multi-span) annotation emits one row per member line span —
    * text is the member's own slice, normalized is the annotation-level
    * value (the joined text for merges).
    */
  private def labelsOf(text: String, packed: Array[Long]): Array[LabeledSpan] = {
    val scored = attachPercentSignsPacked(text, packed, Scorer.scorePacked(text, packed))
    val merged = mergeVerticalForMultiline(text, Merge.mergeHorizontal(text, scored))
    merged.iterator.flatMap { case (m, memberSpans) =>
      memberSpans.iterator.map(sp =>
        LabeledSpan(m.label, sp.start, sp.end,
          text.substring(sp.start, sp.end), m.confidence, m.normalized))
    }.toArray
  }

  /** Extract one page row — pure function, the unit of determinism: the
    * output depends only on the row's bytes (byte-identical per url across
    * runs and parallelism levels).
    */
  def extractOne(row: PageRow): ExtractedDoc = {
    val text = resolveText(row)
    val packed = Rx.whitespaceTokensPacked(text)
    val spanArr = new Array[SpanT](packed.length)
    var si = 0
    while (si < packed.length) {
      val p = packed(si)
      spanArr(si) = SpanT((p >>> 32).toInt, (p & 0xffffffffL).toInt)
      si += 1
    }
    ExtractedDoc(
      url = row.url,
      extracted_text = text,
      spans = spanArr,
      labels = labelsOf(text, packed),
      lang = if (row.lang != null && row.lang.nonEmpty) row.lang else LangId.detect(text),
      n_tokens = packed.length,
      text_sha256 = sha256Hex(text),
      simhash = Fingerprint.simhash64(text),
    )
  }

  /** The (extracted_text, n_tokens, text_sha256) projection of
    * [[extractOne]], row by row: the reference the column form is checked
    * against, and perfbench's `text_stats` kernel. Queries do not call it —
    * they compute the same stats as plan columns (`graft_html_text`,
    * `graft_token_count`, `sha2`), which Catalyst prunes to the ones they
    * read. Agreement with [[extractOne]] and with the column form is
    * spec-pinned (ExtractionSpec).
    */
  def extractTextStats(row: PageRow): (String, Int, String) = {
    val text = resolveText(row)
    (text, Rx.whitespaceTokenCount(text), sha256Hex(text))
  }

  /** The `labels` projection of [[extractOne]] over a pre-extracted text —
    * extractOne's own tokenize → label chain, skipping the
    * sha/simhash/langid fingerprint kernels and the span-array
    * materialization that label-only consumers (q24) drop. Field-for-field
    * agreement with [[extractOne]].labels is spec-pinned (ExtractionSpec).
    */
  def extractLabelsOnly(text: String): Array[LabeledSpan] =
    labelsOf(text, Rx.whitespaceTokensPacked(text))

  /** Typed pipeline: Dataset[PageRow] → Dataset[ExtractedDoc], zero shuffle. */
  def extract(pages: Dataset[PageRow]): Dataset[ExtractedDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions(_.map(extractOne))
  }

  /** Synthesize the input corpus as a Dataset — deterministic per index, so
    * any partitioning yields the same rows (used by tests and benches; at
    * production scale this is replaced by the Iceberg/parquet scan).
    */
  def syntheticPages(spark: SparkSession, n: Long, partitions: Int): Dataset[PageRow] = {
    import spark.implicits._
    spark.range(0L, n, 1L, partitions).mapPartitions(_.map { i =>
      val p = graft.corpus.WebCorpus.page(i)
      PageRow(p.url, p.warc_ts, p.html, p.text, p.lang)
    })
  }

  /** DataFrame view of the extraction output for the SQL surface. */
  def extractDF(spark: SparkSession, n: Long, partitions: Int): DataFrame =
    extract(syntheticPages(spark, n, partitions)).toDF()
}
