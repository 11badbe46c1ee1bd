package graft.core

import java.util.regex.{Matcher, Pattern}

/** Training-time regex induction: learn tokenizer patterns from annotated
  * examples. Behavior mirrors konfuzio_sdk/regex.py:12-150 and the
  * Annotation.tokens flow (konfuzio_sdk/data.py:1466-1482) — the suggested
  * pattern strings are a byte-for-byte contract (they carry downstream group
  * names).
  */
object RegexGen {

  /** Custom escape set (regex.py:25-48). */
  def escape(s: String): String =
    s.replace("\\", "\\\\")
      .replace("[", "\\[").replace("]", "\\]")
      .replace("+", "[\\+]").replace("*", "\\*").replace("|", "\\|")
      .replace("-", "[-]").replace(".", "\\.").replace("$", "\\$")
      .replace("(", "\\(").replace(")", "\\)").replace("@", "\\@")
      .replace("?", "\\?").replace("!", "\\!").replace(",", "\\,")
      .replace("#", "\\#").replace("{", "\\{").replace("}", "\\}")

  private val singleSpace = Pattern.compile("(?<! ) (?! )")
  private val multiSpace = Pattern.compile(" {2,}")

  /** Single space → `[ ]+`, runs → `[ ]{2,}` (regex.py:18-22). */
  def harmonizeWhitespaces(s: String): String = {
    val first = singleSpace.matcher(s).replaceAll(Matcher.quoteReplacement("[ ]+"))
    multiSpace.matcher(first).replaceAll(Matcher.quoteReplacement("[ ]{2,}"))
  }

  private val capLetter = Pattern.compile("[A-ZÄÖÜ]")
  private val capRun = Pattern.compile("(\\[A-ZÄÖÜ\\]){2,}")
  private val lowLetter = Pattern.compile("[a-zäöüß]")
  private val lowRun = Pattern.compile("(\\[a-zäöüß\\]){2,}")
  private val digit = Pattern.compile("\\d")

  /** Generalize a literal string into a candidate pattern (regex.py:80-101).
    * `replaceCharacters` buckets letters into class runs; `replaceNumbers`
    * maps each digit to `\d`; whitespace is harmonized; the result is
    * plausibility-checked against the source string (must still match).
    */
  def suggestRegexForString(
      s: String,
      replaceCharacters: Boolean = false,
      replaceNumbers: Boolean = true,
  ): String = {
    var r = escape(s)
    if (replaceCharacters) {
      r = capLetter.matcher(r).replaceAll(Matcher.quoteReplacement("[A-ZÄÖÜ]"))
      r = capRun.matcher(r).replaceAll(Matcher.quoteReplacement("[A-ZÄÖÜ]+"))
      r = lowLetter.matcher(r).replaceAll(Matcher.quoteReplacement("[a-zäöüß]"))
      r = lowRun.matcher(r).replaceAll(Matcher.quoteReplacement("[a-zäöüß]+"))
    }
    if (replaceNumbers) r = digit.matcher(r).replaceAll(Matcher.quoteReplacement("\\d"))
    plausibleRegex(harmonizeWhitespaces(r), s)
  }

  /** Compile + must-match-source check; empty string on failure (regex.py:51-77). */
  def plausibleRegex(suggestion: String, source: String): String =
    try {
      val cp = CompiledPattern.compile(suggestion)
      if (cp.pattern.matcher(source).find()) suggestion else ""
    } catch { case _: Exception => "" }

  /** The three candidate tokens per annotated span (data.py:1466-1482):
    * W = whitespace-harmonized literal (quality 0), N = digits generalized
    * (quality 1), F = fully generalized (quality 2). Group name encodes
    * provenance: `Label_{labelId}_{W|N|F}_{annId}_{start}`.
    */
  final case class Token(regex: String, quality: Int)

  def annotationTokens(offsetString: String, labelId: Long, annotationId: Long, start: Int): Vector[Token] = {
    val w = suggestRegexForString(offsetString, replaceNumbers = false)
    val nRep = suggestRegexForString(offsetString)
    val f = suggestRegexForString(offsetString, replaceCharacters = true)
    Vector(
      Token(s"(?P<Label_${labelId}_W_${annotationId}_$start>$w)", 0),
      Token(s"(?P<Label_${labelId}_N_${annotationId}_$start>$nRep)", 1),
      Token(s"(?P<Label_${labelId}_F_${annotationId}_$start>$f)", 2),
    )
  }

  private val groupNamePart = Pattern.compile("<.*?>")

  /** Matcher identity with group names stripped — the dedup key used before
    * expensive evaluation (data.py:1450-1464, 2240-2243).
    */
  def normalizedMatcher(regex: String): String =
    groupNamePart.matcher(regex).replaceAll("")

  /** R10: context-window regex proposals around an annotated interval
    * (data.py:2217-2255): for each spacer in `search`, a fully-generalized
    * prefix pattern of `spacer²` chars before + the annotation pattern +
    * `spacer` chars after; deduped by stripped matcher.
    */
  def contextProposals(
      text: String,
      start: Int,
      end: Int,
      annotationRegex: String,
      search: Seq[Int] = Seq(2, 5, 10),
      maxFindingsPerPage: Int = 100,
  ): Vector[String] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = Vector.newBuilder[String]
    // pages for the findings guard = form-feed count + 1 (data.py:2247)
    lazy val nPages = { var c = 1; var i = 0; while (i < text.length) { if (text.charAt(i) == '\f') c += 1; i += 1 }; c }
    search.foreach { spacer =>
      // Python-slice parity (data.py:2229-2231): text[start - spacer² :
      // start] with a negative begin resolves from the END of the text
      // (clamped to 0), and a resolved begin past `start` yields "" — NOT
      // a clamp-to-0 prefix. Annotations near the document head therefore
      // get an EMPTY before-context in long documents, like the reference.
      val rawBegin = start - spacer * spacer
      val begin = if (rawBegin < 0) math.max(0, text.length + rawBegin) else rawBegin
      val before = suggestRegexForString(
        if (begin < start) text.substring(begin, start) else "", replaceCharacters = true)
      val after = suggestRegexForString(
        text.substring(end, math.min(text.length, end + spacer)), replaceCharacters = true)
      val proposal = before + annotationRegex + after
      if (seen.add(normalizedMatcher(proposal))) {
        // max_findings_per_page guard (data.py:2244-2251): a degenerate
        // catch-all proposal is rejected before it reaches the expensive
        // corpus-wide evaluation stage
        if (maxFindingsPerPage <= 0 ||
            countFindings(text, proposal).toDouble / nPages < maxFindingsPerPage)
          out += proposal
      }
    }
    out.result()
  }

  /** Non-overlapping match count of `regex` in `text` (re.findall length). */
  private def countFindings(text: String, regex: String): Int = {
    try {
      val m = CompiledPattern.compile(regex).pattern.matcher(text)
      var c = 0
      while (m.find()) c += 1
      c
    } catch { case scala.util.control.NonFatal(_) => Int.MaxValue } // unmatchable proposal → reject
  }

  /** R12 `generic_candidate_function` (regex.py:247-291): split a text into
    * (candidates, otherText, candidateSpans) by one regex.
    */
  def candidateSplit(text: String, regex: String): (Vector[String], Vector[String], Vector[Span]) = {
    val ms = Rx.matches(text, CompiledPattern.compile(regex), keepFullMatch = false)
    val spans = ms.map(m => Span(m.start, m.end))
    val candidates = ms.map(_.value)
    val other = Vector.newBuilder[String]
    var prev = 0
    spans.foreach { sp =>
      // Python-slice semantics (regex.py:283-286): doctext[prev:start] with
      // prev > start yields "" — nested/overlapping capture groups emit
      // spans out of order and must degrade exactly like the reference,
      // not throw
      other += (if (sp.start <= prev) "" else text.substring(prev, sp.start))
      prev = sp.end
    }
    other += text.substring(prev)
    (candidates, other.result(), spans)
  }

  /** Per-(regex, document) evaluation (data.py:2257-2313): run the pattern
    * filtered to `Label_{id}` groups; a finding is correct when it matches a
    * ground-truth span exactly; precision/recall/F1 over findings.
    */
  final case class RegexDocEval(
      regex: String,
      totalFindings: Int,
      totalCorrectFindings: Int,
      correctAnnotationIds: Set[Long],
      annotationPrecision: Double,
      annotationRecall: Double,
      f1: Double,
      runtimeMs: Long,
  )

  def evaluateRegexOnDoc(
      text: String,
      regex: String,
      labelId: Long,
      groundTruth: Seq[(Long, Span)], // (annotationId, span) for this label
  ): RegexDocEval =
    evaluateRegexOnDoc(text, regex,
      try Some(CompiledPattern.compile(regex)) catch { case _: Exception => None },
      labelId, groundTruth)

  /** Pre-compiled variant — the R7 stage evaluates the same candidate bank
    * against every document, so callers compile the bank ONCE per partition
    * instead of paying a Python-dialect rewrite + Pattern.compile per
    * (doc, candidate) pair.
    */
  def evaluateRegexOnDoc(
      text: String,
      regex: String,
      compiled: Option[CompiledPattern],
      labelId: Long,
      groundTruth: Seq[(Long, Span)],
  ): RegexDocEval = {
    val t0 = System.nanoTime()
    val findings = compiled match {
      case None => Vector.empty
      case Some(cp) =>
        try Rx.matches(text, cp, keepFullMatch = false, filteredGroup = Some(s"Label_$labelId"))
        catch { case _: Exception => Vector.empty }
    }
    val runtime = (System.nanoTime() - t0) / 1000000
    val gtBySpan = groundTruth.groupBy(_._2)
    val correct = findings.flatMap(f => gtBySpan.getOrElse(Span(f.start, f.end), Nil))
    val nAnn = groundTruth.map(_._1).distinct.size
    val precision = if (findings.nonEmpty) correct.size.toDouble / findings.size else 0.0
    val recall = if (nAnn > 0) correct.size.toDouble / nAnn else 0.0
    val f1 = if (precision + recall > 0) 2 * precision * recall / (precision + recall) else 0.0
    RegexDocEval(regex, findings.size, correct.size, correct.map(_._1).toSet, precision, recall, f1, runtime)
  }

  /** Aggregated stats for one candidate regex over a category's documents
    * (data.py:688-768 flavor), input to the greedy cover.
    */
  final case class RegexStats(
      regex: String,
      totalCorrectFindings: Long,
      f1: Double,
      quality: Int,
      annotationPrecision: Double,
      runtime: Double,
      correctFindingIds: Set[Long],
  )

  /** Greedy set cover over sorted candidates (regex.py:104-150): sort by
    * (correct desc, f1 desc, quality desc, precision desc, runtime asc) and
    * keep every regex that matches at least one annotation no earlier regex
    * matched. Driver-side — stats are tiny after aggregation.
    */
  def bestRegex(stats: Seq[RegexStats]): Vector[String] = {
    val sorted = stats.filter(_.f1 > 0).sortBy(s =>
      (-s.totalCorrectFindings, -s.f1, -s.quality, -s.annotationPrecision, s.runtime))
    var seen = Set.empty[Long]
    val out = Vector.newBuilder[String]
    sorted.foreach { s =>
      val fresh = s.correctFindingIds.diff(seen)
      if (fresh.nonEmpty) { out += s.regex; seen = seen.union(s.correctFindingIds) }
    }
    out.result()
  }
}
