package graft.core

/** Atomic single-line character interval [start, end) into a document text.
  * Mirrors the reference Span contract (konfuzio_sdk/data.py:863-1098):
  * `offsetString = text.substring(start, end)`, ordering by start offset.
  */
final case class Span(start: Int, end: Int) {
  require(end >= start, s"Span end $end < start $start")
  def length: Int = end - start
  // max(starts) < min(ends): identical to the naive pairwise test except
  // for zero-length spans, which cover no offsets and so can never overlap
  // anything (the reference's offset-bitmask semantics — range(s, s) fills
  // nothing)
  def overlaps(other: Span): Boolean =
    math.max(start, other.start) < math.min(end, other.end)
  def contains(other: Span): Boolean = start <= other.start && other.end <= end
}

object Span {
  implicit val ordering: Ordering[Span] = Ordering.by(s => (s.start, s.end))
}

/** Page/line offset arithmetic over the `\f`-page / `\n`-line text contract
  * (konfuzio_sdk/data.py:1623-1630, 2159-2173, 910-928) and the annotated-gap
  * complement (konfuzio_sdk/utils.py:693-749).
  */
object TextOffsets {

  /** Page spans: pages are `\f`-delimited; offsets are cumulative with +1 for
    * the separator (data.py:2159-2173).
    */
  def pageSpans(text: String): Vector[Span] = {
    val out = Vector.newBuilder[Span]
    var start = 0
    var i = 0
    while (i <= text.length) {
      if (i == text.length || text.charAt(i) == '\f') {
        out += Span(start, i)
        start = i + 1
      }
      i += 1
    }
    out.result()
  }

  /** Line spans: `\n`-delimited, same cumulative arithmetic. */
  def lineSpans(text: String): Vector[Span] = {
    val out = Vector.newBuilder[Span]
    var start = 0
    var i = 0
    while (i <= text.length) {
      if (i == text.length || text.charAt(i) == '\n') {
        out += Span(start, i)
        start = i + 1
      }
      i += 1
    }
    out.result()
  }

  /** 0-based page of a char offset = number of `\f` before it (data.py:910-913). */
  def pageIndex(text: String, offset: Int): Int = {
    var i = 0; var n = 0
    val lim = math.min(offset, text.length)
    while (i < lim) { if (text.charAt(i) == '\f') n += 1; i += 1 }
    n
  }

  /** 0-based line of a char offset = number of `\n` before it (data.py:916-928). */
  def lineIndex(text: String, offset: Int): Int = {
    var i = 0; var n = 0
    val lim = math.min(offset, text.length)
    while (i < lim) { if (text.charAt(i) == '\n') n += 1; i += 1 }
    n
  }

  /** Complement of annotated ranges inside [start, end] — the NO_LABEL gap
    * walk. Semantics match konfuzio_sdk/utils.py:693-749 including its
    * boundary quirks (verified against the reference doctest):
    * missingOffsets(0, 170, [66..78, 159..169]) == [0..66, 78..159, 169..170].
    */
  def missingOffsets(start: Int, end: Int, annotated: Seq[Span]): Vector[Span] = {
    val size = end - start + 1
    if (size <= 0) return Vector.empty
    val covered = new Array[Boolean](size)
    annotated.foreach { sp =>
      var c = sp.start
      while (c < sp.end) {
        if (c >= start && c <= end) covered(c - start) = true
        c += 1
      }
    }
    val missing = (0 until size).collect { case x if !covered(x) => start + x }.toArray
    if (missing.isEmpty) return Vector.empty
    val spans = Vector.newBuilder[Span]
    var startSpan = 0
    var i = 0
    // pairwise walk over (before, missingChar) — ported control flow
    while (i < missing.length - 1) {
      val before = missing(i)
      val missingChar = missing(i + 1)
      if (before == start) startSpan = before
      else if (before == missing(0) && before + 1 == missingChar) startSpan = before
      else if (before == missing(0) && before + 1 < missingChar) spans += Span(before, before + 1)
      else if (before + 1 < missingChar && startSpan < before) { spans += Span(startSpan, before + 1); startSpan = missingChar }
      else if (before + 1 < missingChar && startSpan == before) { spans += Span(startSpan, before + 1); startSpan = missingChar }
      else if (missingChar == end) spans += Span(startSpan, missingChar)
      else if (missingChar == missing(missing.length - 1)) spans += Span(startSpan, missingChar + 1)
      i += 1
    }
    spans.result()
  }

  /** F4: clamp a span to a page's bounds (Page.annotations/Page.spans,
    * data.py:188-231); None when the span lies outside the page.
    */
  def clampToPage(span: Span, page: Span): Option[Span] = {
    val s = math.max(span.start, page.start)
    val e = math.min(span.end, page.end)
    if (e > s) Some(Span(s, e)) else None
  }

  /** Split a [start,end) interval at line/page boundaries so that no emitted
    * span crosses `\n` or `\f` (the reference Span invariant, data.py:924-925;
    * fill-gap splitting in data.py:1815-1843).
    */
  def splitAtLineBreaks(text: String, start: Int, end: Int): Vector[Span] = {
    val out = Vector.newBuilder[Span]
    var s = start
    var i = start
    while (i < end) {
      val c = text.charAt(i)
      if (c == '\n' || c == '\f') {
        if (i > s) out += Span(s, i)
        s = i + 1
      }
      i += 1
    }
    if (end > s) out += Span(s, end)
    out.result()
  }
}
