package graft.engine

import graft.core.{Normalize, Span}

/** Deterministic per-span classifier: regex/normalization predicates + a
  * fixed-weight logistic over the span feature vector. Replaces the
  * reference's RandomForest (information_extraction.py:2950-2963) with a
  * broadcast-friendly pure function — identical scores on any executor, any
  * partitioning (SURVEY §7.3: determinism under parallelism beats Spark ML
  * nondeterminism here). Confidence = sigmoid(w·x + prior).
  *
  * Hot-path discipline: gates are computed in place over (text, start, end)
  * — no substring, matcher, or normalize attempt unless a branch actually
  * fires (profiled: per-token matcher allocation was the pipeline's
  * scaling bottleneck).
  */
object Scorer {

  final case class Scored(span: Span, label: String, confidence: Double, normalized: String)

  @inline private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  private val emailRe = java.util.regex.Pattern.compile("^[^@\\s]+@[^@\\s]+\\.[^@\\s]+$")
  private val urlRe = java.util.regex.Pattern.compile("^(https?://|www\\.)\\S+$")

  /** The scorer's email-token shape, shared with PII redaction so masking
    * and labeling can never disagree on what an email is.
    */
  def isEmailToken(s: String): Boolean =
    s.length >= 5 && s.indexOf('@') >= 0 && s.indexOf('.') >= 0 && emailRe.matcher(s).matches()

  /** The scorer's url-token shape (same sharing contract). The length
    * floor is the shortest VALID www form ("www.x", 5 chars) — the
    * http:// forms are longer and the regex enforces their shape.
    */
  def isUrlToken(s: String): Boolean = {
    if (s.length < 5) return false
    val c0 = s.charAt(0)
    (c0 == 'h' || c0 == 'w') &&
      (s.startsWith("http://") || s.startsWith("https://") || s.startsWith("www.")) &&
      urlRe.matcher(s).matches()
  }

  /** Score one token interval of `text` in place; None = NO_LABEL. */
  def scoreToken(text: String, start: Int, end: Int): Option[Scored] = {
    val len = end - start
    if (len <= 0) return None
    var digits = 0; var letters = 0
    var hasAt = false; var hasPct = false
    var hasDot = false; var hasSlash = false; var hasDash = false; var hasComma = false
    var i = start
    while (i < end) {
      val c = text.charAt(i)
      if (c >= '0' && c <= '9') digits += 1
      else if (Character.isLetter(c)) letters += 1
      else c match {
        case '@' => hasAt = true
        case '%' => hasPct = true
        case '.' => hasDot = true
        case '/' => hasSlash = true
        case '-' => hasDash = true
        case ',' => hasComma = true
        case _ =>
      }
      i += 1
    }
    val digitFrac = digits.toDouble / len

    // the cheap hasAt/hasDot/prefix gates avoid the substring allocation on
    // the common path; the SHARED predicates (also used by Redact) are the
    // single source of truth for what an email/url token is
    if (hasAt && hasDot && len >= 5) {
      val s = text.substring(start, end)
      if (isEmailToken(s))
        return Some(Scored(Span(start, end), "email", sigmoid(4.0 + 0.05 * len), s.toLowerCase(java.util.Locale.ROOT)))
    }
    val c0 = text.charAt(start)
    if ((c0 == 'h' || c0 == 'w') && len >= 5 &&
        (text.regionMatches(start, "http://", 0, 7) || text.regionMatches(start, "https://", 0, 8) ||
          text.regionMatches(start, "www.", 0, 4))) {
      val s = text.substring(start, end)
      if (isUrlToken(s))
        return Some(Scored(Span(start, end), "url", sigmoid(3.5 + 0.02 * len), s))
    }

    if (digits == 0) return None // remaining labels all need digits

    if (hasPct) {
      val s = text.substring(start, end)
      Normalize.normalizeToPercentage(s) match {
        case Some(v) =>
          return Some(Scored(Span(start, end), "percent", sigmoid(2.5 + 2.0 * digitFrac - 0.3 * letters), v.toString))
        case None =>
      }
    }

    // date attempt only for date-shaped tokens: separator-bearing, or pure
    // digit runs of the positional-format lengths (4/6/8)
    val dateShaped = hasDot || hasSlash || hasDash ||
      (letters == 0 && digits == len && (len == 4 || len == 6 || len == 8))
    if (digits >= 4 && dateShaped) {
      Normalize.normalizeToDate(text.substring(start, end)) match {
        case Some(iso) =>
          return Some(Scored(Span(start, end), "date", sigmoid(1.8 + 0.4 * digits - 0.6 * letters), iso))
        case _ =>
      }
    }

    if (hasComma || hasDot) {
      val s = text.substring(start, end)
      Normalize.normalizeToFloat(s) match {
        case Some(v) =>
          // decimal-separated figure → amount
          return Some(Scored(Span(start, end), "amount", sigmoid(1.2 + 2.5 * digitFrac - 0.8 * letters), v.toString))
        case None =>
      }
    }

    if (letters == 0) {
      Normalize.normalizeToFloat(text.substring(start, end)) match {
        case Some(v) => return Some(Scored(Span(start, end), "number", sigmoid(0.8 + 1.5 * digitFrac), v.toString))
        case None =>
      }
    }
    None
  }

  def score(text: String, span: Span): Option[Scored] = scoreToken(text, span.start, span.end)

  /** Score all packed `(start << 32) | end` token spans; drop
    * below-label-threshold results (F6 semantics: threshold filter with
    * per-label thresholds, broadcast map).
    */
  def scorePacked(text: String, packed: Array[Long]): Vector[Scored] = {
    val out = Vector.newBuilder[Scored]
    var i = 0
    while (i < packed.length) {
      val p = packed(i)
      scoreToken(text, (p >>> 32).toInt, (p & 0xffffffffL).toInt) match {
        case Some(sc) if sc.confidence >= Labels.byName(sc.label).threshold => out += sc
        case _ =>
      }
      i += 1
    }
    out.result()
  }
}
