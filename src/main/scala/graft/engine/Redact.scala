package graft.engine

import graft.core.Rx

/** PII redaction for training-data pipelines: mask email and url tokens
  * with fixed placeholders while preserving every other byte — whitespace,
  * punctuation-bearing tokens, offsets of untouched text all survive. Uses
  * the SAME token predicates as the extraction scorer ([[Scorer.isEmailToken]]
  * / [[Scorer.isUrlToken]]), so a span the engine labels `email` is exactly
  * a span redaction masks; the two surfaces cannot drift apart.
  *
  * Single pass, token = maximal run of non-separators under the whitespace
  * tokenizer's own predicate ([[graft.core.Rx.isTokenSeparator]]: space,
  * \n, \t, \f — NOT \r, which the tokenizer treats as part of a token and
  * the url/email regexes then reject); pure function of the text — safe
  * at any partitioning, deterministic for resume/lineage.
  */
object Redact {
  val EmailMask = "<EMAIL>"
  val UrlMask = "<URL>"

  def redactPII(text: String): String = {
    if (text == null || text.isEmpty) return text
    val n = text.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (Rx.isTokenSeparator(c)) {
        sb.append(c)
        i += 1
      } else {
        var j = i
        while (j < n && !Rx.isTokenSeparator(text.charAt(j))) j += 1
        val tok = text.substring(i, j)
        if (Scorer.isEmailToken(tok)) sb.append(EmailMask)
        else if (Scorer.isUrlToken(tok)) sb.append(UrlMask)
        else sb.append(tok)
        i = j
      }
    }
    sb.toString
  }
}
