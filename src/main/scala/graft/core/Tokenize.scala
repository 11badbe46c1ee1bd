package graft.core

import java.util.regex.Pattern
import scala.collection.mutable

/** One emitted regex finding (konfuzio_sdk/regex.py:153-244 contract):
  * `group` is the named-group name, the unnamed group index as a string, or
  * "0" for the full match.
  */
final case class RegexMatch(group: String, value: String, start: Int, end: Int)

/** A compiled pattern plus the capturing-group metadata the JVM regex engine
  * does not expose: definition-ordered named groups and the unnamed rest.
  */
final class CompiledPattern private (
    val source: String,
    val pattern: Pattern,
    /** groupIndex (1-based) → name, in definition order. */
    val namedGroups: Vector[(Int, String)],
    val unnamedGroups: Vector[Int],
) {
  def groupCount: Int = namedGroups.length + unnamedGroups.length
}

object CompiledPattern {

  /** Compile a Python-dialect regex on the JVM.
    *
    * Python `(?P<name>...)` groups are rewritten to plain capturing groups
    * (Java group names reject underscores, which the induced
    * `Label_{id}_{W|N|F}` names use — reference data.py:1466-1482) and the
    * name→index mapping is tracked here instead. Group names that are not
    * valid identifiers get a leading underscore, mirroring the reference's
    * compile-repair (regex.py:176-185).
    */
  def compile(regex: String, flags: Int = 0): CompiledPattern = {
    val out = new StringBuilder(regex.length)
    val named = Vector.newBuilder[(Int, String)]
    val unnamed = Vector.newBuilder[Int]
    var groupIdx = 0
    var i = 0
    var inClass = false
    val n = regex.length
    while (i < n) {
      val c = regex.charAt(i)
      if (c == '\\' && i + 1 < n) { out.append(c).append(regex.charAt(i + 1)); i += 2 }
      else if (inClass) { if (c == ']') inClass = false; out.append(c); i += 1 }
      else if (c == '[') { inClass = true; out.append(c); i += 1 }
      else if (c == '(') {
        if (regex.startsWith("(?P<", i)) {
          val close = regex.indexOf('>', i + 4)
          require(close > 0, s"unterminated group name in $regex")
          var name = regex.substring(i + 4, close)
          if (name.isEmpty || !Character.isJavaIdentifierStart(name.charAt(0))) name = "_" + name
          groupIdx += 1
          named += ((groupIdx, name))
          out.append('(')
          i = close + 1
        } else if (regex.startsWith("(?", i)) {
          // (?: (?= (?! (?<= (?<! (?> (?i) ... — non-capturing forms
          out.append(c); i += 1
        } else {
          groupIdx += 1
          unnamed += groupIdx
          out.append(c); i += 1
        }
      } else { out.append(c); i += 1 }
    }
    val javaFlags = flags
    new CompiledPattern(regex, Pattern.compile(out.toString, javaFlags), named.result(), unnamed.result())
  }
}

/** Regex finding enumeration with the reference's emission contract
  * (konfuzio_sdk/regex.py:153-244): per match emit named groups in
  * definition order, then unnamed groups, then the full match when
  * `keepFullMatch` or the pattern has no groups; only non-empty intervals.
  */
object Rx {

  def matches(
      text: String,
      cp: CompiledPattern,
      overlapped: Boolean = false,
      keepFullMatch: Boolean = true,
      filteredGroup: Option[String] = None,
  ): Vector[RegexMatch] = {
    val m = cp.pattern.matcher(text)
    val out = Vector.newBuilder[RegexMatch]
    var from = 0
    val hasGroups = cp.groupCount > 0
    while (from <= text.length && m.find(from)) {
      if (hasGroups) {
        for ((gi, name) <- cp.namedGroups) {
          if (m.start(gi) >= 0 && m.end(gi) > m.start(gi))
            out += RegexMatch(name, m.group(gi), m.start(gi), m.end(gi))
        }
        for (gi <- cp.unnamedGroups) {
          if (m.start(gi) >= 0 && m.end(gi) > m.start(gi))
            out += RegexMatch(gi.toString, m.group(gi), m.start(gi), m.end(gi))
        }
      }
      if (!hasGroups || keepFullMatch) {
        if (m.end > m.start) out += RegexMatch("0", m.group, m.start, m.end)
      }
      from =
        if (overlapped) m.start + 1
        else if (m.end > m.start) m.end
        else m.end + 1 // avoid zero-length loop
    }
    val res = out.result()
    // substring containment, not exact match — reference parity: Python
    // does `filtered_group in result['regex_group']` (regex.py:240-242)
    // and callers pass 'Label_{id}' without a trailing underscore
    // (data.py:2264), so 'Label_1' also matches 'Label_12_...' there too
    filteredGroup match {
      case Some(fg) => res.filter(_.group.contains(fg))
      case None => res
    }
  }

  /** Whitespace-run token spans packed as start<<32|end — the zero-boxing
    * hot path for the extraction pipeline (identical intervals to
    * `tokenSpans(text, Tokenizers.whitespace)`).
    */
  def whitespaceTokensPacked(text: String): Array[Long] = {
    val out = new mutable.ArrayBuilder.ofLong
    var i = 0
    var start = -1
    val n = text.length
    while (i <= n) {
      val ws = i == n || isTokenSeparator(text.charAt(i))
      if (!ws && start < 0) start = i
      else if (ws && start >= 0) { out += (start.toLong << 32) | i.toLong; start = -1 }
      i += 1
    }
    out.result()
  }

  /** `whitespaceTokensPacked(text).length` without the span array — the
    * count-only projection of the tokenizer.
    */
  def whitespaceTokenCount(text: String): Int = {
    var n = 0
    var inTok = false
    var i = 0
    while (i < text.length) {
      val ws = isTokenSeparator(text.charAt(i))
      if (!ws && !inTok) n += 1
      inTok = !ws
      i += 1
    }
    n
  }

  /** The whitespace tokenizer's separators: space, `\n`, `\t` and `\f`
    * (`\r` and no-break space stay inside tokens). Every other token
    * boundary in the engine — the native `graft_token_count` byte scan,
    * PII redaction — uses this one predicate.
    */
  @inline def isTokenSeparator(c: Char): Boolean =
    c == ' ' || c == '\n' || c == '\t' || c == '\f'

  /** Tokenizer contract (konfuzio_sdk/tokenizer/regex.py:38-88): group spans
    * only (`keep_full_match=False`), deduped by (start, end), input order.
    */
  def tokenSpans(text: String, cp: CompiledPattern): Vector[Span] = {
    if (cp.groupCount == 0) {
      // group-free patterns (e.g. the whitespace tokenizer) emit disjoint
      // full matches — no duplicates possible, skip the dedup set and the
      // per-match value allocation entirely (hot path at corpus scale)
      val m = cp.pattern.matcher(text)
      val out = Vector.newBuilder[Span]
      while (m.find()) if (m.end > m.start) out += Span(m.start, m.end)
      out.result()
    } else {
      val seen = mutable.HashSet.empty[Long]
      val out = Vector.newBuilder[Span]
      Rx.matches(text, cp, keepFullMatch = false).foreach { rm =>
        val key = (rm.start.toLong << 32) | (rm.end.toLong & 0xffffffffL)
        if (seen.add(key)) out += Span(rm.start, rm.end)
      }
      out.result()
    }
  }
}

/** The reference's fixed tokenizer zoo (konfuzio_sdk/tokenizer/regex.py:91-216).
  * Patterns are the public behavioral contract; compiled once per JVM and
  * shared across executor threads (Pattern is thread-safe).
  */
object Tokenizers {
  val whitespace: CompiledPattern = CompiledPattern.compile("""[^ \n\t\f]+""")
  val whitespaceNoPunct: CompiledPattern = CompiledPattern.compile("""[^ \n\t\f\,\.\;]+""")
  val connectedText: CompiledPattern =
    CompiledPattern.compile("""(?:(?:[^ \t\n]+(?:[ \t][^ \t\n\:\,\.\!\?\-\_]+)*)+)""")
  val colonPreceded: CompiledPattern =
    CompiledPattern.compile(""":[ \t]((?:[^ \t\n\:\,\!\?\_]+(?:[ \t][^ \t\n\:\!\?\_]+)*)+)""")
  val colonOrWhitespacePreceded: CompiledPattern = CompiledPattern.compile(
    """[ :][ \t](?P<ColonOrWhitespacePreceded>(?:[^ \t\n\:\,\!\?\_]+(?:[ \t][^ \t\n\:\!\?\_]+)*)+)""")
  val capitalizedText: CompiledPattern =
    CompiledPattern.compile("""(?:[A-ZÄÜÖß][a-zA-Z&äöü]+(?=\s[A-ZÄÜÖß])(?:\s[A-Z&ÄÜÖß][a-zA-Z&äöü]+)+)""")
  val nonText: CompiledPattern = CompiledPattern.compile("""(?:(?:[A-Z\d]+[:\/. -]{0,2}\n?)+)""")
  val numbers: CompiledPattern = CompiledPattern.compile("""\s((?:[\d+][ ]?)+)\s""")
  val lineUntilComma: CompiledPattern = CompiledPattern.compile("""\n\s*([^.]*),\n""")

  val byName: Map[String, CompiledPattern] = Map(
    "whitespace" -> whitespace,
    "whitespace_no_punct" -> whitespaceNoPunct,
    "connected_text" -> connectedText,
    "colon_preceded" -> colonPreceded,
    "colon_or_whitespace_preceded" -> colonOrWhitespacePreceded,
    "capitalized_text" -> capitalizedText,
    "non_text" -> nonText,
    "numbers" -> numbers,
    "line_until_comma" -> lineUntilComma,
  )

  /** ListTokenizer semantics (tokenizer/base.py:168-211): run tokenizers in
    * sequence, skip spans already produced by an earlier tokenizer.
    */
  def tokenizeList(text: String, tokenizers: Seq[CompiledPattern]): Vector[Span] = {
    val seen = mutable.HashSet.empty[Long]
    val out = Vector.newBuilder[Span]
    tokenizers.foreach { cp =>
      Rx.tokenSpans(text, cp).foreach { sp =>
        val key = (sp.start.toLong << 32) | (sp.end.toLong & 0xffffffffL)
        if (seen.add(key)) out += sp
      }
    }
    out.result()
  }
}
