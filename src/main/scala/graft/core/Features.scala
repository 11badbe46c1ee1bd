package graft.core

import java.text.Normalizer

/** Per-span string feature computation (X1): the ~51-wide numeric vector the
  * span classifier consumes. Semantics mirror
  * konfuzio_sdk/trainer/information_extraction.py:863-1097 (`convert_to_feat`
  * and its scalar helpers); column order is load-bearing
  * (feature_names[42] == "feat_substring_count_h" in the reference tests).
  * All functions are pure Scala — they run inside `mapPartitions`, never as
  * registered UDFs.
  */
object Features {

  def stripAccents(s: String): String = {
    // ASCII fast path: NFD is the identity and nothing can be a combining
    // mark — skips the Normalizer on the (dominant) plain-text case
    var i = 0
    var ascii = true
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) return s
    val d = Normalizer.normalize(s, Normalizer.Form.NFD)
    val sb = new StringBuilder(d.length)
    i = 0
    while (i < d.length) {
      val c = d.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
      i += 1
    }
    sb.toString
  }

  def isVowel(c: Char): Boolean = "aeiou".indexOf(Character.toLowerCase(c)) >= 0
  def vowelCount(s: String): Int = s.count(isVowel)
  def upperCount(s: String): Int = s.count(Character.isUpperCase)

  /** Python `str.isdigit` semantics: decimal digits PLUS digit-typed
    * characters like superscripts (²³¹ are OTHER_NUMBER with a 0-9 numeric
    * value) — Java's isDigit alone misses them, fractions stay excluded
    * (numeric value not in 0-9), matching Python.
    */
  @inline private def isPyDigit(c: Char): Boolean =
    Character.isDigit(c) || (Character.getType(c) == Character.OTHER_NUMBER && {
      val v = Character.getNumericValue(c); v >= 0 && v <= 9
    })
  def digitCount(s: String): Int = s.count(isPyDigit)

  /** Python `str.isspace` semantics: Java isWhitespace EXCLUDES the
    * non-breaking space family (U+00A0/U+2007/U+202F — ubiquitous in
    * PDF/OCR text) that isSpaceChar covers; Python counts both.
    */
  @inline private def isPySpace(c: Char): Boolean =
    Character.isWhitespace(c) || Character.isSpaceChar(c)

  /** Whitespace count with tabs weighted 4× total (reference quirk:
    * information_extraction.py:952-954 adds `count('\t') * 3` on top).
    */
  def spaceCount(s: String): Int = s.count(isPySpace) + s.count(_ == '\t') * 3

  def specialCount(s: String): Int = s.count(c => !Character.isLetterOrDigit(c))
  def uniqueCharCount(s: String): Int = s.toSet.size

  def duplicateCount(s: String): Int = {
    val counts = new scala.collection.mutable.HashMap[Char, Int]
    s.foreach(c => counts.update(c, counts.getOrElse(c, 0) + 1))
    counts.valuesIterator.filter(_ > 1).sum
  }

  /** Count of accent-carrying characters (stands in for the reference's
    * difflib-based `count_string_differences` applied to (stripped, original)
    * pairs, information_extraction.py:976-981). ASCII chars are never
    * accented — only non-ASCII chars pay the per-char normalization.
    */
  def accentedCharCount(s: String): Int =
    s.count(c => c >= 0x80 && stripAccents(c.toString) != c.toString)

  /** Non-overlapping lowercase substring count (information_extraction.py:670-677). */
  def substringCount(s: String, sub: String): Int =
    substringCountLower(s.toLowerCase(java.util.Locale.ROOT), sub)

  /** Hot-path variant over an already-lowercased string (convertToFeat runs
    * 32 substring counts per span; one lowercase pass instead of 32).
    */
  @inline private def substringCountLower(l: String, sub: String): Int = {
    var i = 0; var n = 0
    while ({ i = l.indexOf(sub, i); i >= 0 }) { n += 1; i += sub.length }
    n
  }

  /** Days since 2010-01-01 for `DD.MM.YYYY`-shaped strings, month-first
    * disambiguation like the reference's pandas parse
    * (information_extraction.py:994-1022); 1 when the date IS the epoch.
    */
  def dateCount(s: String): Int = {
    if (s.length <= 5) return 0
    val sep = if (s.charAt(2) == '.' && s.charAt(5) == '.') '.' else if (s.charAt(2) == '/' && s.charAt(5) == '/') '/' else ' '
    if (sep == ' ') return 0
    val parts = s.split(java.util.regex.Pattern.quote(sep.toString))
    if (parts.length != 3) return 0
    try {
      val a = parts(0).trim.toInt; val b = parts(1).trim.toInt
      // pandas parses "01.01.2010 10:30" (trailing time/suffix) — take the
      // leading digit run of the year field; negative/empty years fail like
      // pandas does
      val yRaw = parts(2).trim.takeWhile(_.isDigit)
      if (yRaw.isEmpty) return 0
      var y = yRaw.toInt
      if (y < 100) y = if (y >= 69) 1900 + y else 2000 + y
      // month-first unless impossible (pandas-style inference)
      val (m, d) = if (a <= 12) (a, b) else (b, a)
      val date = java.time.LocalDate.of(y, m, d)
      val diff = java.time.temporal.ChronoUnit.DAYS.between(java.time.LocalDate.of(2010, 1, 1), date).toInt
      if (diff == 0) 1 else diff
    } catch { case _: Exception => 0 }
  }

  /** (year, month, day) via the engine date normalizer, zeros when not a date
    * (information_extraction.py:1025-1044).
    */
  def yearMonthDay(s: String): (Int, Int, Int) =
    Normalize.normalizeToDate(s) match {
      case Some(iso) => (iso.substring(0, 4).toInt, iso.substring(5, 7).toInt, iso.substring(8, 10).toInt)
      case None => (0, 0, 0)
    }

  /** Engine-normalized numeric value or 0 (information_extraction.py:1048-1059). */
  def numCount(s: String): Double = Normalize.normalizeToFloat(s).getOrElse(0.0)

  private val pyFloatRe = java.util.regex.Pattern.compile(
    """[+-]?(?:\d(?:_?\d)*(?:\.(?:\d(?:_?\d)*)?)?|\.\d(?:_?\d)*)(?:[eE][+-]?\d(?:_?\d)*)?""")

  /** Plain float parse with float32-overflow guard
    * (information_extraction.py:1062-1075). Python float() syntax, not
    * Java's: no d/f suffixes or hex floats (Java-only), underscores as
    * digit separators accepted (Python-only).
    */
  def asPythonFloat(s: String): Double = {
    val t = s.trim
    if (!pyFloatRe.matcher(t).matches()) return 0.0
    t.replace("_", "").toDoubleOption match {
      case Some(f) if f < java.lang.Float.MAX_VALUE => f
      case _ => 0.0
    }
  }

  private val substrings = Vector(
    "/", "%", "e", "g", "a", "u", "i", "f", "s", "ö", "ä", "ü", "er", "str", "k", "r",
    "y", "en", "ch", "sch", "c", "ei", "on", "ohn", "n", "m", "j", "h", "+", "-", ".", ",")
  private val substringNames = Vector(
    "slash", "percent", "e", "g", "a", "u", "i", "f", "s", "oe", "ae", "ue", "er", "str", "k", "r",
    "y", "en", "ch", "sch", "c", "ei", "on", "ohn", "n", "m", "j", "h", "plus", "minus", "period", "comma")

  /** Fixed feature-name order — the schema contract of the feature stage. */
  val featureNames: Vector[String] =
    Vector(
      "feat_vowel_len", "feat_special_len", "feat_space_len", "feat_digit_len", "feat_len",
      "feat_upper_len", "feat_date_count", "feat_num_count", "feat_as_float",
      "feat_unique_char_count", "feat_duplicate_count", "accented_char_count",
      "feat_year_count", "feat_month_count", "feat_day_count") ++
      substringNames.map(n => s"feat_substring_count_$n") ++
      Vector("feat_starts_with_plus", "feat_starts_with_minus", "feat_ends_with_plus", "feat_ends_with_minus")

  val width: Int = featureNames.length

  /** X6 catchphrase features (information_extraction.py:1662-1682): for each
    * catchphrase, the line-distance from `lineIndex` back to the nearest
    * previous line containing it; -1 when none does.
    */
  def catchphraseDistances(lines: IndexedSeq[String], lineIndex: Int, catchphrases: Seq[String]): Vector[Int] =
    catchphrases.iterator.map { phrase =>
      var i = lineIndex - 1
      var found = -1
      while (i >= 0 && found < 0) {
        if (lines(i).contains(phrase)) found = lineIndex - i
        i -= 1
      }
      found
    }.toVector

  /** X7 word-on-page feature (information_extraction.py:1650-1659): 1 when
    * the word occurs on the span's page slice.
    */
  def wordOnPage(pageText: String, word: String): Int =
    if (pageText.contains(word)) 1 else 0

  /** The feature vector for one offset string, in [[featureNames]] order.
    * All counts are computed on the accent-stripped string; only
    * `accented_char_count` sees the original (reference contract,
    * information_extraction.py:867-869).
    */
  def convertToFeat(original: String): Array[Double] = {
    val s = stripAccents(original)
    val lower = s.toLowerCase // one pass shared by the 32 substring counts
    val out = new Array[Double](width)
    var i = 0
    def put(v: Double): Unit = { out(i) = v; i += 1 }
    put(vowelCount(s)); put(specialCount(s)); put(spaceCount(s)); put(digitCount(s)); put(s.length)
    put(upperCount(s)); put(dateCount(s)); put(numCount(s)); put(asPythonFloat(s))
    put(uniqueCharCount(s)); put(duplicateCount(s)); put(accentedCharCount(original))
    val (y, m, d) = yearMonthDay(s)
    put(y); put(m); put(d)
    substrings.foreach(sub => put(substringCountLower(lower, sub)))
    put(if (lower.startsWith("+")) 1 else 0); put(if (lower.startsWith("-")) 1 else 0)
    put(if (lower.endsWith("+")) 1 else 0); put(if (lower.endsWith("-")) 1 else 0)
    out
  }
}
