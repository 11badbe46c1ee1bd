package graft.core

/** Document quality scoring for training-data curation (Gopher/C4-style
  * heuristics over plain text). Pure, deterministic; runs in mapPartitions.
  */
object Quality {

  final case class Scores(
      nChars: Int,
      nTokens: Int,
      meanTokenLen: Double,
      digitRatio: Double,
      upperRatio: Double,
      punctRatio: Double,
      stopwordRatio: Double,
      maxLineRepeatRatio: Double,
      bigramRepeatRatio: Double,
      endsInPunctLineRatio: Double,
  ) {
    /** Composite score in [0,1]: simple monotone combination; a document is
      * "keepable" when every sub-signal is in its healthy band.
      */
    def composite: Double = {
      var s = 1.0
      if (nTokens < 5) s *= 0.1
      if (meanTokenLen < 2 || meanTokenLen > 12) s *= 0.5
      if (digitRatio > 0.3) s *= 0.5
      if (upperRatio > 0.3) s *= 0.7
      if (stopwordRatio < 0.01) s *= 0.7
      if (maxLineRepeatRatio > 0.3) s *= 0.5
      if (bigramRepeatRatio > 0.3) s *= 0.5
      s
    }
  }

  private val enStop = Set("the", "and", "of", "to", "in", "a", "is", "that", "it", "for")

  def score(text: String): Scores = {
    if (text == null || text.isEmpty)
      return Scores(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val n = text.length
    var digits = 0; var uppers = 0; var puncts = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isDigit(c)) digits += 1
      if (Character.isUpperCase(c)) uppers += 1
      if (!Character.isLetterOrDigit(c) && !Character.isWhitespace(c)) puncts += 1
      i += 1
    }
    val tokens = text.split("[ \\n\\t\\f]+").filter(_.nonEmpty)
    val nTok = tokens.length
    val meanLen = if (nTok > 0) tokens.map(_.length.toDouble).sum / nTok else 0.0
    val stopRatio = if (nTok > 0) tokens.count(t => enStop.contains(t.toLowerCase)).toDouble / nTok else 0.0
    val lines = text.split("\n").filter(_.nonEmpty)
    val lineRepeat =
      if (lines.isEmpty) 0.0
      else {
        val top = lines.groupBy(identity).valuesIterator.map(_.length).max
        if (top > 1) top.toDouble / lines.length else 0.0
      }
    val bigrams = tokens.sliding(2).filter(_.length == 2).map(a => a(0) + " " + a(1)).toArray
    val bigramRepeat =
      if (bigrams.isEmpty) 0.0
      else {
        // plain top-bigram frequency, same scale as lineRepeat above — a
        // doubled "ratio" saturated past 1.0 on short texts and penalized
        // ordinary prose ("to be or not to be" scored 0.8)
        val top = bigrams.groupBy(identity).valuesIterator.map(_.length).max
        if (top > 1) top.toDouble / bigrams.length else 0.0
      }
    val endPunct =
      if (lines.isEmpty) 0.0
      else lines.count(l => ".!?\"'".indexOf(l.trim.lastOption.getOrElse(' ')) >= 0).toDouble / lines.length
    Scores(n, nTok, meanLen,
      digits.toDouble / n, uppers.toDouble / n, puncts.toDouble / n,
      stopRatio, lineRepeat, math.min(1.0, bigramRepeat), endPunct)
  }

  /** Gopher-style repetition statistics over word n-grams — the standard
    * pretraining quality filter for machine-generated / boilerplate-heavy
    * pages (Rae et al. 2021 §A1.1 "repetition removal"): documents whose
    * character mass concentrates in repeated or dominant n-grams are
    * filtered before training.
    *
    * Exact integer character masses, NOT fractions — the division is left
    * to the caller so the quantities stay integer-exact for byte-level
    * verification (the house oracle style):
    *   - `dupChars`  = Σ over n-grams occurring ≥ 2 times of count·len(gram)
    *   - `topChars`  = max over n-grams of count·len(gram) (the dominant
    *     n-gram's repeated character mass; ties collapse — the max of the
    *     products is unique even when several grams attain it)
    *   - `totalChars`= Σ over ALL n-gram occurrences of count·len(gram)
    * Gram text = the n tokens joined by one space; tokens = `split(" ", -1)`
    * (trailing-empty-preserving, the oracle's string_split semantics).
    * A document with fewer than n tokens has no grams: all three are 0.
    */
  final case class Repetition(dupChars: Long, topChars: Long, totalChars: Long)

  def repetition(text: String, n: Int): Repetition = {
    val toks = text.split(" ", -1)
    if (toks.length < n) return Repetition(0L, 0L, 0L)
    val counts = new java.util.HashMap[String, Int]()
    var i = 0
    while (i + n <= toks.length) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      counts.merge(sb.toString, 1, Integer.sum)
      i += 1
    }
    var dup = 0L; var top = 0L; var total = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val mass = e.getValue.toLong * e.getKey.length
      total += mass
      if (e.getValue >= 2) dup += mass
      if (mass > top) top = mass
    }
    Repetition(dup, top, total)
  }

  /** Gopher document-filter statistics (Rae et al. 2021 Table A1) as exact
    * INTEGERS — every rule is an integer inequality, so the verdict has no
    * float surface and an oracle can replay it byte-exactly (house style,
    * like [[repetition]]).
    *
    * Definitions (the oracle contract):
    *   - words = `[ \n\t\f]+`-split non-empty runs (the WhitespaceTokenizer
    *     alphabet); `wordChars` = Σ word lengths
    *   - lines = `\n`-split NON-EMPTY lines
    *   - `hashCount` = occurrences of '#'; `ellipsisCount` = leftmost
    *     non-overlapping occurrences of "..." (replace-count semantics)
    *   - `bulletLines` = lines whose FIRST char is '-', '*' or '•' (no
    *     trimming); `ellipsisLines` = lines ending in "..." or '…'
    *   - `alphaWords` = words containing ≥1 ASCII letter (ASCII only, so
    *     both engines' regex semantics agree)
    *   - `stopwordHits` = DISTINCT members of the Gopher 8-word list
    *     {the,be,to,of,and,that,have,with} present as a lowercased word
    *
    * `keep` is the conjunction of the Gopher rules, integerized:
    *   50 ≤ words ≤ 100000; 3·words ≤ wordChars ≤ 10·words (mean word
    *   length in [3,10]); 10·(hash+ellipsis) ≤ words (symbol ratio ≤ 0.1);
    *   10·bulletLines ≤ 9·lines (≤90% bullets); 10·ellipsisLines ≤ 3·lines
    *   (≤30% ellipsis); 5·alphaWords ≥ 4·words (≥80% alpha words);
    *   stopwordHits ≥ 2. Line rules are vacuously true when lines = 0.
    */
  final case class Gopher(
      nWords: Long, wordChars: Long, nLines: Long,
      hashCount: Long, ellipsisCount: Long,
      bulletLines: Long, ellipsisLines: Long,
      alphaWords: Long, stopwordHits: Long) {
    def keep: Boolean =
      nWords >= 50 && nWords <= 100000 &&
        3 * nWords <= wordChars && wordChars <= 10 * nWords &&
        10 * (hashCount + ellipsisCount) <= nWords &&
        10 * bulletLines <= 9 * nLines &&
        10 * ellipsisLines <= 3 * nLines &&
        5 * alphaWords >= 4 * nWords &&
        stopwordHits >= 2
  }

  private val gopherStop =
    Array("the", "be", "to", "of", "and", "that", "have", "with")

  def gopher(text: String): Gopher = {
    if (text == null || text.isEmpty) return Gopher(0, 0, 0, 0, 0, 0, 0, 0, 0)
    val words = text.split("[ \n\t\f]+").filter(_.nonEmpty)
    val nWords = words.length.toLong
    var wordChars = 0L
    var alphaWords = 0L
    val stopSeen = new Array[Boolean](gopherStop.length)
    var w = 0
    while (w < words.length) {
      val word = words(w)
      wordChars += word.length
      var hasAlpha = false
      var i = 0
      while (i < word.length && !hasAlpha) {
        val c = word.charAt(i)
        hasAlpha = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        i += 1
      }
      if (hasAlpha) alphaWords += 1
      val lower = word.toLowerCase(java.util.Locale.ROOT)
      var s = 0
      while (s < gopherStop.length) {
        if (!stopSeen(s) && lower == gopherStop(s)) stopSeen(s) = true
        s += 1
      }
      w += 1
    }
    val stopwordHits = stopSeen.count(identity).toLong
    var hashCount = 0L
    var i = 0
    while (i < text.length) { if (text.charAt(i) == '#') hashCount += 1; i += 1 }
    // leftmost non-overlapping "..." — identical to replace-count on both
    // engines: (len(text) - len(replace(text, '...', ''))) / 3
    var ellipsisCount = 0L
    var j = text.indexOf("...")
    while (j >= 0) { ellipsisCount += 1; j = text.indexOf("...", j + 3) }
    val lines = text.split("\n").filter(_.nonEmpty)
    val nLines = lines.length.toLong
    var bulletLines = 0L
    var ellipsisLines = 0L
    var l = 0
    while (l < lines.length) {
      val line = lines(l)
      val c0 = line.charAt(0)
      if (c0 == '-' || c0 == '*' || c0 == '•') bulletLines += 1
      if (line.endsWith("...") || line.charAt(line.length - 1) == '…') ellipsisLines += 1
      l += 1
    }
    Gopher(nWords, wordChars, nLines, hashCount, ellipsisCount,
      bulletLines, ellipsisLines, alphaWords, stopwordHits)
  }

  private val bpeish = java.util.regex.Pattern.compile(
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+")

  /** BPE-flavored pre-tokenizer count (GPT-2-style split regex) — the token
    * estimate a training pipeline budgets with.
    */
  def bpeTokenCount(text: String): Int = {
    val m = bpeish.matcher(text)
    var n = 0
    while (m.find()) n += 1
    n
  }
}
