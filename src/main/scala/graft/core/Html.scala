package graft.core

/** Jsoup-free streaming HTML boilerplate stripper.
  *
  * A single-pass tag tokenizer segments the page into text blocks at
  * block-level tag boundaries, tracking per-block link-character counts and
  * source offsets. Blocks are then classified content vs boilerplate with
  * text-density / link-density heuristics in the spirit of Boilerpipe
  * (Kohlschütter et al., WSDM'10) and trafilatura — built from scratch for
  * this engine; the reference SDK ingests OCR output and has no HTML stage.
  *
  * One tag rule, one attribute rule. What a tag is — comment, CDATA and
  * declaration skips, the quote-aware tag end, name folding, raw-text
  * element bodies — lives only in the private `Tokens` cursor; attribute
  * values are read only by `attrOf`. Every scan here is a loop over that
  * cursor: `blocks` (and `extract` on top of it), `tables`, `anchors` (and
  * `links` on top of it), `metaOf` and `titleOf`, so markup inside a
  * comment or a script is invisible to all of them alike.
  *
  * Output contract: `extract(html).text` is a pure function of the input
  * bytes — byte-identical across runs, partitionings and parallelism levels
  * (the engine's per-url invariant). Block provenance spans point back into
  * the raw HTML source so downstream span math stays char-exact.
  */
object Html {

  /** One text block with provenance. `srcStart/srcEnd` delimit the HTML
    * source region the block text came from; `linkChars` counts characters
    * inside `<a>` elements; `headingLevel` is 1-6 for h1-h6 else 0.
    */
  final case class Block(
      text: String,
      linkChars: Int,
      headingLevel: Int,
      inList: Boolean,
      srcStart: Int,
      srcEnd: Int,
  ) {
    def words: Int = { var n = 0; var in = false; var i = 0
      while (i < text.length) { val ws = text.charAt(i) == ' '
        if (!ws && !in) { n += 1; in = true } else if (ws) in = false
        i += 1 }
      n
    }
    def linkDensity: Double = if (text.isEmpty) 0.0 else linkChars.toDouble / text.length
  }

  /** Extraction result: main text, per-block spans into `text`, and
    * per-block provenance spans into the HTML source.
    */
  final case class Extraction(text: String, blockSpans: Vector[Span], provenance: Vector[Span], title: String)

  private val blockTags = Set(
    "p", "div", "section", "article", "main", "aside", "header", "footer", "nav",
    "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li", "table", "tr", "td", "th",
    "blockquote", "pre", "br", "hr", "form", "figure", "figcaption", "dl", "dt", "dd")
  private val rawTextTags = Set("script", "style", "noscript", "svg", "template")
  private val skipSubtreeTags = Set("head")

  private val namedEntities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
    "copy" -> "©", "reg" -> "®", "trade" -> "™", "shy" -> "",
    "laquo" -> "«", "raquo" -> "»", "euro" -> "€", "deg" -> "°",
    "szlig" -> "ß", "auml" -> "ä", "ouml" -> "ö", "uuml" -> "ü",
    "Auml" -> "Ä", "Ouml" -> "Ö", "Uuml" -> "Ü",
  )

  /** Decode HTML entities; unknown entities are kept verbatim. */
  def decodeEntities(s: String): String = {
    val amp = s.indexOf('&')
    if (amp < 0) return s
    val sb = new StringBuilder(s.length)
    sb.append(s.substring(0, amp))
    var i = amp
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val body = s.substring(i + 1, semi)
          if (body.startsWith("#x") || body.startsWith("#X")) {
            try { sb.appendAll(Character.toChars(Integer.parseInt(body.substring(2), 16))); i = semi + 1 }
            catch { case _: Exception => sb.append(c); i += 1 }
          } else if (body.startsWith("#")) {
            try { sb.appendAll(Character.toChars(Integer.parseInt(body.substring(1)))); i = semi + 1 }
            catch { case _: Exception => sb.append(c); i += 1 }
          } else namedEntities.get(body) match {
            case Some(rep) => sb.append(rep); i = semi + 1
            case None => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The one tag rule: a cursor over the tag and text events of a page.
    * `next()` moves to the next event and returns false at the end of the
    * page; the event is then read from the fields. A cursor rather than
    * callbacks, so each scan's loop stays one monomorphic method.
    *
    * Comments, CDATA sections and `<!…>`/`<?…>` declarations are skipped.
    * A tag ends at the first `>` outside a quoted attribute value ("width >
    * height" or embedded JSON must not cut it short); a tag with no such
    * `>` ends the page. Names fold ASCII case. A raw-text element (script,
    * style, noscript, svg, template) is consumed with its body up to the
    * case-insensitive close tag (legacy pages write `</SCRIPT>`) and yields
    * no event; its self-closing form (`<svg …/>`) opens nothing — a
    * deliberate divergence from HTML5 for script, since eating the rest of
    * the document is worse for an extractor.
    */
  private final class Tokens(html: String) {
    private val n = html.length
    private var pos = 0
    private var attrsFrom = 0
    /** True for a tag (`name`, `isEnd`), false for a text run. */
    var isTag = false
    /** Source range `[start, end)` of the event; a tag's `>` is `end - 1`. */
    var start = 0
    var end = 0
    var name = ""
    var isEnd = false

    def next(): Boolean = {
      while (pos < n) {
        val i = pos
        if (html.charAt(i) != '<') {
          val lt = html.indexOf('<', i)
          start = i; end = if (lt < 0) n else lt; isTag = false; pos = end
          return true
        }
        if (html.startsWith("<!--", i)) pos = past(html.indexOf("-->", i + 4), 3)
        else if (html.startsWith("<![CDATA[", i)) pos = past(html.indexOf("]]>", i + 9), 3)
        else if (html.startsWith("<!", i) || html.startsWith("<?", i)) pos = past(html.indexOf('>', i), 1)
        else {
          var close = -1
          var quote = 0.toChar
          var scan = i + 1
          while (scan < n && close < 0) {
            val ch = html.charAt(scan)
            if (quote != 0) { if (ch == quote) quote = 0 }
            else if (ch == '"' || ch == '\'') quote = ch
            else if (ch == '>') close = scan
            scan += 1
          }
          if (close < 0) pos = n
          else {
            var p = i + 1
            isEnd = p < close && html.charAt(p) == '/'
            if (isEnd) p += 1
            val nameStart = p
            while (p < close && !Character.isWhitespace(html.charAt(p)) && html.charAt(p) != '/') p += 1
            // the name alone is materialized, never the attribute body
            val nb = new java.lang.StringBuilder(p - nameStart)
            var q = nameStart
            while (q < p) {
              val ch = html.charAt(q)
              nb.append(if (ch >= 'A' && ch <= 'Z') (ch + 32).toChar else ch)
              q += 1
            }
            name = nb.toString
            attrsFrom = p
            val selfClosing = close > i + 1 && html.charAt(close - 1) == '/'
            if (rawTextTags.contains(name) && !isEnd && !selfClosing) {
              val e = indexOfIgnoreCase(html, "</" + name, close + 1)
              pos = if (e < 0) n else past(html.indexOf('>', e), 1)
            } else {
              start = i; end = close + 1; isTag = true; pos = end
              return true
            }
          }
        }
      }
      false
    }

    private def past(at: Int, len: Int): Int = if (at < 0) n else at + len

    /** Attribute `key` of the current tag, see [[attrOf]]. */
    def attr(key: String): String = attrOf(html, attrsFrom, end - 1, key)
  }

  /** The one attribute rule: the value of attribute `key` (matched
    * case-insensitively) among the attributes in `html[from, to)`,
    * entity-decoded; ""
    * for a bare attribute, null when absent. Attributes are walked name by
    * name, so a key spelled inside a value (`content="name=x"`) or inside
    * another name (`data-href`) never matches; the first occurrence wins.
    * Values are double-, single- or unquoted.
    */
  private def attrOf(html: String, from: Int, to: Int, key: String): String = {
    def skipWs(at: Int): Int = { var p = at; while (p < to && Character.isWhitespace(html.charAt(p))) p += 1; p }
    var p = from
    while (p < to) {
      val c = html.charAt(p)
      if (Character.isWhitespace(c) || c == '/') p += 1
      else {
        val nameStart = p
        p += 1
        while (p < to && !Character.isWhitespace(html.charAt(p)) && html.charAt(p) != '=' && html.charAt(p) != '/') p += 1
        val hit = p - nameStart == key.length && html.regionMatches(true, nameStart, key, 0, key.length)
        val eq = skipWs(p)
        if (eq < to && html.charAt(eq) == '=') {
          var vs = skipWs(eq + 1)
          var ve = vs
          if (vs < to && (html.charAt(vs) == '"' || html.charAt(vs) == '\'')) {
            val e = html.indexOf(html.charAt(vs), vs + 1)
            vs += 1
            ve = if (e < 0 || e > to) to else e
            p = ve + 1
          } else {
            while (ve < to && !Character.isWhitespace(html.charAt(ve))) ve += 1
            p = ve
          }
          if (hit) return decodeEntities(html.substring(vs, ve))
        } else if (hit) return ""
      }
    }
    null
  }

  /** Case-insensitive indexOf without lowercasing the whole page. */
  private def indexOfIgnoreCase(s: String, target: String, from: Int): Int = {
    val n = s.length - target.length
    var i = math.max(from, 0)
    while (i <= n) {
      if (s.regionMatches(true, i, target, 0, target.length)) return i
      i += 1
    }
    -1
  }

  private final class BlockBuilder {
    val sb = new StringBuilder
    var linkChars = 0
    var headingLevel = 0
    var inList = false
    var srcStart: Int = -1
    var srcEnd: Int = -1
    var pendingSpace = false

    /** Append a [from,to) slice of `t` — no substring allocation. */
    def appendRange(t: String, from: Int, to: Int, inLink: Boolean, src: Int, srcTo: Int): Unit = {
      val before = sb.length
      var i = from
      while (i < to) {
        val c = t.charAt(i)
        if (Character.isWhitespace(c)) { if (sb.nonEmpty) pendingSpace = true }
        else {
          if (pendingSpace) { sb.append(' '); if (inLink) linkChars += 1; pendingSpace = false }
          sb.append(c)
          if (inLink) linkChars += 1
        }
        i += 1
      }
      // provenance only advances when this segment actually contributed
      // characters — whitespace-only segments must not inflate the span
      if (sb.length > before) {
        if (srcStart < 0) srcStart = src
        srcEnd = srcTo
      }
    }

    def build(): Option[Block] = {
      val t = sb.toString
      if (t.isEmpty) None
      else Some(Block(t, linkChars, headingLevel, inList, math.max(srcStart, 0), math.max(srcEnd, 0)))
    }
  }

  /** Tokenize the HTML into text blocks (single pass, no DOM allocation). */
  def blocks(html: String): Vector[Block] = {
    val out = Vector.newBuilder[Block]
    var cur = new BlockBuilder
    var linkDepth = 0
    var listDepth = 0
    var skipDepth = 0 // inside <head>
    var inTitle = false // <title> outside <head> must not leak into content
    val t = new Tokens(html)

    def flush(): Unit = { cur.build().foreach(out += _); cur = new BlockBuilder }

    while (t.next()) {
      if (t.isTag) {
        val name = t.name
        val isEnd = t.isEnd
        if (skipSubtreeTags.contains(name)) {
          if (!isEnd) skipDepth += 1 else if (skipDepth > 0) skipDepth -= 1
        }
        // HTML5 makes </head> optional: <body> implicitly closes the
        // head — without this, a page omitting </head> extracts EMPTY
        if (name == "body" && !isEnd) skipDepth = 0
        if (name == "title") inTitle = !isEnd
        if (name == "a") { if (!isEnd) linkDepth += 1 else if (linkDepth > 0) linkDepth -= 1 }
        if (name == "ul" || name == "ol") { if (!isEnd) listDepth += 1 else if (listDepth > 0) listDepth -= 1 }
        if (blockTags.contains(name)) {
          flush()
          // block boundary terminates inline anchors (browser-style
          // recovery for unclosed <a> in the wild) — except the
          // inline voids <br>/<hr>, which do not close anchors in any
          // browser ('<a>Home<br>Products</a>' stays one link)
          if (name != "br" && name != "hr") linkDepth = 0
          if (!isEnd && name.length == 2 && name.charAt(0) == 'h' && name.charAt(1) >= '1' && name.charAt(1) <= '6')
            cur.headingLevel = name.charAt(1) - '0'
          cur.inList = listDepth > 0
        }
      } else if (skipDepth == 0 && !inTitle) {
        val i = t.start
        val end = t.end
        // zero-copy fast path: segments without entities append in place.
        // The scan is BOUNDED to this segment — an unbounded indexOf ran
        // to the document tail per segment, O(n²) on pages without '&'
        var amp = i
        while (amp < end && html.charAt(amp) != '&') amp += 1
        if (amp >= end)
          cur.appendRange(html, i, end, linkDepth > 0, i, end)
        else {
          val decoded = decodeEntities(html.substring(i, end))
          cur.appendRange(decoded, 0, decoded.length, linkDepth > 0, i, end)
        }
        cur.inList = cur.inList || listDepth > 0
      }
    }
    flush()
    out.result()
  }

  /** The document title: the text of the first `<title>` element,
    * entity-decoded and whitespace-collapsed; "" when there is none or it
    * never closes.
    */
  def titleOf(html: String): String = {
    val t = new Tokens(html)
    while (t.next()) if (t.isTag && !t.isEnd && t.name == "title") {
      val sb = new java.lang.StringBuilder
      while (t.next()) {
        if (!t.isTag) sb.append(html, t.start, t.end)
        else if (t.isEnd && t.name == "title") return decodeEntities(sb.toString).trim.replaceAll("\\s+", " ")
      }
      return ""
    }
    ""
  }

  private val MinContentWords = 8
  private val MaxLinkDensity = 0.33

  /** Content classification: a block is content when it has enough words and
    * low link density; short blocks are promoted when sandwiched between
    * content (Boilerpipe-style neighbor smoothing); headings survive when
    * followed by content.
    */
  def classify(bs: Vector[Block]): Array[Boolean] = {
    val n = bs.length
    val content = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val b = bs(i)
      content(i) = b.words >= MinContentWords && b.linkDensity <= MaxLinkDensity
      i += 1
    }
    // promote headings directly preceding content
    i = n - 2
    while (i >= 0) {
      if (!content(i) && bs(i).headingLevel > 0 && bs(i).linkDensity <= MaxLinkDensity && content(i + 1))
        content(i) = true
      i -= 1
    }
    // promote short low-link blocks sandwiched between content blocks
    i = 1
    while (i < n - 1) {
      if (!content(i) && content(i - 1) && content(i + 1) &&
        bs(i).linkDensity <= MaxLinkDensity && bs(i).words >= 2 && bs(i).headingLevel == 0)
        content(i) = true
      i += 1
    }
    content
  }

  /** Full extraction: classified content blocks joined by `\n`. */
  def extract(html: String): Extraction = {
    val bs = blocks(html)
    val keep = classify(bs)
    val sb = new StringBuilder
    val spans = Vector.newBuilder[Span]
    val prov = Vector.newBuilder[Span]
    var first = true
    var i = 0
    while (i < bs.length) {
      if (keep(i)) {
        if (!first) sb.append('\n')
        val start = sb.length
        sb.append(bs(i).text)
        spans += Span(start, sb.length)
        prov += Span(bs(i).srcStart, bs(i).srcEnd)
        first = false
      }
      i += 1
    }
    Extraction(sb.toString, spans.result(), prov.result(), titleOf(html))
  }

  /** Whitespace-collapsing text buffer of the cell and anchor scans. */
  private final class TextBuf {
    private val sb = new java.lang.StringBuilder
    private var pendingSpace = false
    /** Append `t[from, to)`; a whitespace run between words becomes one space. */
    def append(t: String, from: Int, to: Int): Unit = {
      var i = from
      while (i < to) {
        val c = t.charAt(i)
        if (Character.isWhitespace(c)) space()
        else {
          if (pendingSpace) { sb.append(' '); pendingSpace = false }
          sb.append(c)
        }
        i += 1
      }
    }
    /** A word break: the next word gets a space before it, if a word precedes. */
    def space(): Unit = if (sb.length > 0) pendingSpace = true
    /** The text so far; the buffer starts over empty. */
    def take(): String = { val r = sb.toString; sb.setLength(0); pendingSpace = false; r }
  }

  /** One cell of a top-level `<table>` in document order. Nested tables
    * flatten into the enclosing cell's text (the containment reading a text
    * extractor wants — their structure is not re-emitted as separate
    * tables); `isHeader` marks `<th>` cells; text is entity-decoded and
    * whitespace-collapsed like block text.
    */
  final case class TableCell(
      tableIdx: Int, rowIdx: Int, colIdx: Int, isHeader: Boolean, text: String)

  /** Structured table extraction: every `<td>`/`<th>` cell of every
    * top-level `<table>`, with (table, row, column) coordinates assigned in
    * document order. One pass over the [[Tokens]] events, tracking only
    * table structure — no DOM. Browser-style recovery: an unclosed cell is
    * flushed by the next `<td>`/`<tr>`/`</table>`; a `<td>` before any
    * `<tr>` opens row 0.
    */
  def tables(html: String): Vector[TableCell] = {
    val out = Vector.newBuilder[TableCell]
    var tableIdx = -1 // index among TOP-LEVEL tables seen so far
    var depth = 0 // <table> nesting depth
    var row = -1
    var col = -1
    var inCell = false
    var cellHeader = false
    val cell = new TextBuf

    def flushCell(): Unit = if (inCell) {
      out += TableCell(tableIdx, row, col, cellHeader, cell.take())
      inCell = false
    }

    val t = new Tokens(html)
    while (t.next()) {
      if (t.isTag) {
        val isEnd = t.isEnd
        t.name match {
          case "table" =>
            if (!isEnd) {
              depth += 1
              if (depth == 1) { tableIdx += 1; row = -1; col = -1 }
            } else if (depth > 0) {
              if (depth == 1) flushCell()
              depth -= 1
            }
          case "tr" if depth == 1 => flushCell(); if (!isEnd) { row += 1; col = -1 }
          case "td" | "th" if depth == 1 =>
            flushCell()
            if (!isEnd) {
              if (row < 0) row = 0
              col += 1; inCell = true; cellHeader = t.name == "th"
            }
          case "br" | "hr" | "p" | "div" | "li" =>
            // block boundary inside a cell reads as a space, not a glue
            if (inCell) cell.space()
          case _ =>
        }
      } else if (inCell) {
        var amp = t.start
        while (amp < t.end && html.charAt(amp) != '&') amp += 1
        if (amp >= t.end) cell.append(html, t.start, t.end)
        else { val d = decodeEntities(html.substring(t.start, t.end)); cell.append(d, 0, d.length) }
      }
    }
    flushCell()
    out.result()
  }

  /** Source chars of anchor text kept per anchor: an anchor never closed
    * would otherwise carry the whole page tail.
    */
  private val MaxAnchorLen = 2048

  /** `(href, anchorText)` per `<a href=…>` element in document order. The
    * text is the element's inner text (tags read as spaces, whitespace
    * collapsed, entity-decoded) from at most [[MaxAnchorLen]] source chars.
    * Anchors cannot nest: an anchor closes at `</a>`, at the next `<a>`
    * start tag, or at the end of the page. Anchors without an href drop —
    * the consumer is link analytics, and a target-less anchor has no edge.
    * Hrefs are entity-decoded (the markup spells `&amp;` in query
    * strings); a trailing anchor tag cut off before its `>` yields nothing.
    */
  def anchors(html: String): Vector[(String, String)] = {
    val out = Vector.newBuilder[(String, String)]
    var href: String = null // the open anchor's target
    var textEnd = 0 // source cap of the open anchor's text
    val text = new TextBuf
    def close(): Unit = if (href != null) { out += ((href, decodeEntities(text.take()))); href = null }
    val t = new Tokens(html)
    while (t.next()) {
      if (t.isTag) {
        if (t.name == "a") {
          close()
          if (!t.isEnd) { href = t.attr("href"); textEnd = t.end + MaxAnchorLen }
        } else text.space()
      } else if (href != null) text.append(html, t.start, math.min(t.end, textEnd))
    }
    close()
    out.result()
  }

  /** `href` targets of the [[anchors]] in document order: the crawl
    * frontier of the page.
    */
  def links(html: String): Vector[String] = anchors(html).map(_._1)

  /** Page-level metadata: title, `<meta name=…>` description/keywords,
    * OpenGraph title, `<link rel=canonical>` href, published time
    * (article:published_time), and the robots-noindex bit. One pass over
    * the [[Tokens]] events, reading only `meta` and `link` tags; first
    * occurrence wins (the browser/crawler convention).
    */
  final case class PageMeta(
      title: String, description: String, keywords: String, canonical: String,
      ogTitle: String, published: String, noindex: Boolean)

  def metaOf(html: String): PageMeta = {
    var description = ""
    var keywords = ""
    var canonical = ""
    var ogTitle = ""
    var published = ""
    var noindex = false
    val t = new Tokens(html)
    def attr(key: String): String = { val v = t.attr(key); if (v == null) "" else v }
    def lower(key: String): String = attr(key).toLowerCase(java.util.Locale.ROOT)
    while (t.next()) if (t.isTag && !t.isEnd) {
      if (t.name == "meta") {
        val nm = lower("name")
        val prop = lower("property")
        val content = attr("content")
        if (nm == "description" && description.isEmpty) description = content
        else if (nm == "keywords" && keywords.isEmpty) keywords = content
        else if (prop == "og:title" && ogTitle.isEmpty) ogTitle = content
        else if (prop == "article:published_time" && published.isEmpty) published = content
        else if (nm == "robots" &&
          content.toLowerCase(java.util.Locale.ROOT).contains("noindex")) noindex = true
      } else if (t.name == "link" && lower("rel") == "canonical" && canonical.isEmpty)
        canonical = attr("href")
    }
    PageMeta(titleOf(html), description, keywords, canonical, ogTitle, published, noindex)
  }

  /** Decode raw page bytes: honors a UTF-8 BOM, else UTF-8 (web default). */
  def decodeBytes(bytes: Array[Byte]): String = {
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef && (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf)
      new String(bytes, 3, bytes.length - 3, java.nio.charset.StandardCharsets.UTF_8)
    else new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }
}
