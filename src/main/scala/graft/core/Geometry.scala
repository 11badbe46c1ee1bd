package graft.core

/** Character-geometry kernels for the PDF/layout-aware path: bbox envelopes,
  * per-line grouping, merged-run construction, reading order. Semantics
  * follow konfuzio_sdk/utils.py:551-961 (get_bbox, group_bboxes_per_line,
  * get_merged_bboxes, select_bboxes) and data.py:962-989 (span bbox =
  * envelope of non-space char boxes). Coordinate origin is bottom-left
  * (reference docs/sdk/coordinates_system.md:31).
  */
object Geometry {

  /** One character's box. `page` is 0-based; `line` is 1-based like the
    * reference bbox.json5 `line_number`.
    */
  final case class CharBox(
      offset: Int, ch: Char, page: Int, line: Int,
      x0: Double, x1: Double, y0: Double, y1: Double)

  /** Columnar char-box table (struct-of-arrays): the scale representation
    * of a document's OCR geometry. One object per DOCUMENT instead of one
    * per character — at 100× corpus scale the boxed [[CharBox]] vectors are
    * pure GC pressure, so the hot kernels ([[lineBoxes]], [[mergedBoxes]],
    * [[spanBox]], vertical merge) all run directly on these arrays.
    * `offsets` must be ascending (payloads arrive offset-sorted); `pages`
    * 0-based, `lines` 1-based within page, like [[CharBox]].
    */
  final class CharGrid(
      val offsets: Array[Int],
      val chars: String,
      val pages: Array[Int],
      val lines: Array[Int],
      val x0: Array[Double], val x1: Array[Double],
      val y0: Array[Double], val y1: Array[Double]) extends Serializable {

    def length: Int = offsets.length

    /** Permutation of row indices sorted by (page, line, x0, offset) plus
      * the run boundaries of each (page, line) group. Computed in one pass
      * when the rows already arrive in that order (synthetic grids, most
      * OCR payloads); otherwise via one primitive long-key sort — never a
      * per-line hash map.
      */
    lazy val (order: Array[Int], runStarts: Array[Int]) = {
      val n = length
      var sorted = true
      var i = 1
      while (sorted && i < n) {
        val c = java.lang.Integer.compare(pages(i - 1), pages(i)) match {
          case 0 => java.lang.Integer.compare(lines(i - 1), lines(i))
          case p => p
        }
        if (c > 0 || (c == 0 && x0(i - 1) > x0(i))) sorted = false
        i += 1
      }
      val ord =
        if (sorted) Array.tabulate(n)(identity)
        else {
          // non-negativity matters as much as the width bounds: a negative
          // page/line would sign-extend across the packed key fields and
          // silently corrupt the sort order rather than fail
          require(n < (1 << 24) &&
            pages.forall(p => p >= 0 && p < (1 << 19)) &&
            lines.forall(l => l >= 0 && l < (1 << 20)),
            "CharGrid sort-key packing exceeded (0 <= page < 2^19, 0 <= line < 2^20, n < 2^24)")
          val keys = new Array[Long](n)
          var j = 0
          while (j < n) {
            keys(j) = (pages(j).toLong << 44) | (lines(j).toLong << 24) | j.toLong
            j += 1
          }
          java.util.Arrays.sort(keys)
          val o = new Array[Int](n)
          j = 0
          while (j < n) { o(j) = (keys(j) & 0xFFFFFF).toInt; j += 1 }
          // x0 insertion sort inside each (page, line) run (runs are lines —
          // short), stable on the original index
          var s = 0
          while (s < n) {
            var e = s + 1
            while (e < n && pages(o(e)) == pages(o(s)) && lines(o(e)) == lines(o(s))) e += 1
            var a = s + 1
            while (a < e) {
              val v = o(a)
              var b = a - 1
              while (b >= s && (x0(o(b)) > x0(v) || (x0(o(b)) == x0(v) && o(b) > v))) {
                o(b + 1) = o(b); b -= 1
              }
              o(b + 1) = v
              a += 1
            }
            s = e
          }
          o
        }
      val rs = Array.newBuilder[Int]
      var s = 0
      while (s < n) {
        rs += s
        var e = s + 1
        while (e < n && pages(ord(e)) == pages(ord(s)) && lines(ord(e)) == lines(ord(s))) e += 1
        s = e
      }
      rs += n
      (ord, rs.result())
    }

    /** Row index of the first offset >= `off` (offsets ascending). */
    def lowerBound(off: Int): Int = {
      var lo = 0; var hi = length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (offsets(mid) < off) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** Boxed view for the compatibility surface — NOT for hot paths. */
    def toCharBoxes: Vector[CharBox] =
      Vector.tabulate(length)(i =>
        CharBox(offsets(i), chars.charAt(i), pages(i), lines(i), x0(i), x1(i), y0(i), y1(i)))
  }

  object CharGrid {
    def fromCharBoxes(cs: Seq[CharBox]): CharGrid = {
      val n = cs.size
      val off = new Array[Int](n); val sb = new java.lang.StringBuilder(n)
      val pg = new Array[Int](n); val ln = new Array[Int](n)
      val ax0 = new Array[Double](n); val ax1 = new Array[Double](n)
      val ay0 = new Array[Double](n); val ay1 = new Array[Double](n)
      var i = 0
      cs.foreach { cb =>
        off(i) = cb.offset; sb.append(cb.ch); pg(i) = cb.page; ln(i) = cb.line
        ax0(i) = cb.x0; ax1(i) = cb.x1; ay0(i) = cb.y0; ay1(i) = cb.y1
        i += 1
      }
      new CharGrid(off, sb.toString, pg, ln, ax0, ax1, ay0, ay1)
    }
  }

  final case class Box(x0: Double, x1: Double, y0: Double, y1: Double, page: Int, line: Int) {
    def area: Double = (x1 - x0) * (y1 - y0)
    def quadrantTwoArea: Double = x0 * y0 // reference feature `area_quadrant_two`
  }

  /** Envelope of the non-space characters in [start, end) (data.py:977-988).
    * None when no char in range provides a box.
    */
  def spanBox(chars: IndexedSeq[CharBox], start: Int, end: Int): Option[Box] = {
    var x0 = Double.MaxValue; var y0 = Double.MaxValue
    var x1 = Double.MinValue; var y1 = Double.MinValue
    var page = -1; var line = -1; var sawMulti = false
    var found = false
    chars.foreach { cb =>
      if (cb.offset >= start && cb.offset < end && cb.ch != ' ') {
        found = true
        if (cb.x0 < x0) x0 = cb.x0
        if (cb.y0 < y0) y0 = cb.y0
        if (cb.x1 > x1) x1 = cb.x1
        if (cb.y1 > y1) y1 = cb.y1
        if (page < 0) page = cb.page
        if (line < 0) line = cb.line else if (line != cb.line) sawMulti = true
      }
    }
    if (!found) None
    else Some(Box(x0, x1, y0, y1, page, if (sawMulti) -1 else line))
  }

  /** Group char boxes into per-line envelopes (utils.py:551-611). */
  def lineBoxes(chars: Seq[CharBox]): Vector[Box] =
    lineBoxes(CharGrid.fromCharBoxes(chars))

  /** Columnar line envelopes: one pass over the sorted runs, zero per-char
    * allocation.
    */
  def lineBoxes(g: CharGrid): Vector[Box] = {
    val out = Vector.newBuilder[Box]
    val rs = g.runStarts
    var r = 0
    while (r < rs.length - 1) {
      var x0 = Double.MaxValue; var y0 = Double.MaxValue
      var x1 = Double.MinValue; var y1 = Double.MinValue
      var found = false
      var i = rs(r)
      while (i < rs(r + 1)) {
        val j = g.order(i)
        if (g.chars.charAt(j) != ' ') {
          found = true
          if (g.x0(j) < x0) x0 = g.x0(j)
          if (g.x1(j) > x1) x1 = g.x1(j)
          if (g.y0(j) < y0) y0 = g.y0(j)
          if (g.y1(j) > y1) y1 = g.y1(j)
        }
        i += 1
      }
      if (found) {
        val j0 = g.order(rs(r))
        out += Box(x0, x1, y0, y1, g.pages(j0), g.lines(j0))
      }
      r += 1
    }
    out.result()
  }

  /** Merge consecutive char boxes within a line into word-run boxes; a new
    * run starts when the x-gap exceeds `maxGap` multiples of the mean char
    * width (the space-gap accounting of utils.py:773-961).
    */
  def mergedBoxes(chars: Seq[CharBox], maxGap: Double = 1.5): Vector[Box] =
    mergedBoxes(CharGrid.fromCharBoxes(chars), maxGap)

  /** Columnar word-run boxes: per sorted line run, envelope sub-runs split
    * where the x-gap between consecutive non-space chars exceeds `maxGap`
    * mean char widths. Zero per-char allocation.
    */
  def mergedBoxes(g: CharGrid, maxGap: Double): Vector[Box] = {
    val out = Vector.newBuilder[Box]
    val rs = g.runStarts
    // scratch: indices of the current line's non-space chars (x0-ordered)
    var scratch = new Array[Int](64)
    var r = 0
    while (r < rs.length - 1) {
      var m = 0
      var widthSum = 0.0
      var i = rs(r)
      while (i < rs(r + 1)) {
        val j = g.order(i)
        if (g.chars.charAt(j) != ' ') {
          if (m == scratch.length) scratch = java.util.Arrays.copyOf(scratch, m * 2)
          scratch(m) = j
          widthSum += g.x1(j) - g.x0(j)
          m += 1
        }
        i += 1
      }
      if (m > 0) {
        val j0 = g.order(rs(r))
        val page = g.pages(j0); val line = g.lines(j0)
        val meanW = math.max(1e-9, widthSum / m)
        var runStart = 0
        var k = 1
        def flush(endIdx: Int): Unit = {
          var x0 = Double.MaxValue; var y0 = Double.MaxValue
          var x1 = Double.MinValue; var y1 = Double.MinValue
          var a = runStart
          while (a < endIdx) {
            val j = scratch(a)
            if (g.x0(j) < x0) x0 = g.x0(j)
            if (g.x1(j) > x1) x1 = g.x1(j)
            if (g.y0(j) < y0) y0 = g.y0(j)
            if (g.y1(j) > y1) y1 = g.y1(j)
            a += 1
          }
          out += Box(x0, x1, y0, y1, page, line)
        }
        while (k < m) {
          if (g.x0(scratch(k)) - g.x1(scratch(k - 1)) > maxGap * meanW) { flush(k); runStart = k }
          k += 1
        }
        flush(m)
      }
      r += 1
    }
    out.result()
  }

  /** Columnar span envelope (data.py:977-988): binary search to the span's
    * first row, linear scan to its end — no per-char objects, no full-array
    * sweep.
    */
  def spanBox(g: CharGrid, start: Int, end: Int): Option[Box] = {
    var x0 = Double.MaxValue; var y0 = Double.MaxValue
    var x1 = Double.MinValue; var y1 = Double.MinValue
    var page = -1; var line = -1; var sawMulti = false
    var found = false
    var i = g.lowerBound(start)
    while (i < g.length && g.offsets(i) < end) {
      if (g.chars.charAt(i) != ' ') {
        found = true
        if (g.x0(i) < x0) x0 = g.x0(i)
        if (g.x1(i) > x1) x1 = g.x1(i)
        if (g.y0(i) < y0) y0 = g.y0(i)
        if (g.y1(i) > y1) y1 = g.y1(i)
        if (page < 0) page = g.pages(i)
        if (line < 0) line = g.lines(i) else if (line != g.lines(i)) sawMulti = true
      }
      i += 1
    }
    if (!found) None
    else Some(Box(x0, x1, y0, y1, page, if (sawMulti) -1 else line))
  }

  /** X2 spatial features of a span box relative to its page
    * (data.py:1070-1088; information_extraction.py:1622-1625): absolutes,
    * area, quadrant-two area, page-relative ratios, and the span's relative
    * page position in the document.
    */
  final case class SpatialFeatures(
      x0: Double, x1: Double, y0: Double, y1: Double,
      area: Double, areaQuadrantTwo: Double,
      x0Rel: Double, x1Rel: Double, y0Rel: Double, y1Rel: Double,
      pageIndex: Int, relativePositionInPage: Double)

  def spatialFeatures(b: Box, pageW: Double, pageH: Double, nPages: Int): SpatialFeatures =
    SpatialFeatures(b.x0, b.x1, b.y0, b.y1, b.area, b.quadrantTwoArea,
      b.x0 / pageW, b.x1 / pageW, b.y0 / pageH, b.y1 / pageH,
      b.page, if (nPages > 0) b.page.toDouble / nPages else 0.0)

  /** Rescale a box between coordinate spaces (utils.py:502-524). */
  def rescale(b: Box, fromW: Double, fromH: Double, toW: Double, toH: Double): Box =
    b.copy(x0 = b.x0 * toW / fromW, x1 = b.x1 * toW / fromW,
      y0 = b.y0 * toH / fromH, y1 = b.y1 * toH / fromH)

  /** Synthesize char boxes for plain text on a fixed-metric grid — gives the
    * layout kernels a deterministic geometry for text-only documents
    * (each char 6x10 units, lines stacked top-down, origin bottom-left).
    */
  def syntheticCharBoxes(text: String, pageH: Double = 792): Vector[CharBox] =
    syntheticGrid(text, pageH).toCharBoxes

  /** Columnar synthetic grid — same metric as [[syntheticCharBoxes]], built
    * straight into parallel arrays (one allocation set per document).
    */
  // no pageW parameter: the fixed-metric grid does not wrap or clamp at a
  // page width (a dead parameter would suggest otherwise) — callers that
  // validate against page bounds derive the width from the grid's maxima
  def syntheticGrid(text: String, pageH: Double = 792): CharGrid = {
    var n = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c != '\n' && c != '\f') n += 1
      i += 1
    }
    val off = new Array[Int](n)
    val sb = new java.lang.StringBuilder(n)
    val pg = new Array[Int](n); val ln = new Array[Int](n)
    val ax0 = new Array[Double](n); val ax1 = new Array[Double](n)
    val ay0 = new Array[Double](n); val ay1 = new Array[Double](n)
    var page = 0; var line1 = 1; var col = 0
    var k = 0
    i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == '\n') { line1 += 1; col = 0 }
      else if (c == '\f') { page += 1; line1 = 1; col = 0 }
      else {
        val x0 = col * 6.0
        val yTop = pageH - (line1 - 1) * 12.0
        off(k) = i; sb.append(c); pg(k) = page; ln(k) = line1
        ax0(k) = x0; ax1(k) = x0 + 6.0; ay0(k) = yTop - 10.0; ay1(k) = yTop
        col += 1
        k += 1
      }
      i += 1
    }
    new CharGrid(off, sb.toString, pg, ln, ax0, ax1, ay0, ay1)
  }
}
