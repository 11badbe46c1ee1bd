package graft.core

import graft.engine.PropCheck
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** Structured extraction from markup: table cells, anchor texts, page
  * metadata — the parse contracts behind q85/q86/q87.
  */
class HtmlStructureSpec extends AnyFunSuite {

  // --- tables ---

  test("tables: header + data rows get (table,row,col) coordinates") {
    val h = "<table><tr><th>A</th><th>B</th></tr>" +
      "<tr><td>1</td><td>2</td></tr><tr><td>3</td><td>4</td></tr></table>"
    val cells = Html.tables(h)
    assert(cells.map(c => (c.tableIdx, c.rowIdx, c.colIdx, c.isHeader, c.text)) == Vector(
      (0, 0, 0, true, "A"), (0, 0, 1, true, "B"),
      (0, 1, 0, false, "1"), (0, 1, 1, false, "2"),
      (0, 2, 0, false, "3"), (0, 2, 1, false, "4")))
  }

  test("tables: two top-level tables index independently") {
    val h = "<table><tr><td>x</td></tr></table><p>between</p>" +
      "<table><tr><td>y</td></tr></table>"
    val cells = Html.tables(h)
    assert(cells.map(c => (c.tableIdx, c.rowIdx, c.colIdx, c.text)) ==
      Vector((0, 0, 0, "x"), (1, 0, 0, "y")))
  }

  test("tables: nested table flattens into the enclosing cell") {
    val h = "<table><tr><td>outer <table><tr><td>inner</td></tr></table></td>" +
      "<td>plain</td></tr></table>"
    val cells = Html.tables(h)
    assert(cells.map(c => (c.tableIdx, c.rowIdx, c.colIdx, c.text)) ==
      Vector((0, 0, 0, "outer inner"), (0, 0, 1, "plain")))
  }

  test("tables: entities decode, inline tags strip, block tags space-separate") {
    val cells = Html.tables(
      "<table><tr><td>a&amp;b <b>c</b></td><td>x<br>y</td></tr></table>")
    assert(cells.map(_.text) == Vector("a&b c", "x y"))
  }

  test("tables: unclosed cells recover at the next td/tr/close") {
    val h = "<table><tr><td>a<td>b<tr><td>c</table>"
    val cells = Html.tables(h)
    assert(cells.map(c => (c.rowIdx, c.colIdx, c.text)) ==
      Vector((0, 0, "a"), (0, 1, "b"), (1, 0, "c")))
  }

  test("tables: td before any tr opens row 0; text outside cells ignored") {
    val cells = Html.tables("<table>stray<td>a</td></table>tail")
    assert(cells.map(c => (c.rowIdx, c.colIdx, c.text)) == Vector((0, 0, "a")))
  }

  test("tables: script inside a cell is consumed, comments skipped") {
    val cells = Html.tables(
      "<table><tr><td><script>var t = '<td>no</td>';</script>a" +
        "<!-- <td>also no</td> -->b</td></tr></table>")
    assert(cells.map(_.text) == Vector("ab"))
  }

  test("tables: no tables means no cells") {
    assert(Html.tables("<p>just text</p>").isEmpty)
  }

  // --- anchors ---

  test("anchors: href plus stripped, collapsed, decoded inner text") {
    val a = Html.anchors(
      "<a href=\"/x?a=1&amp;b=2\">go  <b>now</b>\n please</a>" +
        "<a href='/y'>second</a>")
    assert(a == Vector(("/x?a=1&b=2", "go now please"), ("/y", "second")))
  }

  test("anchors: href-less anchors drop; unterminated anchor is capped") {
    val body = "tail text " * 300 // 3,000 source chars, never closed
    val a = Html.anchors("<a name=\"n\">skip</a><a href=\"/z\">" + body)
    assert(a == Vector(("/z", body.take(2048))))
  }

  test("anchors: case-insensitive tag and closing") {
    assert(Html.anchors("<A HREF='/u'>Hi</A>") == Vector(("/u", "Hi")))
  }

  // --- page metadata ---

  test("metaOf: all fields extracted, first occurrence wins") {
    val h = "<head><title>T &amp; Co</title>" +
      "<meta name=\"description\" content=\"first\">" +
      "<meta name=\"description\" content=\"second\">" +
      "<meta name=\"keywords\" content=\"a,b\">" +
      "<link rel=\"canonical\" href=\"https://c.example/p\">" +
      "<meta property=\"og:title\" content=\"OG\">" +
      "<meta property=\"article:published_time\" content=\"2024-01-02\">" +
      "</head>"
    val m = Html.metaOf(h)
    assert(m.title == "T & Co")
    assert(m.description == "first")
    assert(m.keywords == "a,b")
    assert(m.canonical == "https://c.example/p")
    assert(m.ogTitle == "OG")
    assert(m.published == "2024-01-02")
    assert(!m.noindex)
  }

  test("metaOf: robots noindex detected case-insensitively") {
    assert(Html.metaOf("<meta name=\"ROBOTS\" content=\"NOINDEX, nofollow\">").noindex)
    assert(!Html.metaOf("<meta name=\"robots\" content=\"nofollow\">").noindex)
  }

  test("metaOf: commented-out meta is ignored") {
    val m = Html.metaOf(
      "<!-- <meta name=\"description\" content=\"decoy\"> -->" +
        "<meta name=\"description\" content=\"real\">")
    assert(m.description == "real")
  }

  test("metaOf: attribute order is free; 'name=' inside a value is not a key") {
    val m = Html.metaOf("<meta content=\"name=trap\" name=\"description\">")
    assert(m.description == "name=trap")
  }

  test("metaOf: unquoted attribute values parse") {
    val m = Html.metaOf("<meta name=description content=short>")
    assert(m.description == "short")
  }

  // --- all scans ---

  test("no scan reads markup inside comments or raw-text elements") {
    // random pages from whole fragments; the sentinel is planted only in
    // comment and raw-text bodies, so any scan that reports it misread one.
    // Each fragment's own hrefs and meta fields are known, so the scans
    // are also checked against what the page says outside those bodies.
    val S = "zqxsentinel"
    val hrefOf = Map("<a href=\"/u1\">" -> "/u1", "<A HREF='/u2'>" -> "/u2",
      "<a class=x href=/u3>" -> "/u3", "<a data-href=\"/trap\" href=\"/real\">" -> "/real",
      "<a title=\"x>y\" href=\"/q\">" -> "/q")
    val desc = "<meta name=\"description\" content=\"d\">"
    val keywords = "<META NAME=keywords CONTENT='k'>"
    val canonical = "<link rel=canonical href=\"/c\">"
    val fragment = Gen.oneOf(
      Gen.oneOf("alpha beta", " gamma\n", "x &amp; y", "delta"),
      Gen.oneOf("<p>", "</p>", "<DIV class=\"c\">", "</div>", "<br/>", "<h2>", "</H2>", "<li>"),
      Gen.oneOf(hrefOf.keys.toSeq ++ Seq("<a name=n>", "</a>", "</A>")),
      Gen.oneOf("<table>", "<tr>", "<td>", "<TH>", "</td>", "</table>"),
      Gen.oneOf(desc, keywords, canonical, "<metadata name=\"description\" content=\"no\">",
        "<linkage rel=canonical href=\"/no\">", "<title>", "</title>"),
      Gen.oneOf(s"<!-- $S <a href=\"/$S\">$S</a> -->", s"<!--<meta name=keywords content=$S>-->",
        s"<!--<title>$S</title><td>$S-->"),
      Gen.oneOf(s"<script>var s = '<a href=\"/$S\">$S</a>';</script>", s"<STYLE>.$S{}</STYLE>",
        s"<noscript><a href=/$S>$S</a><title>$S</title></noscript>", s"<svg><title>$S</title></svg>",
        s"<template><td>$S</td><link rel=canonical href=/$S></template>"),
      Gen.oneOf("<div data-cfg='{\"op\":\">\"}'>", "<img alt=\"w > h\">"))
    val tail = Gen.oneOf("", "<a href=\"/tail", "<p class='x", s"<!-- $S", s"<script>$S", "<td")
    val page = for { fs <- Gen.listOf(fragment); t <- tail } yield (fs, fs.mkString + t)
    PropCheck(Prop.forAllNoShrink(page) { case (fs, h) =>
      val m = Html.metaOf(h)
      val read = Html.blocks(h).map(_.text) ++ Html.tables(h).map(_.text) ++ Html.links(h) ++
        Html.anchors(h).flatMap { case (l, t) => Seq(l, t) } ++
        Seq(Html.titleOf(h), m.title, m.description, m.keywords, m.canonical, m.ogTitle, m.published)
      def field(frag: String, value: String) = if (fs.contains(frag)) value else ""
      !read.exists(_.contains(S)) &&
        Html.links(h) == Html.anchors(h).map(_._1) && Html.links(h) == fs.flatMap(hrefOf.get) &&
        m.description == field(desc, "d") && m.keywords == field(keywords, "k") &&
        m.canonical == field(canonical, "/c")
    })
  }
}
