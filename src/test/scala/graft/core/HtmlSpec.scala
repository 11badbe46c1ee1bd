package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.WebCorpus

class HtmlSpec extends AnyFunSuite {

  test("entity decoding") {
    assert(Html.decodeEntities("Tom &amp; Jerry &lt;3 &#65;&#x42; &nbsp;x &unknown; &") ==
      "Tom & Jerry <3 AB  x &unknown; &")
  }

  test("blocks segment at block tags with link accounting") {
    val html = "<html><body><p>Hello world one two</p><div><a href='/x'>nav link</a></div></body></html>"
    val bs = Html.blocks(html)
    assert(bs.length == 2)
    assert(bs(0).text == "Hello world one two")
    assert(bs(0).linkChars == 0)
    assert(bs(1).text == "nav link")
    assert(bs(1).linkChars == 8)
    assert(bs(1).linkDensity == 1.0)
  }

  test("script/style/head content is excluded") {
    val html = "<html><head><title>T</title><style>p{color:red}</style></head>" +
      "<body><script>var x = '<p>not text</p>';</script><p>Real content here with enough words to count</p></body></html>"
    val bs = Html.blocks(html)
    assert(bs.map(_.text).mkString == "Real content here with enough words to count")
    assert(Html.titleOf(html) == "T")
  }

  test("whitespace collapses inside blocks") {
    val bs = Html.blocks("<p>  a\n   b\t c  </p>")
    assert(bs.head.text == "a b c")
  }

  test("classification keeps long low-link blocks and drops nav") {
    val html =
      "<body><nav><a href='/'>home</a> | <a href='/a'>about</a> | <a href='/c'>contact</a></nav>" +
      "<h1>A short heading here</h1>" +
      "<p>This paragraph has clearly more than eight words of real sentence content in it.</p>" +
      "<footer><a href='/t'>terms</a></footer></body>"
    val ex = Html.extract(html)
    assert(ex.text ==
      "A short heading here\nThis paragraph has clearly more than eight words of real sentence content in it.")
  }

  test("provenance spans point into the html source") {
    val html = "<body><p>Paragraph with quite a few ordinary words inside it today</p></body>"
    val ex = Html.extract(html)
    assert(ex.provenance.nonEmpty)
    val Span(s, e) = ex.provenance.head
    assert(html.substring(s, e) == "Paragraph with quite a few ordinary words inside it today")
  }

  test("extraction of the synthetic corpus is byte-identical to the embedded golden text") {
    (0L until 50L).foreach { i =>
      val page = WebCorpus.page(i)
      val html = Html.decodeBytes(page.html)
      val got = Html.extract(html).text
      val want = WebCorpus.mainText(page.url)
      assert(got == want, s"url ${page.url}")
    }
  }

  test("extraction of WebCorpus pages 0-999 matches its pinned digest") {
    // SHA-256 over text, blockSpans, provenance and title of every page,
    // each field length-prefixed: any change to the extracted bytes of any
    // page changes the digest
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    (0L until 1000L).foreach { i =>
      val ex = Html.extract(Html.decodeBytes(WebCorpus.page(i).html))
      put(ex.text); put(ex.blockSpans.mkString(";")); put(ex.provenance.mkString(";")); put(ex.title)
    }
    assert(md.digest().map("%02x".format(_)).mkString ==
      "47608c46cc84182c0fc9f5d44fc13c0123ba18e839f040582b0233f2c14aa873")
  }

  test("title outside <head> does not leak into content") {
    val html = "<html><title>Site Navigation Junk</title><body>" +
      "<p>This ordinary paragraph carries more than eight regular words for the classifier.</p></body></html>"
    val ex = Html.extract(html)
    assert(!ex.text.contains("Site Navigation Junk"))
    assert(ex.text.startsWith("This ordinary paragraph"))
    assert(Html.titleOf(html) == "Site Navigation Junk")
  }

  test("extraction is deterministic (pure function of bytes)") {
    val page = WebCorpus.page(7L)
    val a = Html.extract(Html.decodeBytes(page.html)).text
    val b = Html.extract(Html.decodeBytes(page.html)).text
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("malformed tags do not derail the tokenizer") {
    // empty tag name, bare '/', unclosed tag at EOF, uppercase names,
    // attribute bodies with '/' (the classifier is not under test — assert
    // at the block-tokenizer level)
    val html = "<P CLASS='x'>one two three</P><>junk</><DIV data-a=b/>four five" +
      "<p>six seven</p><broken"
    val text = Html.blocks(html).map(_.text).mkString(" | ")
    assert(text.contains("one two three"))
    assert(text.contains("four five"))
    assert(text.contains("six seven"))
    assert(!text.contains("<"))
  }

  test("uppercase and self-closing tag names fold like lowercase") {
    val a = Html.blocks("<p>alpha beta</p><BR/><p>gamma delta</p>").map(_.text)
    val b = Html.blocks("<P>alpha beta</P><br /><P>gamma delta</P>").map(_.text)
    assert(a == b, "ASCII-folded tag names must behave identically to lowercase")
    assert(a.contains("alpha beta") && a.contains("gamma delta"))
  }

  test("omitted </head> (legal HTML5) does not swallow the body") {
    val html = "<html><head><title>T</title><meta charset=utf-8><body>" +
      "<p>hello world content words</p>"
    val text = Html.blocks(html).map(_.text).mkString(" | ")
    assert(text.contains("hello world content words"))
    assert(!text.contains("T |"), "title stays out of content")
  }

  test("self-closing raw-text tags do not swallow following content") {
    val html = "<svg width=\"16\" height=\"16\"/><p>article text here</p>"
    val text = Html.blocks(html).map(_.text).mkString(" | ")
    assert(text.contains("article text here"))
  }

  test("a '>' inside a quoted attribute does not truncate the tag") {
    val html = "<img alt=\"width > height\"><p>clean text</p>" +
      "<div data-cfg='{\"op\":\">\"}'></div><p>more text</p>"
    val text = Html.blocks(html).map(_.text).mkString(" | ")
    assert(text.contains("clean text") && text.contains("more text"))
    assert(!text.contains("height"), "attribute tail must not leak into text")
    assert(!text.contains("op"), "embedded JSON must not leak into text")
  }

  test("<br> inside an anchor keeps link accounting (anchors survive inline voids)") {
    val bs = Html.blocks("<p><a href=x>Home<br>Products</a> and some plain text</p>")
    // <br> flushes the block but must NOT terminate the anchor: 'Products'
    // in the next block still counts as link text
    assert(bs.map(_.linkChars).sum >= "HomeProducts".length)
  }

  test("uppercase raw-text close tags do not swallow the rest of the document") {
    // legacy pages close with </SCRIPT>/</STYLE>; a case-sensitive search
    // for the close tag dropped everything after the script block
    val html = "<SCRIPT>var x = 1;</SCRIPT><p>page content survives</p>" +
      "<STYLE>.a{color:red}</STYLE><p>more content here</p>"
    val text = Html.blocks(html).map(_.text).mkString(" | ")
    assert(text.contains("page content survives"))
    assert(text.contains("more content here"))
    assert(!text.contains("var x"))
    assert(!text.contains("color:red"))
  }
}
