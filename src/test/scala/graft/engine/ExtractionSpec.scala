package graft.engine

import graft.core.Html
import graft.corpus.WebCorpus
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

class ExtractionSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("extraction output is byte-identical across partitionings") {
    import spark.implicits._
    val a = Extraction.extract(Extraction.syntheticPages(spark, 100, 2))
      .select("url", "text_sha256").as[(String, String)].collect().sortBy(_._1)
    val b = Extraction.extract(Extraction.syntheticPages(spark, 100, 16))
      .select("url", "text_sha256").as[(String, String)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    assert(a.length == 100)
  }

  /** The hand-pruned projections must stay byte/field-identical to the
    * full kernel on every input shape. */
  private def assertProjectionsAgree(row: PageRow): Unit = {
    val full = Extraction.extractOne(row)
    val (text, nTok, sha) = Extraction.extractTextStats(row)
    assert(text == full.extracted_text, s"text mismatch for ${row.url}")
    assert(nTok == full.n_tokens, s"n_tokens mismatch for ${row.url}")
    assert(sha == full.text_sha256, s"sha mismatch for ${row.url}")
    val labels = Extraction.extractLabelsOnly(full.extracted_text)
    assert(labels.toSeq == full.labels.toSeq, s"labels mismatch for ${row.url}")
  }

  test("extractTextStats / extractLabelsOnly agree field-for-field with extractOne") {
    // html path, pre-extracted text path, empty row, label-dense invoice
    // text, multiline merge candidates
    val htmlRows = (0L until 40L).map { i =>
      val p = WebCorpus.page(i)
      PageRow(p.url, p.warc_ts, p.html, "", p.lang)
    }
    val textRows = (0L until 40L).map { i =>
      val p = WebCorpus.page(i)
      PageRow(p.url, p.warc_ts, Array.empty[Byte], p.text, p.lang)
    }
    val invoice = PageRow("x", null, Array.empty[Byte],
      "Rechnung Anzahl 17 Betrag 1234,56 am 03.04.2020 Rabatt 7 % Kontakt a@b.de", "")
    val empty = PageRow("e", null, Array.empty[Byte], "", "")
    (htmlRows ++ textRows ++ Seq(invoice, empty)).foreach(assertProjectionsAgree)
  }

  test("projection agreement holds over random text (property)") {
    // every whitespace class the tokenizer splits on or keeps inside a
    // token, plus the characters that make numbers, amounts, dates and
    // detached percent signs
    val char = Gen.oneOf("0123456789,.%aZ€-/@ \n\t\f\r\u00a0".toSeq).map(_.toString)
    val word = Gen.oneOf("12,34", "1.234,56", "03.04.2020", "2020-04-03", "7", "%", " % ",
      "Betrag", "Rechnung\n", "0,5\u00a0%", "\r\n")
    val text = Gen.choose(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(4 -> char, 1 -> word))).map(_.mkString)
    PropCheck(Prop.forAll(text) { t =>
      assertProjectionsAgree(PageRow("p", null, Array.empty[Byte], t, ""))
      true
    })
  }

  test("text stats as plan columns equal extractTextStats at 1 and 3 partitions (property)") {
    import spark.implicits._
    import java.nio.charset.StandardCharsets.UTF_8
    // tokenizer separators, the whitespace kept inside tokens (\r, no-break
    // space), 2- to 4-byte UTF-8 characters (one outside the BMP, where
    // Spark's code-point `length` and String.length differ) and label-ish words
    val piece = Gen.oneOf(" ", "\n", "\t", "\f", "\r", "\u00a0", "a", "Z", "7", "%",
      "\u00e9", "\u20ac", "\u4e2d", "\ud83d\ude00", "12,34", "03.04.2020")
    val text = Gen.choose(0, 30).flatMap(Gen.listOfN(_, piece)).map(_.mkString)
    // markup the extractor keeps, drops or decodes, with entities for an
    // astral character and for a lone surrogate
    val tag = Gen.oneOf("<p>", "</p>", "<article>", "</article>", "<div>", "</div>", "<br>",
      "<nav><a href=\"/a\">home</a> <a href=\"/b\">about</a></nav>",
      "<script>var x=1;</script>", "<title>t</title>", "&amp;", "&nbsp;", "&#x1F600;", "&#55357;")
    val markup = Gen.choose(0, 30).flatMap(Gen.listOfN(_, Gen.oneOf(tag, text))).map(_.mkString)
    val html: Gen[Array[Byte]] = Gen.frequency(
      1 -> Gen.const(null),
      1 -> Gen.const(Array.emptyByteArray),
      3 -> Gen.choose(0L, 999L).map(WebCorpus.page(_).html),
      4 -> markup.map(_.getBytes(UTF_8)),
      1 -> markup.map(m => Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ m.getBytes(UTF_8)))
    val row = for {
      t <- Gen.frequency(1 -> Gen.const(null: String), 6 -> text)
      h <- html
    } yield (t, h)
    // what a Spark string column holds of a Java string: its UTF-8 bytes,
    // so a lone surrogate reads back as '?'
    def stored(s: String): String = new String(s.getBytes(UTF_8), UTF_8)
    def expected(p: PageRow): (String, Long, Long, String) = {
      val (et, nTok, sha) = Extraction.extractTextStats(p)
      (stored(et), et.length.toLong, nTok.toLong, sha)
    }
    def stats(pages: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long, String)] =
      graft.SparkEntry.withTextStats(pages)
        .select("doc_id", "text", "n_chars_extracted", "n_tokens", "text_sha256")
        .as[(Long, String, Long, Long, String)].collect().sortBy(_._1)
        .map { case (_, t, c, n, s) => (t, c, n, s) }.toSeq
    PropCheck(Prop.forAll(Gen.choose(1, 40).flatMap(Gen.listOfN(_, row))) { rows =>
      val indexed = rows.zipWithIndex.map { case ((t, h), i) => (i.toLong, t, h) }
      val wantText = indexed.map { case (i, t, _) =>
        expected(PageRow(i.toString, null, Array.emptyByteArray, t, "")) }
      val wantHtml = indexed.map { case (i, _, h) =>
        expected(PageRow(i.toString, null, h, "", "")) }
      // an RDD scan runs the generated code; a local relation is folded
      // by the optimizer through the interpreted path
      val frames = Seq(1, 3).map(n => spark.sparkContext.parallelize(indexed, n).toDF()) :+
        indexed.toDF()
      frames.forall { f =>
        val df = f.toDF("doc_id", "text", "html")
        stats(df.select("doc_id", "text")) == wantText &&
          stats(df.select(col("doc_id"),
            graft.functions.GraftFunctions.html_text(col("html")).as("text"))) == wantHtml
      }
    }, minSuccessful = 12)
  }

  test("text stats as plan columns: unread stats are pruned, graft_html_text runs once") {
    import spark.implicits._
    val pages = spark.sparkContext.parallelize(Seq((0L, "<p>a b</p>".getBytes("UTF-8"))))
      .toDF("doc_id", "html")
      .select(col("doc_id"), graft.functions.GraftFunctions.html_text(col("html")).as("text"))
    def plan(cols: String*): String =
      graft.SparkEntry.withTextStats(pages).select(cols.head, cols.tail: _*)
        .queryExecution.optimizedPlan.toString
    def calls(p: String, f: String): Int = s"$f\\(".r.findAllMatchIn(p).length
    // q77/q78's columns: no sha2 and no length ahead of the dedup
    val textTokens = plan("doc_id", "text", "n_tokens")
    assert(calls(textTokens, "sha2") == 0 && calls(textTokens, "encode") == 0, textTokens)
    // all three stats read one computed text, not three inlined copies
    val all = plan("doc_id", "n_chars_extracted", "n_tokens", "text_sha256")
    assert(calls(all, "graft_html_text") == 1, all)
    assert(Seq("encode", "graft_token_count", "sha2").forall(calls(all, _) == 1), all)
  }

  test("extracted text matches the corpus golden byte-for-byte (per-url invariant)") {
    import spark.implicits._
    val rows = Extraction.extract(Extraction.syntheticPages(spark, 30, 4))
      .select("url", "extracted_text").as[(String, String)].collect()
    rows.foreach { case (url, text) =>
      assert(text == WebCorpus.mainText(url), s"url $url")
    }
  }

  test("labels include dates, amounts, percents; offsets slice the text exactly") {
    import spark.implicits._
    val docs = Extraction.extract(Extraction.syntheticPages(spark, 200, 8)).collect()
    val allLabels = docs.flatMap(_.labels.map(_.label)).toSet
    assert(allLabels.contains("date"))
    assert(allLabels.contains("amount"))
    assert(allLabels.contains("percent"))
    docs.foreach { d =>
      d.labels.foreach { l =>
        assert(d.extracted_text.substring(l.start, l.end) == l.text)
        assert(l.confidence >= 0.5 && l.confidence <= 1.0)
      }
    }
  }

  test("percent attachment merges amount + % sign") {
    val text = "rate was 12,34 % overall"
    val row = PageRow("u", null, Array.empty, text, "en")
    val doc = Extraction.extractOne(row)
    val pct = doc.labels.filter(_.label == "percent")
    assert(pct.length == 1)
    assert(pct.head.text == "12,34 %")
    assert(pct.head.normalized == "0.1234")
  }

  test("extraction plan is shuffle-free (no Exchange operator)") {
    val plan = Extraction.extract(Extraction.syntheticPages(spark, 10, 2))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan has a shuffle:\n$plan")
  }

  test("pre-extracted text passes through unchanged") {
    val doc = Extraction.extractOne(PageRow("u", null, Array.empty, "keep me exactly", "en"))
    assert(doc.extracted_text == "keep me exactly")
  }

  test("flagship entry returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }
}
