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
