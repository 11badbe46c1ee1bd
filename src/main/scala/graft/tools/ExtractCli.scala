package graft.tools

import graft.core._
import graft.corpus.WebCorpus
import graft.engine.{Extraction, PageRow}

/** CLI surface for the core extraction path (no Spark needed): generate or
  * read a page and print what [[Extraction.extractOne]] emits for it — the
  * extracted text's size and sha, token count, language and labels.
  *
  * Usage:
  *   runMain graft.tools.ExtractCli            # 3 synthetic pages
  *   runMain graft.tools.ExtractCli <n>        # n synthetic pages
  *   runMain graft.tools.ExtractCli --file x.html
  */
object ExtractCli {
  def main(args: Array[String]): Unit = {
    val pages: Seq[(String, Array[Byte])] = args match {
      case Array("--file", path) =>
        Seq((path, java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))))
      case Array(n) if n.forall(_.isDigit) =>
        (0L until n.toLong).map(i => { val p = WebCorpus.page(i); (p.url, p.html) })
      case _ =>
        (0L until 3L).map(i => { val p = WebCorpus.page(i); (p.url, p.html) })
    }
    pages.foreach { case (url, html) =>
      val ex = Html.extract(Html.decodeBytes(html)) // title and blocks only
      val doc = Extraction.extractOne(PageRow(url, null, html, null, null))
      val text = doc.extracted_text
      println(s"url=$url")
      println(s"  title   = ${ex.title}")
      println(s"  text    = ${text.length} chars, sha256/16=${doc.text_sha256.take(16)}, blocks=${ex.blockSpans.length}")
      println(s"  tokens  = ${doc.n_tokens} (whitespace), ${Quality.bpeTokenCount(text)} (bpe-ish)")
      println(s"  lang    = ${doc.lang}  quality=${f"${Quality.score(text).composite}%.2f"}")
      println(s"  labels  = ${doc.labels.length}")
      doc.labels.take(8).foreach { l =>
        println(f"    [${l.start}%5d,${l.end}%5d) ${l.label}%-8s ${l.text}%-14s -> ${l.normalized}")
      }
    }
  }
}
