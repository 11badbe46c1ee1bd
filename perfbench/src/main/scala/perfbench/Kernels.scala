package perfbench

import java.lang.management.ManagementFactory

import graft.core.{Fingerprint, Geometry, Html, LangId, Rx, Span => TextSpan}
import graft.corpus.WebCorpus
import graft.engine.{Extraction, FeatureFrame, Merge, PageRow, Scorer}

/** Per-doc cost of the `core` kernels, measured single-threaded on the
  * seed's page sample (the first pages of the `extract` window): µs/doc
  * from wall time, bytes/doc from `ThreadMXBean.getThreadAllocatedBytes`.
  * Each kernel reads inputs prepared before its timing starts.
  */
object Kernels {
  val SampleDocs = 400
  val MinSeconds = 0.25

  @volatile private var sink = 0L

  def measure(seed: Long): Seq[(String, Double)] = {
    val lo = seed * ExtractWorkload.Pages
    val pages = Array.tabulate(SampleDocs) { i =>
      val p = WebCorpus.page(lo + i); PageRow(p.url, p.warc_ts, p.html, p.text, p.lang)
    }
    val decoded = pages.map(p => Html.decodeBytes(p.html))
    val texts = decoded.map(h => Html.extract(h).text)
    val packed = texts.map(t => Rx.whitespaceTokensPacked(t))
    val scored = texts.indices.map(i => Scorer.scorePacked(texts(i), packed(i))).toArray
    val spans = packed.map(_.map(p => TextSpan((p >>> 32).toInt, (p & 0xffffffffL).toInt)).toIndexedSeq)

    val kernels: Seq[(String, Int => Long)] = Seq(
      "html" -> (i => Html.extract(decoded(i)).text.length.toLong),
      "tokenize" -> (i => Rx.whitespaceTokensPacked(texts(i)).length.toLong),
      "score" -> (i => Scorer.scorePacked(texts(i), packed(i)).length.toLong),
      "merge" -> (i => Merge.mergeHorizontal(texts(i), scored(i)).length.toLong),
      "sha256" -> (i => Extraction.sha256Hex(texts(i)).hashCode.toLong),
      "simhash" -> (i => Fingerprint.simhash64(texts(i))),
      "langid" -> (i => LangId.detect(texts(i)).hashCode.toLong),
      "extract_one" -> (i => Extraction.extractOne(pages(i)).n_tokens.toLong),
      "text_stats" -> (i => Extraction.extractTextStats(pages(i))._2.toLong),
      "labels_only" -> (i => Extraction.extractLabelsOnly(texts(i)).length.toLong),
      "frame" -> (i => FeatureFrame.assembleDoc(texts(i), Geometry.syntheticGrid(texts(i)),
        spans(i), spans(i), 2, 2, true, false, Nil, Nil).length.toLong))

    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    kernels.flatMap { case (name, f) =>
      def round(): Unit = { var i = 0; var acc = 0L; while (i < SampleDocs) { acc += f(i); i += 1 }; sink += acc }
      val w0 = System.nanoTime()
      while (System.nanoTime() - w0 < MinSeconds * 1e9) round() // warm
      var docs = 0L
      val b0 = mx.getThreadAllocatedBytes(tid)
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < MinSeconds * 1e9) { round(); docs += SampleDocs }
      val s = (System.nanoTime() - t0) / 1e9
      val bytes = mx.getThreadAllocatedBytes(tid) - b0
      Seq(s"core.$name.us_per_doc" -> s / docs * 1e6, s"core.$name.bytes_per_doc" -> bytes.toDouble / docs)
    }
  }
}
