package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.corpus.WebCorpus
import graft.engine.{Extraction, PageRow}
import graft.jobs.ExtractJob
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** `extract`: the production resumable job `ExtractJob.run` over a staged
  * parquet page table. The seed selects the `WebCorpus.page` index window
  * `[seed·N, seed·N + N)`. One pass extracts every page into a fresh output
  * directory; the job writes every output field, so the timed action
  * consumes every column (no `count()`, which would let Catalyst prune).
  */
object ExtractWorkload extends Workload {
  val Pages = 12000L
  val Buckets = 8
  val UrlSample = 32
  override val warmPasses = 2
  override val minPasses = 2

  private def pagesDir(ctx: Ctx) = ctx.dir("extract/pages")

  def stage(ctx: Ctx, round: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val lo = ctx.seed * Pages
    spark.range(lo, lo + Pages, 1L, ctx.cores * 4).as[Long]
      .map { i => val p = WebCorpus.page(i); PageRow(p.url, p.warc_ts, p.html, p.text, p.lang) }
      .write.mode(SaveMode.Overwrite).parquet(pagesDir(ctx))
    ctx.report.info ++= Seq("pages" -> Pages, "page_window" -> Seq(lo, lo + Pages), "buckets" -> Buckets)
  }

  final case class Out(dir: String, lineage: Seq[ExtractJob.LineageRow])

  def pass(ctx: Ctx, k: Int, traced: Boolean): PassOut = {
    val spark = ctx.spark
    import spark.implicits._
    val outDir = ctx.dir(s"extract/out-$k")
    val (lineage, s) = ctx.tracer.span("extract_job.run", "op:extract_job") {
      ExtractJob.run(spark, spark.read.parquet(pagesDir(ctx)).as[PageRow], outDir, Buckets)
    }
    PassOut(s, lineage.map(l => (s"bucket ${l.bucket}", l.wall_ms / 1000.0)), 0, Out(outDir, lineage))
  }

  private def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(p => Files.size(p)).sum

  private def deleteTree(dir: Path): Unit = if (Files.exists(dir))
    Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))

  /** Last checked pass's committed bytes per input doc. */
  @volatile var outBytesPerDoc = 0.0

  def check(ctx: Ctx, po: PassOut): Int = {
    val spark = ctx.spark
    import spark.implicits._
    val o = po.payload.asInstanceOf[Out]
    val audit = ExtractJob.audit(spark, o.dir)
      .select("bucket", "rows_match", "checksum_match").as[(Int, Boolean, Boolean)].collect()
    val badBuckets = audit.count { case (_, r, c) => !(r && c) } + (Buckets - audit.length)
    val rows = o.lineage.map(_.n_rows).sum
    // a seeded url sample: extracted_text must equal the generator's golden text
    val rng = new java.util.SplittableRandom(ctx.seed * 31 + o.lineage.length)
    val lo = ctx.seed * Pages
    val urls = Seq.fill(UrlSample)(WebCorpus.urlFor(lo + rng.nextLong(Pages))).distinct
    val got = spark.read.parquet(s"${o.dir}/data").filter(col("url").isin(urls: _*))
      .select("url", "extracted_text").as[(String, String)].collect().toMap
    val textBad = urls.count(u => !got.get(u).contains(WebCorpus.mainText(u)))
    ctx.report.check(s"extract audit ${o.dir.split('/').last}",
      badBuckets == 0 && rows == Pages && textBad == 0,
      s"bad buckets $badBuckets, rows $rows of $Pages, text mismatches $textBad of ${urls.length}")
    val dir = Paths.get(o.dir)
    outBytesPerDoc = (bytesUnder(dir.resolve("data")) + bytesUnder(dir.resolve("_lineage"))).toDouble / Pages
    deleteTree(dir) // disk use stays flat across passes
    badBuckets
  }

  override def summary(ctx: Ctx, passes: Seq[PassOut]): Unit =
    ctx.report.detail ++= Seq(
      "docs_per_s" -> Pages / Stats.quantile(passes.map(_.wallS), 0.5),
      "out_bytes_per_doc" -> outBytesPerDoc)

  override def layers(ctx: Ctx, passes: Seq[PassOut]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val buckets = passes.flatMap(_.opS.map(_._2))
    val stage = passes.map(p => p.wallS - p.opS.map(_._2).sum)
    val (_, noopS) = ctx.tracer.span("extraction.noop", "engine:extract_noop") {
      Extraction.extract(spark.read.parquet(pagesDir(ctx)).as[PageRow])
        .write.format("noop").mode(SaveMode.Overwrite).save()
    }
    ctx.report.detail ++= Seq(
      "jobs.extract_job.stage_s" -> Stats.quantile(stage, 0.5),
      "jobs.extract_job.bucket_p50_s" -> Stats.quantile(buckets, 0.5),
      "jobs.extract_job.bucket_max_s" -> buckets.max,
      "engine.extract.noop_docs_per_s" -> Pages / noopS)
  }
}
