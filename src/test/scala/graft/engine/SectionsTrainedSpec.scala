package graft.engine

import graft.jobs.TrainScorerJob
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** C5: the TRAINED line-level section-start classifier (the reference's
  * template clf, information_extraction.py:2071-2191) — per-line label
  * one-hots + counts from the real extraction pipeline, ±5 neighbor lines
  * via Window lag/lead, fit as a binary logistic by the driver-side trainer
  * (two-class `fitSoftmaxLocal`; the start probability is class 1's).
  * Held-out accuracy must clear 95% on a form corpus with known section
  * structure.
  */
class SectionsTrainedSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  // form documents: a section starts every 4th line and its line carries a
  // date AND an amount; body lines carry at most one of the two, so the
  // classifier must weight the conjunction (linearly separable, not a
  // single-feature shortcut)
  private def docText(d: Long): String =
    (0 until 16).map { l =>
      val h = (d * 31 + l * 7) % 5
      if (l % 4 == 0)
        s"Abschnitt am ${"%02d".format(1 + ((d + l) % 28).toInt)}.0${1 + (l % 9)}.2019 Betrag 1${l}3,5${d % 10}"
      else if (h < 2) s"posten nummer neun Betrag 45,6${l % 10}"
      else if (h == 2) s"geliefert am ${"%02d".format(1 + (l % 28))}.03.2019 termin offen"
      else "beschreibung der leistung ohne werte hier"
    }.mkString("\n")

  test("trained section-start classifier: held-out accuracy >= 95%, q36 routing intact") {
    import spark.implicits._
    val pages = (0L until 100L).map(d =>
      PageRow(s"doc$d", null, Array.empty[Byte], docText(d), "")).toDS()
    val docs = Extraction.extract(pages)
    val frame = Sections.withNeighborFeatures(Sections.lineLabelFrame(docs), n = 5)
      .withColumn("y", (col("line_no") % 4 === 0).cast("int"))
      .withColumn("doc_num", expr("CAST(substring(url, 4) AS INT)"))
      .persist()
    val dim = (Labels.all.length + 1) * 11 // base + 5 prev + 5 next
    val model = Sections.fitStartClassifier(frame.filter(col("doc_num") < 80), dim)

    val test = frame.filter(col("doc_num") >= 80)
      .select(col("y").cast("double"), col("features"))
      .as[(Double, Seq[Double])].collect()
    frame.unpersist()
    assert(test.length == 20 * 16)
    val correct = test.count { case (y, f) =>
      val p = TrainScorerJob.predictProba(model, f.toArray)(1)
      (p >= 0.5) == (y >= 0.5)
    }
    val acc = correct.toDouble / test.length
    assert(acc >= 0.95, s"held-out section-start accuracy $acc < 0.95")
  }

  test("the start classifier gathers its frame in one Spark job, not one per iteration") {
    import spark.implicits._
    val pages = (0L until 8L).map(d =>
      PageRow(s"doc$d", null, Array.empty[Byte], docText(d), "")).toDS()
    val frame = Sections.withNeighborFeatures(Sections.lineLabelFrame(Extraction.extract(pages)), n = 5)
      .withColumn("y", (col("line_no") % 4 === 0).cast("int"))
      .persist()
    frame.count()
    val (_, jobs) = SparkTestBase.jobsDuring(Sections.fitStartClassifier(frame, (Labels.all.length + 1) * 11))
    frame.unpersist()
    // 122 with the per-iteration distributed loop it replaced (120 iterations)
    assert(jobs == 1)
  }

  test("neighbor widening is shaped and zero-filled at document edges") {
    import spark.implicits._
    val pages = Seq(PageRow("d0", null, Array.empty[Byte], docText(0), "")).toDS()
    val frame = Sections.withNeighborFeatures(Sections.lineLabelFrame(Extraction.extract(pages)), n = 5)
    val rows = frame.orderBy("line_no").select("features").as[Seq[Double]].collect()
    val base = Labels.all.length + 1
    assert(rows.forall(_.length == base * 11))
    // first line: all 5 prev blocks are zero-filled
    val first = rows.head
    (1 to 5).foreach { i =>
      // layout: base, next_1, prev_1, next_2, prev_2, ...
      val prevBlock = first.slice(base * (2 * i), base * (2 * i + 1))
      assert(prevBlock.forall(_ == 0.0), s"prev_$i of line 0 should be zero-filled")
    }
  }
}
