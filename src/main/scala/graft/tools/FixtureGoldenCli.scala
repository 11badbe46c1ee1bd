package graft.tools

import graft.jobs.FixtureGoldenJob
import graft.sources.FixtureProject
import org.apache.spark.sql.SparkSession

/** Drive the composed train→extract golden end-to-end and print the
  * extracted tuple set, span-strict P/R/F1 against the fixture's ground
  * truth, and the overlap with the reference's 20 golden tuples
  * (entity_results_data, tests/trainer/test_information_extraction.py:78-99).
  * Usage: runMain graft.tools.FixtureGoldenCli [fixtureRoot]
  * (`fixtureRoot` may be relative; it resolves against the working
  * directory and is printed on the first line.)
  */
object FixtureGoldenCli {

  /** The reference pipeline's own 20 extracted tuples for doc 44823. */
  val referenceTuples: Set[(String, Int, Int)] = Set(
    ("Austellungsdatum", 159, 169),
    ("Personalausweis", 352, 357),
    ("Steuerklasse", 365, 366),
    ("Personalausweis", 1194, 1199),
    ("Gesamt-Brutto", 1498, 1504),
    ("Vorname", 1507, 1518),
    ("Nachname", 1519, 1527),
    ("Gesamt-Brutto", 1582, 1587),
    ("Lohnart", 1758, 1762),
    ("Bezeichnung", 1763, 1769),
    ("Betrag", 1831, 1839),
    ("Gesamt-Brutto", 2111, 2119),
    ("Sozialversicherung", 2255, 2262),
    ("Sozialversicherung", 2269, 2274),
    ("Sozialversicherung", 2281, 2285),
    ("Sozialversicherung", 2292, 2296),
    ("Steuerrechtliche Abzüge", 2324, 2330),
    ("Netto-Verdienst", 3004, 3012),
    ("Steuer-Brutto", 3141, 3149),
    ("Auszahlungsbetrag", 3777, 3785))

  def main(args: Array[String]): Unit = {
    val root = java.nio.file.Paths
      .get(args.headOption.getOrElse(FixtureGoldenJob.DefaultRoot))
      .toAbsolutePath.normalize.toString
    println(s"fixture root: $root")
    val spark = SparkSession.builder()
      .appName("graft-fixture-golden")
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val t0 = System.nanoTime()
      val got = FixtureGoldenJob.trainAndExtract(spark, root)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"extracted ${got.length} tuples in $secs%.1f s")
      got.foreach(t => println(f"  (${t.label}%s, ${t.start}%d, ${t.end}%d)  conf=${t.confidence}%.4f  '${t.offset_string}%s'"))

      val gotSet = got.map(t => (t.label, t.start, t.end)).toSet
      // ground truth: correct annotation spans of the extracted doc
      val truth = FixtureProject.loadDoc(root, FixtureGoldenJob.ExtractId)
        .spans.filter(_.isCorrect).map(s => (s.label, s.start, s.end)).toSet
      val tp = gotSet.intersect(truth).size
      val p = if (gotSet.nonEmpty) tp.toDouble / gotSet.size else 0.0
      val r = if (truth.nonEmpty) tp.toDouble / truth.size else 0.0
      val f1 = if (p + r > 0) 2 * p * r / (p + r) else 0.0
      println(f"vs ground truth (${truth.size} correct spans): TP=$tp P=$p%.4f R=$r%.4f F1=$f1%.4f")
      val overlap = gotSet.intersect(referenceTuples).size
      println(s"vs reference's 20 golden tuples: overlap=$overlap/20 (engine-only=${(gotSet -- referenceTuples).size})")
      println("missed reference tuples:")
      (referenceTuples -- gotSet).toVector.sortBy(_._2).foreach(t => println(s"  $t"))
    } finally spark.stop()
  }
}
