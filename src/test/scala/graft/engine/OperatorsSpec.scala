package graft.engine

import graft.core.{Rx, Span, Tokenizers}
import graft.jobs.TrainRegexJob
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark

  test("section assignment routes rows to the latest preceding start") {
    import spark.implicits._
    val rows = Seq(
      (1L, 0L, true), (1L, 10L, false), (1L, 20L, true), (1L, 25L, false), (1L, 30L, false),
      (2L, 5L, false), (2L, 8L, true), (2L, 9L, false),
    ).toDF("doc", "pos", "is_start")
    val got = Sections.assignSections(rows, "doc", "pos", "is_start")
      .select("doc", "pos", "section_start").as[(Long, Long, Long)].collect().sorted
    assert(got.toSeq == Seq(
      (1L, 0L, 0L), (1L, 10L, 0L), (1L, 20L, 20L), (1L, 25L, 20L), (1L, 30L, 20L),
      (2L, 5L, 0L), (2L, 8L, 8L), (2L, 9L, 8L)))
  }

  test("section-start score prefers heading-shaped lines") {
    assert(Sections.sectionStartScore("Invoice Details") >
      Sections.sectionStartScore("this is a long rambling body sentence that keeps going and ends with a period."))
  }

  test("categorize: first matching fallback wins, no-op when categorized") {
    import spark.implicits._
    val cats = Seq("alpha" -> "spark", "beta" -> "window")
    val d = Seq((1L, "uses SPARK and window", null.asInstanceOf[String]),
      (2L, "window only here", null.asInstanceOf[String]),
      (3L, "nothing relevant", null.asInstanceOf[String]),
      (4L, "window text", "preset")).toDF("id", "text", "cat")
    val got = Categorize.categorize(d, "text", cats, existing = Some("cat"))
      .select("id", "category").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "alpha", 2L -> "beta", 3L -> "none", 4L -> "preset"))
  }

  test("n-nearest neighbors: same line, sorted by gap, padded") {
    val text = "aa bb cc TARGET dd ee\nff gg"
    val toks = Rx.tokenSpans(text, Tokenizers.whitespace)
    val target = toks.find(t => text.substring(t.start, t.end) == "TARGET").get
    val (left, right) = Neighbors.nNearest(text, toks, target, 3)
    assert(left.map(_.text) == Vector("cc", "bb", "aa"))
    assert(right.map(_.text) == Vector("dd", "ee", ""))
    assert(right(2).distance == Neighbors.PadDistance)
    assert(left(0).distance == 1)
  }

  test("BIO tagging") {
    val text = "total amount 12,34 EUR due"
    val toks = Rx.tokenSpans(text, Tokenizers.whitespace)
    // label spans "12,34 EUR" (merged amount covering 2 tokens)
    val labels = Seq(("amount", Span(13, 22)))
    val tags = Bio.tag(text, toks, labels).map(t => (t.token, t.tag))
    assert(tags == Vector(("total", "O"), ("amount", "O"), ("12,34", "B-amount"),
      ("EUR", "I-amount"), ("due", "O")))
  }

  test("model store round-trip") {
    val path = tempDir("graft_model").resolve("model.json").toString
    ModelStore.save(ModelStore.default, path)
    val loaded = ModelStore.load(path)
    assert(loaded == ModelStore.default)
    // names carrying JSON-special characters must round-trip EXACTLY (a
    // regex scraper dropped quoted names and kept backslashes escaped)
    val tricky = ModelStore.Model(Vector(
      LabelDef("total \"net\"", "Number", 0.2, hasMultipleTopCandidates = false, multiline = false),
      LabelDef("a\\b\nnewline", "Text", 0.1, hasMultipleTopCandidates = true, multiline = true)))
    assert(ModelStore.fromJson(ModelStore.toJson(tricky)) == tricky)
    intercept[Exception](ModelStore.fromJson("""{"nope":1}"""))
    intercept[Exception](ModelStore.fromJson("not json at all"))
  }

  test("regex induction learns a covering regex bank") {
    import spark.implicits._
    // 6 docs with an invoice-number pattern "INV-<4 digits>"
    val docs = (0L until 6L).map(i => (i, s"order text INV-${1000 + i * 7} more text ref ${i}")).toDS()
    val anns = (0L until 6L).map { i =>
      val text = s"order text INV-${1000 + i * 7} more text ref ${i}"
      val start = text.indexOf("INV-")
      TrainRegexJob.Annotation(i, labelId = 7L, annId = 100 + i, start, start + 8)
    }.toDS()
    val result = TrainRegexJob.run(spark, docs, anns, labelId = 7L)
    assert(result.bestRegex.nonEmpty)
    assert(result.nCandidates >= 2) // W/N/F generalizations deduped
    // the winning bank must cover all 6 annotations
    val covered = result.stats.filter(s => result.bestRegex.contains(s.regex))
      .flatMap(_.correctFindingIds).toSet
    assert(covered == (0L until 6L).map(100 + _).toSet)
    // and the top regex generalizes digits: matches an unseen instance
    val top = result.bestRegex.head
    val cp = graft.core.CompiledPattern.compile(top)
    assert(Rx.matches("x INV-9999 y", cp, keepFullMatch = false).nonEmpty)
  }
}
