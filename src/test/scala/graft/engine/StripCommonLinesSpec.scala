package graft.engine

import org.scalatest.funsuite.AnyFunSuite

class StripCommonLinesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def docs = Seq(
    (0L, "HEADER\nunique zero\n\nHEADER"),   // header twice in ONE doc: df still 1 doc short of 3
    (1L, "HEADER\nunique one"),
    (2L, "HEADER\nunique two"),
    (3L, "unique three\n  \nunique three b")  // whitespace-only line survives
  ).toDF("doc_id", "text")

  test("lines in >= minDocs distinct docs are removed everywhere") {
    val out = Dedup.stripCommonLines(docs, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    // HEADER appears in docs 0,1,2 = 3 distinct -> every occurrence gone,
    // including BOTH copies in doc 0; blank lines untouched
    assert(out(0)._2 == "unique zero\n" && out(0)._3 == 2L)
    assert(out(1)._2 == "unique one" && out(2)._2 == "unique two")
    assert(out(3)._2 == "unique three\n  \nunique three b")
  }

  test("document frequency counts DISTINCT docs, not occurrences") {
    // DOUBLED appears 4 times but only in 2 docs -> survives minDocs=3
    val d = Seq(
      (0L, "DOUBLED\nDOUBLED"),
      (1L, "DOUBLED\nDOUBLED"),
      (2L, "other")).toDF("doc_id", "text")
    val out = Dedup.stripCommonLines(d, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    assert(out(0)._2 == "DOUBLED\nDOUBLED")
  }

  test("a pure-boilerplate doc disappears; the common lines broadcast") {
    val d = Seq(
      (0L, "BANNER"), (1L, "BANNER"), (2L, "BANNER"),
      (3L, "BANNER\ncontent")).toDF("doc_id", "text")
    val b = Dedup.stripCommonLines(d, "doc_id", "text", minDocs = 3)
    assert(b.orderBy("doc_id").as[(Long, String, Long)].collect().toSeq ==
      Seq((3L, "content", 1L)))
    val plan = SparkTestBase.withoutAutoBroadcast(Dedup.stripCommonLines(
      d, "doc_id", "text", minDocs = 3).queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("composes with dedupLines: strip template boilerplate, then keep-first the rest") {
    val d = Seq(
      (0L, "NAV\nbody a\nshared"),
      (1L, "NAV\nbody b\nshared"),
      (2L, "NAV\nbody c")).toDF("doc_id", "text")
    val stripped = Dedup.stripCommonLines(d, "doc_id", "text", minDocs = 3)
    val out = Dedup.dedupLines(stripped, "doc_id", "text")
      .orderBy("doc_id").selectExpr("doc_id", "text").as[(Long, String)].collect()
    // NAV (df 3) stripped everywhere; "shared" (df 2) keep-first in doc 0
    assert(out.toSeq == Seq((0L, "body a\nshared"), (1L, "body b"), (2L, "body c")))
  }
}
