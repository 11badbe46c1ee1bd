package graft.engine

import org.scalatest.funsuite.AnyFunSuite

class ImportanceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // raw corpus: two "wiki-like" docs (the target slice) + one mixed + one alien
  private def raw = Seq(
    (0L, "alpha beta gamma delta", "wiki"),
    (1L, "alpha beta gamma epsilon", "wiki"),
    (2L, "alpha beta junk junk", "web"),
    (3L, "spam spam spam spam spam", "web")
  ).toDF("doc_id", "text", "src")

  private def weights = Importance.importanceWeights(
    raw, raw.filter($"src" === "wiki"), "doc_id", "text", tau = 1.0)

  test("masses are integer-exact and hand-verifiable") {
    val byId = weights.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // raw bigram counts: "alpha beta"=3, "beta gamma"=2, "gamma delta"=1,
    // "gamma epsilon"=1, "beta junk"=1, "junk junk"=1, "spam spam"=4
    // target (wiki): "alpha beta"=2, "beta gamma"=2, "gamma delta"=1, "gamma epsilon"=1
    val d0 = byId(0L) // bigrams: alpha beta, beta gamma, gamma delta
    assert(d0.getAs[Long]("n_bigrams") == 3L)
    assert(d0.getAs[Long]("target_mass") == 2L + 2L + 1L)
    assert(d0.getAs[Long]("raw_mass") == 3L + 2L + 1L)
    val d3 = byId(3L) // spam spam x4: target count 0, raw count 4 each
    assert(d3.getAs[Long]("target_mass") == 0L)
    assert(d3.getAs[Long]("raw_mass") == 16L)
  }

  test("rel_mass is the exact-division coordinate and drives selection") {
    val byId = weights.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // Tt = 6 (target bigram occurrences), Tr = 13
    val d0 = byId(0L)
    assert(d0.getAs[Double]("rel_mass") == (5.0 / 6.0) / (6.0 / 13.0))
    assert(d0.getAs[Boolean]("selected"))
    assert(!byId(3L).getAs[Boolean]("selected") &&
      byId(3L).getAs[Double]("rel_mass") == 0.0)
    // in-domain docs rank strictly above the alien one on the DSIR ratio too
    assert(d0.getAs[Double]("logratio_4dp") > byId(3L).getAs[Double]("logratio_4dp"))
  }

  test("docs with fewer than 2 alnum tokens drop; the models broadcast") {
    val withShort = raw.union(Seq((9L, "single", "web")).toDF("doc_id", "text", "src"))
    val b = Importance.importanceWeights(
      withShort, withShort.filter($"src" === "wiki"), "doc_id", "text")
    assert(!b.select("doc_id").as[Long].collect().contains(9L))
    val plan = SparkTestBase.withoutAutoBroadcast(Importance.importanceWeights(
      withShort, withShort.filter($"src" === "wiki"), "doc_id", "text")
      .queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("minCount pruning floors pruned terms on both sides") {
    // prune every bigram with cnt < 2: gamma delta / gamma epsilon / beta
    // junk / junk junk leave the raw model; their mass contribution becomes 0
    val w = Importance.importanceWeights(
      raw, raw.filter($"src" === "wiki"), "doc_id", "text", minCount = 2L)
    val d0 = w.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap.apply(0L)
    assert(d0.getAs[Long]("raw_mass") == 3L + 2L + 0L)
    assert(d0.getAs[Long]("target_mass") == 2L + 2L + 0L)
  }
}
