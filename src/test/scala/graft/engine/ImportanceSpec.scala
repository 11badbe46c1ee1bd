package graft.engine

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
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

  /** The operator with its model totals pulled to the driver (two eager
    * checkpoints and two `.head`s) before the scoring plan is built: the
    * reference oracle for the one-plan body.
    */
  private def referenceWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, tau: Double, minCount: Long): DataFrame = {
    val rawCnt = Importance.bigramCounts(raw, textCol, minCount).localCheckpoint(true)
    val tgtCnt = Importance.bigramCounts(target, textCol, minCount).localCheckpoint(true)
    val rRow = rawCnt.agg(coalesce(sum("cnt"), lit(0L)).cast("long"), count(lit(1))).head
    val tr = rRow.getLong(0)
    val v = rRow.getLong(1)
    val tt = {
      val t = tgtCnt.agg(coalesce(sum("cnt"), lit(0L)).cast("long")).head.getLong(0)
      require(t > 0L, "Importance.importanceWeights: empty target model")
      t
    }
    require(tr > 0L, "Importance.importanceWeights: empty raw model")
    val toks = raw.select(col(idCol).cast("long").as("__imp_id"),
      explode(Retrieval.bigramTerms(Retrieval.alnumTokens(col(textCol)))).as("term"))
    val merged = rawCnt.withColumnRenamed("cnt", "cr")
      .join(tgtCnt.withColumnRenamed("cnt", "ct"), Seq("term"), "full_outer")
    toks
      .join(F.broadcast(merged), Seq("term"), "left")
      .withColumn("cr", coalesce(col("cr"), lit(0L)))
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .groupBy(col("__imp_id").as(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("ct")).as("target_mass"),
        sum(col("cr")).as("raw_mass"),
        sum(log((col("ct") + lit(1.0)) / lit((tt + v).toDouble)) -
          log((col("cr") + lit(1.0)) / lit((tr + v).toDouble))).as("__lr"))
      .withColumn("rel_mass",
        (col("target_mass").cast("double") / lit(tt.toDouble)) /
          (col("raw_mass").cast("double") / lit(tr.toDouble)))
      .withColumn("logratio_4dp", round(col("__lr"), 4))
      .withColumn("selected", col("rel_mass") >= lit(tau))
      .drop("__lr")
  }

  private val emptyModel = Seq(
    "Importance.importanceWeights: empty target model",
    "Importance.importanceWeights: empty raw model")

  /** Failures both bodies share: an empty model, or a document whose
    * bigrams `minCount` pruned from the raw model entirely (raw_mass 0, so
    * rel_mass divides by zero under ANSI).
    */
  private val knownFailures = emptyModel :+ "[DIVIDE_BY_ZERO]"

  test("random corpora: rows and doubles equal the driver-totals reference") {
    val token = Gen.frequency(
      6 -> Gen.oneOf("alpha", "beta", "gamma", "delta", "x1"),
      1 -> Gen.oneOf("Alpha", "beta!", "--", "7", "wiki"))
    val text: Gen[String] = Gen.frequency(
      1 -> Gen.const(""),
      1 -> token, // one token: no bigram
      1 -> token.map(t => Seq.fill(4)(t).mkString(" ")), // one bigram, repeated
      6 -> Gen.choose(2, 10).flatMap(n => Gen.listOfN(n, token).map(_.mkString(" "))))
    val corpus = for {
      n <- Gen.choose(1, 10)
      texts <- Gen.listOfN(n, text)
      inTarget <- Gen.listOfN(n, Gen.frequency(2 -> true, 1 -> false))
      // target-only docs: the target is a corpus of its own, not a slice
      targetOnly <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, text))
      minCount <- Gen.choose(1L, 3L)
      tau <- Gen.oneOf(0.5, 1.0, 2.0)
      parts <- Gen.oneOf(1, 2, 3, 7)
    } yield (texts.zip(inTarget).zipWithIndex.map { case ((t, g), i) => (i.toLong, t, g) },
      targetOnly, minCount, tau, parts)
    PropCheck(Prop.forAllNoShrink(corpus) { case (docs, targetOnly, minCount, tau, parts) =>
      val raw = docs.toDF("doc_id", "text", "tgt").repartition(parts)
      val target = raw.filter($"tgt").select("doc_id", "text")
        .union(targetOnly.zipWithIndex.map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text"))
      val want = SparkTestBase.outcome(
        referenceWeights(raw, target, "doc_id", "text", tau, minCount), knownFailures)
      val got = SparkTestBase.outcome(
        Importance.importanceWeights(raw, target, "doc_id", "text", tau, minCount), knownFailures)
      (got == want) :|
        s"docs=$docs targetOnly=$targetOnly minCount=$minCount tau=$tau parts=$parts\nwant=$want\ngot=$got"
    }, minSuccessful = 20)
  }

  test("an empty raw or target model fails the run with its message") {
    val bigrams = Seq((0L, "alpha beta gamma")).toDF("doc_id", "text")
    val noBigram = Seq((1L, "alpha"), (2L, "")).toDF("doc_id", "text")
    def failure(raw: DataFrame, target: DataFrame) = SparkTestBase.messages(intercept[Exception](
      Importance.importanceWeights(raw, target, "doc_id", "text").collect()))
    assert(failure(bigrams, noBigram).contains(emptyModel(0)))
    assert(failure(noBigram, bigrams).contains(emptyModel(1)))
    // both empty: the target model is reported first
    assert(failure(noBigram, noBigram).contains(emptyModel(0)))
  }
}
