package graft.engine

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Unigram LM quality scoring (LangModel.scala): hand-computed fit and
  * score values on a tiny corpus, minCount pruning with the add-one OOV
  * floor, determinism across partitionings, and the broadcast plan shape
  * of the model join.
  */
class LangModelSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def docs = {
    import spark.implicits._
    Seq((0L, "a a b"), (1L, "a c")).toDF("doc_id", "text")
  }

  test("fitUnigram counts tokens; minCount prunes") {
    import spark.implicits._
    val lm = LangModel.fitUnigram(docs, "text")
      .as[(String, Long)].collect().toMap
    assert(lm == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    val pruned = LangModel.fitUnigram(docs, "text", minCount = 2L)
      .as[(String, Long)].collect().toMap
    assert(pruned == Map("a" -> 3L))
  }

  test("scoreDocs: exact integer masses, bit-exact ratios, xent, buckets") {
    val lm = LangModel.fitUnigram(docs, "text")
    // corpus: a=3, b=1, c=1 → total=5, vocab=3, corpusMean=5/3
    val out = LangModel.scoreDocs(docs, lm, "doc_id", "text",
      tauHead = 1.3, tauTail = 1.25).orderBy("doc_id").collect()
    val d0 = out(0); val d1 = out(1)
    assert(d0.getAs[Long]("n_tokens") == 3L && d0.getAs[Long]("freq_mass") == 7L)
    assert(d1.getAs[Long]("n_tokens") == 2L && d1.getAs[Long]("freq_mass") == 4L)
    assert(d0.getAs[Double]("mean_freq") == 7.0 / 3.0)
    assert(d0.getAs[Double]("rel_freq") == (7.0 / 3.0) / (5.0 / 3.0))
    assert(d1.getAs[Double]("rel_freq") == 2.0 / (5.0 / 3.0))
    val xent0 = math.log(5.0) - (math.log(3.0) + math.log(3.0) + math.log(1.0)) / 3.0
    assert(math.abs(d0.getAs[Double]("xent") - xent0) < 5e-5)
    assert(d0.getAs[String]("bucket") == "head") // rel 1.4
    assert(d1.getAs[String]("bucket") == "tail") // rel 1.2
  }

  test("scoreDocs: pruned/unseen tokens take the add-one floor") {
    val lm = LangModel.fitUnigram(docs, "text", minCount = 2L) // only 'a'
    val out = LangModel.scoreDocs(docs, lm, "doc_id", "text",
      tauHead = 10.0, tauTail = 0.0).orderBy("doc_id").collect()
    // total=3, vocab=1; d0: a,a,b → 3+3+1=7; d1: a,c → 3+1=4
    assert(out(0).getAs[Long]("freq_mass") == 7L)
    assert(out(1).getAs[Long]("freq_mass") == 4L)
    assert(out.forall(_.getAs[String]("bucket") == "middle"))
  }

  test("deterministic across partitionings") {
    import spark.implicits._
    val big = (0L until 200L).map(i =>
      (i, s"tok${i % 7} tok${i % 3} tok${i % 11} shared")).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) = {
      val lm = LangModel.fitUnigram(df, "text")
      LangModel.scoreDocs(df, lm, "doc_id", "text", 1.1, 0.9)
        .select("doc_id", "freq_mass", "rel_freq", "bucket")
        .as[(Long, Long, Double, String)].collect().sortBy(_._1).toSeq
    }
    assert(run(big) == run(big.repartition(13)))
  }

  test("model join broadcasts (corpus side never shuffles for the join)") {
    val lm = LangModel.fitUnigram(docs, "text")
    val plan = SparkTestBase.withoutAutoBroadcast(
      LangModel.scoreDocs(docs, lm, "doc_id", "text", 1.0, 1.0).queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  /** The operator with its model total and vocab pulled to the driver (an
    * eager checkpoint and a one-row collect) before the scoring plan is
    * built: the reference oracle for the one-plan body.
    */
  private def referenceScore(docs: DataFrame, lm: DataFrame, idCol: String, textCol: String,
      tauHead: Double, tauTail: Double, carry: Seq[String]): DataFrame = {
    val model = lm.localCheckpoint(true)
    val totRow = model.agg(sum(col("cnt")).cast("long"), count(lit(1))).collect()(0)
    val total = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
    val vocab = totRow.getLong(1)
    require(total > 0L, "scoreDocs: empty language model")
    val corpusMean = total.toDouble / vocab.toDouble
    val toks = docs
      .select(col(idCol) +: carry.map(col) :+
        explode(split(col(textCol), " ", -1)).as("token"): _*)
      .where(col("token") =!= "")
    toks.join(F.broadcast(model), Seq("token"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(1L)))
      .groupBy(col(idCol) +: carry.map(col): _*)
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("freq_mass"),
        sum(log(col("cnt").cast("double"))).as("sum_ln"))
      .withColumn("mean_freq", col("freq_mass").cast("double") / col("n_tokens").cast("double"))
      .withColumn("rel_freq", col("mean_freq") / lit(corpusMean))
      .withColumn("xent", round(lit(math.log(total.toDouble)) - col("sum_ln") / col("n_tokens").cast("double"), 4))
      .withColumn("bucket",
        when(col("rel_freq") >= tauHead, "head")
          .when(col("rel_freq") < tauTail, "tail")
          .otherwise("middle"))
      .drop("sum_ln")
  }

  private val emptyModel = "scoreDocs: empty language model"

  test("random corpora: rows and doubles equal the driver-totals reference") {
    import spark.implicits._
    val token = Gen.frequency(6 -> Gen.oneOf("a", "b", "c", "dd", "e1"), 1 -> Gen.const(""))
    val text: Gen[String] = Gen.frequency(
      1 -> Gen.const(""),
      1 -> token, // one token (or none)
      1 -> token.map(t => Seq.fill(5)(t).mkString(" ")), // one token, repeated
      6 -> Gen.choose(2, 12).flatMap(n => Gen.listOfN(n, token).map(_.mkString(" "))))
    val corpus = for {
      n <- Gen.choose(1, 10)
      texts <- Gen.listOfN(n, text)
      langs <- Gen.listOfN(n, Gen.oneOf("en", "de"))
      minCount <- Gen.choose(1L, 3L)
      tauTail <- Gen.oneOf(0.5, 0.9, 1.0)
      tauHead <- Gen.oneOf(1.0, 1.1, 2.0)
      withCarry <- Gen.oneOf(true, false)
      parts <- Gen.oneOf(1, 2, 3, 7)
    } yield (texts.zip(langs).zipWithIndex.map { case ((t, l), i) => (i.toLong, t, l) },
      minCount, tauHead, tauTail, withCarry, parts)
    PropCheck(Prop.forAllNoShrink(corpus) {
      case (rows, minCount, tauHead, tauTail, withCarry, parts) =>
        val docs = rows.toDF("doc_id", "text", "lang").repartition(parts)
        val lm = LangModel.fitUnigram(docs, "text", minCount)
        val carry = if (withCarry) Seq("lang") else Nil
        val want = SparkTestBase.outcome(
          referenceScore(docs, lm, "doc_id", "text", tauHead, tauTail, carry), Seq(emptyModel))
        val got = SparkTestBase.outcome(
          LangModel.scoreDocs(docs, lm, "doc_id", "text", tauHead, tauTail, carry), Seq(emptyModel))
        (got == want) :|
          s"rows=$rows minCount=$minCount taus=($tauHead, $tauTail) carry=$carry parts=$parts\nwant=$want\ngot=$got"
    }, minSuccessful = 20)
  }

  test("an empty language model fails the run with its message") {
    // every token pruned; and a corpus with no token at all
    val pruned = LangModel.fitUnigram(docs, "text", minCount = 10L)
    val e = intercept[Exception](
      LangModel.scoreDocs(docs, pruned, "doc_id", "text", 1.0, 1.0).collect())
    assert(SparkTestBase.messages(e).contains(emptyModel))
    val blank = {
      import spark.implicits._
      Seq((0L, ""), (1L, " ")).toDF("doc_id", "text")
    }
    val e2 = intercept[Exception](LangModel.scoreDocs(
      blank, LangModel.fitUnigram(blank, "text"), "doc_id", "text", 1.0, 1.0).collect())
    assert(SparkTestBase.messages(e2).contains(emptyModel))
  }
}
