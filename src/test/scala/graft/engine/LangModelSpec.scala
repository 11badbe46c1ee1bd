package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

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
}
