package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** Heavy hitters: exact-equality vs the full groupBy answer when witnessed,
  * honest `proven_exact=false` when the counter budget cannot prove it, the
  * MG kernel's no-false-negative guarantee, and the broadcast confirm plan.
  */
class HeavyHittersSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** Skewed corpus: key "hot-i" appears 1000/(i+1) times (i<10), plus 2000
    * singleton keys — a boilerplate-like profile.
    */
  private def skewed: DataFrame = {
    import spark.implicits._
    val hot = (0 until 10).flatMap(i => Seq.fill(1000 / (i + 1))(s"hot-$i"))
    val cold = (0 until 2000).map(i => s"cold-$i")
    (hot ++ cold).toDF("key").repartition(8)
  }

  private def naiveTopK(df: DataFrame, k: Int): Seq[(String, Long)] =
    df.groupBy("key").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("key").asc).limit(k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  test("witnessed top-k equals the full-shuffle answer") {
    val k = 8
    val got = HeavyHitters.topK(skewed, col("key"), k, counters = 256).collect()
    assert(got.length == k)
    assert(got.forall(_.getAs[Boolean]("proven_exact")), "ample counters must prove exactness")
    val expected = naiveTopK(skewed, k)
    val gotPairs = got.sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("cnt"))).toSeq
    assert(gotPairs == expected)
    assert(got.head.getAs[Long]("n_rows") == skewed.count())
  }

  test("under-budgeted counters report proven_exact=false, never a silent wrong answer") {
    import spark.implicits._
    // near-uniform: nothing clears the N/counters threshold at m=16
    val uniform = (0 until 3000).map(i => s"k-${i % 300}").toDF("key").repartition(8)
    val got = HeavyHitters.topK(uniform, col("key"), k = 5, counters = 16).collect()
    assert(got.forall(!_.getAs[Boolean]("proven_exact")),
      "10 occurrences each x 16 counters < 3000 rows - the witness must refuse")
  }

  test("fewer candidates than k is unprovable by construction") {
    import spark.implicits._
    // one huge key + rare keys MG drops: top-3 would need the rare ones
    val df = (Seq.fill(960)("big") ++ Seq("rare-a", "rare-b")).toDF("key").coalesce(1)
    val got = HeavyHitters.topK(df, col("key"), k = 3, counters = 4).collect()
    assert(got.forall(!_.getAs[Boolean]("proven_exact")))
  }

  test("null keys fold to empty string and count") {
    import spark.implicits._
    val df = (Seq.fill(50)(null: String) ++ Seq.fill(20)("x")).toDF("key")
    val got = HeavyHitters.topK(df, col("key"), k = 2, counters = 64)
      .orderBy("rank").collect()
    assert(got(0).getAs[String]("key") == "" && got(0).getAs[Long]("cnt") == 50)
    assert(got(1).getAs[String]("key") == "x" && got(1).getAs[Long]("cnt") == 20)
  }

  test("MG kernel: every key above the decrement threshold survives the summary") {
    // m=10 slots over a 1020-long stream: each decrement-all retires m+1
    // count units, so any key with count > N/(m+1) keeps a positive counter
    // no matter how the noise interleaves.
    val m = 10
    val stream = Seq.tabulate(1020) { i =>
      if (i % 7 == 0) "a"
      else if (i % 9 == 1) "b"
      else s"n-$i"
    }
    val n = stream.size
    val ca = stream.count(_ == "a")
    val cb = stream.count(_ == "b")
    assert(ca * (m + 1) > n && cb * (m + 1) > n,
      s"test premise: both hot keys above N/(m+1) (a=$ca b=$cb n=$n)")
    val kept = HeavyHitters.misraGries(stream.iterator, m).toSet
    assert(kept.contains("a") && kept.contains("b"))
    assert(kept.size <= m)
  }

  test("exact-confirm join broadcasts the candidate set") {
    val plan = HeavyHitters.topK(skewed, col("key"), 5, counters = 256)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"candidates must broadcast into a semi-join, got:\n$plan")
  }

  /** The operator with its witness N pulled to the driver (`keys.count()`)
    * before the top-k plan is built: the reference oracle for the one-plan
    * body.
    */
  private def referenceTopK(df: DataFrame, keyCol: Column, k: Int, counters: Int): DataFrame = {
    val keys = df.select(coalesce(keyCol.cast("string"), lit("")).as("key"))
    val candidates = keys.select("key")
      .as[String](Encoders.STRING)
      .mapPartitions(it => HeavyHitters.misraGries(it, counters))(Encoders.STRING)
      .toDF("key")
      .distinct()
    val counted = keys
      .join(broadcast(candidates), Seq("key"), "left_semi")
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("key").asc)
      .limit(k)
    val n = keys.count()
    val whole = Window.partitionBy(lit(1))
    counted
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("key").asc)).cast("long"))
      .withColumn("n_rows", lit(n))
      .withColumn("proven_exact",
        (count(lit(1)).over(whole) === k.toLong) &&
          (min(col("cnt")).over(whole) * lit(counters.toLong) > lit(n)))
  }

  test("random streams: rows equal the driver-count reference") {
    import spark.implicits._
    // a few hot keys at skewed weights, a long cold tail, and nulls
    val key: Gen[String] = Gen.frequency(
      8 -> Gen.choose(0, 3).map(i => s"hot-$i"),
      4 -> Gen.choose(0, 200).map(i => s"cold-$i"),
      1 -> Gen.const(null: String))
    val stream = for {
      n <- Gen.choose(0, 300)
      keys <- Gen.listOfN(n, key)
      k <- Gen.choose(1, 5)
      counters <- Gen.choose(k, k + 8)
      parts <- Gen.oneOf(1, 2, 3, 7)
    } yield (keys, k, counters, parts)
    PropCheck(Prop.forAllNoShrink(stream) { case (keys, k, counters, parts) =>
      val df = keys.toDF("key").repartition(parts)
      val want = SparkTestBase.exactRows(referenceTopK(df, col("key"), k, counters))
      val got = SparkTestBase.exactRows(HeavyHitters.topK(df, col("key"), k, counters))
      (got == want) :| s"n=${keys.size} k=$k counters=$counters parts=$parts\nwant=$want\ngot=$got"
    }, minSuccessful = 20)
  }
}
