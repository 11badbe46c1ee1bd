package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-shaping operators: deterministic stratified sampling and
  * per-group caps (Sampling.scala) — determinism, rate semantics, the
  * two-phase cap's equivalence to the naive global window, and the
  * zero-shuffle plan shape of the sample filter.
  */
class SamplingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def corpus(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr")
    }.toDF("id", "lang").repartition(7)
  }

  test("stratifiedSample: rate 1 keeps every row, rate 0 keeps none") {
    val df = corpus(200)
    val all = Sampling.stratifiedSample(df, "id", "lang",
      Map("en" -> 1.0, "de" -> 1.0, "fr" -> 1.0), 1.0, "s")
    assert(all.count() == 200)
    val none = Sampling.stratifiedSample(df, "id", "lang", Map.empty, 0.0, "s")
    assert(none.count() == 0)
  }

  test("stratifiedSample: deterministic across runs and partitionings") {
    import spark.implicits._
    val rates = Map("en" -> 0.5, "de" -> 0.25)
    def ids(df: org.apache.spark.sql.DataFrame) =
      Sampling.stratifiedSample(df, "id", "lang", rates, 0.125, "mix")
        .select("id").as[Long].collect().sorted.toSeq
    val a = ids(corpus(300))
    val b = ids(corpus(300).repartition(2))
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("stratifiedSample: per-stratum keep fraction tracks the rate") {
    import spark.implicits._
    val kept = Sampling.stratifiedSample(corpus(3000), "id", "lang",
        Map("en" -> 0.5, "de" -> 0.1), defaultRate = 0.9, salt = "frac")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    // 1000 rows per stratum; md5 is uniform — generous ±40% bands
    assert(kept("en") > 300 && kept("en") < 700, s"en=${kept("en")}")
    assert(kept("de") > 30 && kept("de") < 220, s"de=${kept("de")}")
    assert(kept("fr") > 780 && kept("fr") < 1000, s"fr=${kept("fr")}")
  }

  test("stratifiedSample: a different salt draws a different sample") {
    import spark.implicits._
    val df = corpus(1000)
    def ids(salt: String) =
      Sampling.stratifiedSample(df, "id", "lang", Map.empty, 0.5, salt)
        .select("id").as[Long].collect().toSet
    val s1 = ids("a")
    val s2 = ids("b")
    assert(s1 != s2)
    // independent draws at rate .5 overlap on ~25% of rows, not ~50%
    assert((s1 & s2).size < 400)
  }

  test("stratifiedSample: pure narrow filter — no exchange in the plan") {
    import spark.implicits._
    val flat = (0 until 100).map(i => (i.toLong, "en")).toDF("id", "lang")
    val plan = Sampling.stratifiedSample(flat, "id", "lang",
      Map("en" -> 0.5), 0.5, "s").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("stratifiedSample: rejects rates outside [0,1]") {
    intercept[IllegalArgumentException](
      Sampling.stratifiedSample(corpus(10), "id", "lang", Map("en" -> 1.5), 0.5, "s"))
    intercept[IllegalArgumentException](
      Sampling.stratifiedSample(corpus(10), "id", "lang", Map.empty, -0.1, "s"))
  }

  test("capPerGroup equals the naive global window, including on a hot group") {
    import spark.implicits._
    // group "hot" holds 90% of rows; ids shuffled so partition-local order
    // differs from global order
    val rows = (0 until 2000).map { i =>
      (if (i % 10 == 0) s"g${i % 7}" else "hot", (i * 131 % 2000).toLong, s"p$i")
    }
    val df = rows.toDF("grp", "id", "payload").repartition(13)
    for (k <- Seq(1, 5, 64)) {
      val got = Sampling.capPerGroup(df, "grp", "id", k)
        .select("grp", "id", "payload").as[(String, Long, String)].collect().toSet
      val want = df
        .withColumn("rn", row_number().over(Window.partitionBy("grp").orderBy("id")))
        .filter(col("rn") <= k).drop("rn")
        .select("grp", "id", "payload").as[(String, Long, String)].collect().toSet
      assert(got == want, s"k=$k: ${got.size} vs ${want.size}")
    }
  }

  test("capPerGroup: k beyond every group size keeps the corpus unchanged") {
    import spark.implicits._
    val df = corpus(150)
    val out = Sampling.capPerGroup(df, "lang", "id", 1000)
    assert(out.select("id").as[Long].collect().sorted.toSeq == (0L until 150L))
  }

  test("capPerGroup drops rows whose group or order is null") {
    import spark.implicits._
    val df = Seq[(String, java.lang.Long, String)](
      ("a", 1L, "keep1"), ("a", 2L, "keep2"), ("a", 3L, "capped"),
      (null, 4L, "null-group"), ("b", null, "null-order"), ("b", 5L, "keep3"),
    ).toDF("grp", "id", "payload")
    val out = Sampling.capPerGroup(df, "grp", "id", 2)
      .select("payload").as[String].collect().toSet
    assert(out == Set("keep1", "keep2", "keep3"))
  }

  test("capPerGroup plan: winners broadcast, corpus side never shuffles") {
    import spark.implicits._
    // enough rows that the corpus would be a real shuffle if the join
    // hashed it; winners (k·nGroups keys of two narrow columns) broadcast
    val df = (0 until 5000)
      .map(i => (s"h${i % 11}", i.toLong, "x" * 64))
      .toDF("grp", "id", "payload").repartition(13)
    val capped = Sampling.capPerGroup(df, "grp", "id", 8)
    capped.queryExecution.toRdd.count()
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"winners must broadcast into a left-semi join:\n$plan")
    // the only hash exchange is the cap-bounded pruned-pairs rank — the
    // full-width corpus never crosses the wire (count the FINAL plan only;
    // the adaptive toString appends the initial plan below it)
    val finalPlan = plan.split("== Initial Plan ==").head
    val hashExchanges =
      "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges:\n$plan")
  }

  test("capPerGroup preserves all original columns and rejects k < 1") {
    val df = corpus(60).withColumn("extra", col("id") * 2)
    val out = Sampling.capPerGroup(df, "lang", "id", 3)
    assert(out.columns.toSeq == Seq("id", "lang", "extra"))
    assert(out.count() == 9)
    intercept[IllegalArgumentException](Sampling.capPerGroup(df, "lang", "id", 0))
  }

  test("splitByKey: deterministic across partitionings, weight-respecting, key-consistent") {
    import spark.implicits._
    val splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val keys = (0 until 2000).map(i => (i.toLong, s"domain$i.com")).toDF("id", "key")
    val a = Sampling.splitByKey(keys, col("key"), splits, "s1")
      .select("id", "split").as[(Long, String)].collect().toMap
    val b = Sampling.splitByKey(keys.repartition(7), col("key"), splits, "s1")
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(a == b, "assignment must not depend on partitioning")
    val frac = a.values.groupBy(identity).map { case (k, v) => k -> v.size / 2000.0 }
    assert(math.abs(frac("train") - 0.8) < 0.04, frac.toString)
    assert(math.abs(frac.getOrElse("valid", 0.0) - 0.1) < 0.03, frac.toString)
    assert(math.abs(frac.getOrElse("test", 0.0) - 0.1) < 0.03, frac.toString)
    // every row of one key lands in one split (the leakage-safety property)
    val dupKeys = (0 until 300).map(i => (i.toLong, s"host${i % 17}.org")).toDF("id", "key")
    val perKey = Sampling.splitByKey(dupKeys, col("key"), splits, "s1")
      .select("key", "split").distinct().groupBy("key").count()
      .select("count").as[Long].collect()
    assert(perKey.forall(_ == 1L), "a key must map to exactly one split")
    // a different salt reshuffles assignments
    val c = Sampling.splitByKey(keys, col("key"), splits, "s2")
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(a != c, "salt must decorrelate assignments")
  }

  test("splitByKey: null keys deterministic, zero-shuffle plan, bad weights rejected") {
    import spark.implicits._
    val splits = Seq("train" -> 0.75, "heldout" -> 0.25)
    val withNulls = Seq((1L, null: String), (2L, null: String), (3L, "x.com"))
      .toDF("id", "key")
    val n = Sampling.splitByKey(withNulls, col("key"), splits, "s")
      .filter(col("id") < 3).select("split").distinct().as[String].collect()
    assert(n.length == 1, "null keys must all land in one deterministic split")
    val plan = Sampling.splitByKey(withNulls, col("key"), splits, "s")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    intercept[IllegalArgumentException](
      Sampling.splitByKey(withNulls, col("key"), Seq("a" -> 0.5, "b" -> 0.4), "s"))
    intercept[IllegalArgumentException](
      Sampling.splitByKey(withNulls, col("key"), Seq("a" -> 0.5, "a" -> 0.5), "s"))
    intercept[IllegalArgumentException](
      Sampling.splitByKey(withNulls, col("key"), Seq.empty, "s"))
    intercept[IllegalArgumentException](
      Sampling.splitByKey(withNulls, col("key"), Seq("a" -> 1.0, "b" -> -0.0), "s"))
  }

  test("epochRepeat: integer weights emit exactly w copies; weight 0 vanishes") {
    import spark.implicits._
    val out = Sampling.epochRepeat(corpus(90), "id", "lang",
        Map("en" -> 2.0, "de" -> 0.0), defaultWeight = 1.0, salt = "e")
      .select("id", "lang", "epoch").as[(Long, String, Long)].collect()
    val byLang = out.groupBy(_._2)
    assert(!byLang.contains("de"), "weight 0 must drop the stratum")
    assert(byLang("en").groupBy(_._1).values.forall(
      _.map(_._3).sorted.toSeq == Seq(0L, 1L)), "en docs must appear as epochs 0,1")
    assert(byLang("fr").groupBy(_._1).values.forall(
      _.map(_._3).toSeq == Seq(0L)), "default weight 1 = exactly one copy")
  }

  test("epochRepeat: fractional mass tracks the weight; w<1 equals stratifiedSample") {
    import spark.implicits._
    val df = corpus(3000)
    val out = Sampling.epochRepeat(df, "id", "lang",
        Map("en" -> 2.5, "de" -> 0.5), defaultWeight = 0.25, salt = "frac")
      .select("id", "lang").as[(Long, String)].collect()
    val n = 1000.0 // docs per stratum
    val counts = out.groupBy(_._2).view.mapValues(_.length.toDouble / n).toMap
    assert(math.abs(counts("en") - 2.5) < 0.15, s"en mass ${counts("en")}")
    assert(math.abs(counts("de") - 0.5) < 0.15, s"de mass ${counts("de")}")
    assert(math.abs(counts("fr") - 0.25) < 0.15, s"fr mass ${counts("fr")}")
    // the sub-1 stratum keeps EXACTLY stratifiedSample's set: one
    // coordinate discipline across the up- and downsampling halves
    val repeatKept = out.filter(_._2 == "de").map(_._1).sorted.toSeq
    val sampleKept = Sampling.stratifiedSample(df.filter($"lang" === "de"),
        "id", "lang", Map("de" -> 0.5), 0.0, "frac")
      .select("id").as[Long].collect().sorted.toSeq
    assert(repeatKept == sampleKept)
  }

  test("epochRepeat: deterministic across partitionings; narrow plan; bad weights rejected") {
    import spark.implicits._
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.epochRepeat(df, "id", "lang", Map("en" -> 1.5),
        defaultWeight = 0.5, salt = "d")
        .select("id", "epoch").as[(Long, Long)].collect().sorted.toSeq
    val a = run(corpus(400))
    val b = run(corpus(400).repartition(3))
    assert(a == b)
    assert(a.nonEmpty)
    // plan check on an unrepartitioned input (corpus() repartitions
    // itself, which would plant its own Exchange above the operator)
    val flat = Seq((1L, "en"), (2L, "de")).toDF("id", "lang")
    val plan = Sampling.epochRepeat(flat, "id", "lang",
        Map("en" -> 1.5), 0.5, "d")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    intercept[IllegalArgumentException](
      Sampling.epochRepeat(corpus(10), "id", "lang", Map("en" -> -0.5), 1.0, "d"))
  }

  test("temperatureWeights: alpha=1 natural, alpha=0 uniform, budget realized, guards") {
    import spark.implicits._
    val df = Seq((1L, "en", 900L), (2L, "en", 100L), (3L, "de", 400L),
      (4L, "fr", 100L)).toDF("id", "lang", "m")
    // alpha = 1 degenerates: every stratum's weight = budget / totalMass
    val w1 = Sampling.temperatureWeights(df, "lang", "m", 1.0, 3000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._1)
    assert(w1.map(x => (x._1, x._2)).toSeq ==
      Seq(("de", 400L), ("en", 1000L), ("fr", 100L)))
    assert(w1.forall(x => math.abs(x._4 - 2.0) < 1e-6), w1.mkString(","))
    // alpha = 0: uniform shares
    val w0 = Sampling.temperatureWeights(df, "lang", "m", 0.0, 3000L)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    assert(w0.values.forall(v => math.abs(v - 1.0 / 3) < 1e-6))
    // alpha = 0.5: expected realized mass sums to the budget, and the
    // low-resource stratum is upsampled harder than the high-resource one
    val w5 = Sampling.temperatureWeights(df, "lang", "m", 0.5, 3000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    assert(math.abs(w5.map(x => x._3 * x._2).sum - 3000.0) < 1.0)
    val wm = w5.map(x => (x._1, x._3)).toMap
    assert(wm("fr") > wm("en"))
    intercept[IllegalArgumentException](
      Sampling.temperatureWeights(df, "lang", "m", 1.5, 10L))
    intercept[IllegalArgumentException](
      Sampling.temperatureWeights(df, "lang", "m", 0.5, -1L))
    // a zero-mass stratum pins to share 0 / weight 0 — even at alpha=0,
    // where pow(0,0)=1 would otherwise hand it budget/0 = Infinity
    val withZero = df.union(Seq((9L, "zz", 0L)).toDF("id", "lang", "m"))
    val wz = Sampling.temperatureWeights(withZero, "lang", "m", 0.0, 3000L)
      .collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(wz("zz") == ((0.0, 0.0)))
    assert(wz("en")._1 > 0 && !wz("en")._2.isInfinite)
  }

  test("epochRepeatWeighted == epochRepeat on the same weights; missing strata drop; broadcast plan") {
    import spark.implicits._
    val df = corpus(600)
    val weights = Seq(("en", 2.25), ("de", 0.5)).toDF("lang", "weight")
    val viaTable = Sampling.epochRepeatWeighted(df, "id", "lang", weights, "wsalt")
      .select("id", "epoch").as[(Long, Long)].collect().sorted.toSeq
    val viaMap = Sampling.epochRepeat(df, "id", "lang",
        Map("en" -> 2.25, "de" -> 0.5), defaultWeight = 0.0, salt = "wsalt")
      .select("id", "epoch").as[(Long, Long)].collect().sorted.toSeq
    assert(viaTable == viaMap)
    assert(viaTable.nonEmpty)
    // strata absent from the weights table vanish (weight 0)
    val langs = Sampling.epochRepeatWeighted(df, "id", "lang", weights, "wsalt")
      .select("lang").distinct().as[String].collect().toSet
    assert(langs == Set("en", "de"))
    // the weights join is broadcast — the corpus side never shuffles
    val plan = Sampling.epochRepeatWeighted(
        Seq((1L, "en")).toDF("id", "lang"), "id", "lang", weights, "wsalt")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("splitByCluster: cluster members share a split; singletons equal splitByKey") {
    import spark.implicits._
    val df = (0L until 300L).toDF("id")
    // components {0,1,2} (transitive: 0-1, 1-2, no direct 0-2) and {10,11}
    val pairs = Seq(Dedup.Pair(0L, 1L), Dedup.Pair(1L, 2L),
      Dedup.Pair(10L, 11L)).toDS()
    val assignment = Dedup.resolveClusters(pairs)
    val splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val out = Sampling.splitByCluster(df, "id", assignment, splits, "cs",
        keeperOut = "keeper")
      .select("id", "keeper", "split").as[(Long, Long, String)].collect()
    assert(out.length == 300)
    val sp = out.map(r => (r._1, r._3)).toMap
    assert(sp(0L) == sp(1L) && sp(1L) == sp(2L),
      "transitive chain must land in ONE split")
    assert(sp(10L) == sp(11L))
    val k = out.map(r => (r._1, r._2)).toMap
    assert(k(2L) == 0L && k(11L) == 10L && k(50L) == 50L)
    // every cluster is split-pure
    assert(out.groupBy(_._2).forall(_._2.map(_._3).distinct.length == 1))
    // singletons behave exactly like splitByKey on their own id
    val plain = Sampling.splitByKey(df, col("id"), splits, "cs")
      .select("id", "split").as[(Long, String)].collect().toMap
    out.filter(_._1 > 11L).foreach(r => assert(r._3 == plain(r._1)))
    // mostly-singleton corpus: train fraction tracks the weight
    val frac = out.count(_._3 == "train").toDouble / out.length
    assert(math.abs(frac - 0.8) < 0.1, s"train fraction $frac")
    // the corpus-assignment join is a BHJ, never an SMJ
    val plan = SparkTestBase.withoutAutoBroadcast(Sampling.splitByCluster(
      df, "id", assignment, splits, "cs").queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("weightedSample == independent A-ES replay; partition-invariant; heavy doc wins") {
    import spark.implicits._
    val df = corpus(300).withColumn("w", col("id") % 7 + 1)
    val got = Sampling.weightedSample(df, "id", "lang", col("w"), 10, "ws")
      .select("id", "lang", "arrival").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    // independent replay of the contract formula (md5 coord -> u ->
    // micro-arrival -> (arrival, key-string) top-k per stratum)
    val md = java.security.MessageDigest.getInstance("MD5")
    def coordOf(id: Long): Long = java.lang.Long.parseLong(
      md.digest(s"$id:ws".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)
    val want = (0 until 300).map { i =>
      val id = i.toLong
      val lang = if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr"
      val w = (id % 7 + 1).toDouble
      val u = (coordOf(id) + 1L).toDouble / (1L << 60).toDouble
      val arrival = math.floor(-math.log(u) / w * 1e6 + 0.5).toLong
      (id, lang, arrival)
    }.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(r => (r._3, r._1.toString)).take(10)
    }.sortBy(_._1)
    assert(got == want)
    assert(got.size == 30)
    // partition invariance
    val got1 = Sampling.weightedSample(df.repartition(1), "id", "lang",
      col("w"), 10, "ws").select("id").as[Long].collect().sorted.toSeq
    val got13 = Sampling.weightedSample(df.repartition(13), "id", "lang",
      col("w"), 10, "ws").select("id").as[Long].collect().sorted.toSeq
    assert(got1 == got13 && got1 == got.map(_._1))
    // a doc whose weight dwarfs the field always wins its stratum's race
    val heavy = df.withColumn("w",
      when(col("id") === 42L, lit(1e9)).otherwise(lit(1.0)))
    val hw = Sampling.weightedSample(heavy, "id", "lang", col("w"), 1, "ws")
      .select("id").as[Long].collect()
    assert(hw.contains(42L))
  }

  test("weightedSample: k beyond stratum size keeps all; guards; broadcast-semi plan") {
    import spark.implicits._
    val df = corpus(60).withColumn("w", lit(2.5))
    val all = Sampling.weightedSample(df, "id", "lang", col("w"), 1000, "s")
    assert(all.count() == 60)
    // original columns survive, plus the arrival witness
    assert(all.columns.toSeq == Seq("id", "lang", "w", "arrival"))
    intercept[IllegalArgumentException](
      Sampling.weightedSample(df, "id", "lang", col("w"), 0, "s"))
    // a sub-1e-6 weight fails LOUDLY rather than silently skewing the race
    val bad = Sampling.weightedSample(
      df.withColumn("w", when(col("id") === 3L, lit(1e-9)).otherwise(lit(1.0))),
      "id", "lang", col("w"), 5, "s")
    intercept[Exception](bad.count())
    // winners broadcast into a left-semi join: the corpus never shuffles
    val plan = Sampling.weightedSample(df, "id", "lang", col("w"), 5, "s")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}
