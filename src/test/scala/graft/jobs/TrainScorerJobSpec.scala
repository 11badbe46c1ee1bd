package graft.jobs

import graft.engine.{PropCheck, Sections, SparkTestBase}
import org.apache.spark.sql.Dataset
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

class TrainScorerJobSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** The section-start classifier's fit (the binary logistic at l2 = 1e-4)
    * over a set of examples.
    */
  private def fitStart(train: Dataset[TrainScorerJob.ExampleK], dim: Int, iters: Int,
      lr: Double = 0.5): TrainScorerJob.FittedK =
    Sections.fitStartClassifier(train.toDF("y", "features"), dim, iters, lr)

  test("logistic fit separates date spans from the rest (C1 train -> predict)") {
    val train = TrainScorerJob.examplesFromCorpus(spark, 150, 4, "date")
    val model = fitStart(train, graft.core.Features.width, iters = 40)
    assert(model.trainLoss < 0.2, s"train loss ${model.trainLoss}")
    // held-out docs (disjoint url range via different count → different pages)
    val test = TrainScorerJob.examplesFromCorpus(spark, 40, 2, "date")
      .collect()
    val correct = test.count { ex =>
      val p = TrainScorerJob.predictProba(model, ex.features)(1)
      (p >= 0.5) == (ex.y == 1)
    }
    val acc = correct.toDouble / test.length
    assert(acc >= 0.95, s"held-out accuracy $acc over ${test.length} spans")
  }

  test("X8 -> C1: fit on the ASSEMBLED 270-wide feature frame (date vs rest)") {
    val dim = graft.engine.FeatureFrame.width()
    assert(dim == 270)
    val train = TrainScorerJob.examplesFromFrame(spark, 120, 4, "date")
    val model = fitStart(train, dim, iters = 40)
    val test = TrainScorerJob.examplesFromFrame(spark, 40, 2, "date").collect()
    val correct = test.count { ex =>
      (TrainScorerJob.predictProba(model, ex.features)(1) >= 0.5) == (ex.y == 1)
    }
    val acc = correct.toDouble / test.length
    assert(acc >= 0.95, s"frame-trained held-out accuracy $acc over ${test.length} spans")
  }

  test("fit is reproducible for a fixed partitioning") {
    val train = TrainScorerJob.examplesFromCorpus(spark, 60, 4, "amount").persist()
    val a = fitStart(train, graft.core.Features.width, iters = 10)
    val b = fitStart(train, graft.core.Features.width, iters = 10)
    assert(a.weights.map(_.toSeq).toSeq == b.weights.map(_.toSeq).toSeq && a.bias.toSeq == b.bias.toSeq)
    train.unpersist()
  }

  test("the two-class softmax at (lr/2, 2*l2) is the binary logistic at (lr, l2) (property)") {
    import spark.implicits._
    import TrainScorerJobSpec.{Example, fitBinary, predict}
    val value = Gen.oneOf(Gen.choose(-3.0, 3.0), Gen.oneOf(0.0, 1.0))
    val input = for {
      n <- Gen.choose(1, 300)
      dim <- Gen.choose(1, 20)
      // a constant column hits the 1e-9 scale floor
      constant <- Gen.listOfN(dim, Gen.frequency(1 -> Gen.some(value), 3 -> Gen.const(None)))
      labels <- Gen.oneOf(Gen.const(0), Gen.const(1), Gen.const(-1)) // all 0, all 1, mixed
      rows <- Gen.listOfN(n, for {
        y <- if (labels >= 0) Gen.const(labels) else Gen.oneOf(0, 1)
        f <- Gen.sequence[List[Double], Double](constant.map(_.fold(value)(Gen.const)))
      } yield (y, f))
      parts <- Gen.oneOf(1, 2, 3, 7)
      iters <- Gen.choose(1, 60)
      lr <- Gen.oneOf(0.1, 0.5, 0.8)
    } yield (dim, rows, parts, iters, lr)
    PropCheck(Prop.forAllNoShrink(input) { case (dim, rows, parts, iters, lr) =>
      val frame = spark.sparkContext.parallelize(rows, parts).toDF("y", "features")
      val ref = {
        val ds = frame.select($"y".cast("double"), $"features").as[(Double, Seq[Double])]
          .map { case (y, f) => Example(y, f.toArray) }.persist()
        try fitBinary(ds, dim, iters = iters, lr = lr, l2 = 1e-4) finally ds.unpersist()
      }
      val got = Sections.fitStartClassifier(frame, dim, iters, lr)
      assert(got.mean.toSeq == ref.mean.toSeq && got.scale.toSeq == ref.scale.toSeq)
      assert(math.abs(got.trainLoss - ref.trainLoss) <= 1e-9, s"loss ${got.trainLoss} vs ${ref.trainLoss}")
      rows.foreach { case (_, f) =>
        val (p, q) = (TrainScorerJob.predictProba(got, f.toArray)(1), predict(ref, f.toArray))
        assert(math.abs(p - q) <= 1e-9, s"p $p vs $q")
      }
      true
    }, minSuccessful = 24)
  }
}

object TrainScorerJobSpec {
  // The distributed binary logistic fit that trained the section-start
  // classifier before it moved to fitSoftmaxLocal, kept verbatim as the
  // reference of the equivalence property.

  final case class Example(label: Double, features: Array[Double])

  final case class Fitted(
      weights: Array[Double], bias: Double,
      mean: Array[Double], scale: Array[Double],
      trainLoss: Double, iterations: Int)

  @inline private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** Standardization stats (mean, stddev with epsilon floor) in one pass. */
  private def stats(ds: Dataset[Example], dim: Int): (Array[Double], Array[Double]) = {
    val spark = ds.sparkSession
    import spark.implicits._
    val (n, sum, sumSq) = ds.mapPartitions { it =>
      var n = 0L
      val s = new Array[Double](dim)
      val s2 = new Array[Double](dim)
      it.foreach { ex =>
        n += 1
        var i = 0
        while (i < dim) { s(i) += ex.features(i); s2(i) += ex.features(i) * ex.features(i); i += 1 }
      }
      Iterator.single((n, s, s2))
    }.collect().foldLeft((0L, new Array[Double](dim), new Array[Double](dim))) { (a, c) =>
      var i = 0
      while (i < dim) { a._2(i) += c._2(i); a._3(i) += c._3(i); i += 1 }
      (a._1 + c._1, a._2, a._3)
    }
    val mean = sum.map(_ / math.max(1L, n))
    val scale = Array.tabulate(dim) { i =>
      val v = sumSq(i) / math.max(1L, n) - mean(i) * mean(i)
      math.max(1e-9, math.sqrt(math.max(0, v)))
    }
    (mean, scale)
  }

  /** Fit binary logistic weights; `ds` is cached by the caller. */
  def fitBinary(
      ds: Dataset[Example], dim: Int,
      iters: Int = 60, lr: Double = 0.5, l2: Double = 1e-4): Fitted = {
    val spark = ds.sparkSession
    import spark.implicits._
    val (mean, scale) = stats(ds, dim)
    val n = ds.count().toDouble
    require(n > 0, "fitBinary: empty training set (would divide by n=0 into NaN weights)")
    var w = new Array[Double](dim)
    var b = 0.0
    var loss = 0.0
    val bcStats = spark.sparkContext.broadcast((mean, scale))
    (0 until iters).foreach { _ =>
      val bcW = spark.sparkContext.broadcast((w, b))
      val partials = ds.mapPartitions { it =>
        val (wts, bias) = bcW.value
        val (m, s) = bcStats.value
        val grad = new Array[Double](dim)
        var gradB = 0.0
        var l = 0.0
        var cnt = 0L
        it.foreach { ex =>
          var z = bias
          var i = 0
          while (i < dim) { z += wts(i) * (ex.features(i) - m(i)) / s(i); i += 1 }
          val p = sigmoid(z)
          val err = p - ex.label
          i = 0
          while (i < dim) { grad(i) += err * (ex.features(i) - m(i)) / s(i); i += 1 }
          gradB += err
          l += -(ex.label * math.log(math.max(p, 1e-12)) +
            (1 - ex.label) * math.log(math.max(1 - p, 1e-12)))
          cnt += 1
        }
        Iterator.single((grad, gradB, l, cnt))
      }.collect() // one small row per partition, combined in partition order
      val (g, gB, l, _) = partials.foldLeft((new Array[Double](dim), 0.0, 0.0, 0L)) { (a, c) =>
        var i = 0
        while (i < dim) { a._1(i) += c._1(i); i += 1 }
        (a._1, a._2 + c._2, a._3 + c._3, a._4 + c._4)
      }
      var i = 0
      val wNew = new Array[Double](dim)
      while (i < dim) { wNew(i) = w(i) - lr * (g(i) / n + l2 * w(i)); i += 1 }
      w = wNew
      b = b - lr * gB / n
      loss = l / n
      bcW.destroy()
    }
    bcStats.destroy() // same hygiene as the per-iteration bcW
    Fitted(w, b, mean, scale, loss, iters)
  }

  /** Score with a fitted model — pure function, broadcastable. */
  def predict(m: Fitted, features: Array[Double]): Double = {
    var z = m.bias
    var i = 0
    while (i < m.weights.length) { z += m.weights(i) * (features(i) - m.mean(i)) / m.scale(i); i += 1 }
    sigmoid(z)
  }
}
