package graft.jobs

import graft.core.{Features, Span}
import graft.engine.{Extraction, ExtractedDoc}
import org.apache.spark.sql.{Dataset, SparkSession}

/** The engine's one classifier fit: full-batch softmax regression on the
  * driver ([[fitSoftmaxLocal]]). It trains C1 over the X1 span feature
  * vectors and the assembled frame (the reference trains a RandomForest on
  * the same matrix, information_extraction.py:2950-2963; a linear model
  * keeps inference a broadcastable pure function — SURVEY §7.3), and C5's
  * section-start classifier as its two-class case
  * (`Sections.fitStartClassifier`). The training set is gathered once, one
  * array per partition; every step is driver arithmetic, with no Spark job
  * per step. Deterministic given the partitioning (partials are combined in
  * partition order); inference is bit-deterministic everywhere.
  */
object TrainScorerJob {

  final case class ExampleK(y: Int, features: Array[Double])

  /** Multiclass softmax model: `weights(k)` is class k's row; classes are
    * the caller's ordered label vocabulary (NO_LABEL included as a class,
    * like the reference's RandomForest over label_text).
    */
  final case class FittedK(
      classes: Array[String],
      weights: Array[Array[Double]], bias: Array[Double],
      mean: Array[Double], scale: Array[Double],
      trainLoss: Double, iterations: Int)

  /** Balanced class weights — n / (K * n_k), the reference's
    * `class_weight="balanced"` (information_extraction.py:2955): without it
    * the NO_LABEL ocean (~95% of tokens) drowns the real labels.
    */
  def balancedWeights(counts: Array[Long]): Array[Double] = {
    val n = counts.sum.toDouble
    val k = counts.count(_ > 0).toDouble
    counts.map(c => if (c == 0) 0.0 else n / (k * c))
  }

  /** C1 multiclass fit: full-batch softmax regression over the assembled
    * frame — the engine's deterministic stand-in for the reference's
    * RandomForest (information_extraction.py:2950-2963). Runs on the driver
    * over pre-collected per-partition example arrays: an `iters`-step fit
    * is milliseconds of arithmetic per step, so one Spark job per step
    * would be all scheduling latency on a bounded training set (the fixture
    * golden, q49). Deterministic given the partitioning: the stats, the
    * weighted n and the gradient partials are each combined in partition
    * order, and rows are visited in partition order within each partition.
    */
  def fitSoftmaxLocal(
      parts: IndexedSeq[Array[ExampleK]], numClasses: Int, dim: Int,
      classWeights: Array[Double],
      iters: Int = 200, lr: Double = 0.5, l2: Double = 1e-4,
      momentum: Double = 0.0,
      classes: Array[String] = Array.empty): FittedK = {
    // per-partition (n, sum, sumSq) partials combined in partition order
    val statParts = parts.map { rows =>
      var n = 0L
      val s = new Array[Double](dim)
      val s2 = new Array[Double](dim)
      rows.foreach { ex =>
        n += 1
        var i = 0
        while (i < dim) { s(i) += ex.features(i); s2(i) += ex.features(i) * ex.features(i); i += 1 }
      }
      (n, s, s2)
    }
    val (n, sum, sumSq) = statParts.foldLeft((0L, new Array[Double](dim), new Array[Double](dim))) { (a, c) =>
      var i = 0
      while (i < dim) { a._2(i) += c._2(i); a._3(i) += c._3(i); i += 1 }
      (a._1 + c._1, a._2, a._3)
    }
    val mean = sum.map(_ / math.max(1L, n))
    val scale = Array.tabulate(dim) { i =>
      val v = sumSq(i) / math.max(1L, n) - mean(i) * mean(i)
      math.max(1e-9, math.sqrt(math.max(0, v)))
    }
    // nW: per-partition partial sums combined in partition order
    val nW = parts.map { rows =>
      var s = 0.0
      rows.foreach(ex => s += classWeights(ex.y))
      s
    }.sum
    require(nW > 0, "fitSoftmaxLocal: empty training set")
    var w = Array.fill(numClasses)(new Array[Double](dim))
    var b = new Array[Double](numClasses)
    val vW = Array.fill(numClasses)(new Array[Double](dim))
    val vB = new Array[Double](numClasses)
    var loss = 0.0
    (0 until iters).foreach { _ =>
      val partials = parts.map { rows =>
        val grad = Array.fill(numClasses)(new Array[Double](dim))
        val gradB = new Array[Double](numClasses)
        var l = 0.0
        val x = new Array[Double](dim)
        val z = new Array[Double](numClasses)
        rows.foreach { ex =>
          var i = 0
          while (i < dim) { x(i) = (ex.features(i) - mean(i)) / scale(i); i += 1 }
          var k = 0
          var zMax = Double.MinValue
          while (k < numClasses) {
            var zz = b(k)
            val wk = w(k)
            i = 0
            while (i < dim) { zz += wk(i) * x(i); i += 1 }
            z(k) = zz
            if (zz > zMax) zMax = zz
            k += 1
          }
          var sumExp = 0.0
          k = 0
          while (k < numClasses) { z(k) = math.exp(z(k) - zMax); sumExp += z(k); k += 1 }
          val weight = classWeights(ex.y)
          k = 0
          while (k < numClasses) {
            val p = z(k) / sumExp
            val err = weight * (p - (if (k == ex.y) 1.0 else 0.0))
            val gk = grad(k)
            i = 0
            while (i < dim) { gk(i) += err * x(i); i += 1 }
            gradB(k) += err
            if (k == ex.y) l += -weight * math.log(math.max(p, 1e-12))
            k += 1
          }
        }
        (grad, gradB, l)
      }
      val g = Array.fill(numClasses)(new Array[Double](dim))
      val gB = new Array[Double](numClasses)
      var l = 0.0
      partials.foreach { case (pg, pb, pl) =>
        var k = 0
        while (k < numClasses) {
          var i = 0
          while (i < dim) { g(k)(i) += pg(k)(i); i += 1 }
          gB(k) += pb(k)
          k += 1
        }
        l += pl
      }
      var k = 0
      while (k < numClasses) {
        var i = 0
        while (i < dim) {
          vW(k)(i) = momentum * vW(k)(i) - lr * (g(k)(i) / nW + l2 * w(k)(i))
          i += 1
        }
        vB(k) = momentum * vB(k) - lr * gB(k) / nW
        k += 1
      }
      w = Array.tabulate(numClasses)(k => Array.tabulate(dim)(i => w(k)(i) + vW(k)(i)))
      b = Array.tabulate(numClasses)(k => b(k) + vB(k))
      loss = l / nW
    }
    FittedK(classes, w, b, mean, scale, loss, iters)
  }

  /** Class probabilities of a fitted softmax model — pure, broadcastable. */
  def predictProba(m: FittedK, features: Array[Double]): Array[Double] = {
    val k = m.weights.length
    val z = new Array[Double](k)
    var zMax = Double.MinValue
    var c = 0
    while (c < k) {
      var zz = m.bias(c)
      val wc = m.weights(c)
      var i = 0
      while (i < wc.length) { zz += wc(i) * (features(i) - m.mean(i)) / m.scale(i); i += 1 }
      z(c) = zz
      if (zz > zMax) zMax = zz
      c += 1
    }
    var sum = 0.0
    c = 0
    while (c < k) { z(c) = math.exp(z(c) - zMax); sum += z(c); c += 1 }
    c = 0
    while (c < k) { z(c) /= sum; c += 1 }
    z
  }

  /** Build a labeled training set from extraction output: every token span
    * becomes an example, class 1 when the pipeline labeled it `targetLabel`.
    */
  def examplesFromCorpus(spark: SparkSession, nDocs: Long, partitions: Int, targetLabel: String): Dataset[ExampleK] =
    labeledExamples(spark, nDocs, partitions, targetLabel) { doc =>
      doc.spans.iterator.map(sp => (sp.start, sp.end,
        Features.convertToFeat(doc.extracted_text.substring(sp.start, sp.end))))
    }

  /** X8 → C1: training examples carrying the ASSEMBLED feature frame (the
    * reference trains its classifier on exactly this 270-wide per-span
    * frame, information_extraction.py:2950-2963 over process_document_data
    * output). Same containment labeling as [[examplesFromCorpus]].
    */
  def examplesFromFrame(spark: SparkSession, nDocs: Long, partitions: Int, targetLabel: String): Dataset[ExampleK] =
    labeledExamples(spark, nDocs, partitions, targetLabel) { doc =>
      val text = doc.extracted_text
      val cands: IndexedSeq[Span] = doc.spans.map(s => Span(s.start, s.end)).toIndexedSeq
      graft.engine.FeatureFrame
        .assembleDoc(text, graft.core.Geometry.syntheticGrid(text), cands, cands,
          2, 2, firstWord = true, acrossLines = false, Nil, Nil)
        .iterator.map(r => (r.start, r.end, r.features))
    }

  /** Extract `nDocs` synthetic pages and label each (start, end, features)
    * row `rows` emits per document: class 1 when the span lies inside one of
    * the document's `targetLabel` annotations (the C3 containment transfer
    * onto tokenizer spans), else 0.
    */
  private def labeledExamples(spark: SparkSession, nDocs: Long, partitions: Int, targetLabel: String)(
      rows: ExtractedDoc => Iterator[(Int, Int, Array[Double])]): Dataset[ExampleK] = {
    import spark.implicits._
    Extraction.extract(Extraction.syntheticPages(spark, nDocs, partitions))
      .flatMap { doc =>
        val positives = doc.labels.filter(_.label == targetLabel)
          .map(l => Span(l.start, l.end)).toIndexedSeq
        rows(doc).map { case (start, end, f) =>
          ExampleK(if (positives.exists(p => p.start <= start && end <= p.end)) 1 else 0, f)
        }
      }
  }
}
