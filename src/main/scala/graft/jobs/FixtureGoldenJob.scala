package graft.jobs

import graft.core.{Rx, Span, Tokenizers}
import graft.engine.{FeatureFrame, Ingest, LabelDef, Merge, Scorer}
import graft.sources.FixtureProject
import org.apache.spark.sql.{DataFrame, SparkSession}

/** E9 composed train→extract golden over the reference's FROZEN fixture
  * corpus (tests/trainer/test_information_extraction.py:78-186): tokenize
  * the five training payslips with the whitespace tokenizer, assemble the
  * X8 feature frame on the REAL per-char OCR boxes, containment-label the
  * token candidates against the human annotations
  * (label_train_document, information_extraction.py:2699-2713), fit the
  * multiclass scorer, then extract TEST_DOCUMENT_ID (44823 — itself a
  * training doc, the reference's own quirk) through the full
  * predict→drop-NO_LABEL→argmax→threshold→merge chain
  * (information_extraction.py:2556-2648, 3382-3412).
  *
  * The scorer is the engine's deterministic balanced softmax rather than
  * the reference's RandomForest(random_state=420) — the north-star-
  * sanctioned substitution — so the contract is: a PINNED engine tuple set
  * (frozen in [[graft.SparkEntry.oracleSql]] q49 and FixtureGoldenSpec)
  * plus measured span-strict P/R/F1 against the fixture's ground truth and
  * measured overlap with the reference's 20 golden tuples
  * (entity_results_data, test_information_extraction.py:78-99).
  *
  * Plan shape: training docs are one partition each (fixed partitioning →
  * the fit's partial-gradient combine order is deterministic at every core
  * count); frame assembly is the same narrow mapPartitions kernel as the
  * production path; inference broadcasts the fitted model.
  */
object FixtureGoldenJob {

  val DefaultRoot = "/root/reference/tests/example_project_data"
  /** test_information_extraction.py:117 */
  val TrainIds: Seq[String] = Seq("44823", "44834", "44839", "44840", "44841")
  /** TEST_DOCUMENT_ID, tests/variables.py:5 */
  val ExtractId = "44823"
  val NoLabel = "NO_LABEL"

  def available(root: String = DefaultRoot): Boolean = FixtureProject.available(root)

  final case class ExtractedTuple(
      label: String, start: Int, end: Int, offset_string: String, confidence: Double)

  // public: Spark's encoder codegen needs an accessible constructor
  final case class ExampleS(label: String, features: Array[Double])

  /** Containment labeling of token spans against annotation spans — the
    * reference's pointer walk (label_train_document,
    * information_extraction.py:2699-2713): a token takes the label of the
    * first not-yet-passed correct span whose INCLUSIVE [start, end] range
    * contains both its offsets; everything else is NO_LABEL.
    */
  def containmentLabels(
      tokens: IndexedSeq[Span],
      annSpans: IndexedSeq[FixtureProject.FixtureSpan]): Array[String] = {
    val out = Array.fill(tokens.length)(NoLabel)
    var sI = 0
    var i = 0
    while (i < tokens.length && sI < annSpans.length) {
      val tok = tokens(i)
      while (sI < annSpans.length && tok.start > annSpans(sI).end) sI += 1
      if (sI < annSpans.length) {
        val sp = annSpans(sI)
        if (tok.end >= sp.start && tok.start >= sp.start && tok.end <= sp.end)
          out(i) = sp.label
      }
      i += 1
    }
    out
  }

  /** Tokenize + validate boxes + assemble the frame for one fixture doc. */
  private def frameOf(doc: FixtureProject.FixtureDoc)
      : (IndexedSeq[Span], Vector[FeatureFrame.Row]) = {
    val tokens = Rx.tokenSpans(doc.text, Tokenizers.whitespace).toIndexedSeq
    val grid = Ingest
      .validatedGrid(doc.text, doc.payload, doc.pageWidth, doc.pageHeight)
      .fold(e => throw new IllegalStateException(s"doc ${doc.id}: $e"), identity)
    (tokens, FeatureFrame.assembleDoc(doc.text, grid, tokens, tokens,
      2, 2, firstWord = true, acrossLines = false, Nil, Nil))
  }

  // Training hyperparameters of the composed golden — frozen once the
  // tuple set is pinned. `WeightPower` tempers the balanced class weights
  // (1.0 = the reference's fully-balanced; 0.5 = sqrt-tempered, trading a
  // little recall on rare labels for far fewer background false
  // positives — the regularization-free linear analog of the RF's
  // training-set memorization on this 5-doc corpus).
  private val Iters = 80
  private val Lr = 1.0
  private val L2 = 1e-6
  private val WeightPower = 0.4
  private val Momentum = 0.9

  /** Train the multiclass scorer on the fixture training split. */
  def train(spark: SparkSession, root: String = DefaultRoot): TrainScorerJob.FittedK = {
    val dim = FeatureFrame.width()
    // one doc per partition (partial-gradient combine order is fixed), the
    // per-partition arrays collected ONCE: 5 payslips of ~270-wide frame
    // rows are a few MB — a bounded collect — and the `Iters`-step fit then
    // runs on the driver via fitSoftmaxLocal: one Spark job instead of one
    // per step (measured: 80 per-step jobs of milliseconds of arithmetic
    // each were ~the whole train wall).
    val parts: IndexedSeq[Array[ExampleS]] = spark.sparkContext
      .parallelize(TrainIds, TrainIds.length)
      .mapPartitionsWithIndex { (pid, it) =>
        val rows = it.flatMap { id =>
          val doc = FixtureProject.loadDoc(root, id)
          val (tokens, frame) = frameOf(doc)
          val labels = containmentLabels(tokens,
            doc.spans.filter(_.isCorrect).sortBy(s => (s.start, s.end)))
          val labelOf = new java.util.HashMap[Long, String](tokens.length * 2)
          tokens.indices.foreach { i =>
            labelOf.put((tokens(i).start.toLong << 32) | tokens(i).end.toLong, labels(i))
          }
          frame.iterator.map { r =>
            ExampleS(labelOf.getOrDefault((r.start.toLong << 32) | r.end.toLong, NoLabel),
              r.features)
          }
        }.toArray
        Iterator.single((pid, rows))
      }
      .collect().sortBy(_._1).toIndexedSeq.map(_._2)
    // exact per-class counts (longs — order-independent) → balanced weights
    val counts = parts.iterator.flatten
      .foldLeft(Map.empty[String, Long]) { (m, ex) =>
        m.updated(ex.label, m.getOrElse(ex.label, 0L) + 1L)
      }
    val classes = counts.keys.toArray.sorted
    val countArr = classes.map(counts)
    val weights = TrainScorerJob.balancedWeights(countArr).map(w => math.pow(w, WeightPower))
    val classIdx = classes.zipWithIndex.toMap
    val ks = parts.map(_.map(ex =>
      TrainScorerJob.ExampleK(classIdx(ex.label), ex.features)))
    TrainScorerJob.fitSoftmaxLocal(ks, classes.length, dim, weights, classes = classes,
      iters = Iters, lr = Lr, l2 = L2, momentum = Momentum)
  }

  /** Extract one fixture doc with a fitted model: predict_proba → drop
    * NO_LABEL → argmax over the remaining classes (first max wins, like
    * pandas idxmax over the sorted class columns) → per-label threshold
    * filter (Accuracy >= threshold, filter_dataframe py:71-89) → horizontal
    * merge with the project's label data types. The reference's vertical
    * pass runs only for labels in `multiline_labels`, which is EMPTY for
    * DocumentEntityMulticlassModel (py:3252), so it is a no-op here.
    */
  def extract(spark: SparkSession, model: TrainScorerJob.FittedK,
      labelDefs: Map[String, LabelDef], root: String = DefaultRoot,
      docId: String = ExtractId): Vector[ExtractedTuple] = {
    // Driver-local: inference over ONE fixture document is a pure function
    // of (model, doc) — the previous 1-partition Spark job + three
    // broadcasts was pure scheduling overhead around the same arithmetic.
    // (Corpus-scale inference broadcasts the model and maps partitions —
    // engine/Scorer's path; this is the single-golden-doc surface.)
    val thresholds = labelDefs.view.mapValues(_.threshold).toMap
    val types = labelDefs.view.mapValues(_.dataType).toMap
    val doc = FixtureProject.loadDoc(root, docId)
    val (_, frame) = frameOf(doc)
    val noLabelIdx = model.classes.indexOf(NoLabel)
    val scored = frame.flatMap { r =>
      val p = TrainScorerJob.predictProba(model, r.features)
      var best = -1
      var k = 0
      while (k < p.length) {
        if (k != noLabelIdx && (best < 0 || p(k) > p(best))) best = k
        k += 1
      }
      if (best < 0) None
      else {
        val label = model.classes(best)
        val conf = p(best)
        if (conf >= thresholds.getOrElse(label, 0.1))
          Some(Scorer.Scored(Span(r.start, r.end), label, conf, r.offsetString))
        else None
      }
    }
    Merge
      .mergeHorizontal(doc.text, scored, 0.0, l => types.getOrElse(l, "Text"))
      .map(s => ExtractedTuple(s.label, s.span.start, s.span.end,
        doc.text.substring(s.span.start, s.span.end), s.confidence))
      .toVector
      .sortBy(t => (t.start, t.end, t.label))
  }

  // one composed run per JVM: the spec, q49 and the bench share the model
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[ExtractedTuple]]()

  /** The full composed golden: train on the 5 fixture payslips, extract
    * TEST_DOCUMENT_ID. Cached per root for the process lifetime.
    */
  def trainAndExtract(spark: SparkSession, root: String = DefaultRoot): Vector[ExtractedTuple] = {
    // the multi-minute train+extract runs OUTSIDE the map's bin lock
    // (computeIfAbsent would hold it and block unrelated keys in the same
    // bin for the whole run); a racing duplicate computation is tolerable —
    // the job is deterministic, putIfAbsent keeps the first result
    val key = s"$root#$ExtractId"
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val labelDefs = FixtureProject.labels(root).map(l => l.name -> l).toMap
      val computed = extract(spark, train(spark, root), labelDefs, root, ExtractId)
      val prev = cache.putIfAbsent(key, computed)
      if (prev != null) prev else computed
    }
  }

  /** DataFrame surface for the q49 oracle query. */
  def extractDF(spark: SparkSession, root: String = DefaultRoot): DataFrame = {
    import spark.implicits._
    trainAndExtract(spark, root)
      .map(t => (t.label, t.start.toLong, t.end.toLong, t.offset_string))
      .toDF("label", "start", "end", "offset_string")
      .orderBy("start", "end", "label")
  }
}
