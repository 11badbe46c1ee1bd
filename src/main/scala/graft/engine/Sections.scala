package graft.engine

import graft.jobs.TrainScorerJob
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Section (annotation-set) machinery: the line-level section-start
  * classifier + extraction routing (C5/C6, information_extraction.py:
  * 2071-2459). Routing is the as-of pattern: each extraction joins the most
  * recent preceding section start — `last(_, ignoreNulls) over (partition
  * doc order by offset rows unbounded preceding..current)`, one shuffle on
  * doc, no self-join.
  *
  * The TRAINED path (the reference's template classifier,
  * information_extraction.py:2071-2191) is [[lineLabelFrame]] →
  * [[withNeighborFeatures]] → [[fitStartClassifier]]: per-line label
  * one-hots + annotation counts, widened with the ±n neighbor lines via
  * Window lag/lead (`prev_line_i_*` / `next_line_i_*`, zero-filled at the
  * edges like the reference), fit as a binary logistic by the driver-side
  * trainer (`TrainScorerJob.fitSoftmaxLocal`, two classes).
  */
object Sections {

  /** Per-line label features from extraction output: for each (url, line)
    * one indicator per label whose annotation STARTS on that line plus the
    * annotation count — the `build_document_template_feature` row
    * (information_extraction.py:2305-2330). Pure per-document kernel, no
    * shuffle; emits every line (all-zero rows included, the classifier
    * needs the negatives).
    */
  def lineLabelFrame(docs: Dataset[ExtractedDoc]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val labelNames = Labels.all.map(_.name)
    docs.mapPartitions(_.flatMap { doc =>
      val text = doc.extracted_text
      // line index per char offset: one linear pass
      val lineOf = new Array[Int](math.max(1, text.length))
      var ln = 0
      var i = 0
      while (i < text.length) {
        lineOf(i) = ln
        if (text.charAt(i) == '\n' || text.charAt(i) == '\f') ln += 1
        i += 1
      }
      // a trailing line break must not mint a phantom empty final line
      // (an all-zero extra negative per document for the classifier)
      val nLines =
        if (text.isEmpty) 1
        else if (text.last == '\n' || text.last == '\f') ln
        else ln + 1
      val hot = Array.fill(nLines)(new Array[Double](labelNames.length))
      val counts = new Array[Double](nLines)
      doc.labels.foreach { l =>
        val line = if (text.isEmpty) 0 else lineOf(math.min(l.start, text.length - 1))
        val li = labelNames.indexOf(l.label)
        if (li >= 0) hot(line)(li) = 1.0
        counts(line) += 1.0
      }
      (0 until nLines).iterator.map(line => (doc.url, line, hot(line).toSeq :+ counts(line)))
    }).toDF("url", "line_no", "features")
  }

  /** Widen a per-line feature frame with the ±n neighbor lines
    * (generate_relative_line_features, information_extraction.py:2202-2235):
    * neighbor line feature vectors appended interleaved as next_1, prev_1,
    * next_2, prev_2, ... (the assembly order the trained weights bind to —
    * train and predict share it), zero-filled past the
    * document edges. One shuffle on the doc key.
    */
  def withNeighborFeatures(df: DataFrame, n: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("url")).orderBy(col("line_no"))
    val neighborCols: Seq[Column] = (1 to n).flatMap { i =>
      Seq(lag(col("features"), i).over(w).as(s"prev_$i"),
        lead(col("features"), i).over(w).as(s"next_$i"))
    }
    val keep = df.columns.filterNot(c => c == "url" || c == "line_no" || c == "features")
      .map(col).toSeq
    val withN = df.select(Seq(col("url"), col("line_no"), col("features")) ++ keep ++ neighborCols: _*)
    val zeros = array_repeat(lit(0.0), size(col("features")))
    val assembled = (1 to n).foldLeft(withN) { (d, i) =>
      d.withColumn(s"prev_$i", coalesce(col(s"prev_$i"), zeros))
        .withColumn(s"next_$i", coalesce(col(s"next_$i"), zeros))
    }
    assembled.withColumn("assembled",
      concat((col("features") +: (1 to n).flatMap(i =>
        Seq(col(s"next_$i"), col(s"prev_$i")))): _*))
      .select(Seq(col("url"), col("line_no"), col("assembled").as("features")) ++ keep: _*)
  }

  /** Fit the section-start classifier: rows carry (features array, y 0/1).
    * The frame is gathered to the driver once, one array per partition in
    * partition order, and fit there by the engine's one trainer; the start
    * probability of a line is `predictProba(model, features)(1)`.
    */
  def fitStartClassifier(frame: DataFrame, dim: Int, iters: Int = 120, lr: Double = 0.8): TrainScorerJob.FittedK = {
    val spark = frame.sparkSession
    import spark.implicits._
    val parts = frame.select(col("y").cast("int"), col("features"))
      .as[(Int, Seq[Double])]
      .map { case (y, f) => TrainScorerJob.ExampleK(y, f.toArray) }
      .rdd.glom().collect()
    val l2 = 1e-4
    // A two-class softmax started from zero keeps w1 = -w0, and its
    // p1 = sigmoid((w1 - w0).x + b1 - b0). At (lr/2, 2*l2) that difference
    // takes exactly the binary logistic step at (lr, l2), in real
    // arithmetic: this is the binary logistic start classifier.
    TrainScorerJob.fitSoftmaxLocal(parts.toIndexedSeq, 2, dim, Array(1.0, 1.0), iters,
      lr = lr / 2, l2 = 2 * l2)
  }

  /** Deterministic line-level section-start score — retained as the
    * zero-training fallback for corpora without section ground truth; the
    * trained path above replaces it whenever labeled documents exist. A
    * line opens a section when it is short, starts uppercase, and ends
    * without sentence punctuation — heading-shaped. Returns [0,1].
    */
  def sectionStartScore(line: String): Double = {
    val t = line.trim
    if (t.isEmpty) return 0.0
    var z = -1.0
    if (Character.isUpperCase(t.charAt(0))) z += 1.2
    if (t.length < 48) z += 1.0
    val last = t.charAt(t.length - 1)
    if (last != '.' && last != ',' && last != ';') z += 0.8
    val words = t.split(" ").length
    if (words <= 6) z += 0.6
    1.0 / (1.0 + math.exp(-z))
  }

  /** Route rows to their enclosing section: `df` must have (docCol, posCol,
    * isStartCol); adds `section_start` = position of the most recent start
    * at-or-before the row (C6 as-of semantics; leftovers before the first
    * start get the default section = null → coalesced to 0).
    */
  def assignSections(df: DataFrame, docCol: String, posCol: String, isStartCol: String): DataFrame = {
    val w = Window.partitionBy(col(docCol)).orderBy(col(posCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("section_start",
      coalesce(last(when(col(isStartCol), col(posCol)), ignoreNulls = true).over(w), lit(0L)))
  }
}
