package graft.engine

import graft.core.Span
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/** F3 annotation-view machinery (data.py:1847-1882 `view_annotations`) and
  * the annotation duplicate contract (data.py:957-966 `Annotation.__eq__`,
  * data.py:1957-1971 `add_annotation`): an annotation is a duplicate iff it
  * has the same label AND the identical span set, regardless of correctness;
  * the viewer keeps the best non-overlapping annotations in priority order
  * (is_correct first, then confidence descending with missing treated as 0,
  * then smallest span start).
  */
object Annotations {

  final case class Ann(
      annId: Long,
      label: String,
      spans: Vector[Span],
      isCorrect: Boolean,
      revised: Boolean,
      confidence: Option[Double])

  /** add_annotation semantics (data.py:1957-1971): adding a duplicate is an
    * error. Returns Left(existing) on the first rejected candidate.
    */
  def addAll(anns: Seq[Ann]): Either[(Ann, Ann), Vector[Ann]] = {
    // keyed on (label, sorted spans) — the duplicate identity — so each
    // candidate is one hash probe instead of a pairwise re-sorting scan
    val byKey = scala.collection.mutable.HashMap.empty[(String, Vector[Span]), Ann]
    val acc = Vector.newBuilder[Ann]
    anns.foreach { a =>
      val key = (a.label, a.spans.sorted)
      byKey.get(key) match {
        case Some(dup) => return Left((a, dup))
        case None => byKey.put(key, a); acc += a
      }
    }
    Right(acc.result())
  }

  /** view_annotations (data.py:1847-1882). Per document:
    *  1. priority sort: is_correct first, -confidence (None/0 -> 0), min start
    *  2. drop when confidence is set (non-zero, Python truthiness) and the
    *     label threshold exceeds it
    *  3. drop user-rejected candidates (!is_correct && revised)
    *  4. greedy offset-overlap suppression (the reference's `filled` bitmask,
    *     kept here as an interval list — documents can be arbitrarily long)
    *  5. labels without has_multiple_top_candidates keep only their first
    *     (highest-priority) annotation
    * Returned sorted by span start like the reference.
    */
  def viewAnnotations(
      anns: Seq[Ann],
      thresholdOf: String => Double,
      hasMultipleTop: String => Boolean): Vector[Ann] = {
    val priority = anns.sortBy { a =>
      (a.isCorrect match { case true => 0; case false => 1 },
        a.confidence.filter(_ != 0.0).map(-_).getOrElse(0.0),
        if (a.spans.isEmpty) Int.MaxValue else a.spans.map(_.start).min)
    }
    val filled = scala.collection.mutable.ArrayBuffer.empty[Span]
    val noDupLabels = scala.collection.mutable.HashSet.empty[String]
    val kept = Vector.newBuilder[Ann]
    priority.foreach { a =>
      val belowThreshold = a.confidence.exists(c => c != 0.0 && thresholdOf(a.label) > c)
      val rejected = !a.isCorrect && a.revised
      if (!belowThreshold && !rejected) {
        val overlapsFilled = a.spans.exists(sp => filled.exists(_.overlaps(sp)))
        val labelBlocked = !hasMultipleTop(a.label) && noDupLabels.contains(a.label)
        if (!overlapsFilled && !labelBlocked) {
          kept += a
          filled ++= a.spans
          if (!hasMultipleTop(a.label)) noDupLabels += a.label
        }
      }
    }
    kept.result().sortBy(a =>
      if (a.spans.isEmpty) Int.MaxValue else a.spans.map(_.start).min)
  }

  final case class FlatAnn(
      doc_id: Long, ann_id: Long, label: String, start: Int, end: Int,
      is_correct: Boolean, revised: Boolean, confidence: Double) // NaN = None

  /** DataFrame surface over flat single-span rows: one shuffle on doc_id,
    * the greedy kernel runs per group. Expected columns: doc_id, ann_id,
    * label, start, end, is_correct, revised, confidence (NaN for absent).
    */
  def viewAnnotationsDF(df: DataFrame, labels: Map[String, LabelDef]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val thresholdOf = (l: String) => labels.get(l).map(_.threshold).getOrElse(0.0)
    val hasMulti = (l: String) => labels.get(l).forall(_.hasMultipleTopCandidates)
    df.select(col("doc_id").cast("long"), col("ann_id").cast("long"), col("label"),
        col("start").cast("int"), col("end").cast("int"),
        col("is_correct"), col("revised"), col("confidence").cast("double"))
      .as[FlatAnn]
      .groupByKey(_.doc_id)
      .flatMapGroups { (docId, it) =>
        // group arrival order after a shuffle is not deterministic; pre-sort
        // by ann_id so the kernel's STABLE priority sort resolves fully-tied
        // annotations (same correctness/confidence/start) identically on
        // every run — the analog of the reference's stable insertion order
        val anns = it.map(r => Ann(r.ann_id, r.label, Vector(Span(r.start, r.end)),
          r.is_correct, r.revised, if (r.confidence.isNaN) None else Some(r.confidence)))
          .toSeq.sortBy(_.annId)
        viewAnnotations(anns, thresholdOf, hasMulti).iterator.map { a =>
          (docId, a.annId, a.label, a.spans.head.start, a.spans.head.end,
            a.isCorrect, a.confidence.getOrElse(0.0))
        }
      }
      .toDF("doc_id", "ann_id", "label", "start", "end", "is_correct", "confidence")
  }
}
