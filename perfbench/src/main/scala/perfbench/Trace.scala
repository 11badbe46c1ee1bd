package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One span: a benchmark-side interval around a call into the program. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** Task-level totals for one job group (or for the whole run). */
final class TaskTotals {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var taskNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var resultBytes = 0L
  /** worst max/median task time over the group's stages */
  var skew = 1.0

  def add(o: TaskTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskNs += o.taskNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; resultBytes += o.resultBytes
    skew = math.max(skew, o.skew)
  }
}

/** Benchmark-owned SparkListener: attributes every task to the job group the
  * benchmark set around the call (`SparkContext.setJobGroup`), so per-call
  * runtime figures come from outside the program. Only installed in traced
  * runs; untraced runs measure without it.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageTaskNs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val groups = mutable.LinkedHashMap.empty[String, TaskTotals]

  private def totals(g: String): TaskTotals = groups.getOrElseUpdate(g, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    val t = totals(g)
    t.jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(stageGroup.getOrElse(e.stageId, "none"))
    t.tasks += 1
    if (!e.taskInfo.successful) t.failedTasks += 1
    val ns = e.taskInfo.duration * 1000000L
    t.taskNs += ns
    stageTaskNs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ns
    val m = e.taskMetrics
    if (m != null) {
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.resultBytes += m.resultSize
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val sid = e.stageInfo.stageId
    val t = totals(stageGroup.getOrElse(sid, "none"))
    t.stages += 1
    stageTaskNs.remove(sid).foreach { ts =>
      if (ts.length >= 2) {
        val sorted = ts.sorted
        val med = math.max(sorted(sorted.length / 2), 1L)
        t.skew = math.max(t.skew, sorted.last.toDouble / med)
      }
    }
  }

  /** Totals over the groups whose name satisfies `p`. */
  def sum(p: String => Boolean): TaskTotals = synchronized {
    val out = new TaskTotals
    groups.foreach { case (g, t) => if (p(g)) out.add(t) }
    out
  }
}

/** Spans plus job-group attribution. With tracing off, `span` only times. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  val listener: Option[GroupListener] =
    if (on) { val l = new GroupListener; spark.sparkContext.addSparkListener(l); Some(l) } else None

  private var groupStack: List[(String, String)] = Nil

  /** Run `f` inside a span named `name`; when `group` is given (traced
    * runs), Spark jobs started by `f` are attributed to that job group
    * (nested groups restore the enclosing one on exit). Returns the result
    * and the span's seconds.
    */
  def span[T](name: String, group: String = null)(f: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val sc = spark.sparkContext
    val grouped = on && group != null
    if (grouped) {
      groupStack = (group, name) :: groupStack
      sc.setJobGroup(group, name, interruptOnCancel = false)
    }
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      if (grouped) {
        groupStack = groupStack.tail
        groupStack.headOption match {
          case Some((g, d)) => sc.setJobGroup(g, d, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
      stack = stack.tail
      if (on) spans += Span(id, name, parent, t0, t1)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def spanList: Seq[Span] = spans.toSeq
}
