package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one timed pass produced: its wall time, the latency of each op in
  * it (an op is one query, one graph call or one extraction bucket), the
  * ops that threw, and anything the output check needs.
  */
final case class PassOut(wallS: Double, opS: Seq[(String, Double)], failedOps: Int, payload: Any)

/** Everything a workload reports besides the shared pass statistics. */
final class Report {
  val detail = mutable.LinkedHashMap.empty[String, Any] // workload-specific per-layer figures
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]] // named output checks
  val digests = mutable.ArrayBuffer.empty[Map[String, Any]] // results the oracle compares
  val info = mutable.LinkedHashMap.empty[String, Any] // input sizes and settings
  var failedChecks = 0

  def check(name: String, ok: Boolean, note: String = ""): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "note" -> note)
    if (!ok) failedChecks += 1
  }
}

final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, seconds: Double,
    work: Path, data: Path, cores: Int, report: Report) {
  def dir(name: String): String = work.resolve(name).toString
}

/** A workload: stage its seeded inputs, run passes, check each pass. */
trait Workload {
  /** Spark settings the workload needs before the session starts. */
  def conf(seed: Long): Map[String, String] = Map.empty
  /** Generate and stage the inputs; called several times for `setup_s`. */
  def stage(ctx: Ctx, round: Int): Unit
  /** One pass over the staged inputs; with `traced`, calls run in job groups. */
  def pass(ctx: Ctx, k: Int, traced: Boolean): PassOut
  /** Check a pass's outputs (outside the timed interval); returns failed ops. */
  def check(ctx: Ctx, out: PassOut): Int
  /** Workload figures beyond the shared ones, for every run. */
  def summary(ctx: Ctx, passes: Seq[PassOut]): Unit = ()
  /** Extra per-layer figures of the traced run (after the traced passes). */
  def layers(ctx: Ctx, passes: Seq[PassOut]): Unit = ()
  /** Untimed passes before the timed ones: a fresh JVM's first passes are slow. */
  val warmPasses: Int = 1
  /** Timed passes in a run, at least; more run until `--seconds` are spent. */
  val minPasses: Int = 1
}

object Main {
  val StagingRounds = 3

  private def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1) // Spark's non-daemon threads would keep the JVM alive
    }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work"))
    val data = Paths.get(a("data"))
    val out = Paths.get(a("out"))
    val wl: Workload = name match {
      case "extract" => ExtractWorkload
      case "graph" => GraphWorkload
      case "contract" => ContractWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    wl.conf(seed).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val report = new Report
    val tracer = new Tracer(spark, on = false)
    val ctx = Ctx(spark, tracer, seed, seconds, work, data, cores, report)

    // set-up: staging is repeated and its median taken; then the warm
    // passes (JIT, codegen, per-JVM memoized index builds)
    val stageS = median((0 until StagingRounds).map { r =>
      val t0 = System.nanoTime(); wl.stage(ctx, r); (System.nanoTime() - t0) / 1e9
    })
    val warmS = mutable.ArrayBuffer.empty[Double]
    var warmFailed = 0
    while (warmS.length < wl.warmPasses) {
      // warm passes are checked too: the checks' own first runs (JIT,
      // codegen) then happen before the timed passes
      val w = wl.pass(ctx, -1 - warmS.length, traced = false)
      warmFailed += wl.check(ctx, w) + w.failedOps
      warmS += w.wallS
    }
    report.check("warm passes", warmFailed == 0, s"$warmFailed failed ops")
    val setupS = sessionS + stageS + warmS.sum
    report.info ++= Seq("session_s" -> sessionS, "staging_s" -> stageS, "warm_pass_s" -> warmS,
      "cores" -> cores)

    var attempted = 0
    var failed = 0
    var passNo = 0
    val osBean = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val passCpuS = mutable.ArrayBuffer.empty[Double]
    var heapMb = 0.0
    // timed passes: closed loop, one client, until `seconds` of passes ran;
    // each pass's output is checked right after it, outside its timing
    def runPasses(tr: Tracer, minPasses: Int, traceOn: Boolean, forSeconds: Double = seconds): Seq[PassOut] = {
      val c = ctx.copy(tracer = tr)
      val passes = mutable.ArrayBuffer.empty[PassOut]
      var spent = 0.0
      while (passes.length < minPasses || spent < forSeconds) {
        val cpu0 = osBean.getProcessCpuTime
        val p = tr.span(s"pass $passNo") { wl.pass(c, passNo, traceOn) }._1
        passCpuS += (osBean.getProcessCpuTime - cpu0) / 1e9
        // live heap the pass leaves behind, its collected output still held.
        // The second collection runs after Spark's ContextCleaner has dropped
        // what the first one found unreachable, so the cleanup does not
        // spill into the next pass's timing
        System.gc()
        Thread.sleep(300)
        System.gc()
        heapMb = math.max(heapMb, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
        passNo += 1
        val bad = wl.check(c, p) + p.failedOps
        attempted += p.opS.length
        failed += math.min(bad, p.opS.length)
        spent += p.wallS
        // untraced passes drop their outputs once checked, so no pass runs
        // with an earlier pass's results on the heap
        passes += (if (traceOn) p else p.copy(payload = null))
      }
      passes.toSeq
    }
    val metrics = mutable.LinkedHashMap.empty[String, Double]

    if (!traced) {
      val passes = runPasses(tracer, wl.minPasses, traceOn = false)
      val ops = passes.flatMap(_.opS.map(_._2))
      metrics ++= Seq(
        "setup_s" -> setupS,
        "pass_s" -> median(passes.map(_.wallS)),
        "op_p50_s" -> Stats.quantile(ops, 0.5))
      // fewer than 100 op samples leave under 10 beyond the p90: informational
      report.detail("op_p90_s") = Stats.quantile(ops, 0.9)
      wl.summary(ctx, passes)
      report.info ++= Seq("passes" -> passes.length, "op_samples" -> ops.length,
        "pass_s_all" -> passes.map(_.wallS), "pass_cpu_s_all" -> passCpuS)
    } else {
      // one untraced pass, then traced passes: the difference is the
      // tracing overhead; the listener only sees the traced passes
      val plain = runPasses(tracer, 1, traceOn = false, forSeconds = 0).head
      val tr = new Tracer(spark, on = true)
      val passes = runPasses(tr, 1, traceOn = true)
      tr.drain()
      val wall = passes.map(_.wallS).sum
      val t = tr.listener.get.sum(_ => true)
      metrics ++= Seq(
        "spark.jobs" -> t.jobs.toDouble / passes.length,
        "spark.stages" -> t.stages.toDouble / passes.length,
        "spark.tasks" -> t.tasks.toDouble / passes.length,
        "spark.task_s" -> t.taskNs / 1e9 / passes.length,
        "spark.busy_ratio" -> t.taskNs / 1e9 / (wall * cores),
        "spark.task_skew" -> t.skew,
        "spark.shuffle_write_mb" -> t.shuffleWrite / 1048576.0 / passes.length,
        "spark.shuffle_read_mb" -> t.shuffleRead / 1048576.0 / passes.length,
        "spark.spill_mb" -> t.spill / 1048576.0 / passes.length,
        "spark.gc_s" -> t.gcMs / 1000.0 / passes.length,
        "spark.result_mb" -> t.resultBytes / 1048576.0 / passes.length,
        "spark.failed_tasks" -> t.failedTasks.toDouble,
        "trace.overhead_s" -> (median(passes.map(_.wallS)) - plain.wallS),
        "driver.heap_live_mb" -> heapMb)
      val kc = ctx.copy(tracer = tr)
      metrics ++= Kernels.measure(seed)
      wl.summary(kc, passes)
      wl.layers(kc, passes)
      tr.drain()
      report.info ++= Seq("passes" -> passes.length, "untraced_pass_s" -> plain.wallS,
        "traced_pass_s" -> median(passes.map(_.wallS)))
      report.detail("spans") = tr.spanList.map(s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> (s.startNs - tr.spanList.head.startNs) / 1e6,
          "end_ms" -> (s.endNs - tr.spanList.head.startNs) / 1e6))
    }
    spark.stop()

    val json = Json(Map(
      "workload" -> name, "seed" -> seed, "trace" -> traced,
      "metrics" -> metrics,
      "attempted" -> attempted, "failed" -> failed,
      "failed_checks" -> report.failedChecks,
      "checks" -> report.checks, "digests" -> report.digests,
      "detail" -> report.detail, "info" -> report.info))
    Files.writeString(out, json)
    // streaming queries of the program can leave non-daemon threads behind
    sys.exit(0)
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
