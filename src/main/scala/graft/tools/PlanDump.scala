package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` — pushed filters, pruned read schemas,
  * join strategies, codegen spans, exchanges — for a set of declared
  * queries to `<outDir>/<query>_<suffix>.txt` (the plan evidence under
  * plans/rNN/). Not part of the measured bench; run as
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> [q24,q59,...]"
  * with SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench. A query is
  * named in full or by its `qNN` prefix.
  *
  * Each plan is written in [[canonical]] form, so two dumps of the same
  * plan — from two commits, or two runs — are byte-identical files.
  * q44 and q78 run their streams while they are built and return a scan
  * of the memory sink, so their plans cannot show a change to their
  * bodies.
  */
object PlanDump {
  /** `plan` with the parts that vary from run to run masked: expression
    * ids (`doc_id#12L` → `doc_id#NL`), `plan_id`s, RDD ids, lambda and
    * object addresses (`Evaluate$WeightedMode@2e0d6270`), the random
    * suffix of temp paths, and the line number of a call site
    * (`localCheckpoint at Dedup.scala:470`).
    */
  def canonical(plan: String): String = plan
    .replaceAll("#\\d+", "#N")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
    .replaceAll("\\$\\$Lambda[$\\d]*/0x\\p{XDigit}+@\\p{XDigit}+", "\\$\\$Lambda")
    .replaceAll("(\\.[A-Z$][\\w$]*)@\\p{XDigit}+\\b", "$1@N")
    .replaceAll(java.util.regex.Pattern.quote(sys.props("java.io.tmpdir").stripSuffix("/")) +
      "/([^/\\s,\\]]*?)\\d+(?=[/\\s,\\]]|$)", "<tmp>/$1N")
    .replaceAll("( at \\w+\\.scala):\\d+", "$1:N")

  /** Exits non-zero when any query failed, after every other plan is
    * written, so a plan comparison cannot silently miss a query.
    */
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val only = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = try dump(spark, sfDir, outDir, suffix, only) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** Write the canonical plan of each selected query to
    * `<outDir>/<query>_<suffix>.txt`, going on past a query that fails.
    * Returns the names of the failed queries.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      only: Option[Set[String]]): Seq[String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(p => n == p || n.startsWith(p + "_"))) }
      .flatMap { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), canonical(plan))
          System.err.println(s"[plandump] $name ok")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
          Some(name)
        }
      }
  }
}
