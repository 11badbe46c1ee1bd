package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` — pushed filters, pruned read schemas,
  * join strategies, codegen spans, exchanges — for a set of declared
  * queries to `<outDir>/<query>_<suffix>.txt` (the plan evidence under
  * plans/rNN/). Not part of the measured bench; run as
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> [q24,q59,...]"
  * with SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench. A query is
  * named in full or by its `qNN` prefix.
  */
object PlanDump {
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
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(p => n == p || n.startsWith(p + "_"))) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
          System.err.println(s"[plandump] $name ok")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
