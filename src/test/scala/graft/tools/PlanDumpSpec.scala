package graft.tools

import graft.engine.SparkTestBase
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** PlanDump's canonical form: the run-to-run parts of a formatted plan are
  * masked, so one query dumps the same file from two builds.
  */
class PlanDumpSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("canonical masks ids, lambda and object addresses, temp paths and call-site lines") {
    val tmp = sys.props("java.io.tmpdir").stripSuffix("/")
    val raw = Seq(
      "Arguments: [id#308L, sig#309], MapPartitionsRDD[56] at localCheckpoint at Dedup.scala:470, ExistingRDD",
      "Arguments: graft.SparkEntry$$$Lambda$5674/0x00007f33895069a0@6846e4e8, obj#409: graft.engine.Dedup$Pair",
      "Arguments: hashpartitioning(doc_id#12L, 4), ENSURE_REQUIREMENTS, [plan_id=977]",
      s"Location: InMemoryFileIndex [file:$tmp/graft_neardup_index5304324750805738072/sigs]",
      "Functions [1]: [weightedmode(user_id#7L, graft.engine.Evaluate$WeightedMode@2e0d6270, true)]",
      "Input [2]: [doc_id#12L, text#13]").mkString("\n")
    val want = Seq(
      "Arguments: [id#NL, sig#N], MapPartitionsRDD[N] at localCheckpoint at Dedup.scala:N, ExistingRDD",
      "Arguments: graft.SparkEntry$$$Lambda, obj#N: graft.engine.Dedup$Pair",
      "Arguments: hashpartitioning(doc_id#NL, 4), ENSURE_REQUIREMENTS, [plan_id=N]",
      "Location: InMemoryFileIndex [file:<tmp>/graft_neardup_indexN/sigs]",
      "Functions [1]: [weightedmode(user_id#NL, graft.engine.Evaluate$WeightedMode@N, true)]",
      "Input [2]: [doc_id#NL, text#N]").mkString("\n")
    assert(PlanDump.canonical(raw) == want)
  }

  test("two builds of one query dump the same canonical plan") {
    import spark.implicits._
    def build(): String = {
      val cp = (1L to 50L).toDF("id").localCheckpoint(true)
      cp.as[Long].map(_ + 1L).toDF("v").join(cp, $"v" === $"id")
        .queryExecution.explainString(FormattedMode)
    }
    val (a, b) = (build(), build())
    assert(a != b, "the raw plans differ in their ids")
    assert(PlanDump.canonical(a) == PlanDump.canonical(b))
  }
}
