package graft.functions

import graft.core.Rx
import graft.engine.PropCheck
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

class ExpressionsSpec extends AnyFunSuite {

  test("native expressions registered via SparkSessionExtensions, callable from SQL") {
    // force a NEW session over the (possibly) shared context so the
    // extensions actually apply — getOrCreate would return a pre-existing
    // session and skip them
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      // NOTE: no spark.stop() — the SparkContext is shared with the other
      // suites in this JVM; only the session (with its extensions) is new.
      spark.sparkContext.setLogLevel("ERROR")
      val row = spark.sql(
        "SELECT graft_token_count('one two  three') AS n, graft_simhash64('hello world') AS h")
        .collect()(0)
      assert(row.getAs[Int]("n") == 3)
      assert(row.getAs[Long]("h") == graft.core.Fingerprint.simhash64("hello world"))
    } finally {
      prior.foreach { p => SparkSession.setDefaultSession(p); SparkSession.setActiveSession(p) }
    }
  }

  test("token_count Column API agrees with the pure counter") {
    val spark = graft.engine.SparkTestBase.spark
    import spark.implicits._
    // tokenizer separators, the whitespace it keeps inside tokens (\r, no-break
    // space, line separator) and 2-, 3- and 4-byte UTF-8 characters
    val piece = Gen.oneOf(" ", "\n", "\t", "\f", "\r", "\u00a0", "\u2028",
      "a", "Z", "7", "%", "\u00e9", "\u20ac", "\u4e2d", "\ud83d\ude00")
    val text = Gen.choose(0, 40).flatMap(Gen.listOfN(_, piece)).map(_.mkString)
    def counts(t: String) = Seq(Rx.whitespaceTokenCount(t), Rx.whitespaceTokensPacked(t).length)
    // the kernel graft_token_count runs, on one string at a time
    PropCheck(Prop.forAll(text) { t =>
      val n = StringKernels.tokenCount(UTF8String.fromString(t))
      counts(t).forall(_ == n)
    })
    // and through the Column API, a batch of strings per query
    PropCheck(Prop.forAll(Gen.listOfN(50, text)) { texts =>
      val got = texts.toDF("t")
        .select(GraftFunctions.token_count($"t").as("n"))
        .as[Int].collect().toSeq
      texts.zip(got).forall { case (t, n) => counts(t).forall(_ == n) }
    }, minSuccessful = 10)
  }

  test("token_count runs StringKernels.tokenCount inside whole-stage codegen") {
    val spark = graft.engine.SparkTestBase.spark
    import org.apache.spark.sql.execution.debug._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(aqe)
    try {
      // AQE off: the executed plan is the codegen'd plan itself, not an
      // adaptive wrapper whose stages are planned only at run time
      spark.conf.set(aqe, "false")
      val df = spark.range(4)
        .select(GraftFunctions.token_count(concat(lit("w "), col("id").cast("string"))).as("n"))
      val code = df.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
      assert(code.contains("graft.functions.StringKernels.tokenCount("))
      assert(df.collect().map(_.getInt(0)).toSeq == Seq(2, 2, 2, 2))
    } finally prev.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
  }

  test("html_text runs StringKernels.htmlText inside whole-stage codegen; a string is refused") {
    val spark = graft.engine.SparkTestBase.spark
    import org.apache.spark.sql.execution.debug._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(aqe)
    try {
      spark.conf.set(aqe, "false")
      val (head, tail) = ("<html><body><nav><a href=\"/a\">home</a></nav><article><p>",
        " plain words of page text the extractor keeps as content</p></article></body></html>")
      val html = concat(lit(head), col("id").cast("string"), lit(tail))
      val df = spark.range(2).select(GraftFunctions.html_text(html.cast("binary")).as("t"))
      val code = df.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
      assert(code.contains("graft.functions.StringKernels.htmlText("))
      assert(df.collect().map(_.getString(0)).toSeq ==
        Seq(0, 1).map(i => s"$i plain words of page text the extractor keeps as content"))
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.range(1).select(GraftFunctions.html_text(html)).collect()
      }
      assert(e.getMessage.contains("graft_html_text requires a binary argument"))
    } finally prev.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
  }
}
