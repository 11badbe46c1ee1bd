package graft.engine

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark suites (forked test JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `df`'s rows in a canonical order, each double as its raw IEEE bits,
    * so two results compare equal only when every double is bit-equal.
    */
  def exactRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq
      .map(_.toSeq.map {
        case d: Double => ("bits", java.lang.Double.doubleToRawLongBits(d))
        case v => v
      })
      .sortBy(_.toString)

  /** `df`'s column names and types plus [[exactRows]], or the first of
    * `knownFailures` found in the messages of the exception it fails with
    * (any other failure is rethrown). Two bodies agree on an input when
    * their outcomes are equal.
    */
  def outcome(df: => org.apache.spark.sql.DataFrame, knownFailures: Seq[String])
      : Either[String, (Seq[(String, String)], Seq[Seq[Any]])] =
    try {
      val d = df
      Right((d.schema.map(f => (f.name, f.dataType.simpleString)), exactRows(d)))
    } catch {
      case e: Exception =>
        val m = messages(e)
        Left(knownFailures.find(m.contains).getOrElse(throw e))
    }

  /** Every message along `e`'s cause chain, for asserting on a failure that
    * Spark may wrap.
    */
  def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  /** Runs `body` with size-based broadcast off, static and adaptive, so a
    * BroadcastHashJoin planned inside it comes from an operator's own
    * broadcast hint, not from the planner's size statistics.
    */
  def withoutAutoBroadcast[T](body: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      body
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `body`'s result and the number of Spark jobs it starts, its own threads' included
    * (they inherit the job group the jobs are counted by). Listener events
    * arrive in order: once a marker job started after `body` is seen, every
    * job of `body` has been counted.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${System.nanoTime()}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger(0)
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `marker` => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsDuring")
      val result = body
      sc.setJobGroup(marker, "listener barrier")
      sc.parallelize(Seq(1), 1).count()
      require(markerSeen.await(60, TimeUnit.SECONDS), "the listener never saw the marker job")
      (result, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
