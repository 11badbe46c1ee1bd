package perfbench

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.engine.{Dedup, Importance, Retrieval}
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** `contract`: a fixed slice of the `SparkEntry.queries` contract over the
  * sf0.01 fixture tables shipped with the benchmark (`perfbench/data`). The
  * seed sets the query order. Every query result is collected in full — the
  * timed action consumes every column (never `count()`, which lets Catalyst
  * prune) — and its digest is compared with DuckDB's result of the query's
  * `SparkEntry.oracleSql` entry after the run.
  *
  * The slice (10 of the contract's 115 queries, sized so that a run fits
  * the benchmark's time budget) holds the per-query figures' queries (q23
  * q24 q44 q48 q59 q61 q108 q109) and the composed curation queries q58
  * q59 q83. The traced run additionally calls the curation operators one
  * by one (see `engineProbes`).
  */
object ContractWorkload extends Workload {
  val Slice: Seq[String] = Seq(
    "q23_extract_sha", "q24_extract_entities", "q44_stream_extract", "q48_extract_html",
    "q58_decontaminate", "q59_llm_pipeline", "q61_near_components", "q83_dsir_weights",
    "q108_nb_classifier", "q109_cluster_split")
  /** Per-query figures reported by name in the traced run. */
  val Named = Seq("q23", "q24", "q44", "q48", "q59", "q61", "q83", "q108", "q109")
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  override val minPasses = 2

  private def sf(ctx: Ctx) = ctx.data.resolve("sf0.01").toString

  def stage(ctx: Ctx, round: Int): Unit = {
    // the fixture is read-only input: staging opens every table's footer
    val cols = Tables.map(t => t -> ctx.spark.read.parquet(s"${sf(ctx)}/$t.parquet").schema.length)
    ctx.report.info ++= Seq("table_columns" -> cols.toMap, "queries" -> Slice.length)
    if (round == 0) {
      val oracle = SparkEntry.oracleSql
      ctx.report.info("oracle_sql") = Slice.flatMap(q => oracle.get(q).map(q -> _)).toMap
      ctx.report.info("unchecked") = Map(
        "q21_ann_lsh" -> "no oracle (self-witness); outside the slice",
        "q47_ann_ivf" -> "no oracle (self-witness); outside the slice",
        "q49_fixture_golden" -> "unchecked: fixture absent; outside the slice",
        "others" -> s"${SparkEntry.queries.size - Slice.length} contract queries are outside the slice")
    }
  }

  private def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Slice)

  final case class QOut(name: String, schema: StructType, rows: Array[Row], planS: Double,
      execS: Double, exchanges: Int)

  private object Plans extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) { case e: Exchange => e }.length
    def broadcastMb(p: SparkPlan): Double = collectWithSubqueries(p) {
      case b: BroadcastExchangeLike => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.sum / 1048576.0
  }

  def pass(ctx: Ctx, k: Int, traced: Boolean): PassOut = {
    val spark = ctx.spark
    val dir = sf(ctx)
    var failed = 0
    val outs = order(ctx.seed).map { q =>
      val fn = SparkEntry.queries(q)
      val (out, s) = ctx.tracer.span(q, s"q:$q") {
        try {
          val df = fn(spark, dir)
          val p0 = System.nanoTime()
          if (traced) df.queryExecution.executedPlan
          val p1 = System.nanoTime()
          val rows = df.collect()
          val p2 = System.nanoTime()
          val ex = if (traced) Plans.exchanges(df.queryExecution.executedPlan) else 0
          Some(QOut(q, df.schema, rows, (p1 - p0) / 1e9, (p2 - p1) / 1e9, ex))
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $q failed: $e")
            None
        }
      }
      if (out.isEmpty) failed += 1
      (q, s, out)
    }
    PassOut(outs.map(_._2).sum, outs.map(o => o._1 -> o._2), failed, (k, outs.flatMap(_._3)))
  }

  def check(ctx: Ctx, po: PassOut): Int = {
    val (k, outs) = po.payload.asInstanceOf[(Int, Seq[QOut])]
    outs.foreach { o =>
      val (d, n) = Canon.digest(o.schema, o.rows)
      ctx.report.digests += Map("pass" -> k, "query" -> o.name, "digest" -> d, "rows" -> n)
    }
    0 // the digests are compared with DuckDB after the run
  }

  override def layers(ctx: Ctx, passes: Seq[PassOut]): Unit = {
    val l = ctx.tracer.listener.get
    val outs = passes.flatMap(_.payload.asInstanceOf[(Int, Seq[QOut])]._2)
    val n = passes.length.toDouble
    val jobs = Slice.map(q => l.sum(_ == s"q:$q").jobs.toDouble / n)
    ctx.report.detail ++= Seq(
      "contract.plan_s" -> outs.map(_.planS).sum / n,
      "contract.exec_s" -> outs.map(_.execS).sum / n,
      "contract.exchanges" -> outs.map(_.exchanges).sum / n,
      "contract.jobs_per_query_p50" -> Stats.quantile(jobs, 0.5))
    Named.foreach { short =>
      val full = Slice.find(_.startsWith(short + "_")).get
      val s = passes.flatMap(_.opS.filter(_._1 == full).map(_._2))
      ctx.report.detail(s"q.$short.s") = Stats.quantile(s, 0.5)
    }
    engineProbes(ctx)
  }

  /** The curation operators, each called through its public function in its
    * own job group and forced through a noop sink, over a ×4 derivation of
    * the fixture documents (ScaleData's replica shapes; the seed picks which
    * fifth of replica 1 is an exact duplicate).
    */
  private def engineProbes(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val l = ctx.tracer.listener.get
    val base = spark.read.parquet(s"${sf(ctx)}/documents.parquet").select("doc_id", "text", "lang")
    val kc = col("__k")
    val text = when(kc === 0, col("text"))
      .when(kc === 1 && col("doc_id") % 5 === ctx.seed % 5, col("text"))
      .when(kc <= 2, concat(col("text"), lit(" rep"), kc))
      .otherwise(concat(lit("r"), kc, lit(" variant "), col("text")))
    val docs = base.crossJoin(spark.range(4).toDF("__k"))
      .select((col("doc_id") + kc * 10000000L).as("doc_id"), text.as("text"), col("lang"))
      .localCheckpoint(true)
    val bench = base.filter(col("doc_id") % 25 === 0 && size(split(col("text"), " ")) >= 13)
      .select(array_join(slice(split(col("text"), " "), 1, 13), " ").as("gram"))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode(SaveMode.Overwrite).save()
    def probe(name: String)(f: => Unit): Unit = {
      val (_, s) = ctx.tracer.span(name, s"engine:$name")(f)
      ctx.tracer.drain()
      val t = l.sum(_ == s"engine:$name")
      ctx.report.detail ++= Seq(s"engine.$name.s" -> s,
        s"engine.$name.shuffle_mb" -> (t.shuffleWrite + t.shuffleRead) / 1048576.0)
    }
    probe("near_dedup")(noop(Dedup.dedupNearText(docs, "doc_id", "text", threshold = 0.85)))
    val ds = docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
    val sigs = Dedup.signatures(ds).persist()
    val cands = Dedup.candidatePairs(sigs).count()
    val verified = Dedup.verifyPairs(sigs, Dedup.candidatePairs(sigs), 0.85).count()
    sigs.unpersist()
    ctx.report.detail ++= Seq("engine.candidate_pairs" -> cands,
      "engine.verify_yield" -> (if (cands == 0) 0.0 else verified.toDouble / cands))
    probe("contaminated_docs")(noop(Dedup.contaminatedDocs(docs, "doc_id", "text", bench)))
    probe("fuzzy_contaminated")(noop(Dedup.fuzzyContaminatedDocs(docs, "doc_id", "text", bench)))
    probe("dedup_lines")(noop(Dedup.dedupLines(docs, "doc_id", "text")))
    // broadcast sizes come from the executed plan of the noop write itself
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(planListener)
    probe("importance_weights")(noop(Importance.importanceWeights(
      docs, docs.filter(col("lang") === "de"), "doc_id", "text")))
    spark.listenerManager.unregister(planListener)
    ctx.report.detail("engine.importance_weights.broadcast_mb") =
      plans.asScala.map(Plans.broadcastMb).sum
    var idx: Retrieval.Bm25Index = null
    probe("bm25_build") { idx = Retrieval.buildIndex(docs, "doc_id", "text") }
    val queries = docs.filter(col("doc_id") % 61 === 0 && col("doc_id") < 488)
      .select((col("doc_id") / 61).cast("long").as("query_id"),
        concat_ws(" ", slice(Retrieval.alnumTokens(col("text")), 1, 12)).as("qtext"))
    probe("bm25_search")(noop(Retrieval.search(idx, queries, minMatchNum = 1, minMatchDen = 5)))
    // gate evidence: q61's lattice over the fixture stays under the CC gate
    val ids = base.select(col("doc_id").cast("long").as("i"))
    val pairs = ids.filter(col("i") % 7 < (expr("i DIV 7") % 6) + 1)
      .select(col("i").as("a"), (col("i") + 1).as("b"))
      .union(ids.filter(col("i") % 7 === 2 && expr("i DIV 7") % 11 === 0)
        .select(col("i").as("a"), (expr("i DIV 7") * 7 + 21).as("b")))
      .join(ids.select(col("i").as("b")), Seq("b"), "left_semi").select("a", "b")
      .as[(Long, Long)].map { case (a, b) => Dedup.Pair(a, b) }
    ctx.report.detail("engine.resolve_clusters.rounds_q61") =
      Dedup.resolveClustersDetailed(pairs).iterations
  }
}
