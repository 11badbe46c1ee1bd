package perfbench

import graft.engine.{Dedup, LinkGraph}
import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._

/** `graph`: connected components and PageRank above their driver-memory
  * gates, where the distributed paths run.
  *
  *  - A q61-style chain-and-bridge pair lattice over the id window
  *    `[seed·N, seed·N + N)`: block b of 7 ids chains its first (b%6)+1
  *    edges and node 7b+2 of every 11th block bridges to block b+3's head.
  *  - A seeded host edge list: uniform sources, quadratically skewed
  *    destinations, no self-loops, distinct edges.
  *
  * The inputs are scaled down from the production sizes (2M pair edges
  * against a 1M-edge gate; 400k host edges against a 256k-edge gate), and
  * so are the gates, by `spark.graft.cc.localMaxEdges` and
  * `spark.graft.pagerank.localMaxEdges`: each input is about twice its gate,
  * as at production size. One pass calls `Dedup.resolveClustersDetailed`
  * and `LinkGraph.pageRank(iters = 10)` and collects every output row.
  */
object GraphWorkload extends Workload {
  val LatticeIds = 120000L // ≈ 61k canonical edges
  val CcGate = 30000L
  val HostEdges = 12000L
  val Hosts = 1500L
  val PrGate = 6000L
  val Iters = 10

  override def conf(seed: Long): Map[String, String] = Map(
    "spark.graft.cc.localMaxEdges" -> CcGate.toString,
    "spark.graft.pagerank.localMaxEdges" -> PrGate.toString)

  private def pairsDir(ctx: Ctx) = ctx.dir("graph/pairs")
  private def hostsDir(ctx: Ctx) = ctx.dir("graph/hosts")

  def stage(ctx: Ctx, round: Int): Unit = {
    val spark = ctx.spark
    val lo = ctx.seed * LatticeIds
    val ids = spark.range(lo, lo + LatticeIds, 1L, ctx.cores).select(col("id").as("i"))
    val chain = ids.filter(col("i") % 7 < (expr("i DIV 7") % 6) + 1)
      .select(col("i").as("a"), (col("i") + 1).as("b"))
    val cross = ids.filter(col("i") % 7 === 2 && expr("i DIV 7") % 11 === 0)
      .select(col("i").as("a"), (expr("i DIV 7") * 7 + 21).as("b"))
    chain.union(cross).filter(col("b") < lo + LatticeIds)
      .write.mode(SaveMode.Overwrite).parquet(pairsDir(ctx))
    val h = (c: org.apache.spark.sql.Column) => concat(lit(s"h${ctx.seed}-"), c.cast("string"))
    val u1 = (pmod(xxhash64(lit(ctx.seed), col("id"), lit(1)), lit(1000000L)) / 1e6)
    val u2 = (pmod(xxhash64(lit(ctx.seed), col("id"), lit(2)), lit(1000000L)) / 1e6)
    spark.range(0L, HostEdges, 1L, ctx.cores)
      .select(floor(u1 * Hosts).as("s"), floor(u2 * u2 * Hosts).as("d"))
      .filter(col("s") =!= col("d"))
      .select(h(col("s")).as("src_host"), h(col("d")).as("dst_host"))
      .distinct()
      .write.mode(SaveMode.Overwrite).parquet(hostsDir(ctx))
    ctx.report.info ++= Seq("lattice_ids" -> LatticeIds, "cc_gate" -> CcGate,
      "host_edge_draws" -> HostEdges, "hosts" -> Hosts, "pagerank_gate" -> PrGate)
  }

  final case class Out(rounds: Int, assignment: Array[Row], ranks: Array[Row])

  def pass(ctx: Ctx, k: Int, traced: Boolean): PassOut = {
    val spark = ctx.spark
    import spark.implicits._
    val ((rounds, assignment), ccS) = ctx.tracer.span("resolve_clusters", "op:resolve_clusters") {
      val pairs = spark.read.parquet(pairsDir(ctx)).as[(Long, Long)].map { case (a, b) => Dedup.Pair(a, b) }
      val r = Dedup.resolveClustersDetailed(pairs)
      (r.iterations, r.assignment.select("id", "keeper_id").collect())
    }
    val (ranks, prS) = ctx.tracer.span("page_rank", "op:page_rank") {
      LinkGraph.pageRank(spark.read.parquet(hostsDir(ctx)), Iters).select("host", "rank").collect()
    }
    PassOut(ccS + prS, Seq("resolve_clusters" -> ccS, "page_rank" -> prS), 0,
      Out(rounds, assignment, ranks))
  }

  /** Component minimum of every node of the lattice, derived on its own:
    * a plain union-find over the window's ids, fed by the lattice rule.
    */
  private var expected: (Long, Map[Long, Long]) = (-1L, Map.empty)
  private def expectedKeepers(seed: Long): Map[Long, Long] = {
    if (expected._1 != seed) {
      val lo = seed * LatticeIds
      val n = LatticeIds.toInt
      val parent = Array.tabulate(n)(identity)
      val touched = new Array[Boolean](n)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }; r }
      def link(a: Long, b: Long): Unit = if (b < lo + n) {
        val (x, y) = ((a - lo).toInt, (b - lo).toInt)
        touched(x) = true; touched(y) = true
        val (rx, ry) = (find(x), find(y))
        if (rx < ry) parent(ry) = rx else if (ry < rx) parent(rx) = ry
      }
      var i = lo
      while (i < lo + n) {
        val blk = i / 7
        if (i % 7 < blk % 6 + 1) link(i, i + 1)
        if (i % 7 == 2 && blk % 11 == 0) link(i, blk * 7 + 21)
        i += 1
      }
      val m = (0 until n).iterator.filter(touched(_)).map(x => (lo + x) -> (lo + find(x))).toMap
      expected = (seed, m)
    }
    expected._2
  }

  /** PageRank by plain power iteration over the staged edge list. */
  private def referenceRanks(edges: Array[(String, String)]): Map[String, Double] = {
    val hosts = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val idx = hosts.zipWithIndex.toMap
    val n = hosts.length
    val src = edges.map(e => idx(e._1))
    val dst = edges.map(e => idx(e._2))
    val out = new Array[Int](n)
    src.foreach(s => out(s) += 1)
    var r = Array.fill(n)(1.0 / n)
    val d = 0.85
    (1 to Iters).foreach { _ =>
      val dangling = (0 until n).filter(out(_) == 0).map(r(_)).sum
      val c = new Array[Double](n)
      src.indices.foreach(j => c(dst(j)) += r(src(j)) / out(src(j)))
      r = Array.tabulate(n)(v => (1 - d) / n + d * (c(v) + dangling / n))
    }
    hosts.indices.map(v => hosts(v) -> r(v)).toMap
  }

  private var refRanks: (Long, Map[String, Double]) = (-1L, Map.empty)

  def check(ctx: Ctx, po: PassOut): Int = {
    val spark = ctx.spark
    import spark.implicits._
    val o = po.payload.asInstanceOf[Out]
    val want = expectedKeepers(ctx.seed)
    val got = o.assignment.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ccOk = got == want && o.assignment.length == want.size
    ctx.report.check("graph components", ccOk && o.rounds > 0,
      s"${got.size} nodes vs ${want.size} expected, rounds ${o.rounds}")
    if (refRanks._1 != ctx.seed)
      refRanks = (ctx.seed, referenceRanks(
        spark.read.parquet(hostsDir(ctx)).as[(String, String)].collect()))
    val ref = refRanks._2
    val ranks = o.ranks.map(r => r.getString(0) -> r.getDouble(1)).toMap
    val sum = ranks.values.sum
    val worst = ref.map { case (h, v) => ranks.get(h).map(x => math.abs(x - v)).getOrElse(1.0) }.max
    val prOk = math.abs(sum - 1.0) < 1e-6 && ranks.size == ref.size && worst < 5e-7
    ctx.report.check("graph page_rank", prOk,
      f"${ranks.size} hosts, rank sum $sum%.9f, worst deviation $worst%.2e")
    ctx.report.detail("engine.resolve_clusters.rounds") = o.rounds
    (if (ccOk) 0 else 1) + (if (prOk) 0 else 1)
  }

  override def layers(ctx: Ctx, passes: Seq[PassOut]): Unit = {
    val l = ctx.tracer.listener.get
    def per(g: String) = l.sum(_ == g)
    val n = passes.length
    Seq("resolve_clusters", "page_rank").foreach { op =>
      val t = per(s"op:$op")
      val s = passes.map(_.opS.find(_._1 == op).get._2)
      ctx.report.detail ++= Seq(
        s"engine.$op.s" -> Stats.quantile(s, 0.5),
        s"engine.$op.jobs" -> t.jobs.toDouble / n,
        s"engine.$op.shuffle_mb" -> (t.shuffleWrite + t.shuffleRead) / 1048576.0 / n,
        s"engine.$op.result_mb" -> t.resultBytes / 1048576.0 / n)
    }
  }
}
