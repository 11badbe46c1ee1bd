package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Crawl-frontier analytics over the page hyperlink graph: host-level edge
  * extraction from raw markup and bounded-iteration PageRank — the two
  * operators a crawl scheduler needs (where do hosts point, which hosts
  * matter) expressed as keyed DataFrame work with no driver-side graph.
  */
object LinkGraph {

  /** One (src_host, dst_host) row PER HYPERLINK extracted from `htmlCol`
    * (multiplicity preserved — out-degree and rank contributions weight
    * repeated links, so the aggregation decision belongs to the caller).
    * Absolute http(s) links take their own host; scheme-less links resolve
    * to the source host (protocol-relative `//host` links take the named
    * host); mailto:/javascript:/fragment and other non-http schemes drop.
    * Link extraction is one narrow mapPartitions (decode + href scan);
    * host parsing is the codegen'd [[Blocklist.hostOf]] column. Empty
    * hosts (unparseable) drop.
    */
  def hostEdges(df: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = df
      .select(col(urlCol).cast("string"), col(htmlCol).cast("binary"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (u, h) =>
        if (h == null || u == null) Iterator.empty
        else graft.core.Html.links(graft.core.Html.decodeBytes(h)).iterator.map(l => (u, l))
      })
      .toDF("src_url", "link")
    resolveHosts(pairs)
  }

  /** [[hostEdges]] plus the link's anchor text:
    * `(src_host, dst_host, anchor)` per hyperlink, same scheme filtering
    * and relative resolution. Anchor text is the element's inner text
    * (tags stripped, entity-decoded, whitespace-collapsed) — the classic
    * IR signal: what the WEB calls the target, aggregated downstream into
    * per-host anchor vocabularies. Same narrow-parse shape as hostEdges.
    */
  def anchorEdges(df: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = df
      .select(col(urlCol).cast("string"), col(htmlCol).cast("binary"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (u, h) =>
        if (h == null || u == null) Iterator.empty
        else graft.core.Html.anchors(graft.core.Html.decodeBytes(h)).iterator
          .map { case (l, a) => (u, l, a) }
      })
      .toDF("src_url", "link", "anchor")
    resolveHosts(pairs, col("anchor"))
  }

  /** The link resolution both edge operators share: `(src_url, link)` rows
    * become `(src_host, dst_host, rest…)` with the scheme filter, relative
    * and protocol-relative resolution and the empty-host drop documented
    * on [[hostEdges]].
    */
  private def resolveHosts(pairs: DataFrame, rest: Column*): DataFrame = {
    val link = col("link")
    val httpAbs = link.rlike("(?i)^https?://")
    val schemed = link.rlike("(?i)^[a-z][a-z0-9+.-]*:")
    val srcHost = Blocklist.hostOf(col("src_url"))
    val dstHost = when(httpAbs, Blocklist.hostOf(link))
      .when(link.startsWith("//"), Blocklist.hostOf(concat(lit("https:"), link)))
      .otherwise(srcHost)
    pairs
      .filter(httpAbs || (!schemed && !link.startsWith("#")))
      .select(srcHost.as("src_host") +: dstHost.as("dst_host") +: rest: _*)
      .filter(col("src_host") =!= "" && col("dst_host") =!= "")
  }

  /** Power-iteration PageRank over host edges: `iters` rounds of
    * rank' = (1-d)/N + d·(Σ_in rank/out + danglingMass/N) at damping
    * d = 0.85, dangling mass (hosts with no outlinks) redistributed
    * uniformly, uniform 1/N start.
    * Everything is keyed joins and aggregations — edges and out-degrees
    * materialize once, each round is one join-shuffle on src plus one on
    * dst, and the new rank vector is localCheckpoint'd so lineage stays
    * one-round deep (the [[Dedup.resolveClusters]] discipline). The
    * per-round dangling sum is a one-row aggregate collect — bounded and
    * justified. At web scale rounds are O(E) shuffles each; callers bound
    * `iters` (the crawl-scheduling convention — ~10 rounds, not
    * convergence-tested) rather than looping to a tolerance.
    */
  def pageRank(edges: DataFrame, iters: Int = 10): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val damping = 0.85
    val spark = edges.sparkSession
    // Size-gated driver fast path (the resolveClusters discipline): each
    // distributed round is two join shuffles plus two actions of fixed
    // latency, which dominates wall time on bounded graphs (host graphs
    // are ~|hosts| rows). The probe either returns the WHOLE edge list
    // (≤ gate) or the overflow row sends us to the distributed rounds.
    // The 256k default is sized at the JVM's real cost of an edge row —
    // two String objects plus map/array overhead, ~200+ bytes — so the
    // transient driver heap stays double-digit MB; host columns must be
    // strings (hostEdges' output), and a graph carrying ANY null host
    // falls through to the distributed path (whose outer-join null
    // semantics are the contract there). Float caveat: contribution-sum
    // order differs from the distributed aggregation's (itself
    // partition-nondeterministic) — both sit ~1e-13 from each other, far
    // inside the 6-decimal grid every consumer of pageRank emits at (the
    // same cross-engine tolerance the DuckDB oracle replay absorbs).
    val gate = spark.conf.getOption("spark.graft.pagerank.localMaxEdges")
      .map(_.toLong).getOrElse(262144L)
    if (gate > 0 && gate <= Int.MaxValue - 1) {
      import spark.implicits._
      val probe = edges.select(col("src_host").cast("string"), col("dst_host").cast("string"))
        .as[(String, String)].limit(gate.toInt + 1).collect()
      if (probe.length <= gate && probe.forall(p => p._1 != null && p._2 != null)) {
        val hosts = (probe.iterator.map(_._1) ++ probe.iterator.map(_._2))
          .toArray.distinct.sorted
        val n = hosts.length
        if (n == 0)
          return spark.emptyDataset[(String, Double)].toDF("host", "rank")
        val idx = hosts.zipWithIndex.toMap
        val out = new Array[Long](n)
        probe.foreach { case (s, _) => out(idx(s)) += 1L }
        var ranks = Array.fill(n)(1.0 / n)
        for (_ <- 1 to iters) {
          var dangling = 0.0
          var i = 0
          while (i < n) { if (out(i) == 0L) dangling += ranks(i); i += 1 }
          val contrib = new Array[Double](n)
          probe.foreach { case (s, d) =>
            contrib(idx(d)) += ranks(idx(s)) / out(idx(s))
          }
          val next = new Array[Double](n)
          i = 0
          while (i < n) {
            next(i) = (1 - damping) / n + damping * (contrib(i) + dangling / n)
            i += 1
          }
          ranks = next
        }
        return spark.createDataset(hosts.indices.map(i => (hosts(i), ranks(i))))
          .toDF("host", "rank")
      }
    }
    val e = edges.select(col("src_host").as("src"), col("dst_host").as("dst"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("host"))
      .unionByName(e.select(col("dst").as("host")))
      .distinct().localCheckpoint(true)
    val n = nodes.count()
    if (n == 0) return nodes.withColumn("rank", lit(0.0))
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("out")).localCheckpoint(true)
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val dangling = ranks
        .join(outDeg, ranks("host") === outDeg("src"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0.0))).head().getDouble(0)
      val contribs = e
        .join(ranks, e("src") === ranks("host"))
        .join(outDeg, Seq("src"))
        .select(col("dst").as("host"), (col("rank") / col("out")).as("c"))
        .groupBy("host").agg(sum("c").as("contrib"))
      ranks = nodes
        .join(contribs, Seq("host"), "left")
        .select(col("host"),
          (lit((1 - damping) / n) +
            lit(damping) * (coalesce(col("contrib"), lit(0.0)) + lit(dangling / n)))
            .as("rank"))
        .localCheckpoint(true)
    }
    ranks
  }
}
