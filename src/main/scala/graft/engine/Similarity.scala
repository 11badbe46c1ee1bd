package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k with broadcast queries — one narrow
  * pass over the corpus, per-partition top-k heaps, then a tiny final top-k
  * reduce (no corpus shuffle; the only exchange moves ≤ nQueries*k rows).
  * Scale path: hyperplane-LSH bucketing — corpus shuffles once on the bucket
  * key; each query probes only its bucket.
  */
object Similarity {

  /** Dot/cosine in double precision (stable across platforms). */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val d = norm(a) * norm(b)
    if (d == 0) 0.0 else dot(a, b) / d
  }

  /** Nearest centroid by squared L2 — THE cell-assignment rule. One shared
    * definition: index build (AnnIndexJob), query-time probing (ivfTopK)
    * and k-means assignment must agree byte-for-byte or the partitioned
    * index desynchronizes from probing.
    */
  def nearestCell(v: Array[Float], centers: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      val ctr = centers(c)
      var d = 0.0; var j = 0
      while (j < v.length) { val x = v(j) - ctr(j); d += x * x; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Cosine with both norms precomputed — the ANN hot loops score one row
    * against many queries (and one query against many rows), so norms are
    * hoisted instead of recomputed per pair (3× the necessary flops).
    */
  @inline def cosineWithNorms(a: Array[Float], an: Double, b: Array[Float], bn: Double): Double = {
    val d = an * bn
    if (d == 0) 0.0 else dot(a, b) / d
  }

  // Fixed random hyperplanes (splitmix64 stream, seeded) — identical on
  // every executor without broadcast. Distinct seeds give independent LSH
  // tables (the banded multi-table trick that keeps near-dup recall high
  // below the ~0.999 cosine regime).
  private def hyperplanes(dim: Int, bits: Int, seed: Long): Array[Array[Float]] = {
    var state = seed
    def next(): Long = {
      state += graft.core.SplitMix64.Golden
      graft.core.SplitMix64.mix(state)
    }
    // standard N(0,1) components via Box-Muller on the splitmix stream —
    // gaussian directions are rotation-invariant (uniform on the sphere),
    // unlike uniform-cube draws which bias toward cube corners
    def gaussian(): Float = {
      val u1 = ((next() >>> 11) + 1).toDouble / (1L << 53).toDouble // (0,1]
      val u2 = (next() >>> 11).toDouble / (1L << 53).toDouble // [0,1)
      (math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)).toFloat
    }
    Array.fill(bits)(Array.fill(dim)(gaussian()))
  }
  @transient private lazy val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Array[Float]]]()
  private def planesFor(dim: Int, bits: Int, seed: Long): Array[Array[Float]] =
    planeCache.computeIfAbsent((dim, bits, seed), { case (d, b, s) => hyperplanes(d, b, s) })

  /** Sign-pattern bucket key of a vector under the fixed hyperplanes. */
  def hyperplaneKey(v: Array[Float], bits: Int, seed: Long = 7L): Long = {
    val ps = planesFor(v.length, bits, seed)
    var key = 0L; var i = 0
    while (i < bits) {
      if (dot(ps(i), v) >= 0) key |= (1L << i)
      i += 1
    }
    key
  }

  final case class Neighbor(query_id: Long, neighbor_id: Long, cosine: Double, rank: Int)

  /** Brute-force cosine top-k: queries broadcast as a plain array (KBs),
    * corpus scanned once; per-partition heaps keep k per query; final
    * reduce over nQueries×partitions×k rows.
    */
  def bruteForceTopK(
      corpus: Dataset[(Long, Array[Float])],
      queries: Array[(Long, Array[Float])],
      k: Int): Dataset[Neighbor] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(queries)
    val partial = corpus.mapPartitions { it =>
      val qs = bc.value
      val qNorms = qs.map(q => norm(q._2)) // once per partition, not per row
      // per-query bounded heaps (min-heap on (cosine, -id) so worst is on top)
      val heaps = qs.map(_ => new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
        Ordering.by { case (c, id) => (-c, id) }))
      it.foreach { case (id, v) =>
        val vn = norm(v) // once per row, not per (row, query)
        var qi = 0
        while (qi < qs.length) {
          val c = cosineWithNorms(qs(qi)._2, qNorms(qi), v, vn)
          val h = heaps(qi)
          if (h.size < k) h.enqueue((c, id))
          else if (c > h.head._1 || (c == h.head._1 && id < h.head._2)) { h.dequeue(); h.enqueue((c, id)) }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (c, id) => (qs(qi)._1, id, c) }
      }
    }
    // final exact top-k per query over the tiny partial set
    val w = Window.partitionBy(col("_1")).orderBy(col("_3").desc, col("_2").asc)
    partial.toDF("_1", "_2", "_3")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("_1").as("query_id"), col("_2").as("neighbor_id"), col("_3").as("cosine"), col("rank"))
      .as[Neighbor]
  }

  /** Deterministic driver-side Lloyd's k-means over a bounded sample — the
    * IVF coarse quantizer. The fit is O(sample x k x iters) on KB-scale
    * data (a 2048x64 sample fits in L2), so index builds never launch a
    * multi-stage ML job; at 100-TB scale the sample is a take-ordered head,
    * not a corpus pass. Spread init over the (sorted) sample keeps the
    * result identical on every run and parallelism level.
    */
  def localKMeans(vecs: Array[Array[Float]], k: Int, iters: Int = 15): Array[Array[Float]] = {
    require(vecs.nonEmpty, "localKMeans: empty sample")
    val n = vecs.length
    val kk = math.max(1, math.min(k, n))
    val centers = Array.tabulate(kk)(c => vecs(((c.toLong * n) / kk).toInt).clone())
    lloyd(vecs, centers, iters)
  }

  /** Lloyd iterations from explicit initial centers (deterministic). */
  private def lloyd(vecs: Array[Array[Float]], init: Array[Array[Float]],
      iters: Int): Array[Array[Float]] = {
    val n = vecs.length
    val kk = init.length
    val dim = vecs(0).length
    var centers = init
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      var i = 0
      while (i < n) {
        val v = vecs(i)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          var d = 0.0; var j = 0
          val cv = centers(c)
          while (j < dim) { val x = v(j) - cv(j); d += x * x; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best)
        var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      centers = Array.tabulate(kk) { c =>
        if (counts(c) == 0) centers(c) // empty cell keeps its center
        else Array.tabulate(dim)(j => (sums(c)(j) / counts(c)).toFloat)
      }
      it += 1
    }
    centers
  }

  /** [[localKMeans]] plus SPLIT-OVERSIZED-INTO-EMPTY balance passes — the
    * quantizer fit that survives past sandbox cell counts. Plain Lloyd's
    * over clustered data (the web-corpus norm: topic/template clusters)
    * collapses many of a large k's centers onto the same cluster mean,
    * leaving EMPTY cells (dead index partitions) next to oversized ones
    * (scan hotspots). Each pass assigns the sample, then refills every
    * empty slot by 2-means-splitting the currently largest cell (largest
    * by the running size estimate — halved as splits consume it), and
    * finishes with two polish Lloyd iterations; passes repeat until no
    * cell is empty or `maxPasses` is hit. Deterministic: split order is
    * (empty slot ascending → current largest), 2-means inherits sample
    * order. Still O(sample × k × iters) driver-side work on KB-scale data.
    */
  def balancedKMeans(vecs: Array[Array[Float]], k: Int, iters: Int = 15,
      maxPasses: Int = 8): Array[Array[Float]] = {
    var centers = localKMeans(vecs, k, iters)
    val kk = centers.length
    var pass = 0
    var hadEmpties = true
    while (hadEmpties && pass < maxPasses) {
      val sizes = new Array[Int](kk)
      vecs.foreach(v => sizes(nearestCell(v, centers)) += 1)
      val empties = (0 until kk).filter(sizes(_) == 0)
      hadEmpties = empties.nonEmpty
      if (hadEmpties) {
        centers = centers.clone()
        empties.foreach { e =>
          val big = (0 until kk).maxBy(sizes)
          // membership is recomputed against the CURRENT centers — the
          // running `sizes` estimate can be stale after earlier splits in
          // this pass. A drained pick (fewer than 2 actual members) is
          // SKIPPED, never split: duplicating a centroid (or aliasing a
          // caller-owned sample vector into the returned index) would
          // leave a permanently-dead tie-broken cell; the next pass
          // retries with a fresh assignment.
          val members = vecs.filter(v => nearestCell(v, centers) == big)
          if (members.length >= 2) {
            val children = localKMeans(members, 2, iters)
            centers(big) = children(0)
            centers(e) = children(1)
            val half = members.length / 2
            sizes(e) = half
            sizes(big) = members.length - half
          } else {
            sizes(big) = members.length // correct the stale estimate
          }
        }
        centers = lloyd(vecs, centers, 2)
      }
      pass += 1
    }
    centers
  }

  final case class IvfIndex(centroids: Array[Array[Float]])

  /** Fit the quantizer from a deterministic UNBIASED sample: take-ordered
    * head by `xxhash64(id)` — same cost as a smallest-ids head (no full
    * shuffle) but hash order decorrelates the sample from any id/content
    * correlation (a time-ordered crawl would otherwise fit centroids on the
    * oldest pages).
    */
  def buildIvfIndexLocal(
      corpus: Dataset[(Long, Array[Float])],
      nCells: Int = 16, sampleCap: Int = 2048): IvfIndex = {
    // the id column is addressed positionally — tuple Datasets derived
    // from named DataFrames keep their original column names
    val idCol = col(corpus.columns.head)
    val sample = corpus.orderBy(xxhash64(idCol), idCol).limit(sampleCap)
      .collect().sortBy(_._1).map(_._2)
    IvfIndex(balancedKMeans(sample, nCells))
  }

  /** Inline-fit convenience (tests, small corpora): build + probe. */
  def ivfTopK(
      corpus: Dataset[(Long, Array[Float])],
      queries: Array[(Long, Array[Float])],
      k: Int, nCells: Int, nProbe: Int): Dataset[Neighbor] =
    ivfTopK(corpus, queries, k, buildIvfIndexLocal(corpus, nCells), nProbe)

  /** Which queries probe which cells: each query's `nProbe` nearest
    * centroids, inverted to cell → queries. Shared by the inline full-scan
    * path and the partition-pruned indexed path so both probe identically.
    */
  def probeAssignments(
      queries: Array[(Long, Array[Float])],
      centers: Array[Array[Float]],
      nProbe: Int): Map[Int, Array[(Long, Array[Float])]] = {
    val m = scala.collection.mutable.HashMap.empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]]
    queries.foreach { case (qid, qv) =>
      val dists = centers.indices.map { c =>
        var d = 0.0; var i = 0
        while (i < qv.length) { val x = qv(i) - centers(c)(i); d += x * x; i += 1 }
        (d, c)
      }.sorted.take(nProbe)
      dists.foreach { case (_, c) =>
        m.getOrElseUpdate(c, scala.collection.mutable.ArrayBuffer.empty) += ((qid, qv))
      }
    }
    m.view.mapValues(_.toArray).toMap
  }

  /** The one probe scorer behind the IVF and LSH surfaces: each
    * (probe key, id, vector) row is scored by cosine against every query
    * that probes its key, then ranked by [[rankTopK]]. Query norms are
    * computed once per partition, never in the inner loop.
    */
  private def scoreProbed[K](rows: Dataset[(K, Long, Array[Float])],
      probes: Map[K, Array[(Long, Array[Float])]], k: Int): Dataset[Neighbor] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(probes)
    val partial = rows.mapPartitions { it =>
      val withNorms = bc.value.map { case (key, qs) =>
        key -> qs.map { case (qid, qv) => (qid, qv, norm(qv)) }
      }
      it.flatMap { case (key, id, v) =>
        withNorms.get(key) match {
          case Some(qs) =>
            val vn = norm(v)
            qs.iterator.map { case (qid, qv, qn) => (qid, id, cosineWithNorms(qv, qn, v, vn)) }
          case None => Iterator.empty
        }
      }
    }
    rankTopK(partial, k)
  }

  /** Shared ranking tail: (query_id, neighbor_id, cosine) partials →
    * per-query top-k with the deterministic (cosine desc, neighbor asc)
    * tie-break. ONE implementation, so the inline, indexed and LSH
    * surfaces cannot drift apart in ranking semantics.
    *
    * No dropDuplicates before the window: every caller guarantees unique
    * (query, neighbor) pairs by construction (one cell per corpus row /
    * pairwise-distinct probe keys) — deduplicating would add a full extra
    * shuffle.
    */
  private def rankTopK(partial: Dataset[(Long, Long, Double)], k: Int): Dataset[Neighbor] = {
    val spark = partial.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("_1")).orderBy(col("_3").desc, col("_2").asc)
    partial.toDF("_1", "_2", "_3")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("_1").as("query_id"), col("_2").as("neighbor_id"), col("_3").as("cosine"), col("rank"))
      .as[Neighbor]
  }

  /** IVF ANN against a prebuilt index (see [[graft.jobs.AnnIndexJob]]):
    * each query probes its `nProbe` nearest centroids; the corpus is
    * scanned once with no ML stage in the plan (at scale the scan prunes
    * to the probed cells of the partitioned index).
    */
  def ivfTopK(
      corpus: Dataset[(Long, Array[Float])],
      queries: Array[(Long, Array[Float])],
      k: Int, index: IvfIndex, nProbe: Int): Dataset[Neighbor] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bcCenters = spark.sparkContext.broadcast(index.centroids)
    scoreProbed(corpus.map { case (id, v) => (nearestCell(v, bcCenters.value), id, v) },
      probeAssignments(queries, index.centroids, nProbe), k)
  }

  /** Score a PRE-PRUNED cell-partitioned index scan: `cells` carries
    * (cell, vec_id, embedding) rows of the probed cells only (see
    * [[graft.jobs.AnnIndexJob.queryIndex]], which applies
    * `col("cell").isin(probed)` so parquet partition pruning skips every
    * other cell's files). The stored cell id replaces the in-flight
    * `nearestCell` recompute of the inline path — at scale this is the
    * whole point of the index: an nProbe-cell query reads nProbe
    * partitions, not the corpus. `probes` is computed once by the caller,
    * which derives the partition-pruning filter from the same map (two
    * independent computations could silently diverge).
    */
  def ivfTopKIndexed(
      cells: org.apache.spark.sql.DataFrame,
      probes: Map[Int, Array[(Long, Array[Float])]],
      k: Int): Dataset[Neighbor] = {
    val spark = cells.sparkSession
    import spark.implicits._
    scoreProbed(cells
      .select(col("cell").cast("int"), col("vec_id").cast("long"), col("embedding"))
      .as[(Int, Long, Array[Float])], probes, k)
  }

  /** LSH-bucketed ANN: corpus bucketed by a 10-bit hyperplane key (one
    * shuffle, reusable across queries); each query searches its own bucket
    * plus every key within two bit flips (multi-probe trades per-query
    * fan-out for recall — 1 + 10 + 45 = 56 keys, still a vanishing fraction
    * of the 1024-key space).
    */
  def lshTopK(
      corpus: Dataset[(Long, Array[Float])],
      queries: Array[(Long, Array[Float])],
      k: Int): Dataset[Neighbor] = {
    val bits = 10
    val spark = corpus.sparkSession
    import spark.implicits._
    val keyed = corpus.map { case (id, v) => (hyperplaneKey(v, bits), id, v) }
    val probes: Map[Long, Array[(Long, Array[Float])]] = {
      val m = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]]
      queries.foreach { case (qid, qv) =>
        val base = hyperplaneKey(qv, bits)
        // base, single-flip and b1<b2 double-flip keys are pairwise
        // distinct by construction — plain concatenation, no dedup needed
        val keys = Seq(base) ++
          (0 until bits).map(b => base ^ (1L << b)) ++
          (for (b1 <- 0 until bits; b2 <- (b1 + 1) until bits)
            yield base ^ (1L << b1) ^ (1L << b2))
        keys.foreach { key =>
          m.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer.empty) += ((qid, qv))
        }
      }
      m.view.mapValues(_.toArray).toMap
    }
    scoreProbed(keyed, probes, k)
  }
}
