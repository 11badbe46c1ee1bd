package graft.engine

import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Connected-component cluster resolution over near-dup pair graphs
  * (Dedup.resolveClusters / dedupNear): transitive chains, cross-cluster
  * merges, the alternating-algorithm convergence bound, and the anti-join
  * keeper semantics.
  */
class DedupClusterSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def pairsOf(ps: (Long, Long)*) = {
    import spark.implicits._
    ps.map { case (a, b) => Dedup.Pair(a, b) }.toDS()
  }

  private def assignmentMap(ps: (Long, Long)*): Map[Long, Long] = {
    import spark.implicits._
    Dedup.resolveClusters(pairsOf(ps: _*))
      .as[(Long, Long)].collect().toMap
  }

  test("transitive chain A~B~C collapses to one keeper without an A~C pair") {
    val m = assignmentMap((10L, 11L), (11L, 12L))
    assert(m == Map(10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("disjoint components keep separate minima; pair order/direction is irrelevant") {
    val m = assignmentMap((5L, 3L), (3L, 9L), (20L, 21L), (22L, 21L))
    assert(m == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("cross edge merges two chains into one component") {
    // chain 1: 1-2-3, chain 2: 7-8-9, bridge 3~7
    val m = assignmentMap((1L, 2L), (2L, 3L), (7L, 8L), (8L, 9L), (3L, 7L))
    assert(m.values.toSet == Set(1L))
    assert(m.keySet == Set(1L, 2L, 3L, 7L, 8L, 9L))
  }

  test("self-pairs and duplicate pairs are inert; empty graph returns empty assignment") {
    val m = assignmentMap((4L, 4L), (1L, 2L), (2L, 1L), (1L, 2L))
    assert(m == Map(1L -> 1L, 2L -> 1L))
    assert(Dedup.resolveClusters(pairsOf()).count() == 0L)
  }

  /** Force the distributed large-star/small-star rounds (the size-gated
    * driver union-find fast path would otherwise absorb these graphs). */
  private def withDistributedCC[A](body: => A): A = {
    spark.conf.set("spark.graft.cc.localMaxEdges", "0")
    try body finally spark.conf.unset("spark.graft.cc.localMaxEdges")
  }

  test("512-node path graph converges within the O(log^2 n) round bound") {
    // worst case for label propagation (diameter 511 — naive min-label
    // propagation would need ~511 rounds); the alternating algorithm's
    // doubling collapses it in O(log^2 n). Assert a concrete bound so a
    // regression to linear behavior fails loudly rather than slowly.
    val edges = (0L until 511L).map(i => (i, i + 1))
    val res = withDistributedCC {
      Dedup.resolveClustersDetailed(pairsOf(edges: _*))
    }
    assert(res.iterations > 0, "distributed path did not run (fast-path gate leaked)")
    assert(res.iterations <= 12, s"path-512 took ${res.iterations} rounds")
    import spark.implicits._
    val m = res.assignment.as[(Long, Long)].collect().toMap
    assert(m.size == 512 && m.values.forall(_ == 0L))
  }

  test("maxIterations is a loud bound, not a silent truncation") {
    intercept[IllegalStateException] {
      withDistributedCC {
        Dedup.resolveClustersDetailed(pairsOf((0L until 255L).map(i => (i, i + 1)): _*),
          maxIterations = 1)
      }
    }
  }

  test("driver union-find fast path matches the distributed rounds exactly") {
    import spark.implicits._
    // chains, a merged pair of chains, a clique, duplicates and reversed
    // directions — every structural case in one graph
    val edges = (0L until 64L).map(i => (i, i + 1)) ++
      Seq((200L, 210L), (210L, 220L), (220L, 200L), (300L, 301L), (301L, 300L)) ++
      (for (i <- 400L until 410L; j <- i + 1 until 410L) yield (i, j))
    val fast = Dedup.resolveClustersDetailed(pairsOf(edges: _*))
    assert(fast.iterations == 0, "expected the size-gated fast path")
    val dist = withDistributedCC { Dedup.resolveClustersDetailed(pairsOf(edges: _*)) }
    val fm = fast.assignment.as[(Long, Long)].collect().toMap
    val dm = dist.assignment.as[(Long, Long)].collect().toMap
    assert(fm == dm, s"fast/distributed assignment divergence: ${fm.toSet.diff(dm.toSet)}")
  }

  /** Component minimum of every endpoint by breadth-first closure — the
    * reference the union-find and the distributed rounds must both equal. */
  private def bfsClosure(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val out = scala.collection.mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { start =>
      if (!out.contains(start)) {
        // ascending visit order: the first unvisited node is its component's minimum
        val queue = scala.collection.mutable.Queue(start)
        out(start) = start
        while (queue.nonEmpty) adj(queue.dequeue()).foreach { n =>
          if (!out.contains(n)) { out(n) = start; queue.enqueue(n) }
        }
      }
    }
    out.toMap
  }

  /** Sparse random graphs over a small id range: chains, merges, isolated
    * pairs, self-pairs and duplicate or reversed edges all occur. */
  private def graphGen(maxId: Long): Gen[List[(Long, Long)]] =
    Gen.choose(1, 80).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, maxId), Gen.choose(0L, maxId))))

  test("unionFindAssignment equals the BFS closure on random graphs (property)") {
    PropCheck(Prop.forAll(graphGen(120L)) { edges =>
      Dedup.unionFindAssignment(edges.toArray).toMap == bfsClosure(edges)
    }, minSuccessful = 500)
  }

  test("fast and distributed CC paths equal the BFS closure on random graphs") {
    import spark.implicits._
    val graphs = (1 to 8).map { i =>
      graphGen(60L).pureApply(Gen.Parameters.default, Seed(i.toLong))
        .filter { case (a, b) => a != b } :+ (1000L + i, 1001L + i) // ≥1 real edge
    }
    graphs.foreach { edges =>
      val want = bfsClosure(edges)
      val fast = Dedup.resolveClustersDetailed(pairsOf(edges: _*))
      val dist = withDistributedCC { Dedup.resolveClustersDetailed(pairsOf(edges: _*)) }
      assert(fast.iterations == 0 && dist.iterations > 0, "a CC path was not taken")
      assert(fast.assignment.as[(Long, Long)].collect().toMap == want, s"fast path on $edges")
      assert(dist.assignment.as[(Long, Long)].collect().toMap == want, s"distributed path on $edges")
    }
  }

  test("dedupNearText one-call near-dedup: chains collapse, distinct docs survive") {
    import spark.implicits._
    val body = (0 until 60).map(i => s"tok$i").mkString(" ")
    val other = (0 until 60).map(i => s"alt$i").mkString(" ")
    val docs = Seq(
      1L -> s"$body suffix one",
      2L -> s"$body suffix two", // near-dup of 1
      3L -> s"$body suffix three", // near-dup of 1 and 2 (transitive family)
      4L -> other, // unrelated
      5L -> s"$other tail x", // near-dup of 4
      6L -> "completely different short text about nothing shared at all here today",
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupNearText(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L, 6L))
  }

  test("dedupNear keeps component minima and passes isolated rows through") {
    import spark.implicits._
    val df = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // components {2,3,4} (chain) and {7,9}; everything else isolated
    val kept = Dedup.dedupNear(df, "doc_id", pairsOf((2L, 3L), (3L, 4L), (9L, 7L)))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 5L, 6L, 7L, 8L, 10L))
  }
}
