package graft.engine

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def corpusWithDups = {
    import spark.implicits._
    val base = Seq(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank today",
      2L -> "the quick brown fox jumps over the lazy dog near the river bank tonight",
      3L -> "completely different content about spark catalyst optimizer rules and shuffles",
      4L -> "the quick brown fox jumps over the lazy dog near the river bank today", // exact dup of 1
      5L -> "another unrelated piece of text mentioning window functions and broadcast joins",
    )
    base.toDF("id", "text")
  }

  test("exact dedup keeps smallest id per hash") {
    import spark.implicits._
    val kept = Dedup.dedupExact(corpusWithDups, "id", "text")
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 3L, 5L))
  }

  test("url-keyed dedup collapses canonical variants of the same page") {
    import spark.implicits._
    val pages = Seq(
      1L -> "https://www.ex.com/a?utm_source=feed&b=2",
      2L -> "HTTPS://www.EX.com:443/a?b=2#frag", // same canonical as 1
      3L -> "https://www.ex.com/a?b=3", // different query value
      4L -> "http://other.org/x",
    ).toDF("id", "url")
    val kept = Dedup.dedupByUrl(pages, "id", "url")
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L))
    val groups = Dedup.urlGroups(pages, "id", "url")
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(groups("https://www.ex.com/a?b=2") == ((2L, 1L)), "two variants, keeper = min id")
  }

  test("decontamination flags docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val docs = Seq(
      1L -> "alpha beta gamma delta epsilon", // contains the bench 3-gram
      2L -> "beta gamma alpha zeta eta", // same words, different order — clean
      3L -> "unrelated words entirely here now",
      4L -> "x y alpha beta gamma", // bench 3-gram at the end
      5L -> "too short", // shorter than n — never flagged
    ).toDF("id", "text")
    val bench = Seq("alpha beta gamma").toDF("gram")
    val flagged = Dedup.contaminatedDocs(docs, "id", "text", bench, n = 3)
      .as[Long].collect().sorted
    assert(flagged.toSeq == Seq(1L, 4L))
    // the benchmark grams broadcast; the corpus never shuffles for the join
    val plan = SparkTestBase.withoutAutoBroadcast(Dedup.contaminatedDocs(
      docs, "id", "text", bench, n = 3).queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("decontamination catches line-wrapped and whitespace-mangled duplicates") {
    import spark.implicits._
    val docs = Seq(
      1L -> "alpha\nbeta gamma delta", // bench passage re-wrapped with a newline
      2L -> "x  alpha \t beta\n gamma y", // tabs + runs of spaces around it
      3L -> "alphabeta gamma zeta", // no token boundary — clean
    ).toDF("id", "text")
    val bench = Seq("alpha beta gamma", "wrapped\nbench  gram").toDF("gram")
    val flagged = Dedup.contaminatedDocs(docs, "id", "text", bench, n = 3)
      .as[Long].collect().sorted
    assert(flagged.toSeq == Seq(1L, 2L))
    // the bench side normalizes too: a wrapped bench gram matches clean text
    val docs2 = Seq(10L -> "say wrapped bench gram here").toDF("id", "text")
    val f2 = Dedup.contaminatedDocs(docs2, "id", "text", bench, n = 3)
      .as[Long].collect()
    assert(f2.toSeq == Seq(10L))
  }

  test("corpus-wide line dedup keeps each line only at its first occurrence") {
    import spark.implicits._
    val docs = Seq(
      1L -> "SHARED HEADER\nunique one\n\nfooter A",
      2L -> "SHARED HEADER\nunique two\n\nfooter A",
      3L -> "unique three\nfooter A\nSHARED HEADER",
    ).toDF("id", "text")
    val out = Dedup.dedupLines(docs, "id", "text")
      .select("id", "text").as[(Long, String)].collect().toMap
    // header + footer survive only in doc 1 (first occurrence by (id, idx));
    // the whitespace-only line is structure and survives everywhere
    assert(out(1L) == "SHARED HEADER\nunique one\n\nfooter A")
    assert(out(2L) == "unique two\n")
    assert(out(3L) == "unique three")
  }

  test("keepFirstBy keeps the min-id row per key; nulls group; working column guarded") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val df = Seq(
      (5L, "k1", "e"), (1L, "k1", "a"), (3L, "k2", "c"),
      (7L, null, "g"), (6L, null, "f"),
    ).toDF("id", "k", "v")
    val kept = Dedup.keepFirstBy(df, "id", col("k"))
      .select("id", "v").as[(Long, String)].collect().toSet
    // min id per key; null keys group together (documented, consistent
    // with urlGroups' null → "" keying) and keep their min row
    assert(kept == Set((1L, "a"), (3L, "c"), (6L, "f")))
    val clash = df.withColumn("__graft_keep_first_rn", lit(0))
    val e = intercept[IllegalArgumentException](Dedup.keepFirstBy(clash, "id", col("k")))
    assert(e.getMessage.contains("__graft_keep_first_rn"))
  }

  /** dedupLines' contract computed on the driver: a non-whitespace line is
    * kept only at its smallest (id, idx); whitespace-only lines (space, tab,
    * CR, FF) are always kept; a doc left with no lines is dropped.
    */
  private def naiveDedupLines(docs: Seq[(Long, String)]): Set[(Long, String, Long)] = {
    def isBlank(l: String) = l.forall(c => c == ' ' || c == '\t' || c == '\r' || c == '\f')
    val lines = for {
      (id, text) <- docs if text != null
      (line, idx) <- text.split("\n", -1).toSeq.zipWithIndex
    } yield (id, idx, line)
    val first = lines.filterNot(l => isBlank(l._3)).groupBy(_._3)
      .map { case (line, occ) => line -> occ.map(o => (o._1, o._2)).min }
    lines.filter(l => isBlank(l._3) || first(l._3) == ((l._1, l._2)))
      .groupBy(_._1).map { case (id, kept) =>
        val ls = kept.sortBy(_._2).map(_._3)
        (id, ls.mkString("\n"), ls.length.toLong)
      }.toSet
  }

  test("dedupLines: broadcast and shuffle sides match a naive reference") {
    import spark.implicits._
    val line = Gen.frequency(
      4 -> Gen.oneOf("SHARED HEADER", "footer A", "nav | home", "x", "SHARED HEADER\r"),
      2 -> Gen.oneOf("", " ", "\t", "\r", "\f", " \t\r\f"),
      2 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString)))
    val doc: Gen[String] = Gen.frequency(
      1 -> Gen.const(null),
      1 -> Gen.const(""),
      8 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, line).map(_.mkString("\n"))))
    val corpus = for {
      n <- Gen.choose(1, 8)
      ids <- Gen.pick(n, 0L until 1000L)
      texts <- Gen.listOfN(n, doc)
    } yield ids.toSeq.zip(texts)
    def run(docs: Seq[(Long, String)], maxBytes: Long) =
      Dedup.dedupLines(docs.toDF("id", "text"), "id", "text", broadcastMaxBytes = maxBytes)
        .select("id", "text", "n_lines_kept").as[(Long, String, Long)].collect().toSet
    // planner auto-broadcast off: a zero-byte cap really takes the shuffle join
    SparkTestBase.withoutAutoBroadcast {
      PropCheck(Prop.forAllNoShrink(corpus) { docs =>
        val broadcastSide = run(docs, 64L << 20)
        val shuffleSide = run(docs, 0L)
        val want = naiveDedupLines(docs)
        (broadcastSide == want && shuffleSide == want) :|
          s"docs=$docs broadcast=$broadcastSide shuffle=$shuffleSide want=$want"
      }, minSuccessful = 25)
    }
  }

  test("dedupLines Auto broadcasts a small vocabulary and shuffles past the cap") {
    import spark.implicits._
    val docs = Seq(
      1L -> "SHARED HEADER\nunique one",
      2L -> "SHARED HEADER\nunique two",
    ).toDF("id", "text")
    def planOf(maxBytes: Long) = {
      val df = Dedup.dedupLines(docs, "id", "text", broadcastMaxBytes = maxBytes)
      df.queryExecution.toRdd.count()
      df.queryExecution.executedPlan.toString
    }
    // the observed join strategy is the OPERATOR's choice, not the
    // planner's size-statistics choice
    SparkTestBase.withoutAutoBroadcast {
      assert(planOf(64L << 20).contains("BroadcastHashJoin"),
        "small repeated vocabulary must select the broadcast join")
      assert(!planOf(0L).contains("BroadcastHashJoin"),
        "a zero-byte cap must fall back to the shuffle join")
    }
  }

  test("dedupLines id-range contract: boundary id passes, out-of-range fails loudly") {
    import spark.implicits._
    val maxLines = 1000000L
    val maxId = Long.MaxValue / maxLines // ≈ 9.22e12 at the default packing
    val ok = Seq((maxId - 1) -> "last legal id\nbody").toDF("id", "text")
    assert(Dedup.dedupLines(ok, "id", "text").count() == 1L)
    val bad = Seq(maxId -> "first illegal id").toDF("id", "text")
    val e = intercept[Exception](Dedup.dedupLines(bad, "id", "text").count())
    assert(SparkTestBase.messages(e).contains("packing bounds"), s"unexpected failure: $e")
  }

  test("minhash LSH finds exact and near duplicates") {
    import spark.implicits._
    val ds = corpusWithDups.as[(Long, String)]
    val sigs = Dedup.signatures(ds)
    val pairs = Dedup.verifyPairs(sigs, Dedup.candidatePairs(sigs), 0.7)
      .collect().map(p => (p.a, p.b)).toSet
    assert(pairs.contains((1L, 4L))) // exact dup
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash near-dups via hamming blocking") {
    import spark.implicits._
    val pairs = Dedup.simhashNearDups(corpusWithDups.as[(Long, String)], maxDist = 3)
      .collect().map(p => (p.a, p.b)).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("exact jaccard verification") {
    import spark.implicits._
    val ds = corpusWithDups.as[(Long, String)]
    val pairs = Seq(Dedup.Pair(1L, 4L), Dedup.Pair(1L, 3L)).toDS()
    val scored = Dedup.exactJaccard(ds, pairs).collect().map(p => (p.a, p.b) -> p.estimated_jaccard).toMap
    assert(scored((1L, 4L)) == 1.0)
    assert(scored((1L, 3L)) == 0.0)
  }

  test("brute-force ANN: self is rank-1, results deterministic") {
    import spark.implicits._
    val vecs = (0L until 50L).map { i =>
      val v = Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat)
      (i, v)
    }
    val corpus = vecs.toDS()
    val queries = vecs.take(3).toArray
    val res = Similarity.bruteForceTopK(corpus, queries, 4).collect()
    queries.foreach { case (qid, _) =>
      val top = res.filter(_.query_id == qid).minBy(_.rank)
      assert(top.neighbor_id == qid && math.abs(top.cosine - 1.0) < 1e-9)
    }
    val res2 = Similarity.bruteForceTopK(corpus.repartition(7), queries, 4).collect()
    assert(res.map(n => (n.query_id, n.rank, n.neighbor_id)).sorted.toSeq ==
      res2.map(n => (n.query_id, n.rank, n.neighbor_id)).sorted.toSeq)
  }

  test("LSH ANN recall against brute force on clustered vectors") {
    import spark.implicits._
    // clustered data: LSH same-bucket probing should recover most true top-3
    val vecs = (0L until 200L).map { i =>
      val c = (i % 4).toInt
      val v = Array.tabulate(8)(d => (math.cos(c * 13 + d) + 0.01 * math.sin(i * 7 + d)).toFloat)
      (i, v)
    }
    val corpus = vecs.toDS()
    val queries = vecs.take(5).toArray
    val bf = Similarity.bruteForceTopK(corpus, queries, 3).collect()
      .map(n => (n.query_id, n.neighbor_id)).toSet
    val lsh = Similarity.lshTopK(corpus, queries, 3).collect()
      .map(n => (n.query_id, n.neighbor_id)).toSet
    val recall = bf.intersect(lsh).size.toDouble / bf.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("IVF ANN recall against brute force on clustered vectors") {
    import spark.implicits._
    val vecs = (0L until 200L).map { i =>
      val c = (i % 4).toInt
      val v = Array.tabulate(8)(d => (math.cos(c * 13 + d) + 0.01 * math.sin(i * 7 + d)).toFloat)
      (i, v)
    }
    val corpus = vecs.toDS()
    val queries = vecs.take(5).toArray
    val bf = Similarity.bruteForceTopK(corpus, queries, 3).collect()
      .map(n => (n.query_id, n.neighbor_id)).toSet
    val ivf = Similarity.ivfTopK(corpus, queries, 3, nCells = 8, nProbe = 2).collect()
      .map(n => (n.query_id, n.neighbor_id)).toSet
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    assert(recall >= 0.8, s"IVF recall $recall")
  }

  test("embedding near-dup recall >= 0.9 vs brute force at threshold 0.95") {
    import spark.implicits._
    // planted near-dups: 150 base vectors, each with a perturbed twin whose
    // cosine sits in the 0.93-0.99 band (below the easy ~0.999 regime)
    val dim = 16
    def base(i: Long): Array[Float] = Array.tabulate(dim)(d => math.sin(i * 37 + d * 11).toFloat)
    val rows = (0L until 150L).flatMap { i =>
      val v = base(i)
      val twin = Array.tabulate(dim)(d => v(d) + 0.12f * math.sin(i * 101 + d * 13).toFloat)
      Seq((i * 2, v), (i * 2 + 1, twin))
    }
    val df = rows.toDF("vec_id", "embedding")
    // ground truth: exact all-pairs cosine >= 0.95
    val truth = (for {
      a <- rows; b <- rows if a._1 < b._1
      c = Similarity.cosine(a._2, b._2) if c >= 0.95
    } yield (a._1, b._1)).toSet
    assert(truth.size >= 100, s"test corpus should plant >=100 true pairs, got ${truth.size}")
    val found = Dedup.embeddingNearDups(df, "vec_id", "embedding", 0.95)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(found.subsetOf(truth)) // verification stage guarantees precision 1
    val recall = truth.intersect(found).size.toDouble / truth.size
    assert(recall >= 0.9, s"embedding near-dup recall $recall < 0.9 (found ${found.size}/${truth.size})")
  }

  test("embedding near-dup bucket cap bounds pair generation (regression)") {
    import spark.implicits._
    // 400 identical embeddings all land in the same bucket in every table:
    // uncapped pairing would emit 400*399/2 = 79800 pairs; the cap pairs
    // each member against the bucket's smallest id only -> exactly n-1
    // distinct pairs, preserving dedup connectivity
    val v = Array.tabulate(8)(d => (d + 1).toFloat)
    val df = (0L until 400L).map(i => (i, v)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(df, "vec_id", "embedding", 0.999, maxBucket = 50)
      .select("a", "b").as[(Long, Long)].collect()
    assert(pairs.length == 399, s"capped bucket should emit n-1 pairs, got ${pairs.length}")
    assert(pairs.forall(_._1 == 0L)) // keeper = smallest id
  }

  test("simhash bucket cap bounds pair generation (regression)") {
    import spark.implicits._
    val df = (0L until 300L).map(i => (i, "identical boilerplate shell text for every row"))
      .toDF("id", "text")
    val pairs = Dedup.simhashNearDups(df.as[(Long, String)], maxDist = 3, maxBucket = 40)
      .collect().map(p => (p.a, p.b))
    assert(pairs.length == 299, s"capped bucket should emit n-1 pairs, got ${pairs.length}")
    assert(pairs.forall(_._1 == 0L))
  }

  test("fuzzy decontamination flags Hamming<=1 grams at every mask position, rejects Hamming 2") {
    import spark.implicits._
    val docs = Seq(
      1L -> "alpha beta gamma delta", // exact bench gram — shares all variants
      2L -> "alpha beta XXXX delta", // one interior substitution — flagged
      3L -> "alpha YYYY XXXX delta", // two substitutions — must stay clean
      4L -> "ZZZZ beta gamma delta", // substitution at the FIRST position
      5L -> "alpha beta gamma ZZZZ", // substitution at the LAST position
      6L -> "beta alpha gamma delta", // transposition = Hamming 2 — clean
      7L -> "alpha beta gamma", // shorter than n — never flagged
    ).toDF("id", "text")
    val bench = Seq("alpha beta gamma delta").toDF("gram")
    val flagged = Dedup.fuzzyContaminatedDocs(docs, "id", "text", bench, n = 4)
      .as[Long].collect().sorted
    assert(flagged.toSeq == Seq(1L, 2L, 4L, 5L))
  }

  test("fuzzy decontamination normalizes whitespace and matches interior windows") {
    import spark.implicits._
    val docs = Seq(
      // bench passage line-wrapped AND one-token-edited, buried mid-doc
      1L -> "pre text alpha\nbeta  gamma EDIT post",
      2L -> "clean entirely different words here now",
    ).toDF("id", "text")
    val bench = Seq("alpha beta gamma delta").toDF("gram")
    val flagged = Dedup.fuzzyContaminatedDocs(docs, "id", "text", bench, n = 4)
      .as[Long].collect()
    assert(flagged.toSeq == Seq(1L))
    // bench grams whose normalized token count != n are dropped, not crashed
    val benchBad = Seq("only two", "alpha beta gamma delta").toDF("gram")
    val f2 = Dedup.fuzzyContaminatedDocs(docs, "id", "text", benchBad, n = 4)
      .as[Long].collect()
    assert(f2.toSeq == Seq(1L))
  }

  test("exact substring dedup removes later copies of shared spans, keeps the first") {
    import spark.implicits._
    val docs = Seq(
      1L -> "a b c d e f g h",
      2L -> "x y a b c d e q", // shares the 5-token span a..e with doc 1
      3L -> "p q r s t u v w", // unique — untouched
      4L -> "a b c d e f g h", // exact duplicate of doc 1 — empties out
    ).toDF("id", "text")
    val out = Dedup.dedupSubstrings(docs, "id", "text", minLen = 5)
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "a b c d e f g h", "first occurrence keeps its text")
    assert(out(2L) == "x y q", "only the shared span is cut, context survives")
    assert(out(3L) == "p q r s t u v w")
    assert(out(4L) == "", "a fully duplicated document loses its whole body")
    // the repeated-window vocabulary broadcasts into the corpus-side join
    val plan = SparkTestBase.withoutAutoBroadcast(Dedup.dedupSubstrings(
      docs, "id", "text", minLen = 5).queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("substring dedup: periodic self-overlap keeps one window; id contract is loud") {
    import spark.implicits._
    // all 3-windows of a periodic run are the same gram: the pos-0 window
    // is the corpus-wide first, every later one is covered — one period
    // survives
    val periodic = Seq(1L -> "z z z z z z z").toDF("id", "text")
    val out = Dedup.dedupSubstrings(periodic, "id", "text", minLen = 3)
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "z", s"expected one token to survive, got '${out(1L)}'")
    // ids outside the packing range fail the job loudly, not silently
    val bad = Seq(-1L -> "a b c d").toDF("id", "text")
    val e = intercept[Exception](
      Dedup.dedupSubstrings(bad, "id", "text", minLen = 2).collect())
    assert(e.getMessage.contains("packing bounds") ||
      e.getCause != null && e.getCause.getMessage.contains("packing bounds"),
      s"expected the packing-bounds contract, got: ${e.getMessage}")
  }

  test("multimodal stub decode is deterministic with real schema") {
    val a = Multimodal.decodeFeatures(Multimodal.syntheticMedia(spark, 50, 2)).collect()
    val b = Multimodal.decodeFeatures(Multimodal.syntheticMedia(spark, 50, 8)).collect()
    assert(a.map(_.sha256).sorted.toSeq == b.map(_.sha256).sorted.toSeq)
    assert(a.forall(_.embedding.length == Multimodal.StubCodec.EmbeddingDim))
    assert(a.filter(_.media_type == "video").forall(_.frames_sampled >= 1))
  }
}
