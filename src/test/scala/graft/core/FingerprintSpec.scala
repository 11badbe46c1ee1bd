package graft.core

import graft.engine.PropCheck
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {

  val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
  val textB = "the quick brown fox jumps over the lazy dog near the river bank tonight"
  val textC = "completely different content about spark catalyst optimizer rules and shuffles"

  test("shingles and jaccard") {
    val a = Fingerprint.shingles(textA)
    val b = Fingerprint.shingles(textB)
    val c = Fingerprint.shingles(textC)
    assert(Fingerprint.jaccard(a, a) == 1.0)
    assert(Fingerprint.jaccard(a, b) > 0.7)
    assert(Fingerprint.jaccard(a, c) == 0.0)
  }

  test("minhash estimates jaccard") {
    val a = Fingerprint.minhash(Fingerprint.shingles(textA))
    val b = Fingerprint.minhash(Fingerprint.shingles(textB))
    val c = Fingerprint.minhash(Fingerprint.shingles(textC))
    assert(Fingerprint.estimatedJaccard(a, a) == 1.0)
    assert(Fingerprint.estimatedJaccard(a, b) > 0.5)
    assert(Fingerprint.estimatedJaccard(a, c) < 0.2)
  }

  test("near-dups share at least one LSH band") {
    val ka = Fingerprint.bandKeys(Fingerprint.minhash(Fingerprint.shingles(textA)))
    val kb = Fingerprint.bandKeys(Fingerprint.minhash(Fingerprint.shingles(textB)))
    val kc = Fingerprint.bandKeys(Fingerprint.minhash(Fingerprint.shingles(textC)))
    assert(ka.toSet.intersect(kb.toSet).nonEmpty)
    assert(ka.toSet.intersect(kc.toSet).isEmpty)
  }

  test("simhash hamming tracks similarity") {
    val ha = Fingerprint.simhash64(textA)
    val hb = Fingerprint.simhash64(textB)
    val hc = Fingerprint.simhash64(textC)
    assert(Fingerprint.hamming(ha, hb) < Fingerprint.hamming(ha, hc))
    assert(Fingerprint.hamming(ha, ha) == 0)
  }

  test("simhash blocks: close hashes share a block") {
    val h = Fingerprint.simhash64(textA)
    val h2 = h ^ 0x8001L // 2 bits flipped, distance 2 < 4 blocks
    val shared = Fingerprint.simhashBlocks(h).toSet.intersect(Fingerprint.simhashBlocks(h2).toSet)
    assert(shared.nonEmpty)
  }

  test("winnowing is deterministic and position-robust") {
    val w1 = Fingerprint.winnow(textA)
    val w2 = Fingerprint.winnow("PREFIX " + textA)
    assert(w1 == Fingerprint.winnow(textA))
    // most fingerprints survive a prefix shift
    val overlap = w1.toSet.intersect(w2.toSet).size.toDouble / w1.size
    assert(overlap > 0.6)
  }

  test("signatures are stable across runs (fixed seeds)") {
    assert(Fingerprint.hash64("abc") == Fingerprint.hash64("abc"))
    val sig = Fingerprint.minhash(Fingerprint.shingles("one two three four five"))
    assert(sig.toVector == Fingerprint.minhash(Fingerprint.shingles("one two three four five")).toVector)
  }

  /** SimHash by its definition: every word occurrence votes on all 64 bits. */
  private def naiveSimhash(text: String): Long = {
    val acc = new Array[Long](64)
    var h = 0xcbf29ce484222325L
    var inWord = false
    def vote(): Unit = {
      val z = SplitMix64.mix(h)
      for (b <- 0 until 64) acc(b) += (if (((z >>> b) & 1L) == 1L) 1 else -1)
      h = 0xcbf29ce484222325L
      inWord = false
    }
    text.foreach { c =>
      if (Character.isLetterOrDigit(c)) {
        h = (h ^ Character.toLowerCase(c).toLong) * 0x100000001b3L
        inWord = true
      } else if (inWord) vote()
    }
    if (inWord) vote()
    (0 until 64).foldLeft(0L)((out, b) => if (acc(b) > 0) out | (1L << b) else out)
  }

  test("simhash64 equals a naive per-occurrence voter") {
    // ASCII and non-ASCII letters and digits (Arabic-Indic three, fullwidth
    // seven, dotted capital I), separators including a surrogate pair, and a
    // small vocabulary so that long texts repeat words
    val wordChar = Gen.oneOf("aZq70".toSeq ++ "\u00e9\u00c9\u00df\u03a9\u4e2d\u0663\uff17\u0130".toSeq)
    val sep = Gen.oneOf("", " ", "  ", "\n", ", ", "-", "\u00a0", "\u2014", "\ud83d\ude00")
    val word = Gen.choose(1, 3).flatMap(Gen.listOfN(_, wordChar)).map(_.mkString)
    def text(words: Gen[Int]) = for {
      n <- words
      ws <- Gen.listOfN(n, word)
      ss <- Gen.listOfN(n, sep)
    } yield ws.zip(ss).map { case (w, s) => w + s }.mkString
    // texts past 4096 words drain the hash chunk more than once
    val texts = Gen.frequency(4 -> text(Gen.choose(0, 30)), 1 -> text(Gen.choose(5000, 10000)))
    PropCheck(Prop.forAll(texts)(t => Fingerprint.simhash64(t) == naiveSimhash(t)), minSuccessful = 150)
  }
}
