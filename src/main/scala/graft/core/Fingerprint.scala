package graft.core

import scala.util.hashing.MurmurHash3

/** Deterministic text fingerprints for dedup at scale: word shingles,
  * MinHash signatures (LSH-banded), 64-bit SimHash, and winnowed rolling-hash
  * document fingerprints. All seeds are fixed so signatures are identical
  * across executors, runs, and parallelism levels.
  */
object Fingerprint {

  val DefaultNumPerm = 64
  val DefaultBands = 16 // 16 bands x 4 rows

  /** Lowercased word tokens (letters+digits runs) — manual scan, no regex
    * split / whole-text lowercase (hot in per-doc simhash/shingling).
    */
  def words(text: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isLetterOrDigit(c)) sb.append(Character.toLowerCase(c))
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) out += sb.toString
    out.toArray
  }

  /** k-word shingle hashes (64-bit via two murmur32 passes with distinct seeds). */
  def shingles(text: String, k: Int = 3): Array[Long] = {
    val ws = words(text)
    if (ws.length < k) {
      if (ws.isEmpty) Array.empty
      else Array(hash64(ws.mkString(" ")))
    } else {
      val out = new Array[Long](ws.length - k + 1)
      var i = 0
      while (i + k <= ws.length) {
        val sb = new StringBuilder
        var j = i
        while (j < i + k) { sb.append(ws(j)); sb.append(' '); j += 1 }
        out(i) = hash64(sb.toString)
        i += 1
      }
      out
    }
  }

  def hash64(s: String): Long = {
    val h1 = MurmurHash3.stringHash(s, 0x9747b28c)
    val h2 = MurmurHash3.stringHash(s, 0x85ebca6b)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  // Fixed odd multipliers/addends derived from a splitmix64 stream seeded 42.
  private val (permA, permB): (Array[Long], Array[Long]) = {
    var state = 42L
    def next(): Long = { state += SplitMix64.Golden; SplitMix64.mix(state) }
    val a = Array.fill(256)(next() | 1L)
    val b = Array.fill(256)(next())
    (a, b)
  }

  /** MinHash signature of a shingle set. */
  def minhash(sh: Array[Long], numPerm: Int = DefaultNumPerm): Array[Long] = {
    val sig = Array.fill(numPerm)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      val x = sh(i)
      var p = 0
      while (p < numPerm) {
        val h = permA(p) * x + permB(p)
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      i += 1
    }
    sig
  }

  /** LSH band keys: hash of each band's rows — equal band key ⇒ candidate pair. */
  def bandKeys(sig: Array[Long], bands: Int = DefaultBands): Array[Long] = {
    val rows = sig.length / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 1125899906842597L
      var r = b * rows
      while (r < (b + 1) * rows) { h = 31 * h + sig(r); r += 1 }
      out(b) = (b.toLong << 56) ^ (h & 0x00ffffffffffffffL)
      b += 1
    }
    out
  }

  /** Estimated Jaccard from two signatures. */
  def estimatedJaccard(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0; var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** Exact Jaccard over shingle sets. */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val sa = a.toSet; val sb = b.toSet
    val inter = sa.intersect(sb).size
    val union = sa.size + sb.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  private val SimhashChunk = 4096

  /** Per-thread simhash scratch: word hashes are buffered in a FIXED-size
    * chunk; when full, it is sorted and each distinct hash votes once,
    * weighted by its run count. Bit-identical to voting per occurrence (the
    * per-bit accumulator is a plain sum), cuts the 64-bit vote loop by the
    * repetition factor on real text, and keeps memory O(1) for arbitrarily
    * large documents. Reused across calls, so a call allocates nothing.
    */
  private final class SimhashScratch {
    val hashes = new Array[Long](SimhashChunk)
    val acc = new Array[Int](64)
    var nh = 0

    def add(z: Long): Unit = {
      if (nh == SimhashChunk) drain()
      hashes(nh) = z
      nh += 1
    }

    def drain(): Unit = {
      java.util.Arrays.sort(hashes, 0, nh)
      var j = 0
      while (j < nh) {
        val z = hashes(j)
        var run = 1
        while (j + run < nh && hashes(j + run) == z) run += 1
        var b = 0
        while (b < 64) {
          if (((z >>> b) & 1L) == 1L) acc(b) += run else acc(b) -= run
          b += 1
        }
        j += run
      }
      nh = 0
    }
  }

  private val simhashScratch = ThreadLocal.withInitial[SimhashScratch](() => new SimhashScratch)

  /** 64-bit SimHash over word unigrams — single streaming scan, no word
    * strings allocated. Word hash = finalized FNV-1a over lowercased
    * letter/digit runs (our own fingerprint spec; fixed forever for
    * cross-run determinism).
    */
  def simhash64(text: String): Long = {
    val s = simhashScratch.get()
    java.util.Arrays.fill(s.acc, 0)
    s.nh = 0
    var h = 0xcbf29ce484222325L // FNV offset basis
    var inWord = false
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      // lowercased word char, or -1. ASCII fast path (bit-identical:
      // isLetterOrDigit below 0x80 is [A-Za-z0-9], toLowerCase is +32 on [A-Z])
      val lc =
        if (c < 0x80) {
          if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) c.toInt
          else if (c >= 'A' && c <= 'Z') c + 32
          else -1
        } else if (Character.isLetterOrDigit(c)) Character.toLowerCase(c).toInt
        else -1
      if (lc >= 0) {
        h = (h ^ lc.toLong) * 0x100000001b3L // FNV prime
        inWord = true
      } else if (inWord) {
        s.add(SplitMix64.mix(h)) // finalization for bit diffusion
        h = 0xcbf29ce484222325L
        inWord = false
      }
      i += 1
    }
    if (inWord) s.add(SplitMix64.mix(h))
    s.drain()
    var out = 0L
    var b = 0
    while (b < 64) { if (s.acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** SimHash blocking keys: split 64 bits into `blocks` segments; two hashes
    * within hamming distance < blocks share at least one block key
    * (pigeonhole) — groupBy any key to get candidate pairs.
    */
  def simhashBlocks(h: Long, blocks: Int = 4): Array[Long] = {
    val width = 64 / blocks
    val mask = (1L << width) - 1
    Array.tabulate(blocks)(b => (b.toLong << 60) | ((h >>> (b * width)) & mask))
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03): char k-gram
    * rolling hashes, min per window with rightmost tie-break.
    */
  def winnow(text: String, k: Int = 8, window: Int = 4): Vector[Long] = {
    val n = text.length
    if (n < k) return if (n == 0) Vector.empty else Vector(hash64(text))
    val hashes = new Array[Long](n - k + 1)
    val Base = 1000003L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= Base; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * Base + text.charAt(i); i += 1 }
    hashes(0) = h
    i = 1
    while (i + k <= n) {
      h = (h - text.charAt(i - 1) * pow) * Base + text.charAt(i + k - 1)
      hashes(i) = h
      i += 1
    }
    val out = Vector.newBuilder[Long]
    var lastPicked = -1
    i = 0
    while (i + window <= hashes.length) {
      var minIdx = i
      var j = i
      while (j < i + window) { if (hashes(j) <= hashes(minIdx)) minIdx = j; j += 1 }
      if (minIdx != lastPicked) { out += hashes(minIdx); lastPicked = minIdx }
      i += 1
    }
    out.result()
  }
}
