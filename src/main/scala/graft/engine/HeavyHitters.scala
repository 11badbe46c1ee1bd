package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Exact top-k heavy hitters without a corpus-wide shuffle.
  *
  * The classic groupBy-count-orderBy top-k hashes EVERY distinct key through
  * an exchange; over web-corpus lines (boilerplate detection — the q56
  * repeated-line family's discovery problem) the distinct vocabulary is
  * corpus-sized and the shuffle dominates. This operator replaces it with a
  * two-pass scheme whose shuffle volume is bounded by `counters × partitions`
  * regardless of corpus size:
  *
  *   1. CANDIDATES (narrow): one Misra–Gries summary of `counters` slots per
  *      partition. MG guarantees every key with partition count
  *      > (partition rows)/counters survives that partition's summary, so —
  *      summing over partitions — every key with GLOBAL count > N/counters
  *      is emitted by at least one partition. No false negatives above the
  *      threshold; the emitted table is ≤ counters rows per partition.
  *   2. EXACT CONFIRM: distinct candidate keys broadcast back as a semi-join
  *      filter; only candidate rows are counted, and map-side partial
  *      aggregation caps the exchange at ≤ counters distinct keys per
  *      partition. Top-k is then an exact count sort with a deterministic
  *      (count desc, key asc) tie-break over a bounded table.
  *
  * Exactness is WITNESSED, not assumed: the result carries
  * `proven_exact = (k-th exact count) × counters > N` — when true, every
  * non-candidate key's count is ≤ N/counters < the k-th count, so the top-k
  * is provably identical to the full-shuffle answer (integer arithmetic, no
  * float threshold). When false the caller learns the counter budget was too
  * small for this skew profile and can re-run with more counters (or fall
  * back to the exact groupBy) — the operator reports uncertainty loudly
  * instead of silently approximating.
  *
  * At 10^12 rows: pass 1 is embarrassingly parallel with O(counters) state
  * per task; pass 2 shuffles ≤ counters×tasks pre-aggregated rows and
  * broadcasts ≤ counters×tasks candidate keys — both independent of N. The
  * `overflowed` accumulator-free design keeps the operator deterministic
  * under retries.
  */
object HeavyHitters {

  /** Exact top-k of `keyCol` values in `df` by frequency. Returns
    * `(key, cnt, rank, n_rows, proven_exact)`, rank 1-based, ties broken by
    * key ascending. Null keys are folded to the empty string so they count
    * rather than vanish (the DedupIndexJob rule).
    */
  def topK(df: DataFrame, keyCol: Column, k: Int, counters: Int = 4096): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(counters >= k, s"counters ($counters) must be >= k ($k) for the witness to be meaningful")
    val spark = df.sparkSession
    val keys = df.select(coalesce(keyCol.cast("string"), lit("")).as("key"))
    // pass 1: per-partition Misra-Gries candidate summaries (narrow)
    val candidates = keys.select("key")
      .as[String](Encoders.STRING)
      .mapPartitions(it => misraGries(it, counters))(Encoders.STRING)
      .toDF("key")
      .distinct()
    // pass 2: exact counts of candidate rows only; partial agg bounds the
    // exchange at <= counters distinct keys per input partition
    val counted = keys
      .join(broadcast(candidates), Seq("key"), "left_semi")
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("key").asc)
      .limit(k)
    // NOTE: this count re-executes the upstream lineage of `df`; callers
    // whose input is an expensive chain should localCheckpoint it first
    // (the dedupLines firsts-checkpoint tradeoff).
    val n = keys.count()
    // witness: a full k rows AND kth_cnt * counters > N ==> no
    // non-candidate can reach the k-th count (MG: non-candidates have
    // count <= N/counters). Fewer than k surviving candidates means keys
    // below the MG threshold would belong in the answer by default — that
    // case is unprovable from the summary, so it reports false.
    import org.apache.spark.sql.expressions.Window
    val whole = Window.partitionBy(lit(1))
    counted
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("key").asc)).cast("long"))
      .withColumn("n_rows", lit(n))
      .withColumn("proven_exact",
        (count(lit(1)).over(whole) === k.toLong) &&
          (min(col("cnt")).over(whole) * lit(counters.toLong) > lit(n)))
  }

  /** Misra–Gries with `m` slots: admit new keys while space remains;
    * otherwise decrement ALL counters by 1 (dropping zeros) — the classic
    * amortized-O(1) frequent-items summary. Emits the surviving keys.
    */
  private[engine] def misraGries(it: Iterator[String], m: Int): Iterator[String] = {
    val counts = new java.util.HashMap[String, Long](m * 2)
    while (it.hasNext) {
      val key = it.next()
      val c = counts.get(key)
      if (c != 0L) counts.put(key, c + 1L)
      else if (counts.size < m) counts.put(key, 1L)
      else {
        // decrement-all: each trigger retires m+1 units of count (the m
        // stored plus the arriving key), so triggers <= N/(m+1) and total
        // work stays O(N)
        val e = counts.entrySet().iterator()
        while (e.hasNext) {
          val entry = e.next()
          if (entry.getValue == 1L) e.remove()
          else entry.setValue(entry.getValue - 1L)
        }
      }
    }
    import scala.jdk.CollectionConverters._
    counts.keySet().iterator().asScala
  }
}
