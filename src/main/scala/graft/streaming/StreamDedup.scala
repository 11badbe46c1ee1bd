package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming exact dedup: emit only the FIRST arrival of each content hash
  * across micro-batches — `flatMapGroupsWithState` with one boolean state
  * cell per hash. The state store is partitioned by the hash key, so the
  * operator scales with the shuffle (state per executor = its key range);
  * at 10^12-row scale the state cell is 1 bit + key, and a TTL timeout can
  * bound the store for windowed dedup (kept untimed here: exact global
  * dedup is the contract).
  *
  * This is the streaming face of [[graft.engine.Dedup.dedupExact]]: the
  * batch operator keeps min(id) per hash; the streaming operator keeps the
  * first ARRIVAL (arrival order replaces id order — documented difference,
  * inherent to unbounded input).
  */
object StreamDedup {

  final case class Keyed(key: String, id: Long, payload: String)

  /** First occurrence per key; duplicates are dropped. Append-mode safe. */
  def firstArrivalPerKey(ds: Dataset[Keyed]): Dataset[Keyed] = {
    implicit val enc = Encoders.product[Keyed]
    implicit val boolEnc = Encoders.scalaBoolean
    ds.groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState[Boolean, Keyed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Keyed], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty // hash already emitted in a previous batch
          else {
            state.update(true)
            // within-batch winner must be DETERMINISTIC: shuffle-read order
            // varies across task retries, so "first in iterator order"
            // could emit different payloads on a retry than a sink already
            // saw — pick min(id), the same keeper rule as batch dedupExact
            Iterator.single(rows.minBy(_.id))
          }
      }
  }

  final case class Doc(id: Long, text: String)
  final case class NearDupVerdict(id: Long, is_near_dup: Boolean, matched_id: Long)

  final case class DocLine(id: Long, idx: Int, line: String)

  /** Streaming corpus-wide line dedup — the streaming face of
    * [[graft.engine.Dedup.dedupLines]]: a content line survives only at its
    * corpus-wide FIRST arrival; later occurrences (same batch or any later
    * micro-batch) drop. Whitespace-only lines are structure, not content —
    * they bypass the stateful stage entirely and survive in every document,
    * exactly the batch rule. Emits the kept (id, idx, line) rows; callers
    * reassemble documents downstream (foreachBatch with
    * sort_array(collect_list(struct(idx, line)))) — documents arrive whole
    * in one batch, so reassembly never spans batches. A document whose
    * every content line is already seen emits nothing — the batch
    * operator's disappearing-boilerplate-page semantics.
    *
    * Within a batch the winner is deterministic: min (id, idx) packed with
    * the same `maxLines` rule (and the same loud id-range contract) as the
    * batch operator — shuffle-read order varies across task retries, so
    * "first in iterator order" could emit a different occurrence than a
    * sink already saw. State is one boolean per line, partitioned by the
    * line key (the same shuffle key as the batch groupBy).
    *
    * STATE BOUND: without `ttl` the store holds one entry per distinct
    * content line FOREVER — exact global dedup, but unbounded growth with
    * corpus vocabulary on a long-running stream (a slow OOM at web scale).
    * Passing `ttl` switches to ProcessingTimeTimeout WINDOWED dedup: a
    * line's state evicts after going `ttl` unseen (the timeout is
    * refreshed on every re-observation, so actively-repeating boilerplate
    * never evicts), and the next occurrence after eviction is treated as
    * a fresh first and EMITTED AGAIN. That is a deliberate divergence
    * from the batch operator's corpus-global rule — batch parity holds
    * only for the untimed default. Timeouts fire when a later micro-batch
    * runs (processing-time semantics), not on wall-clock alone.
    *
    * TRIGGER CONTRACT: run ttl-enabled streams with an explicit trigger
    * interval (`Trigger.ProcessingTime(...)`). With ProcessingTimeTimeout,
    * `FlatMapGroupsWithStateExec.shouldRunAnotherBatch` is true for EVERY
    * trigger (no due-time check), so under the default ASAP trigger
    * no-data micro-batches run back-to-back burning cores — and
    * `StreamingQuery.processAllAvailable` NEVER returns (the engine never
    * reaches its `noNewData` state), so drive tests/tools by polling the
    * sink, not by awaiting quiescence.
    */
  def dedupLinesStream(docs: Dataset[Doc], maxLines: Long = 1000000L,
      ttl: Option[java.time.Duration] = None): Dataset[DocLine] = {
    implicit val lineEnc = Encoders.product[DocLine]
    implicit val boolEnc = Encoders.scalaBoolean
    val maxId = Long.MaxValue / maxLines
    val lines = docs.flatMap { d =>
      val ls = d.text.split("\n", -1)
      require(d.id >= 0 && d.id < maxId && ls.length <= maxLines,
        s"dedupLinesStream: (id, idx) outside packing bounds (0 <= id < $maxId, idx < $maxLines)")
      Iterator.tabulate(ls.length)(ix => DocLine(d.id, ix, ls(ix)))
    }
    def isStructure(l: String): Boolean =
      l.forall(c => c == ' ' || c == '\t' || c == '\r' || c == '\f')
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val structural = lines.filter(l => isStructure(l.line))
    val content = lines.filter(l => !isStructure(l.line))
      .groupByKey(_.line)(Encoders.STRING)
      .flatMapGroupsWithState[Boolean, DocLine](
        OutputMode.Append(), timeoutConf) {
        (_: String, rows: Iterator[DocLine], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            // sliding TTL: re-observation refreshes the eviction clock
            ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
            Iterator.empty
          } else {
            state.update(true)
            ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
            Iterator.single(rows.minBy(r => r.id * maxLines + r.idx))
          }
      }
    structural.union(content)
  }

  /** Streaming benchmark decontamination — the streaming face of
    * [[graft.engine.Dedup.contaminatedDocs]]: the eval set's distinct
    * n-grams are tiny and STATIC, so they broadcast once and each arriving
    * document is checked STATELESSLY inside the stream (no
    * flatMapGroupsWithState, no shuffle — a pure filter, the cheapest
    * possible streaming operator). Whitespace-normalized on both sides
    * like the batch op (the gram set passed here should come from the same
    * normalization — [[graft.engine.Dedup]]'s convention). Emits only the
    * CLEAN documents; contaminated ones drop.
    */
  def decontaminate(docs: Dataset[Doc], benchGrams: Set[String], n: Int = 13): Dataset[Doc] = {
    implicit val docEnc = Encoders.product[Doc]
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(
      benchGrams.map(_.trim.replaceAll("\\s+", " ")).filter(_.nonEmpty))
    docs.mapPartitions { it =>
      val grams = bc.value
      it.filter { d =>
        val toks = d.text.trim.replaceAll("\\s+", " ").split(" ")
        var contaminated = false
        var i = 0
        while (!contaminated && i + n <= toks.length) {
          val sb = new java.lang.StringBuilder()
          var j = 0
          while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
          if (grams.contains(sb.toString)) contaminated = true
          i += 1
        }
        !contaminated
      }
    }
  }

  /** Streaming NEAR-dup suppression — the streaming face of the batch
    * MinHash-LSH pair stage ([[graft.engine.Dedup.candidatePairs]] +
    * [[graft.engine.Dedup.verifyPairs]]): each arriving document fans out
    * to its LSH band keys (one row per band, shuffle on the band key); per
    * band key the state holds the (id, signature) pairs seen so far, and a
    * new arrival is a near-dup when its signature-estimated Jaccard against
    * any stored member reaches `threshold`. A document survives only if NO
    * band flags it, so the final per-id vote is a second keyed aggregation.
    *
    * State discipline at 10^12 scale: state is per BAND KEY (the same
    * shuffle key as the batch operator), each cell capped at `maxBucket`
    * members — a boilerplate-hot band stores the first `maxBucket`
    * signatures and still flags near-dups against them (same keeper-style
    * bounded-recall tradeoff as the batch cap, disclosed there). Signatures
    * are 64 longs/doc; a TTL would bound the store for windowed dedup.
    *
    * Emits one verdict per (doc, band); callers reduce to per-doc verdicts
    * with `groupBy(id).agg(max(is_near_dup))` — kept separate so the heavy
    * stateful stage stays a single flatMapGroupsWithState.
    */
  def nearDupVerdictsPerBand(
      ds: Dataset[Doc],
      threshold: Double = 0.8,
      maxBucket: Int = 1000): Dataset[NearDupVerdict] = {
    import graft.core.Fingerprint
    implicit val outEnc = Encoders.product[NearDupVerdict]
    implicit val stateEnc = Encoders.kryo[List[(Long, Array[Long])]]
    implicit val keyedEnc = Encoders.product[(Long, Long, Array[Long])]
    ds.mapPartitions { it =>
      it.flatMap { d =>
        val sig = Fingerprint.minhash(Fingerprint.shingles(d.text, 3))
        Fingerprint.bandKeys(sig).iterator.map(b => (b, d.id, sig))
      }
    }
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[List[(Long, Array[Long])], NearDupVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[(Long, Long, Array[Long])], state: GroupState[List[(Long, Array[Long])]]) =>
          var members = state.getOption.getOrElse(Nil)
          val out = Vector.newBuilder[NearDupVerdict]
          // arrival order within a batch is made deterministic by id
          rows.toVector.sortBy(_._2).foreach { case (_, id, sig) =>
            val hit = members.find { case (_, mSig) =>
              Fingerprint.estimatedJaccard(sig, mSig) >= threshold
            }
            out += NearDupVerdict(id, hit.isDefined, hit.map(_._1).getOrElse(-1L))
            // flagged near-dups join the state too (subject to the cap):
            // the batch operator's connectivity clustering catches chains
            // A~B, B~C even when A!~C, so a later C arriving after flagged
            // B must still be comparable against B, not only against the
            // surviving A
            if (members.size < maxBucket) members = (id, sig) :: members
          }
          state.update(members)
          out.result().iterator
      }
  }
}
