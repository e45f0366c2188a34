package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming distribution-drift monitoring — the incremental face of the
  * batch `agg_ks_drift` query (ops/MiningQueries.scala): each arm of a
  * metric stream maintains its value histogram in state and emits, once
  * per touching micro-batch, the exact-integer two-sample KS statistic of
  * everything seen so far against a FIXED reference snapshot (the
  * production topology: the reference is last week's corpus histogram, a
  * bounded broadcast artifact, and the monitor pages when drift crosses a
  * threshold).
  *
  * State per key is the cents→count histogram — BOUNDED BY THE VALUE
  * DOMAIN (≤ ~49 k distinct cents by construction), not by stream length:
  * the family contract (`AnomalyDetector`: fixed ring; `MarkovChain`: one
  * last event; `IvmLedger`: one signed ledger) holds because a histogram
  * over a bounded domain is O(domain) no matter how many points fold in.
  *
  * r13 (ADVICE): the r12 draft rebuilt a full immutable Map per touching
  * micro-batch and re-sorted BOTH domains inside every KS evaluation.
  * State is now SORTED PARALLEL ARRAYS (keys asc, counts) merged with each
  * micro-batch's delta in one two-pointer pass — O(domain + |batch| log
  * |batch|), zero per-row Map allocation — and the reference is
  * precomputed ONCE into a sorted CDF ([[Reference]]) the KS walk reads by
  * index, so no emission ever re-sorts it. The KS arithmetic is unchanged
  * and exact — max |cum₁·n₂ − cum₂·n₁| in integers, ppm by floor division
  * — so `StreamingDriftSpec` still pins the final click-arm snapshot EQUAL
  * to the batch `agg_ks_drift` answer.
  *
  * Emission per (arm, micro-batch) is append-safe: a snapshot is an
  * immutable fact about the arm's state at that batch.
  */
object DriftMonitor {

  final case class Obs(arm: String, cents: Long)

  /** Sorted-array histogram state: `keys` strictly ascending, `counts`
    * parallel, `n` = Σcounts (kept, not re-summed per emission).
    */
  final case class Hist(keys: Array[Long], counts: Array[Long], n: Long)

  final case class Snapshot(arm: String, n: Long, ks_ppm: Long)

  /** The reference histogram precomputed once into a sorted CDF: `keys`
    * ascending, `cum(i)` = Σ counts of keys(0..i), `n` the total. Built a
    * single time per monitor (or spec oracle) and read by index inside
    * every KS evaluation — the "precomputed sorted reference CDF" half of
    * the r12 ADVICE fix.
    */
  final class Reference private (
      val keys: Array[Long], val cum: Array[Long], val n: Long)
    extends Serializable

  object Reference {
    def fromCounts(counts: Map[Long, Long]): Reference = {
      val ks = counts.keys.toArray.sorted
      val cum = new Array[Long](ks.length)
      var c = 0L
      var i = 0
      while (i < ks.length) { c += counts(ks(i)); cum(i) = c; i += 1 }
      new Reference(ks, cum, c)
    }
  }

  /** The batch query's exact-integer KS in kernel form — max over the
    * merged value domain of |cum_sample·n_ref − cum_ref·n_sample|, ppm by
    * floor division, over a SORTED sample histogram and the precomputed
    * reference CDF: one two-pointer walk, no sorting, no map lookups. The
    * cross products and the ppm scaling ride BigInt (r12, ADVICE — the
    * batch query's DECIMAL(38,0) discipline): in Long, cum·n wraps once
    * n1·n2 > 2⁶³ and best·10⁶ at n1·n2 > 9.2·10¹² (~3 M points per side),
    * silently. The walk is ≤ ~49 k steps, so the boxed arithmetic is noise.
    */
  def ksPpmSorted(sKeys: Array[Long], sCounts: Array[Long], n1: Long,
      ref: Reference): Long = {
    val n2 = ref.n
    if (n1 == 0 || n2 == 0) return 0L
    val bn1 = BigInt(n1)
    val bn2 = BigInt(n2)
    var i = 0 // sample pointer
    var j = 0 // reference pointer
    var c1 = 0L
    var best = BigInt(0)
    while (i < sKeys.length || j < ref.keys.length) {
      // next distinct value of the merged domain
      val v =
        if (i >= sKeys.length) ref.keys(j)
        else if (j >= ref.keys.length) sKeys(i)
        else math.min(sKeys(i), ref.keys(j))
      if (i < sKeys.length && sKeys(i) == v) { c1 += sCounts(i); i += 1 }
      if (j < ref.keys.length && ref.keys(j) == v) j += 1
      val c2 = if (j == 0) 0L else ref.cum(j - 1)
      val d = (BigInt(c1) * bn2 - BigInt(c2) * bn1).abs
      if (d > best) best = d
    }
    (best * 1000000 / (bn1 * bn2)).toLong
  }

  /** Map-based convenience form (the spec oracle's entry point): sorts the
    * sample once and builds a throwaway CDF — NOT the hot path.
    */
  def ksPpm(sample: Map[Long, Long], reference: Map[Long, Long]): Long = {
    val sk = sample.keys.toArray.sorted
    val sc = sk.map(sample)
    ksPpmSorted(sk, sc, sc.sum, Reference.fromCounts(reference))
  }

  /** Two-pointer merge of the sorted state histogram with one micro-batch's
    * delta (collected into a primitive LongMap, then sorted): O(domain +
    * |batch| log |batch|), allocation = the two output arrays. Shared with
    * [[QuantileMonitor]] — the same bounded-domain histogram state serves
    * both monitors.
    */
  private[streaming] def merge(prev: Hist,
      delta: scala.collection.mutable.LongMap[Long], added: Long): Hist = {
    if (delta.isEmpty) return prev
    val dk = delta.keysIterator.toArray
    java.util.Arrays.sort(dk)
    val outK = new Array[Long](prev.keys.length + dk.length) // upper bound
    val outC = new Array[Long](outK.length)
    var i = 0; var j = 0; var o = 0
    while (i < prev.keys.length || j < dk.length) {
      if (j >= dk.length || (i < prev.keys.length && prev.keys(i) < dk(j))) {
        outK(o) = prev.keys(i); outC(o) = prev.counts(i); i += 1
      } else if (i >= prev.keys.length || dk(j) < prev.keys(i)) {
        outK(o) = dk(j); outC(o) = delta(dk(j)); j += 1
      } else {
        outK(o) = prev.keys(i); outC(o) = prev.counts(i) + delta(dk(j))
        i += 1; j += 1
      }
      o += 1
    }
    Hist(java.util.Arrays.copyOf(outK, o), java.util.Arrays.copyOf(outC, o),
      prev.n + added)
  }

  def monitor(obs: Dataset[Obs], reference: Map[Long, Long]): Dataset[Snapshot] = {
    implicit val outEnc = Encoders.product[Snapshot]
    implicit val stateEnc = Encoders.product[Hist]
    implicit val strEnc = Encoders.STRING
    // Precomputed ONCE on the driver; ships to executors inside the
    // closure (two primitive arrays — compact, immutable, shared by every
    // arm's evaluation on that executor).
    val ref = Reference.fromCounts(reference)

    obs
      .groupByKey(_.arm)
      .flatMapGroupsWithState[Hist, Snapshot](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (arm: String, rows: Iterator[Obs], state: GroupState[Hist]) =>
          val delta = new scala.collection.mutable.LongMap[Long]()
          var added = 0L
          rows.foreach { o =>
            delta(o.cents) = delta.getOrElse(o.cents, 0L) + 1L
            added += 1L
          }
          val merged = merge(
            state.getOption.getOrElse(Hist(Array.empty, Array.empty, 0L)),
            delta, added)
          state.update(merged)
          Iterator(Snapshot(arm, merged.n,
            ksPpmSorted(merged.keys, merged.counts, merged.n, ref)))
      }
  }
}
