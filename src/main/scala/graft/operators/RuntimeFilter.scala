package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Bloom

/** Runtime bloom-filter join pruning — the explicit, engine-owned form
  * of the runtime filters Spark itself injects for DPP/row-group
  * skipping: the (filtered) dimension side's join keys are aggregated
  * into a Bloom filter ONCE, the filter ships to the fact scan as a
  * plan-constant binary literal, and fact rows that cannot join are
  * dropped AT THE SCAN, before the shuffle. The exact join still runs
  * on the survivors, so bloom false positives cost work, never
  * correctness — the sketch moves the filter, it never answers.
  *
  * 100 TB: the whole point. A selective dim predicate (say 1 in 50
  * brands) prunes the fact-side SHUFFLE by ~50× for the price of one
  * small-side aggregation and a ~Kb broadcast-as-literal; without it
  * the full fact table pays the exchange and the join discards 98% of
  * it after the network hop. The bloom is built with one driver action
  * on the SMALL side only (same discipline as
  * [[Dedup.contaminationBloom]]); it is auto-sized at ~16 bits/key so
  * the false-positive rate stays ~1e-3 and the literal stays
  * broadcast-cheap. The fact side is never counted, collected, or
  * scanned twice.
  *
  * Mirrors the reference's watermark-prefilter idea (fetch only what
  * can match — main.py:71-77) lifted to join pruning.
  */
object RuntimeFilter {

  /** Inner-join `fact` to `dim` on `factKey == dimKey`, prefiltering
    * the fact scan with a bloom over the dim keys. Keys are probed via
    * their canonical string form (the bloom hashes UTF-8 bytes).
    *
    * Returns the joined frame (fact columns + dim columns minus the
    * dim key) — semantically identical to `fact.join(dim, ...)`. */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame,
                      factKey: String, dimKey: String,
                      numHashes: Int = 5): DataFrame = {
    val pruned = bloomPrefilter(fact, dim, factKey, dimKey, numHashes)
    pruned.join(dim, pruned(factKey) === dim(dimKey)).drop(dim(dimKey))
  }

  /** The bloom prefilter alone (no join) — a semi-join reducer for
    * shipping a pruned fact slice to a downstream stage. May keep
    * false positives (~1e-3); callers needing exactness join after. */
  def bloomPrefilter(fact: DataFrame, dim: DataFrame,
                     factKey: String, dimKey: String,
                     numHashes: Int = 5): DataFrame = {
    val keys = dim.select(col(dimKey).cast("string").as("k")).distinct()
    val n = keys.count()
    val target = math.min(math.max(16L * math.max(n, 1L), 1L << 10), 1L << 27)
    val bits = (java.lang.Long.highestOneBit(target - 1) << 1).toInt
    val bloomBytes: Array[Byte] = keys
      .agg(Bloom.build(col("k"), bits, numHashes).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    fact.filter(
      Bloom.mightContainCol(lit(bloomBytes), col(factKey).cast("string"), numHashes))
  }
}
