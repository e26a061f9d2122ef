package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Runtime-filter semi-join (sideways information passing): reduce a fact
 * table by a dimension-derived key set as a SCAN-SIDE PREDICATE instead of
 * a join operator.
 *
 * The key set collapses to ONE row holding a sorted long array (8 bytes
 * per key — a 10M-key filter is an 80 MB broadcast, where a broadcast hash
 * join's build map would be several times that); the probe is the
 * codegen'd [[graft.functions.SortedContains]] binary search, so the fact
 * side pays log₂|keys| long compares per row inside whole-stage codegen —
 * no shuffle, no join build, and the filter composes with any downstream
 * plan without entering join reordering. Exact keys ⇒ the result IS the
 * semi-join (no false positives to re-verify), which is the law the
 * oracle asserts.
 *
 * Use when the key side fits comfortably in executor memory as an array;
 * past that, fall back to a shuffle semi-join (Spark's own planner shape).
 */
object Prefilter {

  /** fact rows whose `factKey` appears in `keys.keyCol` (exact semi-join,
    * computed as a broadcast sorted-array predicate). */
  def semiJoinBySortedKeys(fact: DataFrame, factKey: String,
      keys: DataFrame, keyCol: String): DataFrame = {
    val arr = keys.agg(
      sort_array(collect_set(col(keyCol).cast("long"))).as("__keys"))
    fact.crossJoin(broadcast(graft.ops.Guards.scalar(arr)))
      .filter(GraftFunctions.sortedContains(col(factKey).cast("long"), col("__keys")))
      .drop("__keys")
  }

  /** The Bloom bit positions of a key: ONE md5 digest per key, split into
    * `kHashes` disjoint 8-hex (32-bit) windows, each mod `mBits` — digest
    * splitting (the Kirsch-Mitzenmacher observation: independent windows of
    * one strong hash behave like independent hashes) costs one digest per
    * probe instead of k, and stays the md5-prefix idiom every mirrored
    * oracle replays (`('0x'||substr(md5(key),1+8h,8))::BIGINT % m`).
    * Ceiling: 32 hex chars / 8 ⇒ kHashes <= 4. */
  private def bloomPositions(key: org.apache.spark.sql.Column,
      mBits: Int, kHashes: Int): Seq[org.apache.spark.sql.Column] = {
    require(kHashes >= 1 && kHashes <= 4, s"digest has 4 windows, got k=$kHashes")
    val digest = md5(key.cast("string"))
    (0 until kHashes).map { h =>
      conv(substring(digest, 1 + 8 * h, 8), 16, 10).cast("long") % mBits
    }
  }

  /**
   * Bloom-filter runtime pruning — [[semiJoinBySortedKeys]]'s sketch-side
   * sibling for when the key side outgrows an exact array. The build side
   * collapses to the SET BITS of an `mBits`-slot Bloom filter (at most
   * min(kHashes·|keys|, mBits) longs — bounded by the filter geometry, not
   * the key count, which is the whole point at 100 TB: a 1M-bit filter is a
   * fixed ~8 MB broadcast whatever the build cardinality). The probe side
   * pays `kHashes` codegen'd binary searches per row, scan-side, with NO
   * shuffle and NO join build. One-sided error: every true match passes
   * (no false negatives — the law the spec and the audit assert); a
   * tunable sliver of non-matches leaks through and must be re-verified
   * downstream if exactness is required.
   */
  def bloomPrune(fact: DataFrame, factKey: String,
      keys: DataFrame, keyCol: String, mBits: Int, kHashes: Int): DataFrame = {
    fact.crossJoin(broadcast(graft.ops.Guards.scalar(bloomBits(keys, keyCol, mBits, kHashes))))
      .filter(bloomPass(col(factKey), mBits, kHashes))
      .drop("__bits")
  }

  /** The set-bit array of the build side's Bloom filter, collapsed to one
    * sorted-array row for broadcast. */
  private def bloomBits(keys: DataFrame, keyCol: String,
      mBits: Int, kHashes: Int): DataFrame =
    keys.select(explode(array(bloomPositions(col(keyCol), mBits, kHashes): _*))
        .as("__pos"))
      .agg(sort_array(collect_set(col("__pos"))).as("__bits"))

  /** All-positions-set predicate over the broadcast `__bits` column. */
  private def bloomPass(key: org.apache.spark.sql.Column,
      mBits: Int, kHashes: Int): org.apache.spark.sql.Column =
    bloomPositions(key, mBits, kHashes)
      .map(p => GraftFunctions.sortedContains(p, col("__bits")))
      .reduce(_ && _)

  /** The measured-error audit of [[bloomPrune]]: every fact row flagged by
    * both the Bloom predicate and the exact key set, rolled up to
    * (bloom_pass, is_match, n) — three rows at most, since
    * (bloom_pass=false, is_match=true) is impossible by the no-false-
    * negative law. Both flags are broadcast scan-side predicates, so the
    * only shuffle is the 4-group final aggregate. */
  def bloomAudit(fact: DataFrame, factKey: String,
      keys: DataFrame, keyCol: String, mBits: Int, kHashes: Int): DataFrame = {
    val exact = keys.agg(
      sort_array(collect_set(col(keyCol).cast("long"))).as("__keys"))
    fact.crossJoin(broadcast(graft.ops.Guards.scalar(bloomBits(keys, keyCol, mBits, kHashes))))
      .crossJoin(broadcast(graft.ops.Guards.scalar(exact)))
      .select(
        bloomPass(col(factKey), mBits, kHashes).as("bloom_pass"),
        GraftFunctions.sortedContains(col(factKey).cast("long"), col("__keys"))
          .as("is_match"))
      .groupBy(col("bloom_pass"), col("is_match"))
      .agg(count(lit(1)).as("n"))
  }
}
