package graft.ops

import graft.{SparkSpec, Tables}
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** The runtime-filter law: the sorted-array predicate equals the planner's
  * own left-semi join, including the empty-key-set edge. */
class PrefilterSpec extends SparkSpec {

  test("semiJoinBySortedKeys equals left_semi on real data") {
    val sfDir = "/root/testdata/sf0.001"
    val fact = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"))
    val keys = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
    val viaFilter = Prefilter.semiJoinBySortedKeys(fact, "l_orderkey", keys, "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue())).toSet
    val viaJoin = fact.join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue())).toSet
    assert(viaFilter === viaJoin)
    assert(viaFilter.nonEmpty)
  }

  test("empty key set filters everything; sorted_contains probes exact membership") {
    val s = spark
    import s.implicits._
    val fact = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val noKeys = Seq.empty[Long].toDF("o")
    assert(Prefilter.semiJoinBySortedKeys(fact, "k", noKeys, "o").count() === 0L)
    val probes = Seq(Long.MinValue, -7L, 0L, 3L, 41L, 43L, Long.MaxValue)
      .toDF("v")
      .select(col("v"), GraftFunctions.sortedContains(col("v"),
        array(Seq(Long.MinValue, -7L, 3L, 42L, Long.MaxValue).map(lit): _*)).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(probes(Long.MinValue) && probes(-7L) && probes(3L) && probes(Long.MaxValue))
    assert(!probes(0L) && !probes(41L) && !probes(43L))
  }

  test("bloomPrune: no false negatives on real data; audit ties out exactly") {
    val sfDir = "/root/testdata/sf0.001"
    val fact = graft.Tables.lineitem(spark, sfDir)
    val keys = graft.Tables.orders(spark, sfDir)
      .filter(col("o_totalprice") > 450000.0)
    val exactKeys = keys.select("o_orderkey").collect().map(_.getLong(0)).toSet
    val pruned = Prefilter.bloomPrune(fact, "l_orderkey", keys, "o_orderkey",
      mBits = 4096, kHashes = 3)
      .select("l_orderkey").collect().map(_.getLong(0)).toSet
    // every true match passes (one-sided error)
    assert(exactKeys.intersect(
      fact.select("l_orderkey").collect().map(_.getLong(0)).toSet)
      .subsetOf(pruned))
    val audit = Prefilter.bloomAudit(fact, "l_orderkey", keys, "o_orderkey",
      mBits = 4096, kHashes = 3).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    assert(!audit.contains((false, true)), "false negative in the audit")
    assert(audit.values.sum === fact.count())
    // the (true,true) cell IS the exact semi-join cardinality
    val semi = Prefilter.semiJoinBySortedKeys(fact, "l_orderkey", keys, "o_orderkey")
    assert(audit.getOrElse((true, true), 0L) === semi.count())
  }

  test("bloom geometry: planted keys all pass; non-keys mostly rejected") {
    val s = spark
    import s.implicits._
    val keys = (0L until 100L).toDF("k")
    val probe = (0L until 2000L).toDF("p")
    val passed = Prefilter.bloomPrune(probe, "p", keys, "k",
      mBits = 8192, kHashes = 3)
      .collect().map(_.getLong(0)).toSet
    assert((0L until 100L).forall(passed.contains))
    // fill ~ 3.6% -> per-probe FP ~ 5e-5; allow generous slack
    val fp = passed.count(_ >= 100L)
    assert(fp <= 20, s"false-positive leak too large: $fp of 1900")
  }
}
