package graft.tools

/**
 * Directory-based scaling probe: times whole catalog queries (by their
 * SparkEntry names) against the sf0.1 base dir and the ×4/×10
 * disjoint-replica dirs built by [[BuildX10]], and reports the wall-time
 * exponent α = ln(t₁₀/t₄)/ln(10/4) (×1 is stage-overhead-dominated, so
 * the exponent is taken from the two largest scales, same convention as
 * SCALE.md's heavies table). Dir-based (vs the in-memory replication of
 * the removed ScaleProbe, code at feb0fc4) so dir-keyed machinery — the
 * FrameMemo'd suffix index, Tables scans, partition pruning — is measured
 * exactly as deployed. Each query runs through [[graft.Bench.materialize]],
 * as Bench times it: every row and column produced.
 *
 * Usage: runMain graft.tools.ScaleProbeDirs q406_lcp_repeats,q411_...
 *   [x4dir] [x10dir]   (defaults /tmp/testdata_x4 /tmp/testdata_x10)
 */
object ScaleProbeDirs {

  def main(args: Array[String]): Unit = {
    val names = args.headOption
      .getOrElse(sys.error("pass a comma-separated query-name list"))
      .split(',').toSeq
    val x4 = args.lift(1).getOrElse("/tmp/testdata_x4")
    val x10 = args.lift(2).getOrElse("/tmp/testdata_x10")
    val dirs = Seq(1 -> "/root/testdata/sf0.1", 4 -> x4, 10 -> x10)
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).count() // JVM warmup
    val qs = graft.SparkEntry.queries
    var allSub = true
    names.foreach { name =>
      val fn = qs.getOrElse(name, sys.error(s"unknown query $name"))
      val ts = dirs.map { case (k, d) =>
        val t0 = System.nanoTime()
        graft.Bench.materialize(fn(spark, d))
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[dscale] $name%-24s x$k%-3d $t%7.1f s")
        // release this leg's blocks before the next: the probe runs the
        // memo-backed index queries at three scales in ONE JVM, and the
        // x10 legs cannot afford to share the heap with the x1/x4
        // generations (the single-JVM caveat SCALE.md records)
        graft.ops.FrameMemo.invalidate()
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        t
      }
      val alpha = math.log(ts(2) / ts(1)) / math.log(10.0 / 4.0)
      val ok = alpha < 2.0
      allSub &= ok
      println(f"[dscale] $name%-24s alpha=$alpha%5.2f " +
        (if (ok) "SUB-QUADRATIC" else "SUPER-QUADRATIC (FAIL)"))
    }
    spark.stop()
    if (!allSub) sys.exit(1)
  }
}
