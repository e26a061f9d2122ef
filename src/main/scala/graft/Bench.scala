package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query steady-state seconds.
  *
  * Every query is first run once untimed at sf0.001 — this triggers janino
  * whole-stage-codegen compilation, JIT warmup, and parquet footer caching so
  * the timed sf run measures the engine, not first-touch JVM costs (the
  * standard JMH-style warmup discipline). Queries run in name order for
  * run-to-run comparability.
  *
  * Noise policy (round 4): the host is a shared VM and single measurements
  * swing several-fold under neighbor load — BENCH_r03 reported two phantom 4×
  * regressions that re-measured at steady state within 2% of round 2. So:
  *   - EVERY query is run three times and the MINIMUM of the three samples
  *     is reported (min-of-N is the standard steady-state estimator: noise
  *     only ever adds time). Round 10: this used to apply only to queries
  *     whose first sample exceeded 0.3 s — but with ~300 fast queries the
  *     summed single-sample noise alone produced a 214.6 vs 184.4 s spread
  *     on identical code, enough to someday false-flag the driver's 2×
  *     regression gate; min-of-3 across the board stabilizes the total to
  *     run-to-run agreement within ~5%;
  *   - all raw per-run samples are emitted under "samples" so a reader can
  *     see the spread, not just the point estimate;
  *   - a fixed noise-sentinel (sum over range(2e8), pure CPU, no I/O, no code
  *     that this repo owns) is timed min-of-3 and emitted as "sentinel_sec" —
  *     if the sentinel is slow, the host was loaded and every number in the
  *     file carries that caveat.
  *
  * Output layout (round 7): THREE stdout lines — bulky "samples", the full
  * per-query "detail", then a compact {"metric":"total",...} summary LAST —
  * plus the samples+detail lines duplicated into a detail FILE
  * (SPARK_GRAFT_BENCH_DETAIL, default ./BENCH_DETAIL.json, committed per
  * round). The driver captures only the trailing ~2 kB of stdout; a
  * 100-query map alone overflows that window (BENCH_r06 parsed as null), so
  * the last line now carries no per-query map — just the totals the
  * 2x-of-baseline gate needs — and the full history lives in the file.
  *
  * Failure policy (round 5): a run that throws is recorded in "samples" as the
  * NEGATIVE of its elapsed seconds (a visible error marker that still shows
  * how long the failure took) and is excluded from the min and the total. A
  * query with no successful run reports -1 in "queries", contributes nothing
  * to "value", and is listed under "errors" — a broken query can no longer
  * masquerade as a speedup by failing fast on its re-runs.
  */
object Bench {
  /** Between-query block hygiene (round 11): the committed round-10 bench
    * carried a consecutive ten-query block at 5–36× its isolated re-run —
    * the single-JVM run never unpersisted, so hundreds of queries'
    * localCheckpoint blocks piled up in the block manager and a mid-run
    * stretch paid for it. Sweeps cached plans and unprotected persisted
    * RDDs; the FrameMemo index frames are exempt (unpersisting a
    * localCheckpoint truncates lineage — eviction there would BREAK later
    * readers, not merely slow them). Run after every query. */
  def sweep(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    val prot = graft.ops.FrameMemo.protectedIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!prot.contains(id)) rdd.unpersist(blocking = false)
    }
  }

  /** Runs `df` to completion through the noop sink: every row and column is
    * produced, as `Verify` writes them, and nothing is stored. A `count()`
    * would let Catalyst prune the columns it does not read. */
  def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // local iteration only (driver sets no env): comma-separated names
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
    // Per-query progress on STDERR (round 16, r15 VERDICT #1): the r15
    // driver's 32-core run was killed by its timeout with no way to tell
    // which query was in flight. These lines never touch stdout, so the
    // driver's one-line-JSON parse is unaffected.
    def progress(msg: String): Unit = System.err.println(s"[bench] $msg")
    queries.zipWithIndex.foreach { case ((name, fn), i) =>
      if (i % 50 == 0) progress(s"warmup ${i + 1}/${queries.size} $name")
      try materialize(fn(spark, warmDir)) catch { case _: Throwable => () }
    }
    // (elapsed seconds, succeeded). Elapsed is kept for failed runs so the
    // samples line can show how long the failure took (as a negative marker).
    def timed(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { materialize(fn(spark, sfDir)); true } catch { case _: Throwable => false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    def sentinel(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // Explicit suffix-index attribution (round 12): the one-time
    // FrameMemo suffix builds used to land on whichever of
    // q396/q397/q406/q411 ran first, making those four queries'
    // numbers incomparable across runs (13.0 s on q406 in one run,
    // elsewhere in another). Pre-build both memos for the timed sf dir
    // HERE and report the build as its own line item; the four queries
    // then show their marginal (index-reusing) cost in every run.
    val suffixConsumers = Set("q396_suffix_ranks", "q397_bwt_runs",
      "q406_lcp_repeats", "q411_distinct_substrings")
    val indexBuild: Seq[(String, Seq[(Double, Boolean)])] =
      if (!queries.exists(q => suffixConsumers.contains(q._1))) Seq.empty
      else {
        val t0 = System.nanoTime()
        val ok = try {
          graft.text.SuffixIndex.globalRanksCached(spark, sfDir).count()
          graft.text.SuffixIndex.perDocRanksCached(spark, sfDir).count()
          true
        } catch { case _: Throwable => false }
        Seq("suffix_index_build" -> Seq(((System.nanoTime() - t0) / 1e9, ok)))
      }
    // Warm the sentinel's codegen path too, then take min-of-3.
    sentinel()
    val sentinelSamples = Seq.fill(3)(sentinel())
    val sampled = indexBuild ++ queries.zipWithIndex.map { case ((name, fn), i) =>
      progress(s"timing ${i + 1}/${queries.size} $name")
      // min-of-3 for every query: the summed noise of single samples across
      // hundreds of fast queries is what destabilized the round-9 totals
      val runs = Seq.fill(3)(timed(fn))
      sweep(spark)
      name -> runs
    }
    def minOf(runs: Seq[(Double, Boolean)]): Option[Double] = {
      val ok = runs.collect { case (s, true) => s }
      if (ok.isEmpty) None else Some(ok.min)
    }
    // Locale.ROOT: the f interpolator is locale-sensitive and a
    // comma-decimal default locale would print invalid JSON
    def fmt(d: Double): String = String.format(java.util.Locale.ROOT, "%.4f", d)
    // Failed runs surface as negative seconds in samples and never enter the
    // min; a query with zero successful runs reports -1 and is excluded from
    // the total (and named in "errors") rather than counted as fast.
    val qs = sampled.map { case (k, runs) =>
      "\"" + k + "\":" + fmt(minOf(runs).getOrElse(-1.0))
    }.mkString("{", ",", "}")
    val samplesJson = sampled
      .map { case (k, runs) =>
        val marked = runs.map { case (s, ok) => fmt(if (ok) s else -s) }
        "\"" + k + "\":[" + marked.mkString(",") + "]"
      }
      .mkString("{", ",", "}")
    val errors = sampled.collect { case (k, runs) if minOf(runs).isEmpty => k }
    val errorsJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = sampled.flatMap(r => minOf(r._2)).sum
    val sentinelJson =
      "[" + sentinelSamples.map(fmt).mkString(",") + "]"
    // Round 7: the driver captures only the trailing ~2 kB of stdout, and a
    // 100-entry "queries" map alone overflows that (BENCH_r06 lost q01–q26
    // and parsed as null). So the FULL record — samples, per-query mins,
    // total — is written to a detail FILE (committed per round as
    // BENCH_DETAIL_r{N}.json), and stdout's LAST line carries only the
    // compact summary the driver's gate needs: guaranteed to fit the tail
    // window and parse whole.
    val samplesLine =
      s"""{"metric":"samples","sf":"$sfDir","sentinel_samples":$sentinelJson,"samples":$samplesJson}"""
    val detailLine =
      s"""{"metric":"detail","queries":$qs,"sf":"$sfDir","errors":$errorsJson,"unit":"sec","sentinel_sec":${fmt(sentinelSamples.min)},"value":${fmt(total)}}"""
    val summaryLine =
      s"""{"metric":"total","sf":"$sfDir","n_queries":${queries.size},"errors":$errorsJson,"unit":"sec","sentinel_sec":${fmt(sentinelSamples.min)},"value":${fmt(total)}}"""
    // Partial (SPARK_GRAFT_ONLY) runs must not clobber the committed
    // full-run record (a 3-query iteration once overwrote the full
    // detail file and got swept into a commit).
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      if (only.isDefined) "BENCH_DETAIL_partial.json" else "BENCH_DETAIL.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (samplesLine + "\n" + detailLine + "\n").getBytes("UTF-8"))
    println(samplesLine)
    println(detailLine)
    println(summaryLine)
    spark.stop()
  }
}
