package perfbench

import java.io.File

import scala.util.Random

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The catalog workload: passes over a fixed query list through
  * `SparkEntry.queries(name)(spark, dir)`, every result written to Spark's
  * noop sink (fully materialized, no I/O) and checked in the same
  * execution. Untimed warm-up executions check the golden row count and
  * content digest; timed executions check the golden row count, which
  * costs about 1% of a pass where the digest costs 8–11%. */
object Catalog {
  val minPasses = 2
  /** Untimed passes before the timed window. On 4 cores the first pass
    * takes 14–19 s and pass time keeps falling while JIT and codegen caches
    * fill: the second is about 5.5 s, the fourth about 3.5 s, and from the
    * fifth on a pass is 0–10% faster than the one before. */
  val warmupPasses = 4
  val setupReps = 5

  /** One pass of `catalog_mix`. Eight short queries, where planning, job
    * scheduling and codegen dominate, set the median latency: the batch
    * form of the reference pipeline (q02 decode, q05 decode + derive +
    * enrich, q06 window), relational shapes and text operators. One
    * round-bound loop, where jobs per round dominate, sets the p95: Huber
    * IRLS on `IterativeLoop.fixedEager`. */
  val mix: Seq[String] = Seq(
    "q01_pricing_summary", "q02_json_decode_agg", "q05_enriched", "q06_window_tumbling",
    "q07_filter_project", "q10_anti_join", "q46_edit_distance", "q67_pii_redact",
    "q254_huber_irls")

  private final case class Sample(query: String, seconds: Double, ok: Boolean,
      persistedRdds: Int, storageBytes: Long)

  /** One checked execution of `name`: its content digest when `full`,
    * else its row count. The sweep follows, after the persisted-RDD count
    * has been read. */
  private def execute(ctx: Ctx, name: String, full: Boolean): Sample = {
    val expected = ctx.golden.get((new File(ctx.sfDir).getName, name))
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val (secs, ok) = try {
      val df0 = SparkEntry.queries(name)(spark, ctx.sfDir)
      // The self-check's deliberately corrupted result: one row dropped.
      val df = if (ctx.corrupt.contains(name)) df0.offset(1) else df0
      val (observed, check) =
        if (full) {
          val (o, d) = Digest.observed(df)
          (o, () => { val v = d(); (expected.contains(v), v.toString) })
        } else {
          val (o, n) = Digest.observedRows(df)
          (o, () => { val v = n(); (expected.exists(_.rows == v), s"$v rows") })
        }
      observed.write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      val (ok, got) = check()
      if (!ok) System.err.println(s"[perfbench] $name result $got != golden $expected")
      (s, ok)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        ((System.nanoTime() - t0) / 1e9, false)
    }
    ctx.report.op(ok)
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.size
    val storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    Engine.sweep(spark)
    Sample(name, secs, ok, persisted, storage)
  }

  private def pass(ctx: Ctx, order: Seq[String], full: Boolean): Seq[Sample] = {
    val samples = order.map(execute(ctx, _, full))
    System.err.println(f"[perfbench] pass ${samples.map(_.seconds).sum}%.2f s: " +
      samples.sortBy(_.query).map(s => f"${s.query}=${s.seconds}%.2f").mkString(" "))
    samples
  }

  private def inputsReady(spark: SparkSession, sfDir: String): Unit =
    Option(new File(sfDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach(f => spark.read.parquet(f.getPath).schema)

  def run(ctx: Ctx, queries: Seq[String], restartQuery: String): Unit = {
    val r = ctx.report
    val rnd = new Random(ctx.seed)
    val gc0 = Engine.gcMillis()
    // Warm-up passes (JIT, codegen, footer caches): digest-checked, not
    // timed. A query whose content is wrong here is left out of the timings.
    val warm = (0 until warmupPasses).flatMap(_ => pass(ctx, rnd.shuffle(queries), full = true))
    val wrongContent = warm.filter(!_.ok).map(_.query).toSet

    // Set-up: a new session on the warm engine plus input discovery.
    // Engine (SparkContext) start is timed by restart_s.
    val setups = (0 until setupReps).map { _ =>
      val t0 = System.nanoTime()
      inputsReady(ctx.spark.newSession(), ctx.sfDir)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[perfbench] set-up ${setups.map(s => f"$s%.3f").mkString(" ")} s")

    // Timed window: whole passes until `seconds` have elapsed, and at least
    // `minPasses`, so each query's time is a median. A traced run
    // alternates untraced and traced passes so it can report the overhead.
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Seq[Sample]]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Seq[Sample]]
    val trace = if (ctx.trace) Some(new Trace(ctx.spark)) else None
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    while (untraced.size < minPasses || elapsed < ctx.seconds || (ctx.trace && traced.size < minPasses)) {
      val order = rnd.shuffle(queries)
      if (ctx.trace && untraced.size > traced.size) {
        trace.get.start()
        traced += pass(ctx, order, full = false)
        trace.get.stop()
      } else untraced += pass(ctx, order, full = false)
    }

    // Restart: a fresh session until the first checked result, three times.
    val restarts = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      ctx.restartSession()
      execute(ctx, restartQuery, full = false)
      (System.nanoTime() - t0) / 1e9
    }
    val heap = Engine.retainedHeapMb()

    // Each query's median over the window's passes; failed executions
    // count only in ops_ok_ratio.
    def medians(passes: Seq[Seq[Sample]]): Seq[Double] =
      passes.flatten.filter(s => s.ok && !wrongContent(s.query)).groupBy(_.query)
        .values.map(ss => Stats.median(ss.map(_.seconds))).toSeq
    if (!ctx.trace) {
      val perQuery = medians(untraced.toSeq)
      r.put("setup_s", Stats.median(setups), "s")
      r.put("ops_ok_ratio", r.okRatio, "ratio")
      r.put("heap_retained_mb", heap, "MB")
      r.put("pass_s", perQuery.sum, "s")
      r.put("latency_p50_ms", Stats.quantileOr0(perQuery.map(_ * 1000), 0.5), "ms")
      r.put("latency_p95_ms", Stats.quantileOr0(perQuery.map(_ * 1000), 0.95), "ms")
      r.put("restart_s", Stats.median(restarts), "s")
    } else {
      val ts = traced.flatten.toSeq
      Stream.idleStreamLayers(r)
      trace.get.report(r, ts.size, ts.map(_.seconds * 1000).sum, ctx.cores)
      r.put("persisted_rdds_after_query", Stats.mean(ts.map(_.persistedRdds.toDouble)), "count")
      r.put("storage_mem_bytes_after_query", Stats.mean(ts.map(_.storageBytes.toDouble)), "bytes")
      r.put("trace_overhead_ratio", medians(traced.toSeq).sum / medians(untraced.toSeq).sum, "ratio")
      r.put("jvm_gc_ms", (Engine.gcMillis() - gc0).toDouble, "ms")
      r.put("sentinel_s", Engine.sentinelSeconds(ctx.spark), "s")
      OpsLeg.measure(ctx)
    }
  }

  /** Golden values for every catalog query at one scale factor, recorded
    * twice in different orders; a query whose two digests differ is not
    * deterministic and is reported instead of recorded. */
  def record(ctx: Ctx): Seq[(String, Digest.Value)] = {
    def once(order: Seq[String]) = order.map { q =>
      val df = SparkEntry.queries(q)(ctx.spark, ctx.sfDir)
      val (observed, digest) = Digest.observed(df)
      observed.write.format("noop").mode("overwrite").save()
      Engine.sweep(ctx.spark)
      q -> digest()
    }.toMap
    val a = once(mix)
    ctx.restartSession()
    val b = once(mix.reverse)
    val unstable = mix.filter(q => a(q) != b(q))
    require(unstable.isEmpty, s"non-deterministic results: ${unstable.map(q => s"$q ${a(q)} ${b(q)}")}")
    mix.map(q => q -> a(q))
  }
}
