package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.queries.OrderSynth
import graft.sinks.KeyedParquetSink
import graft.streaming.OrdersPipeline
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.countDistinct
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** `orders_stream`: order events from `OrderSynth.rawJson` feed a file-stream
  * source into `OrdersPipeline.runToKeyedSink`.
  *
  * Phases, each separated from the next by a fully committed micro-batch:
  *  - set-up: the query started three times on fresh checkpoint and sink
  *    dirs; the last one then loads an initial state (the preload) in two
  *    micro-batches;
  *  - open loop: a generator thread publishes one file every 100 ms at a
  *    fixed offered rate that does not slow when the pipeline slows; every
  *    event's latency runs from when it was due to the end of the
  *    micro-batch that committed it;
  *  - drains: pre-written backlogs, each published at once;
  *  - restarts, twice: the query is stopped, more files arrive, and the
  *    query restarts from the same checkpoint.
  * About a third of the events in the last three phases re-send a key of an
  * earlier phase with a changed total, so upserts merge into existing state.
  * A key occurs at most once per phase, which makes the expected final state
  * (the last emitted version of every key) independent of how the engine
  * orders rows inside a micro-batch. */
object Stream {
  /** Offered rate of the open loop, events/s. The pipeline is saturated at
    * this rate: a micro-batch costs about 3–3.5 s on 4 cores whatever its
    * size, so batches run back to back and each takes in the input that
    * arrived while the previous one ran. Event latency is therefore about
    * 1.5 times that fixed cost, and the latency window holds two or three
    * batches. A loop that left the pipeline idle between batches would have
    * to publish less than one file per batch time, and would leave one or
    * two batches in a run. */
  val offeredRate = 350.0
  val fileEveryMs = 100L
  val eventsPerBacklogFile = 100
  /** Backlogs drained one after another; `pass_s` is their median. A
    * traced run drains twice as many, traced and untraced alternately. */
  val drains = 2
  /** Share of the open loop, from its start, whose events are not counted
    * in the latency figures: the pipeline reaches back-to-back batches. */
  val openWarmupShare = 0.25

  private val orderId = "\"order_id\":(\\d+)".r
  private val orderTotal = "\"order_total\":(-?[0-9.Ee+-]+)".r

  /** Streaming-engine, generator and sink metrics of a workload that runs
    * no stream: those layers did no work. */
  def idleStreamLayers(r: Report): Unit = {
    Seq("gen_lag_ms_max" -> "ms", "source_backlog_files_end" -> "count",
      "batch_count" -> "count", "batch_rows_p50" -> "count",
      "batch_trigger_ms_p50" -> "ms", "batch_trigger_ms_p95" -> "ms",
      "batch_planning_ms_p50" -> "ms", "batch_getbatch_ms_p50" -> "ms",
      "batch_addbatch_ms_p50" -> "ms", "batch_commit_ms_p50" -> "ms",
      "batch_idle_share" -> "ratio", "upsert_ms_p50" -> "ms", "upsert_ms_p95" -> "ms",
      "upsert_jobs_per_batch" -> "count", "sink_buckets_touched_per_batch" -> "count",
      "sink_rows_rewritten_per_row_in" -> "ratio", "sink_files_per_batch" -> "count",
      "sink_state_rows_end" -> "count", "sink_bytes_per_row" -> "bytes",
      "drain_rows_per_s_1core" -> "1/s").foreach { case (k, u) => r.put(k, 0.0, u) }
  }

  /** One micro-batch as the StreamingQueryListener reported it. */
  private final case class Batch(id: Long, startMs: Long, durations: Map[String, Long]) {
    def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
    def endMs: Long = startMs + triggerMs
  }

  private final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentHashMap[(java.util.UUID, Long), Batch]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (p.numInputRows > 0 && d.contains("addBatch"))
        batches.put((p.id, p.batchId), Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, d))
    }
    def of(q: StreamingQuery): Map[Long, Batch] =
      batches.asScala.collect { case ((id, b), v) if id == q.id => b -> v }.toMap
  }

  /** The event plan: per phase, (key, JSON) in publication order. */
  private final class Plan(base: IndexedSeq[String], rnd: Random) {
    private val fresh = rnd.shuffle(base.indices.toVector).iterator
    val last = mutable.Map.empty[Int, String]

    private def changedTotal(json: String): String = {
      val m = orderTotal.findFirstMatchIn(json).get
      val bumped = math.rint(m.group(1).toDouble * (1.0 + (1 + rnd.nextInt(20)) / 100.0) * 100) / 100
      json.substring(0, m.start(1)) + java.lang.Double.toString(bumped) + json.substring(m.end(1))
    }

    /** n events: a third re-send keys of earlier phases, the rest are new. */
    def phase(n: Int): IndexedSeq[(Int, String)] = {
      val pool = rnd.shuffle(last.keys.toVector.sorted).iterator
      val out = (0 until n).flatMap { _ =>
        if (pool.hasNext && rnd.nextInt(3) == 0) {
          val k = pool.next(); Some(k -> changedTotal(last(k)))
        } else if (fresh.hasNext) {
          val k = fresh.next(); Some(k -> base(k))
        } else None
      }
      out.foreach { case (k, j) => last(k) = j }
      out
    }
  }

  /** The watched directory. Events are published in units: a directory of
    * files written outside the source and renamed in whole, so the source
    * sees all of a unit's files or none, and a backlog lands in one listing. */
  private final class SourceFiles(work: File, name: String) {
    val src: File = new File(work, name); src.mkdirs()
    private val stage = new File(work, s"$name-stage"); stage.mkdirs()
    val published = mutable.ArrayBuffer.empty[String]
    private val paths = mutable.Map.empty[String, String]
    private val sizes = mutable.Map.empty[String, Int]

    def pathOf(file: String): String = paths(file)

    /** Events in a published file. */
    def eventsIn(file: String): Int = sizes(file)

    /** What the source reads: every file of every published unit. */
    def glob: String = new File(src, "*").getPath

    /** Publish `events` as unit `unit` in files of `perFile` events; returns
      * the time the unit became visible. */
    def publish(unit: String, events: Seq[String], perFile: Int = eventsPerBacklogFile): Long = {
      val dir = new File(stage, unit)
      dir.mkdirs()
      val names = events.grouped(perFile).zipWithIndex.map { case (g, i) =>
        val f = f"$unit-$i%04d.json"
        Files.write(new File(dir, f).toPath, g.mkString("", "\n", "\n").getBytes(UTF_8))
        sizes(f) = g.size
        f
      }.toVector
      val t = System.currentTimeMillis()
      Files.move(dir.toPath, new File(src, unit).toPath, StandardCopyOption.ATOMIC_MOVE)
      published ++= names
      names.foreach(f => paths(f) = new File(new File(src, unit), f).getPath)
      t
    }
  }

  /** (source file name, micro-batch id) entries of the file source's own
    * log; its compacted files repeat earlier entries. */
  private def sourceLog(ckpt: File): Seq[(String, Long)] = {
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Option(new File(ckpt, "sources/0").listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => !f.getName.startsWith(".")).flatMap { f =>
        new String(Files.readAllBytes(f.toPath), UTF_8).split('\n').toSeq
          .flatMap(entry.findFirstMatchIn(_))
          .map(m => new Path(m.group(1)).getName -> m.group(2).toLong)
      }
  }

  /** Source file name -> the micro-batch that read it. */
  private def fileBatches(ckpt: File): Map[String, Long] = sourceLog(ckpt).toMap

  private def committedBatches(ckpt: File): Seq[Long] =
    Option(new File(ckpt, "commits").list()).getOrElse(Array.empty).toSeq
      .filter(_.forall(_.isDigit)).map(_.toLong).sorted

  private def startQuery(spark: SparkSession, ctx: Ctx, src: SourceFiles, ckpt: File, sinkDir: File): StreamingQuery = {
    val raw = spark.readStream.format("text").load(src.glob).toDF("value")
    OrdersPipeline.runToKeyedSink(raw, OrderSynth.cityDim(spark, ctx.sfDir), sinkDir.getPath, ckpt.getPath)
  }

  /** Wait until the listener has delivered every batch in `ids`. */
  private def batchesFor(progress: Progress, q: StreamingQuery, ids: Set[Long]): Map[Long, Batch] = {
    val deadline = System.currentTimeMillis() + 30000
    var got = progress.of(q)
    while (!ids.subsetOf(got.keySet) && System.currentTimeMillis() < deadline) {
      Thread.sleep(20); got = progress.of(q)
    }
    require(ids.subsetOf(got.keySet), s"no progress reported for batches ${ids -- got.keySet}")
    got
  }

  private val t00 = System.nanoTime()
  private def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%.1f s: $what")

  def run(ctx: Ctx): Unit = {
    mark("start")
    val r = ctx.report
    val rnd = new Random(ctx.seed)
    val base = events(ctx)
    val n = base.size
    val plan = new Plan(base, rnd)
    val files = new SourceFiles(ctx.work, "src")
    // Event counts, capped by the orders the scale factor has (the
    // self-check runs at sf0.001); a third of the events after the preload
    // re-send old keys, so new keys last for 3/2 as many events.
    val preloadN = math.min(1500, n / 5)
    val backlogN = math.min(1000, n / 10)
    val restartN = math.min(300, n / 25)
    val openN = {
      val reserve = backlogN * drains * (if (ctx.trace) 2 else 1) + 2 * restartN
      math.max(0, math.min((offeredRate * ctx.seconds).toInt, (n - preloadN) * 3 / 2 - reserve))
    }

    // Set-up: the pipeline started on an empty source and sink until its
    // first trigger completes; three times, the last one stays up. It then
    // loads the preload in two micro-batches, which also warm the JVM
    // before the open loop.
    val spark = ctx.spark
    val progress = new Progress
    spark.streams.addListener(progress)
    val trace = if (ctx.trace) Some(new Trace(spark)) else None
    var q: StreamingQuery = null
    var ckpt: File = null
    var sinkDir: File = null
    mark("inputs")
    val setups = (0 until 3).map { rep =>
      if (rep == 2) trace.foreach(_.attach())
      val t0 = System.nanoTime()
      ckpt = ctx.dir(s"ckpt-$rep"); sinkDir = new File(ctx.work, s"sink-$rep")
      q = startQuery(spark, ctx, files, ckpt, sinkDir)
      q.processAllAvailable()
      val s = (System.nanoTime() - t0) / 1e9
      if (rep < 2) q.stop()
      s
    }
    val preload = plan.phase(preloadN).map(_._2)
    preload.grouped((preload.size + 1) / 2).zipWithIndex.foreach { case (half, i) =>
      files.publish(s"preload$i", half)
      q.processAllAvailable()
    }
    val sink = new KeyedParquetSink(sinkDir.getPath, "data_key")
    val gc0 = Engine.gcMillis()
    trace.foreach(_.start())

    mark("setup done")
    // Open loop.
    val openEvents = plan.phase(openN)
    val gapMs = 1000.0 / offeredRate
    val t0 = System.currentTimeMillis() + 200
    val due = openEvents.indices.map(i => t0 + i * gapMs)
    val fileOf = new Array[String](openEvents.size)
    val lags = mutable.ArrayBuffer.empty[Double]
    val generator = new Thread(() => {
      var next = 0
      var tick = 1
      while (next < openEvents.size) {
        val tickAt = t0 + tick * fileEveryMs
        val wait = tickAt - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val from = next
        while (next < openEvents.size && due(next) <= tickAt) next += 1
        if (next > from) {
          val unit = f"open-$tick%05d"
          files.publish(unit, openEvents.slice(from, next).map(_._2), Int.MaxValue)
          (from until next).foreach(fileOf(_) = s"$unit-0000.json")
        }
        lags += (System.currentTimeMillis() - tickAt).toDouble
        tick += 1
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    val genEnd = System.currentTimeMillis()
    val backlogAtEnd = {
      val done = committedBatches(ckpt).toSet
      val batchOf = fileBatches(ckpt)
      files.published.count(f => !batchOf.get(f).exists(done.contains))
    }
    q.processAllAvailable()

    mark("open loop committed")
    // Drains of pre-written backlogs: each is published at once and timed
    // until the micro-batch that committed its last file ends.
    def drain(unit: String): Double = {
      val tPub = files.publish(unit, plan.phase(backlogN).map(_._2))
      q.processAllAvailable()
      val batchOf = fileBatches(ckpt)
      val ids = files.published.filter(_.startsWith(unit + "-")).map(batchOf).toSet
      val bs = batchesFor(progress, q, ids)
      (ids.map(bs(_).endMs).max - tPub) / 1000.0
    }
    // A traced run drains in the order traced, untraced, untraced, traced,
    // so the growing sink state and the warming JIT weigh on both sides of
    // trace_overhead_ratio alike.
    val (drainS, untracedDrains) = trace match {
      case Some(t) =>
        val first = drain("backlog0")
        t.stop()
        val untraced = Seq(drain("untraced0"), drain("untraced1"))
        t.start()
        (Seq(first, drain("backlog1")), untraced)
      case None => ((0 until drains).map(i => drain(s"backlog$i")), Nil)
    }
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val storage = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    trace.foreach(_.stop())
    val openBatchIds = {
      val batchOf = fileBatches(ckpt)
      fileOf.toSeq.map(batchOf).toSet
    }

    mark("drained")
    // Restarts from the same checkpoint, twice: each stops the query, lets
    // more events arrive, and times the restart until its first new epoch
    // commits. Each must resume at exactly the next epoch.
    val restarts = (0 until 2).map { i =>
      val firstNew = committedBatches(ckpt).last + 1
      q.stop()
      files.publish(s"restart$i", plan.phase(restartN).map(_._2))
      val tRestart = System.currentTimeMillis()
      q = startQuery(spark, ctx, files, ckpt, sinkDir)
      q.processAllAvailable()
      val resumedAt = fileBatches(ckpt).filter(_._1.startsWith(s"restart$i-")).values.min
      ((batchesFor(progress, q, Set(firstNew))(firstNew).endMs - tRestart) / 1000.0, resumedAt == firstNew)
    }
    q.stop()
    val failedQuery = q.exception.isDefined

    mark("restarted")
    // Checks: every data batch, then the recovery and state invariants.
    val committed = committedBatches(ckpt)
    val batchOf = fileBatches(ckpt)
    val preloadId = batchOf.filter(_._1.startsWith("preload")).values.max
    val runBatches = progress.of(q).values.filter(_.id > preloadId).toSeq
    runBatches.foreach(_ => r.op(!failedQuery))
    def check(name: String, ok: Boolean): Unit = {
      if (!ok) System.err.println(s"[perfbench] stream check failed: $name")
      r.op(ok)
    }
    check("commits contiguous", committed == (0L to committed.last))
    val batchesOfFile = sourceLog(ckpt).groupBy(_._1).map { case (f, es) => f -> es.map(_._2).toSet }
    check("every file in exactly one committed batch", files.published.forall(f =>
      batchesOfFile.get(f).exists(bs => bs.size == 1 && bs.head <= committed.last)))
    check("every restart resumed at the next epoch", restarts.forall(_._2))
    check("sink high-water mark is the last epoch", sink.readableEpochs(spark).lastOption.contains(committed.last))
    val state = sink.read(spark).get
    val stateRows = state.count()
    check("no duplicate data_key", state.agg(countDistinct("data_key")).head().getLong(0) == stateRows)
    val expectedFile = new File(ctx.work, "expected.txt")
    Files.write(expectedFile.toPath,
      plan.last.toSeq.sortBy(_._1).map(_._2).mkString("", "\n", "\n").getBytes(UTF_8))
    val expected = OrdersPipeline.enriched(
      spark.read.text(expectedFile.getPath), OrderSynth.cityDim(spark, ctx.sfDir))
    val want = Digest.of(expected)
    val got = Digest.of(state)
    if (got != want) System.err.println(s"[perfbench] sink state $got != expected $want")
    check("final state equals the batch pipeline over the last version of every key", got == want)

    mark("checked")
    System.err.println("[perfbench] batches (id trigger_ms): " + progress.of(q).values.toSeq.sortBy(_.id)
      .map(b => s"${b.id}:${b.triggerMs}").mkString(" "))
    val heap = { Engine.sweep(spark); Engine.retainedHeapMb() }
    if (!ctx.trace) {
      val latencies = {
        val bs = batchesFor(progress, q, openBatchIds)
        val from = t0 + openWarmupShare * ctx.seconds * 1000
        openEvents.indices.filter(due(_) >= from).map(i => (bs(batchOf(fileOf(i))).endMs - due(i)).toDouble)
      }
      r.put("setup_s", Stats.median(setups), "s")
      r.put("ops_ok_ratio", r.okRatio, "ratio")
      r.put("heap_retained_mb", heap, "MB")
      r.put("pass_s", Stats.median(drainS), "s")
      r.put("latency_p50_ms", Stats.quantileOr0(latencies, 0.5), "ms")
      r.put("latency_p95_ms", Stats.quantileOr0(latencies, 0.95), "ms")
      r.put("restart_s", Stats.median(restarts.map(_._1)), "s")
    } else {
      val data = runBatches.sortBy(_.id)
      val untracedIds = batchOf.filter(_._1.startsWith("untraced")).values.toSet
      val traced = data.filter(b =>
        b.id <= batchOf.filter(_._1.startsWith("backlog")).values.max && !untracedIds.contains(b.id))
      def p(xs: Seq[Batch], f: Batch => Double, q: Double) = Stats.quantileOr0(xs.map(f), q)
      r.put("gen_lag_ms_max", if (lags.isEmpty) 0.0 else lags.max, "ms")
      r.put("source_backlog_files_end", backlogAtEnd.toDouble, "count")
      r.put("batch_count", data.size.toDouble, "count")
      // Events per batch from the source log: the progress's numInputRows
      // counts each scan of the batch, and upsert scans it twice.
      val rowsOf = batchOf.toSeq.groupBy(_._2).map { case (b, fs) => b -> fs.map(f => files.eventsIn(f._1)).sum }
      r.put("batch_rows_p50", p(data, b => rowsOf.getOrElse(b.id, 0).toDouble, 0.5), "count")
      r.put("batch_trigger_ms_p50", p(data, _.triggerMs.toDouble, 0.5), "ms")
      r.put("batch_trigger_ms_p95", p(data, _.triggerMs.toDouble, 0.95), "ms")
      r.put("batch_planning_ms_p50", p(data, _.durations.getOrElse("queryPlanning", 0L).toDouble, 0.5), "ms")
      r.put("batch_getbatch_ms_p50", p(data, _.durations.getOrElse("getBatch", 0L).toDouble, 0.5), "ms")
      r.put("batch_addbatch_ms_p50", p(data, _.durations.getOrElse("addBatch", 0L).toDouble, 0.5), "ms")
      r.put("batch_commit_ms_p50", p(data, b =>
        (b.durations.getOrElse("walCommit", 0L) + b.durations.getOrElse("commitOffsets", 0L)).toDouble, 0.5), "ms")
      val openBusy = data.filter(b => openBatchIds.contains(b.id))
        .map(b => math.max(0L, math.min(b.endMs, genEnd) - math.max(b.startMs, t0))).sum
      r.put("batch_idle_share", 1.0 - openBusy.toDouble / math.max(genEnd - t0, 1L), "ratio")
      trace.get.report(r, traced.size, traced.map(_.triggerMs.toDouble).sum, ctx.cores)
      r.put("persisted_rdds_after_query", persisted.toDouble, "count")
      r.put("storage_mem_bytes_after_query", storage.toDouble, "bytes")
      r.put("trace_overhead_ratio", Stats.median(drainS) / Stats.median(untracedDrains), "ratio")
      r.put("jvm_gc_ms", (Engine.gcMillis() - gc0).toDouble, "ms")
      r.put("sentinel_s", Engine.sentinelSeconds(spark), "s")
      r.put("sink_state_rows_end", stateRows.toDouble, "count")
      r.put("sink_bytes_per_row", du(sinkDir).toDouble / stateRows, "bytes")
      OpsLeg.measure(ctx)
      sinkLeg(ctx, batchOf, data.filter(b => openBatchIds.contains(b.id)).map(_.id).take(3), files)
      r.put("drain_rows_per_s_1core", oneCoreDrain(ctx, preload), "1/s")
    }
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(du).sum else f.length

  private def manifest(sinkDir: File): Map[Long, String] = {
    val entry = "\"(\\d+)\":\"([^\"]+)\"".r
    Option(new File(sinkDir, "_manifest").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".json")).sortBy(_.getName).lastOption
      .map(f => entry.findAllMatchIn(new String(Files.readAllBytes(f.toPath), UTF_8))
        .map(m => m.group(1).toLong -> m.group(2)).toMap)
      .getOrElse(Map.empty)
  }

  /** Rows in the parquet files under `dir`, from their footers. */
  private def footerRows(spark: SparkSession, dir: File): (Long, Int) = {
    val parts = Option(dir.listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = parts.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
      try reader.getRecordCount finally reader.close()
    }.sum
    (rows, parts.length)
  }

  /** Replays the preload batches and the first open-loop batches of the
    * run, with their exact file sets, through direct `KeyedParquetSink.upsert`
    * calls into a fresh sink, timing each call and reading what it wrote. */
  private def sinkLeg(ctx: Ctx, batchOf: Map[String, Long], openIds: Seq[Long], files: SourceFiles): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val dir = new File(ctx.work, "sinkleg")
    val sink = new KeyedParquetSink(dir.getPath, "data_key")
    val dim = OrderSynth.cityDim(spark, ctx.sfDir)
    val preloadIds = batchOf.filter(_._1.startsWith("preload")).values.toSeq.distinct.sorted
    val ids = preloadIds ++ openIds
    val trace = new Trace(spark)
    trace.start()
    val calls = ids.zipWithIndex.map { case (id, epoch) =>
      val paths = batchOf.filter(_._2 == id).keys.toSeq.sorted.map(files.pathOf)
      val batch = OrdersPipeline.enriched(spark.read.text(paths: _*), dim).cache()
      val rowsIn = batch.count()
      val before = manifest(dir)
      val t0 = System.currentTimeMillis()
      sink.upsert(batch, epoch.toLong)
      val t1 = System.currentTimeMillis()
      batch.unpersist()
      val after = manifest(dir)
      val changed = after.filter { case (b, v) => !before.get(b).contains(v) }
      val written = changed.toSeq.map { case (b, v) => footerRows(spark, new File(dir, s"buckets/__bucket=$b/$v")) }
      (t0, t1, rowsIn, changed.size, written.map(_._1).sum, written.map(_._2).sum)
    }
    trace.stop()
    // The per-batch figures describe the open-loop merges, not the preload.
    val merges = calls.drop(preloadIds.size)
    r.put("upsert_ms_p50", Stats.quantileOr0(merges.map(c => (c._2 - c._1).toDouble), 0.5), "ms")
    r.put("upsert_ms_p95", Stats.quantileOr0(merges.map(c => (c._2 - c._1).toDouble), 0.95), "ms")
    r.put("upsert_jobs_per_batch", Stats.mean(merges.map(c => trace.jobsBetween(c._1, c._2).toDouble)), "count")
    r.put("sink_buckets_touched_per_batch", Stats.mean(merges.map(_._4.toDouble)), "count")
    r.put("sink_rows_rewritten_per_row_in",
      merges.map(_._5).sum.toDouble / math.max(merges.map(_._3).sum, 1L), "ratio")
    r.put("sink_files_per_batch", Stats.mean(merges.map(_._6.toDouble)), "count")
  }

  /** The single-threaded baseline: the preload drained by the same pipeline
    * at local[1] into an empty sink, timed from publication to commit. */
  private def oneCoreDrain(ctx: Ctx, preload: Seq[String]): Double = {
    ctx.stopSession()
    val spark = Engine.session(ctx.work, 1)
    try {
      val progress = new Progress
      spark.streams.addListener(progress)
      val files = new SourceFiles(ctx.work, "src-1core")
      val ckpt = ctx.dir("ckpt-1core")
      val q = startQuery(spark, ctx, files, ckpt, new File(ctx.work, "sink-1core"))
      q.processAllAvailable()
      val tPub = files.publish("preload", preload)
      q.processAllAvailable()
      val end = batchesFor(progress, q, fileBatches(ckpt).values.toSet).values.map(_.endMs).max
      q.stop()
      preload.size / ((end - tPub) / 1000.0)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** The order events of the run's scale factor as `OrderSynth.rawJson`
    * renders them, in order_id order. Synthesizing them is input generation,
    * not measured work, so the first run in a build keeps them in the build's
    * cache dir and later runs read them back. */
  private def events(ctx: Ctx): IndexedSeq[String] = {
    val cached = new File(ctx.cache, s"events-${new File(ctx.sfDir).getName}.txt")
    if (!cached.exists()) {
      val rows = OrderSynth.rawJson(ctx.spark, ctx.sfDir).collect().map(_.getString(0))
      ctx.spark.catalog.clearCache()
      val sorted = rows.sortBy(j => orderId.findFirstMatchIn(j).get.group(1).toInt)
      ctx.cache.mkdirs()
      val tmp = new File(ctx.cache, s".${cached.getName}.${ProcessHandle.current().pid()}")
      Files.write(tmp.toPath, sorted.mkString("", "\n", "\n").getBytes(UTF_8))
      Files.move(tmp.toPath, cached.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    new String(Files.readAllBytes(cached.toPath), UTF_8).split('\n').toIndexedSeq
  }
}
