package graft.sinks

import java.io.File

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec
import graft.io.PlainParquet
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.{ListenerBusDrain, SparkThrowable}
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, lit, udf}
import org.apache.spark.sql.util.QueryExecutionListener

/** The keyed sink's core contracts (SURVEY.md §2.9 T6; ADVICE round 1):
  * replay idempotency, multi-epoch last-write-wins upsert, deterministic
  * intra-batch dedup, and crash-atomic commit (old state survives an
  * uncommitted staging attempt); and its per-batch cost: the input is
  * evaluated once, one exchange, write tasks bounded by the cores.
  */
class KeyedSinkSpec extends SparkSpec {

  private def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Manifest file name → content, oldest first. */
  private def manifests(dir: String): Seq[(String, String)] =
    Option(new File(s"$dir/_manifest").listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".json")).sortBy(_.getName).toSeq
      .map(f => f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))

  private def df(rows: (String, Int)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("data_key", "v")
  }

  private def state(sink: KeyedParquetSink): Map[String, Int] =
    sink.read(spark).map(_.collect().map(r =>
      r.getAs[String]("data_key") -> r.getAs[Int]("v")).toMap).getOrElse(Map.empty)

  test("replay of the same epoch is a no-op (exactly-once effect)") {
    val sink = new KeyedParquetSink(tmpDir("ks-replay"), "data_key", numBuckets = 8)
    val batch = df("a" -> 1, "b" -> 2)
    sink.upsert(batch, epochId = 0)
    val first = state(sink)
    sink.upsert(batch, epochId = 0) // replay: manifest for epoch 0 exists
    assert(state(sink) === first)
    assert(first === Map("a" -> 1, "b" -> 2))
  }

  test("writing the same batch under a new epoch leaves identical state (idempotency law)") {
    val sink = new KeyedParquetSink(tmpDir("ks-idem"), "data_key", numBuckets = 8)
    val batch = df("a" -> 1, "b" -> 2, "c" -> 3)
    sink.upsert(batch, epochId = 0)
    sink.upsert(batch, epochId = 1)
    assert(state(sink) === Map("a" -> 1, "b" -> 2, "c" -> 3))
  }

  test("multi-epoch upsert: incoming rows win, untouched keys survive") {
    val sink = new KeyedParquetSink(tmpDir("ks-upsert"), "data_key", numBuckets = 8)
    sink.upsert(df("a" -> 1, "b" -> 2), epochId = 0)
    sink.upsert(df("b" -> 20, "c" -> 30), epochId = 1)
    assert(state(sink) === Map("a" -> 1, "b" -> 20, "c" -> 30))
  }

  test("intra-batch duplicate keys resolve to the LAST arrival, deterministically") {
    // single-partition input so monotonically_increasing_id is arrival order
    val s = spark
    import s.implicits._
    val batch = Seq("k" -> 1, "k" -> 2, "k" -> 3).toDF("data_key", "v").coalesce(1)
    (0 until 3).foreach { i =>
      val sink = new KeyedParquetSink(tmpDir(s"ks-dup$i"), "data_key", numBuckets = 4)
      sink.upsert(batch, epochId = 0)
      assert(state(sink) === Map("k" -> 3), s"trial $i")
    }
  }

  test("replay of an epoch older than the high-water mark is rejected even after manifest GC") {
    val sink = new KeyedParquetSink(tmpDir("ks-hwm"), "data_key", numBuckets = 1)
    sink.upsert(df("k" -> 0), epochId = 0)
    sink.upsert(df("k" -> 1), epochId = 1)
    sink.upsert(df("k" -> 2), epochId = 2) // manifest GC keeps only epochs 1,2
    sink.upsert(df("k" -> 99), epochId = 1) // replay of a surviving manifest: skip
    assert(state(sink) === Map("k" -> 2))
    // epoch 0's manifest file is GONE — the old exists()-guard would have
    // re-applied this and clobbered k=2 with incoming-wins (ADVICE r2);
    // a silent skip would instead drop new data forever after a checkpoint
    // rebuild, so the sink fails fast
    val boom = intercept[IllegalStateException] { sink.upsert(df("k" -> 99), epochId = 0) }
    assert(boom.getMessage.contains("high-water"))
    assert(state(sink) === Map("k" -> 2))
  }

  test("GC: superseded versions survive exactly one commit; orphans are collected") {
    val dir = tmpDir("ks-gc")
    val sink = new KeyedParquetSink(dir, "data_key", numBuckets = 1)
    def versionDirs: Set[String] = {
      val d = new java.io.File(s"$dir/buckets/__bucket=0")
      Option(d.list()).map(_.toSet).getOrElse(Set.empty)
    }
    sink.upsert(df("k" -> 0), epochId = 0)
    val Seq(v0) = versionDirs.toSeq
    sink.upsert(df("k" -> 1), epochId = 1)
    // retention window: the previous manifest's version is still readable
    assert(versionDirs.contains(v0), "superseded version deleted immediately")
    assert(versionDirs.size === 2)
    // an orphan from a crashed attempt, plus the next commit
    df("k" -> 42).coalesce(1).write.parquet(s"$dir/buckets/__bucket=0/v9_orphan")
    sink.upsert(df("k" -> 2), epochId = 2)
    assert(!versionDirs.contains(v0), "version beyond the retention window kept")
    assert(!versionDirs.contains("v9_orphan"), "crashed-attempt orphan not collected")
    assert(versionDirs.size === 2) // epochs 1 and 2
    assert(state(sink) === Map("k" -> 2))
  }

  test("readAt: time travel inside the retention window, None outside it") {
    val sink = new KeyedParquetSink(tmpDir("ks-tt"), "data_key", numBuckets = 4)
    sink.upsert(df("a" -> 1), epochId = 0)
    sink.upsert(df("a" -> 2, "b" -> 9), epochId = 1)
    assert(sink.readableEpochs(spark) === Seq(0L, 1L))
    // previous commit's state is fully readable (retention GC guarantees
    // its version dirs survive)
    val at0 = sink.readAt(spark, 0L).get.collect()
      .map(r => r.getAs[String]("data_key") -> r.getAs[Int]("v")).toMap
    assert(at0 === Map("a" -> 1))
    assert(state(sink) === Map("a" -> 2, "b" -> 9))
    // a third commit rolls epoch 0 out of the window
    sink.upsert(df("c" -> 3), epochId = 2)
    assert(sink.readableEpochs(spark) === Seq(1L, 2L))
    assert(sink.readAt(spark, 0L).isEmpty)
    val at1 = sink.readAt(spark, 1L).get.collect()
      .map(r => r.getAs[String]("data_key") -> r.getAs[Int]("v")).toMap
    assert(at1 === Map("a" -> 2, "b" -> 9))
  }

  test("crash before manifest commit leaves prior state intact (orphaned staging ignored)") {
    val dir = tmpDir("ks-crash")
    val sink = new KeyedParquetSink(dir, "data_key", numBuckets = 8)
    sink.upsert(df("a" -> 1), epochId = 0)
    // simulate a crashed epoch-1 attempt: data staged but no manifest written
    df("a" -> 99).write.mode("overwrite")
      .parquet(s"$dir/buckets/__bucket=0/v1_deadbeef")
    assert(state(sink) === Map("a" -> 1))
    // and a subsequent committed epoch proceeds normally
    sink.upsert(df("b" -> 2), epochId = 2)
    assert(state(sink) === Map("a" -> 1, "b" -> 2))
  }

  test("a version file without Spark's schema key reads through the footer converter") {
    val dir = tmpDir("ks-nokey")
    val sink = new KeyedParquetSink(dir, "data_key", numBuckets = 1)
    sink.upsert(df("a" -> 1, "b" -> 2), epochId = 0)
    val Seq(version) = new File(s"$dir/buckets/__bucket=0").listFiles().toSeq
    version.listFiles().foreach(f => assert(f.delete()))
    // the same rows, rewritten by a writer that records no Spark row schema
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType()).named("data_key")
      .required(PrimitiveTypeName.INT32).named("v")
      .named("spark_schema")
    PlainParquet.write(s"$version/part-00000-plain.parquet", schema,
      Seq(Seq("data_key" -> "a", "v" -> 1), Seq("data_key" -> "b", "v" -> 2)))
    assert(state(sink) === Map("a" -> 1, "b" -> 2))
    sink.upsert(df("b" -> 20), epochId = 1)
    assert(state(sink) === Map("a" -> 1, "b" -> 20))
  }

  test("a committed version dir with no data file fails naming the dir") {
    val dir = tmpDir("ks-nofile")
    val sink = new KeyedParquetSink(dir, "data_key", numBuckets = 1)
    sink.upsert(df("a" -> 1), epochId = 0)
    val Seq(version) = new File(s"$dir/buckets/__bucket=0").listFiles().toSeq
    version.listFiles().foreach(f => assert(f.delete()))
    val e = intercept[AnalysisException](sink.read(spark))
    assert(e.getMessage.contains(version.getPath))
  }

  test("fault injection: crash BETWEEN data staging and manifest commit, then replay recovers") {
    val dir = tmpDir("ks-faultpoint")
    val sink = new KeyedParquetSink(dir, "data_key", numBuckets = 8)
    sink.upsert(df("a" -> 1, "b" -> 2), epochId = 0)
    // the widest crash window: version dirs already renamed into the bucket
    // tree (NOT just a leftover _staging dir), manifest not yet written
    sink.beforeCommitHook = () => throw new RuntimeException("injected crash")
    val batch = df("a" -> 10, "c" -> 3)
    val cached = persistedRdds
    intercept[RuntimeException] { sink.upsert(batch, epochId = 1) }
    assert(persistedRdds === cached, "the crashed upsert left its input cached")
    // old state fully intact — the orphaned version dirs are invisible
    assert(state(sink) === Map("a" -> 1, "b" -> 2))
    // restart: Spark replays the failed epoch; the replay re-merges against
    // the OLD state and commits — equal to a crash-free run of epoch 1
    sink.beforeCommitHook = () => ()
    sink.upsert(batch, epochId = 1)
    assert(state(sink) === Map("a" -> 10, "b" -> 2, "c" -> 3))
    // the crashed attempt's orphan version dirs are GC'd once their buckets
    // commit again (retention keeps only manifest-referenced versions)
    sink.upsert(df("a" -> 11, "c" -> 4), epochId = 2)
    sink.upsert(df("a" -> 12, "c" -> 5), epochId = 3)
    assert(state(sink) === Map("a" -> 12, "b" -> 2, "c" -> 5))
  }

  test("an upsert evaluates its input plan once and releases its cache") {
    val s = spark
    import s.implicits._
    val sink = new KeyedParquetSink(tmpDir("ks-once"), "data_key", numBuckets = 8)
    sink.upsert(df("k0" -> -1, "old" -> 0), epochId = 0) // existing state to merge with
    // the UDF derives the key, which both the touched-bucket job and the
    // write read, so every evaluation of the batch plan counts each row
    val evals = spark.sparkContext.longAccumulator("keyed-sink-evals")
    val counted = udf { (k: String) => evals.add(1); k }
    val batch = (0 until 200).map(i => s"k$i" -> i).toDF("data_key", "v")
      .withColumn("data_key", counted(col("data_key")))
    val cached = persistedRdds
    sink.upsert(batch, epochId = 1)
    assert(evals.value === 200L, "the batch plan ran more than once")
    assert(persistedRdds === cached, "the upsert left its input cached")
    val want = (0 until 200).map(i => s"k$i" -> i).toMap + ("old" -> 0)
    assert(state(sink) === want)
  }

  test("plan budget: a wide upsert runs no listing job, shuffles once, writes within the cores") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("ks-budget")
    val sink = new KeyedParquetSink(dir, "data_key", numBuckets = 64)
    sink.upsert((0 until 2000).map(i => s"k$i" -> i).toDF("data_key", "v"), epochId = 0)
    val batch = (0 until 2000 by 7).map(i => s"k$i" -> -i).toDF("data_key", "v")

    val writeStages = ArrayBuffer.empty[Int] // task counts of stages that wrote rows
    val plans = ArrayBuffer.empty[SparkPlan]
    val stages = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.outputMetrics.recordsWritten > 0)
          writeStages.synchronized(writeStages += e.stageInfo.numTasks)
    }
    val executions = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val listings = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(stages)
    spark.listenerManager.register(executions)
    try {
      sink.upsert(batch, epochId = 1)
      ListenerBusDrain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(stages)
      spark.listenerManager.unregister(executions)
    }

    val newDirs = new File(s"$dir/buckets").listFiles().toSeq
      .flatMap(_.listFiles().filter(_.getName.startsWith("v1_")))
    val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    assert(newDirs.size > threshold, "the batch must touch more buckets than one listing group")
    assert(HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount === listings,
      "the upsert ran a parallel listing job")
    // the whole upsert shuffles once: the touched-bucket job has no exchange,
    // and the write's merge and window share one
    val shuffles = plans.map(p => PlanShape.shuffles(p) -> PlanShape.writes(p))
    assert(shuffles.map(_._1).sum === 1, s"(shuffles, writes) per SQL execution: $shuffles")
    assert(shuffles.filter(_._2).map(_._1).toSeq === Seq(1))
    assert(writeStages.nonEmpty)
    assert(writeStages.sum <= spark.sparkContext.defaultParallelism, s"write tasks: $writeStages")
    newDirs.foreach { d =>
      assert(d.list().count(_.endsWith(".parquet")) === 1, s"$d holds more than one file")
    }
    val want = (0 until 2000).map(i => s"k$i" -> (if (i % 7 == 0) -i else i)).toMap
    assert(state(sink) === want)

    // reading the state back starts no job either, and yields what a plain
    // parquet read of the manifest's version dirs yields
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val jobStarts = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobStarts)
    val (latest, atLatest) =
      try {
        val frames = (sink.read(spark).get, sink.readAt(spark, 1).get)
        ListenerBusDrain(spark.sparkContext)
        frames
      } finally spark.sparkContext.removeSparkListener(jobStarts)
    assert(jobs.get === 0, "building the read frames started Spark jobs")
    val versionDirs = """"(\d+)":"([^"]+)"""".r.findAllMatchIn(manifests(dir).last._2)
      .map(m => s"$dir/buckets/__bucket=${m.group(1)}/${m.group(2)}").toSeq
    assert(versionDirs.size > threshold)
    val plain = spark.read.parquet(versionDirs: _*)
    Seq(latest, atLatest).foreach { frame =>
      assert(frame.schema === plain.schema)
      assert(frame.collect().sortBy(_.getString(0)).toSeq === plain.collect().sortBy(_.getString(0)).toSeq)
    }
  }

  test("an empty zero-partition batch commits its epoch and leaves the state unchanged") {
    val dir = tmpDir("ks-empty")
    val sink = new KeyedParquetSink(dir, "data_key", numBuckets = 8)
    sink.upsert(df("a" -> 1, "b" -> 2), epochId = 0)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], df("a" -> 1).schema)
    assert(empty.rdd.getNumPartitions === 0)
    sink.upsert(empty, epochId = 1)
    assert(sink.readableEpochs(spark) === Seq(0L, 1L))
    assert(manifests(dir).map(_._2).distinct.size === 1, "the empty epoch changed the state")
    assert(state(sink) === Map("a" -> 1, "b" -> 2))
    sink.upsert(df("b" -> 20), epochId = 2)
    assert(state(sink) === Map("a" -> 1, "b" -> 20))
  }

  test("schema drift against existing state fails loudly and commits nothing") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("ks-drift")
    val sink = new KeyedParquetSink(dir, "data_key", numBuckets = 1) // every key meets the state
    sink.upsert(df("a" -> 1), epochId = 0)
    val committed = manifests(dir)
    val cached = persistedRdds
    val drifted = Seq(
      "an extra column" -> df("a" -> 2).withColumn("extra", lit("x")),
      "a missing column" -> Seq("a").toDF("data_key"),
      "a key of another type" -> Seq(7 -> 2).toDF("data_key", "v"))
    // a changed column set fails analysis; a string key state meets an int
    // key through an ANSI cast, which fails the write
    drifted.foreach { case (what, batch) =>
      val e = intercept[Exception](sink.upsert(batch, epochId = 1))
      assert(e.isInstanceOf[SparkThrowable], s"$what: $e")
      assert(manifests(dir) === committed, s"$what: the manifest changed")
      assert(persistedRdds === cached, s"$what: the failed upsert left its input cached")
    }
    assert(state(sink) === Map("a" -> 1))
  }
}

/** Physical plan shape, adaptive query stages included. */
private object PlanShape extends AdaptiveSparkPlanHelper {
  def shuffles(plan: SparkPlan): Int = collect(plan) { case e: ShuffleExchangeExec => e }.size
  def writes(plan: SparkPlan): Boolean = find(plan)(_.isInstanceOf[DataWritingCommandExec]).isDefined
}
