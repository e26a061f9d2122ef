package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The session every workload runs in: Bench/Verify's conf (UTC, the
  * `InferFiltersFromGenerate` exclusion, shuffle partitions = cores) at
  * `local[cores]`, with every temporary directory Spark would otherwise put in
  * the system temp dir moved under the run's work dir. */
object Engine {
  def session(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "ckpt-default").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Bench.scala's between-query sweep: drop cached plans and every
    * persisted RDD except the FrameMemo index frames (unpersisting those
    * would truncate lineage that later readers still need). */
  def sweep(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    val prot = graft.ops.FrameMemo.protectedIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!prot.contains(id)) rdd.unpersist(blocking = false)
    }
  }

  /** Heap still reachable after a forced full collection, in MB. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Total collection time of every JVM collector so far, in ms. */
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Pure-CPU host sentinel: a range sum that touches no code of the engine. */
  def sentinelSeconds(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Stats.median(Seq.fill(3)(once()))
  }
}
