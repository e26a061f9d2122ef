package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev-only (round 15): where does a slow query's wall-clock go — real
  * executor work or per-job/per-stage fixed overhead? For each named
  * query: run once to warm (JIT/codegen/footers), then run again with a
  * listener counting jobs, stages, tasks and summed task time. A query
  * whose wall-clock far exceeds taskTime/cores is driver/scheduling-bound
  * (too many actions per round — guide §1/§7.3), not compute-bound.
  *
  * Usage: ProfileTop <sfDir> <q1,q2,...>   (env SPARK_GRAFT_CPUS) */
object ProfileTop {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names: Seq[String] =
      if (args.length > 1) args(1).split(',').toSeq
      else Seq("q420_boruvka_mst", "q445_grid_dbscan", "q446_incremental_cc",
        "q436_hook_components", "q417_rho_cycles", "q419_luby_mis",
        "q113_hits", "q440_jp_coloring")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val qmap = SparkEntry.queries
    println(f"${"query"}%-26s ${"wall_s"}%8s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s ${"taskS"}%8s ${"par"}%6s")
    names.foreach { name =>
      val fn = qmap(name)
      // warm run (also at the timed dir: footer caches, codegen)
      try Bench.materialize(fn(spark, dir)) catch { case e: Throwable =>
        println(s"$name WARM-FAIL ${e.getMessage}") }
      Bench.sweep(spark)
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
      val t0 = System.nanoTime()
      try Bench.materialize(fn(spark, dir)) catch { case e: Throwable =>
        println(s"$name FAIL ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; give the bus a beat
      Thread.sleep(300)
      val ts = taskMs.get() / 1e3
      println(f"$name%-26s $wall%8.2f ${jobs.get()}%6d ${stages.get()}%7d ${tasks.get()}%7d $ts%8.2f ${ts / math.max(wall, 1e-9)}%6.2f")
      Bench.sweep(spark)
    }
    spark.stop()
  }
}
