package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler, executor and planning counters of one traced phase, gathered
  * from a SparkListener and a QueryExecutionListener that record only while
  * the phase runs. Totals are divided by the phase's operation count (a
  * query on the catalogs, a micro-batch on the stream). */
final class Trace(spark: SparkSession) {
  import Trace.Task
  @volatile private var recording = false
  private var attached = false
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[Integer]()
  private val phases = new ConcurrentLinkedQueue[(Long, Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (recording) jobStarts.add(e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (recording) stages.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (recording && m != null) tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, e.taskInfo.duration))
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (recording) {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      phases.add((ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private var compileNs0 = 0L
  private var compileNs = 0L

  /** Register the listeners without recording yet. A streaming query
    * plans its batches in a clone of the session taken when it starts, so
    * the stream attaches before it starts its query. */
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def start(): Unit = {
    attach()
    recording = true
    compileNs0 = CodeGenerator.compileTime
  }

  /** Wait until every event of the phase has been delivered, then stop
    * recording and detach. */
  def stop(): Unit = {
    compileNs += CodeGenerator.compileTime - compileNs0
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    recording = false
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Jobs started in [t0, t1] (epoch ms), for calls timed by the benchmark. */
  def jobsBetween(t0: Long, t1: Long): Int = jobStarts.asScala.count(t => t >= t0 && t <= t1)

  /** Per-operation layer metrics over `ops` operations whose wall times
    * summed to `wallMs`, at `cores` task slots. */
  def report(r: Report, ops: Int, wallMs: Double, cores: Int): Unit = {
    val n = math.max(ops, 1).toDouble
    val ts = tasks.asScala.toSeq
    val ph = phases.asScala.toSeq
    r.put("jobs_per_query", jobStarts.size / n, "count")
    r.put("stages_per_query", stages.size / n, "count")
    r.put("tasks_per_query", ts.size / n, "count")
    r.put("task_run_ms", ts.map(_.runMs).sum / n, "ms")
    r.put("task_cpu_ms", ts.map(_.cpuNs).sum / 1e6 / n, "ms")
    r.put("task_gc_ms", ts.map(_.gcMs).sum / n, "ms")
    r.put("shuffle_write_bytes", ts.map(_.shuffleWrite).sum / n, "bytes")
    r.put("shuffle_read_bytes", ts.map(_.shuffleRead).sum / n, "bytes")
    r.put("spill_bytes", ts.map(_.spill).sum / n, "bytes")
    val skews = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val d = st.map(_.durationMs.toDouble)
      d.max / math.max(Stats.median(d), 1.0)
    }
    r.put("task_skew_max", if (skews.isEmpty) 1.0 else skews.max, "ratio")
    r.put("driver_gap_ms", (wallMs - ts.map(_.runMs).sum.toDouble / cores) / n, "ms")
    r.put("plan_analysis_ms", ph.map(_._1).sum / n, "ms")
    r.put("plan_optimizer_ms", ph.map(_._2).sum / n, "ms")
    r.put("plan_physical_ms", ph.map(_._3).sum / n, "ms")
    r.put("codegen_compile_ms", compileNs / 1e6 / n, "ms")
  }
}

object Trace {
  private final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, durationMs: Long)
}
