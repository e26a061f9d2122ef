package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What one run knows: its arguments, its work dir, and the live session. */
final class Ctx(
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val work: File,
    val cache: File,
    val sfDir: String,
    val golden: Golden.Table,
    val corrupt: Option[String]) {

  val cores: Int = Runtime.getRuntime.availableProcessors
  val report = new Report
  private var current: SparkSession = _

  def spark: SparkSession = {
    if (current == null) current = Engine.session(work, cores)
    current
  }

  /** Stop the session (if any) and start a fresh one: an engine restart
    * inside the same JVM. */
  def restartSession(): SparkSession = {
    stopSession()
    spark
  }

  def stopSession(): Unit = if (current != null) {
    current.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    current = null
  }

  def dir(name: String): File = {
    val d = new File(work, name)
    d.mkdirs()
    d
  }
}
