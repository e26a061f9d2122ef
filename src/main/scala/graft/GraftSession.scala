package graft

import graft.functions.GraftExtensions
import org.apache.spark.sql.SparkSession

/** The one way the engine builds a session: Bench, Verify, Smoke, the
  * `graft.tools` mains and the test fixture all run under [[conf]] with the
  * [[GraftExtensions]] injected, so tests check the optimizer config that
  * is benched. The Hadoop side is not in [[conf]]: the engine's classpath
  * `core-site.xml` installs the `file:` file system ([[graft.io.NioLocalFileSystem]])
  * for every Hadoop `Configuration` in the JVM, so sessions built elsewhere
  * get it too. */
object GraftSession {
  def conf(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // InferFiltersFromGenerate clones the generator's input expression into
    // an inferred size()>0 filter; when that input is expensive (from_json
    // of a nested array) the clone re-parses every row a second time in a
    // separate operator where codegen CSE can't reach (q04: 5.5s -> 1.5s).
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.ui.enabled" -> "false")

  def local(cpus: Int): SparkSession =
    SparkSession.builder().master(s"local[$cpus]").config(conf(cpus))
      .withExtensions(new GraftExtensions).getOrCreate()
}
