package graft.tools

import graft.{GraftSession, SparkEntry}
import java.nio.file.{Files, Paths}

/** Dev-only (round 15): dump `.explain("formatted")` for named queries to
  * <outDir>/<name>_<suffix>.txt — the committed before/after plan evidence
  * for the optimization round (plans/r15/...).
  *
  * Usage: DumpPlans <outDir> <suffix> <sfDir> <q1,q2,...> */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println("usage: DumpPlans <outDir> <suffix> <sfDir> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(outDir, suffix, dir, nameCsv) = args.take(4)
    val names = nameCsv.split(',').toSeq
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        // queryExecution.explainString gives the same text explain() prints
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plans] wrote $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"[plans] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
