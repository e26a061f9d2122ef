package graft.tools
import graft.{GraftSession, SparkEntry}

/** Dev-only: print one query's formatted executed plan (after AQE). */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, dir)
    // run THIS QueryExecution's own plan (count() would spawn a separate
    // one and leave this AdaptiveSparkPlan un-finalized)
    val plan = df.queryExecution.executedPlan
    plan.execute().count()
    println(plan.toString)
    spark.stop()
  }
}
