package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/**
 * Minimal `private[sql]` bridge for the graft engine: build a DataFrame
 * from a hand-constructed logical plan (the documented pattern for Spark
 * extension libraries that add custom operators — the constructor is
 * session-internal but the capability is part of the extension surface).
 */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ⇄ Expression bridge: lets the graft expression library build
    * a Column from a native expression WITHOUT a session function-registry
    * lookup, so its Column API works on any session, including one that
    * never registered the graft functions. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /**
   * Lazy local-checkpoint lineage cut that does NOT inherit the source
   * plan's statistics. `Dataset.localCheckpoint` builds a `LogicalRDD`
   * with `originStats` carried over from the checkpointed plan; in a
   * REPEATED-SQUARING loop (the next round self-joins the previous
   * round) the inherited sizeInBytes estimate squares every round —
   * 20 doubling rounds produced million-digit BigInt products inside
   * `SizeInBytesOnlyStatsPlanVisitor` and planning span minutes on
   * driver-side Toom-Cook multiplication (observed on the q417 rho
   * map). Rebuilding through `internalCreateDataFrame` yields a
   * `LogicalRDD` with default statistics, so each round's estimate is
   * bounded regardless of loop structure. Rows are copied before the
   * checkpoint mark (unsafe-row buffers are reused by the scan).
   */
  def freshLocalCheckpoint(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    spark.internalCreateDataFrame(rdd, ds.schema)
  }
}
