package graft

import graft.io.ParquetSchema
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loading for the local TPC-H-ish testdata (TESTDATA.md).
  *
  * Each read is given its schema, taken from the table file's footer on the
  * driver by [[graft.io.ParquetSchema]]. A bare `spark.read.parquet` would
  * run a Spark job per read to infer the same schema, a large share of a
  * short catalog query's fixed cost. The footer schema is the one inference
  * would pick, converted under the session's conf at call time, which is
  * why `events` sets `nanosAsLong` before it reads a NANOS file. */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(ParquetSchema.of(spark, path)).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /**
   * `events.ts` has shipped in two parquet encodings across testdata
   * generations: TIMESTAMP(NANOS) (which Spark's reader rejects —
   * [PARQUET_TYPE_ILLEGAL] — so we read nanos as long via the legacy conf and
   * truncate to µs, matching DuckDB's ns→µs behavior) and plain TIMESTAMP(µs)
   * (readable directly). Branch on the physical schema so both work. Only a
   * NANOS file sets the conf on the caller's session, before `apply`,
   * because the footer schema is converted under it (unset, the column
   * fails to convert) and the scan reads the file under it when it runs; a
   * µs file leaves the session's conf as it found it.
   */
  def events(s: SparkSession, d: String): DataFrame = {
    if (nanosTs(ParquetSchema.stored(s, s"$d/events.parquet")))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ =>
        // Plain parquet TIMESTAMP(µs) surfaces as TIMESTAMP_NTZ; normalize to
        // TIMESTAMP (LTZ) — an identity cast under the UTC session zone — so
        // functions like unix_micros/from_utc_timestamp resolve.
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  private def nanosTs(stored: MessageType): Boolean =
    stored.containsField("ts") && (stored.getType(stored.getFieldIndex("ts")).getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
      case _ => false
    })

  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
