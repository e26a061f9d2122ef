package graft.streaming

import graft.SparkSpec
import graft.ops.WindowStats
import graft.sinks.KeyedParquetSink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming-semantics tests over MemoryStream: watermark late-data drop,
  * bounded-state dedup, and the foreachBatch → keyed sink path end-to-end
  * (SURVEY.md §2.9 T1-T6).
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("watermarked tumbling agg drops late rows and emits closed windows (append mode)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val counts = WindowStats.tumblingCounts(
      input.toDF().toDF("order_date", "fufilment_type"),
      "order_date", "fufilment_type", "fufilment_type")
    val q = counts.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    try {
      input.addData(ts("2024-01-01 00:00:30") -> "A", ts("2024-01-01 00:01:00") -> "A")
      q.processAllAvailable()
      // advance the watermark far past the first window...
      input.addData(ts("2024-01-01 00:10:00") -> "B")
      q.processAllAvailable()
      // ...then send a LATE row for the closed window: must be dropped
      input.addData(ts("2024-01-01 00:01:30") -> "A", ts("2024-01-01 00:20:00") -> "B")
      q.processAllAvailable()
    } finally q.stop()
    val rows = s.table("wm_test")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("fufilment_type"), col("total_orders"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows.contains(("2024-01-01 00:00:00", "A", 2L))) // late row NOT counted
    assert(!rows.exists { case (w, g, n) => w == "2024-01-01 00:00:00" && g == "A" && n == 3L })
  }

  test("dropDuplicatesWithinWatermark removes duplicate keys with bounded state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val q = deduped.writeStream.format("memory").queryName("ddw_test")
      .outputMode("append").start()
    try {
      input.addData(
        ts("2024-01-01 00:00:00") -> "a",
        ts("2024-01-01 00:00:05") -> "a", // duplicate within watermark
        ts("2024-01-01 00:00:10") -> "b")
      q.processAllAvailable()
    } finally q.stop()
    val ks = s.table("ddw_test").select("k").as[String].collect().sorted.toSeq
    assert(ks === Seq("a", "b"))
  }

  test("Trigger.AvailableNow drains existing file-source data then stops (backfill shape)") {
    val s = spark
    import s.implicits._
    val srcDir = tmpDir("avail-src")
    Seq(("k1", 1), ("k2", 2), ("k3", 3)).toDF("k", "v")
      .write.mode("overwrite").parquet(srcDir)
    val stream = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.IntegerType))))
      .parquet(srcDir)
    val q = stream.writeStream.format("memory").queryName("avail_now")
      .option("checkpointLocation", tmpDir("avail-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000) // AvailableNow terminates by itself after draining
    assert(!q.isActive)
    assert(s.table("avail_now").count() === 3)
  }

  test("streaming foreachBatch → KeyedParquetSink upserts across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[(String, Int)]
    val sink = new KeyedParquetSink(tmpDir("stream-ks"), "data_key", numBuckets = 8)
    val q = input.toDF().toDF("data_key", "v").writeStream
      .outputMode("update")
      .option("checkpointLocation", tmpDir("stream-ckpt"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epochId: Long) =>
        sink.upsert(batch, epochId)
      }
      .start()
    try {
      input.addData("a" -> 1, "b" -> 2)
      q.processAllAvailable()
      input.addData("b" -> 20, "c" -> 30, "d" -> 40)
      q.processAllAvailable()
    } finally q.stop()
    val state = sink.read(s).get.collect()
      .map(r => r.getAs[String]("data_key") -> r.getAs[Int]("v")).toMap
    assert(state === Map("a" -> 1, "b" -> 20, "c" -> 30, "d" -> 40))
    // the progress counts every scan of a batch: the upsert must scan it once
    val inputRows = q.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).toSeq
    assert(inputRows === Seq(2L, 3L))
  }
}
