package graft.tools

import graft.queries.OrderSynth
import graft.sinks.KeyedParquetSink
import graft.streaming.OrdersPipeline
import org.apache.spark.sql.functions._

/** Dev-only end-to-end drive of the streaming path: file stream of raw JSON
  * order events → decode/derive/enrich → foreachBatch keyed sink, two
  * epochs + a simulated crash orphan, verifying committed state each step.
  */
object SinkDrive {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("WARN")
    // R2-parity wiring: every setup stage logs start/ok/failed and fails
    // fast; completed actions emit one event per observed metric stage
    val log = new graft.ops.StageLogger()
    log.attach(spark)
    val work = java.nio.file.Files.createTempDirectory("sinkdrive").toString
    val srcDir = s"$work/src"; val sinkDir = s"$work/sink"; val ckpt = s"$work/ckpt"
    new java.io.File(srcDir).mkdirs()

    // epoch 0 data: the sf0.001 synthesized order events as text files
    log.stage("synthesize_source") {
      OrderSynth.rawJson(spark, "/root/testdata/sf0.001")
        .coalesce(1).write.mode("overwrite").text(srcDir)
    }
    val rawStream = log.stage("build_stream") {
      spark.readStream
        .schema("value STRING")
        .text(srcDir).toDF("value")
    }
    val dim = OrderSynth.cityDim(spark, "/root/testdata/sf0.001")
    val q = log.stage("start_pipeline") {
      OrdersPipeline.runToKeyedSink(rawStream, dim, sinkDir, ckpt)
    }
    q.processAllAvailable()

    val sink = new KeyedParquetSink(sinkDir, "data_key")
    val s1 = sink.read(spark).get.cache()
    val n1 = s1.count()
    val k1 = s1.select(countDistinct("data_key")).head.getLong(0)
    println(s"[drive] epoch0: rows=$n1 distinctKeys=$k1 ${if (n1 == k1 && n1 > 0) "OK" else "MISMATCH"}")

    // crash simulation: orphan staging + uncommitted version dir appear mid-flight
    new java.io.File(s"$sinkDir/buckets/__bucket=0/v99_orphan").mkdirs()
    new java.io.File(s"$sinkDir/_staging_v99_orphan").mkdirs()

    // epoch 1: a second file with updated + new orders (same keys overwrite)
    import spark.implicits._
    val updated = OrderSynth.orderEvents(spark, "/root/testdata/sf0.001")
      .limit(5).withColumn("order_total", lit(999999.0))
    updated.select(to_json(struct(col("*"))).as("value"))
      .coalesce(1).write.mode("append").text(srcDir)
    q.processAllAvailable()
    q.stop()

    val s2 = sink.read(spark).get.cache()
    val n2 = s2.count()
    val k2 = s2.select(countDistinct("data_key")).head.getLong(0)
    val bumped = s2.filter(col("discounted_total") > 500000).count()
    println(s"[drive] epoch1: rows=$n2 distinctKeys=$k2 bumpedRows=$bumped " +
      (if (n2 == k2 && n2 == n1 && bumped > 0) "OK (upsert overwrote, no dupes, orphans ignored)" else "MISMATCH"))
    val manifests = new java.io.File(s"$sinkDir/_manifest").list().sorted.toSeq
    println(s"[drive] manifests=$manifests")
    spark.stop()
  }
}
