package perfbench

import java.io.File

import graft.ops.{Derive, Enrich, JsonDecode}
import graft.queries.OrderSynth
import org.apache.spark.sql.DataFrame

/** Self time of the reference pipeline's operators, by difference of
  * noop-materialized stage prefixes over the same raw JSON slice:
  * scan, +JsonDecode.fromRaw, +Derive.curate, +Enrich.withCity. */
object OpsLeg {
  private val reps = 3

  def measure(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rawDir = new File(ctx.work, "opsleg-raw")
    if (!rawDir.exists())
      OrderSynth.rawJson(spark, ctx.sfDir).write.text(rawDir.getPath)
    spark.catalog.clearCache()
    val raw = spark.read.text(rawDir.getPath)
    val rows = raw.count().toDouble
    val dim = OrderSynth.cityDim(spark, ctx.sfDir)
    val prefixes: Seq[DataFrame => DataFrame] = Seq(
      identity,
      JsonDecode.fromRaw(_),
      d => Derive.curate(JsonDecode.fromRaw(d)),
      d => Enrich.withCity(Derive.curate(JsonDecode.fromRaw(d)), dim))
    def time(f: DataFrame => DataFrame): Double = {
      val t0 = System.nanoTime()
      f(raw).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    prefixes.foreach(time)
    val samples = Seq.fill(reps)(prefixes.map(time)).transpose.map(Stats.median)
    val perKrow = 1000.0 / rows
    ctx.report.put("decode_ms_per_krow", (samples(1) - samples(0)) * perKrow, "ms")
    ctx.report.put("derive_ms_per_krow", (samples(2) - samples(1)) * perKrow, "ms")
    ctx.report.put("enrich_ms_per_krow", (samples(3) - samples(2)) * perKrow, "ms")
  }
}
