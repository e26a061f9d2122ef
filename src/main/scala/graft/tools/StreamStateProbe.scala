package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.{GraftSession, Tables}
import graft.sinks.KeyedParquetSink
import graft.streaming.{AmsObs, Quota, QuotaDoc, StreamingAgg, StreamingAmsF2, StreamingFingerprint}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/**
 * Round-10 probe: MEASURED state-size bounds for the stateful streaming
 * components at ×{1,4,10} input volume — the scaladoc claims
 * ("O(domains) state", "O(sources) rows", "segments bounded forever
 * under ingest") asserted against real runs, the streaming counterpart
 * of ScaleProbe's batch α exponents.
 *
 * Probe design: input ROWS grow ×k (sf0.1 events/documents replicated
 * with disjoint row ids) while the KEY space (event types, sources,
 * salted user buckets) stays fixed — the 100 TB shape: an unbounded
 * stream against a bounded entity universe. A component passes when its
 * measured state (state-store rows for flatMapGroupsWithState; sink
 * rows/bytes for the incremental foreachBatch aggregates) is FLAT
 * across k. Each ×k run feeds its input in 4 micro-batches so per-epoch
 * merge behavior — not one giant batch — is what's measured.
 */
object StreamStateProbe {

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val evBase = Tables.events(spark, "/root/testdata/sf0.1")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val docBase = Tables.documents(spark, "/root/testdata/sf0.1")
      .select(col("doc_id"), col("text"), col("source"))

    // rows ×k with disjoint row ids; key columns untouched (fixed universe)
    def evK(k: Int): DataFrame = (0 until k).map { i =>
      evBase.select((col("event_id") + lit(i * 10000000L)).as("event_id"),
        col("user_id"), col("event_type"), col("value"))
    }.reduce(_ unionByName _)
    def docK(k: Int): DataFrame = (0 until k).map { i =>
      docBase.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        col("text"), col("source"))
    }.reduce(_ unionByName _)

    // 4 synthetic epochs per run: slice by row-id modulus
    def epochs(df: DataFrame, idCol: String): Seq[DataFrame] =
      (0 until 4).map(e => df.filter(pmod(col(idCol), lit(4)) === e))

    val ks = Seq(1, 4, 10)
    println("component            k    input_rows  state_rows  state_bytes  note")

    // ---- X94 incremental count/sum agg: state = one row per event_type ----
    ks.foreach { k =>
      val path = tmp("sprobe-agg")
      val sink = new KeyedParquetSink(path, "event_type")
      val in = evK(k)
      epochs(in, "event_id").zipWithIndex.foreach { case (b, e) =>
        StreamingAgg.mergeBatch(sink, "event_type", "value")(b, e.toLong)
      }
      val st = sink.read(spark).get
      println(f"incremental-agg      $k%-4d ${in.count()}%-11d ${st.count()}%-11d ${dirBytes(Paths.get(path))}%-12d keys=event_type")
    }

    // ---- X135 fingerprint maintenance: state = one row per source ----
    ks.foreach { k =>
      val path = tmp("sprobe-fp")
      val sink = new KeyedParquetSink(path, "source")
      val in = docK(k)
      epochs(in, "doc_id").zipWithIndex.foreach { case (b, e) =>
        StreamingFingerprint.mergeBatch(sink, "doc_id", "text", "source")(b, e.toLong)
      }
      val st = sink.read(spark).get
      println(f"fingerprint          $k%-4d ${in.count()}%-11d ${st.count()}%-11d ${dirBytes(Paths.get(path))}%-12d keys=source")
    }

    // ---- X116 per-domain quota: REAL state store rows via MemoryStream ----
    ks.foreach { k =>
      implicit val sq = spark.sqlContext
      val mem = MemoryStream[QuotaDoc]
      val q = Quota.domainQuota(mem.toDS(), cap = 50)
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", tmp("sprobe-quota-ckpt")).start()
      val rows = docK(k).select(col("doc_id"), col("source"))
        .as[(Long, String)].collect().map(r => QuotaDoc(r._1, r._2))
      val nDomains = rows.map(_.domain).distinct.length
      rows.grouped(math.max(rows.length / 4, 1)).foreach { g =>
        mem.addData(g.toSeq); q.processAllAvailable()
      }
      val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
      q.stop()
      println(f"quota                $k%-4d ${rows.length}%-11d $stateRows%-11d ${0L}%-12d domains=$nDomains")
    }

    // ---- X432c streaming AMS F2: state = 16 longs per series forever ----
    ks.foreach { k =>
      implicit val sq = spark.sqlContext
      val mem = MemoryStream[AmsObs]
      val q = StreamingAmsF2.summarize(mem.toDS())
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", tmp("sprobe-ams-ckpt")).start()
      val rows = evK(k).select(col("event_type"), col("event_id"), col("user_id"))
        .as[(String, Long, Long)].collect()
        .map(r => AmsObs(r._1, r._2, r._3.toString))
      val nSeries = rows.map(_.series).distinct.length
      rows.grouped(math.max(rows.length / 4, 1)).foreach { g =>
        mem.addData(g.toSeq); q.processAllAvailable()
      }
      val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
      q.stop()
      println(f"ams-f2               $k%-4d ${rows.length}%-11d $stateRows%-11d ${0L}%-12d series=$nSeries (16 longs each)")
    }

    // ---- streaming incremental CC: state = one row per node ever seen.
    // Fixed node universe (user ids folded mod 997) with edge VOLUME
    // growing ×k — the 100 TB dedup-store shape: the entity space is
    // bounded, the near-dup edge stream is not. PASS = state rows flat
    // at ≤ the universe size AND the stored labels equal the one-shot
    // batch CC (the StreamingCcSpec law re-asserted at probe volume). ----
    ks.foreach { k =>
      val path = tmp("sprobe-cc")
      val sink = new KeyedParquetSink(path, "id")
      val in = evK(k).select(
        pmod(col("user_id"), lit(997)).as("x"),
        pmod(col("user_id") * 31 + pmod(col("event_id"), lit(7)), lit(997)).as("y"),
        col("event_id"))
      epochs(in, "event_id").zipWithIndex.foreach { case (b, e) =>
        graft.streaming.StreamingCc.mergeBatch(sink)(
          b.select(col("x"), col("y")), e.toLong)
      }
      val st = sink.read(spark).get.select(col("id"), col("component"))
      val full = graft.graph.Graph.hookComponents(
        in.select(col("x"), col("y")), "x", "y")
      val diff = st.exceptAll(full).count() + full.exceptAll(st).count()
      println(f"streaming-cc         $k%-4d ${in.count()}%-11d ${st.count()}%-11d ${dirBytes(Paths.get(path))}%-12d nodes<=997 fixed universe; vs-batch-diff=$diff")
    }

    // ---- docs near-dup cluster maintenance: state = corpus rows + one
    // label row per PAIRED doc, both bounded by the doc universe. The
    // stream is at-least-once, so the ×k axis here is RE-DELIVERY: the
    // same fixed universe arrives k times over 4k epochs (the unbounded-
    // stream-over-bounded-entities shape). PASS = both stores flat
    // across k AND the keep-set equals batch dropNearDups (the
    // DocsPipelineSpec law re-asserted at probe volume). ----
    ks.foreach { k =>
      // pinned deterministically (orderBy before limit) and cached: an
      // unordered limit is stable only while the scan order is — any
      // upstream layout change would make re-deliveries carry DIFFERENT
      // rows and falsely fail the FLAT/keep-set check (round-14 ADVICE)
      val universe = docBase.select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).limit(2000).cache()
      val docsPath = tmp("sprobe-nddocs")
      val labelsPath = tmp("sprobe-ndlab")
      val docsSink = new KeyedParquetSink(docsPath, "doc_id")
      val labelSink = new KeyedParquetSink(labelsPath, "id")
      val handler = graft.streaming.DocsPipeline
        .nearDupClusterBatch(docsSink, labelSink) _
      var epoch = 0L
      (0 until k).foreach { _ =>
        (0 until 4).foreach { e =>
          handler(universe.filter(pmod(col("doc_id"), lit(4)) === e), epoch)
          epoch += 1
        }
      }
      val docsRows = docsSink.read(spark).get.count()
      val labelRows = labelSink.read(spark).get.count()
      val keep = graft.streaming.DocsPipeline
        .nearDupKeepSet(spark, docsSink, labelSink).get
        .select(col("doc_id"))
      val batch = graft.dedup.Dedup.dropNearDups(universe).select(col("doc_id"))
      val diff = keep.exceptAll(batch).count() + batch.exceptAll(keep).count()
      val ndBytes = dirBytes(Paths.get(docsPath)) + dirBytes(Paths.get(labelsPath))
      println(f"neardup-cc-docs      $k%-4d ${universe.count() * k * 1L}%-11d ${docsRows + labelRows}%-11d $ndBytes%-12d docs=$docsRows labels=$labelRows (paired only); vs-batch-diff=$diff")
      universe.unpersist(blocking = false)
    }

    spark.stop()
  }
}
