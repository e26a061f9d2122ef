package graft.streaming

import graft.sinks.KeyedParquetSink
import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming training-data ingest: the document-curation counterpart of the
 * order pipeline. Same batch/stream-unified contract — every stage is a pure
 * DataFrame => DataFrame, so the identical plan runs over a bounded frame
 * (tests, backfills) or an unbounded stream (ingest).
 *
 *   raw docs (doc_id, text, ingest_ts)
 *     -> text stats + quality score          (narrow, codegen'd, no shuffle)
 *     -> quality gate                        (filter)
 *     -> content-hash + within-watermark dedup (bounded state)
 *     -> keyed idempotent sink on content_hash (exactly-once effect)
 *
 * At 100 TB: the only stateful pieces are the dedup state (watermark-bounded
 * to the ingest-time skew window) and the sink's hash-bucketed upsert —
 * everything else is embarrassingly parallel.
 */
object DocsPipeline {

  /** Stats + quality stage (batch or streaming). */
  def withQuality(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("avg_token_len",
        TextOps.totalTokenLen(toks).cast("double") / size(toks).cast("double"))
      .withColumn("stop_ratio",
        TextOps.stopwordCount(toks).cast("double") / size(toks).cast("double"))
      .withColumn("punct_ratio",
        TextOps.punctCount(col("text")).cast("double") / length(col("text")).cast("double"))
      .withColumn("quality_score",
        TextOps.qualityScore(col("n_tokens"), col("avg_token_len"),
          col("stop_ratio"), col("punct_ratio")))
  }

  /** The shared front half of both curation paths: observed quality gate
    * ("quality_gate": rows seen + rows dropped, surfaced per micro-batch in
    * `StreamingQueryProgress.observedMetrics` and through
    * [[graft.ops.StageLogger.attach]] in batch, at zero extra passes) +
    * normalized content hash. */
  private def gated(docs: DataFrame, minQuality: Double): DataFrame = {
    val keep = col("quality_score") >= minQuality
    graft.ops.Metrics.observeGate(withQuality(docs), "quality_gate", keep)
      .filter(keep)
      .withColumn("content_hash", md5(TextOps.normalize(col("text"))))
  }

  /** Quality gate + exact dedup, streaming-legal (state bounded by the
    * watermark on ingest time). */
  def curate(docs: DataFrame, minQuality: Double, lateness: String = "10 minutes"): DataFrame =
    gated(docs, minQuality)
      .withWatermark("ingest_ts", lateness)
      .dropDuplicatesWithinWatermark("content_hash")

  /** [[curate]] with NEAR-dup suppression instead of exact: the dedup key
    * is the 64-bit SimHash fingerprint of the normalized token BAG, so any
    * reordering / re-wrapping / re-layout of the same tokens collides by
    * construction (simhash is order-invariant — the exact content_hash
    * would treat each permutation as new), and small token edits collide
    * with high probability when the fingerprint's vote margins are wide.
    * Same bounded-state watermark contract as [[curate]]. Fingerprint
    * equality is the zero-hamming case; a stream needing hamming > 0 runs
    * the batch pigeonhole pass ([[graft.dedup.Dedup.simhashPairs]]) over
    * the sink as periodic compaction. */
  def curateNearDup(docs: DataFrame, minQuality: Double,
      lateness: String = "10 minutes"): DataFrame = {
    gated(docs, minQuality)
      .withColumn("simhash",
        graft.functions.GraftFunctions.simhash64(TextOps.tokens(TextOps.normalize(col("text")))))
      .withWatermark("ingest_ts", lateness)
      .dropDuplicatesWithinWatermark("simhash")
  }

  /**
   * Stream-safe benchmark decontamination gate: drops every doc sharing at
   * least one word n-gram with the STATIC benchmark corpus — the streaming
   * counterpart of [[graft.curation.Curation.contaminationFlags]], whose
   * batch shape (a join against stream-derived hit ids) is not legal in a
   * stream. The benchmark's distinct shingle set is collected once at
   * plan-build time (eval sets are small by definition — the same argument
   * that lets the batch operator broadcast them; `maxBenchShingles` fails
   * loudly if someone passes a corpus instead of a benchmark), xxhash64-ed
   * and SORTED, and the gate probes it with a codegen'd binary-search
   * kernel ([[graft.functions.ShingleHashOverlap]]): a clean doc — the vast
   * majority — pays shingles × log2(|bench|) long compares instead of
   * scanning a |bench|-sized literal per row, and the serialized plan
   * carries 8 bytes per benchmark shingle instead of the string. Hash
   * equality mirrors the batch path's string equality up to xxhash64
   * collisions (~2^-64 per probe); the law spec holds the two paths equal.
   * The gate stays a NARROW filter: no state, no shuffle,
   * batch/stream-unified. Docs too short to shingle pass untouched
   * (trivially clean, matching the batch contract).
   */
  def decontaminateGate(docs: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 8,
      maxBenchShingles: Int = 1 << 17): DataFrame = {
    // cap default 131k: real eval sets carry 10^4-10^5 distinct n-grams.
    // The hashed probe made the cap cheap to exceed technically (log2 probe
    // cost, 8 B/shingle in the plan — 131k is ~1 MB), but the cap's REAL
    // job is catching a mistaken corpus argument: a benchmark with more
    // distinct 8-grams than this is a corpus, and the driver-side collect
    // of the shingle strings (pre-hash) is where that mistake would hurt
    // first
    require(!benchmark.isStreaming, "benchmark must be a static (bounded) frame")
    // round 16: the kernel hashes shingles in-task (shingledHashed), so the
    // collect ships 8 bytes per shingle and the driver never re-hashes.
    val benchShingles = graft.dedup.Dedup.shingledHashed(benchmark, idCol, textCol, n)
      .select(explode(col("s")).as("sh")).distinct()
      .limit(maxBenchShingles + 1)
      .collect().map(_.getLong(0))
    require(benchShingles.length <= maxBenchShingles,
      s"benchmark has > $maxBenchShingles distinct $n-grams — that is a corpus, " +
        "not an eval set; use the batch contaminationFlags/contaminationScores path")
    val benchHashes = benchShingles
    java.util.Arrays.sort(benchHashes)
    // coalesce(true): a null text tokenizes to null -> null predicate, which
    // filter would DROP — but the batch operator keeps null-text docs as
    // trivially clean, and the law spec holds the two paths equal.
    // The predicate is materialized as a NAMED column so the observe
    // aggregate and the filter share ONE evaluation of the shingle kernel
    // (non-cheap aliases survive CollapseProject; an inline expression
    // would tokenize+shingle every row twice).
    val clean = coalesce(
      !graft.functions.GraftFunctions.shingleHashOverlap(
        TextOps.tokens(col(textCol)), typedLit(benchHashes), n),
      lit(true))
    graft.ops.Metrics.observeGate(
      docs.withColumn("__clean", clean), "contamination_gate", col("__clean"))
      .filter(col("__clean"))
      .drop("__clean")
  }

  /**
   * Streaming near-dup CLUSTER maintenance — the streaming twin of
   * [[graft.dedup.Dedup.dropNearDups]], closing the gap [[curateNearDup]]
   * leaves open: the SimHash watermark dedup suppresses zero-hamming
   * re-sends within a window, but near-dup PAIRS discovered across
   * batches never merged labels, so two mutually-near docs arriving a day
   * apart both survived. This handler maintains TWO keyed stores:
   *
   *   - `docsSink` (key `idCol`): the corpus ingested so far;
   *   - `labelSink` (key `id`): canonical CC labels over every near-dup
   *     pair ever discovered, maintained by [[StreamingCc.mergeBatch]].
   *
   * Per micro-batch: anti-join re-deliveries away (at-least-once input),
   * discover exactly the pairs touching the new docs
   * ([[graft.dedup.Dedup.jaccardPairsDelta]] — exact n-gram Jaccard, the
   * same predicate as the batch verb), feed them through the incremental
   * CC merge, then upsert the new docs. Both sinks carry the epoch
   * high-water guard, so a replayed batch is a no-op end to end.
   *
   * The maintained law (DocsPipelineSpec): after any prefix of batches,
   * [[nearDupKeepSet]] ≡ `dropNearDups` over the union of every doc
   * ingested so far — streamed curation converges to exactly what the
   * batch pass would have produced.
   */
  def nearDupClusterBatch(docsSink: KeyedParquetSink, labelSink: KeyedParquetSink,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      threshold: Double = 0.6)(batch: DataFrame, epochId: Long): Unit = {
    val spark = batch.sparkSession
    val incoming = batch.select(col(idCol), col(textCol))
      .dropDuplicates(idCol) // in-batch re-delivery: ids are append-only
    val stored = docsSink.read(spark).map(_.select(col(idCol), col(textCol)))
    val delta = stored match {
      case Some(st) => incoming.join(st.select(col(idCol)), Seq(idCol), "left_anti")
      case None => incoming
    }
    val pairs = graft.dedup.Dedup.jaccardPairsDelta(
      stored.getOrElse(delta.limit(0)), delta, idCol, textCol, n, threshold)
    // labels first: the pair plan reads docsSink's CURRENT files; the
    // label upsert materializes it before the docs upsert swaps manifests
    StreamingCc.mergeBatch(labelSink, "a_id", "b_id")(pairs, epochId)
    docsSink.upsert(delta, epochId)
  }

  /** The curated view over [[nearDupClusterBatch]]'s two stores: every
    * ingested doc whose id is its near-dup cluster's minimum (docs in no
    * pair survive trivially — [[graft.dedup.Dedup.keepCanonical]]'s
    * contract). Empty until the first committed batch. */
  def nearDupKeepSet(spark: org.apache.spark.sql.SparkSession,
      docsSink: KeyedParquetSink, labelSink: KeyedParquetSink,
      idCol: String = "doc_id"): Option[DataFrame] =
    docsSink.read(spark).map { docs =>
      labelSink.read(spark) match {
        case Some(labels) =>
          graft.dedup.Dedup.keepCanonical(docs, idCol,
            labels.select(col("id"), col("component")))
        case None => docs
      }
    }

  /** Stream wiring for [[nearDupClusterBatch]]: raw docs → maintained
    * (corpus, cluster-label) stores. */
  def runNearDupClusters(docs: DataFrame, docsPath: String, labelsPath: String,
      checkpointDir: String, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, threshold: Double = 0.6): StreamingQuery =
    docs.writeStream
      .queryName("graft-docs-neardup-cc")
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(nearDupClusterBatch(
        new KeyedParquetSink(docsPath, idCol),
        new KeyedParquetSink(labelsPath, "id"), idCol, textCol, n, threshold) _)
      .start()

  /** Streaming terminal: curated docs -> keyed idempotent sink. */
  def runToKeyedSink(
      docs: DataFrame, minQuality: Double,
      sinkPath: String, checkpointDir: String): StreamingQuery = {
    val sink = new KeyedParquetSink(sinkPath, "content_hash")
    curate(docs, minQuality).writeStream
      .queryName("graft-docs-ingest")
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        sink.upsert(batch, epochId)
      }
      .start()
  }
}
