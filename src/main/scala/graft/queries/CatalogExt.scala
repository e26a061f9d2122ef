package graft.queries

import graft.Tables
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Training-data-pipeline operator catalog (the engine's extension surface
 * beyond the reference's streaming-ETL parity set): text analysis, dedup,
 * similarity search, multimodal plumbing, and session/sliding windows.
 * Same contract as [[Catalog]]: every query is a pure
 * (SparkSession, sfDir) => DataFrame paired with DuckDB oracle SQL in
 * [[OraclesExt]] where SQL-expressible.
 */
object CatalogExt {

  /** Token counting + quality scoring over documents (C4-style signals). */
  def q21TextStats(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        TextOps.bpeishCount(col("text")).cast("long").as("n_tokens_bpe"),
        (TextOps.totalTokenLen(toks).cast("double") / size(toks).cast("double"))
          .as("avg_token_len"),
        (TextOps.stopwordCount(toks).cast("double") / size(toks).cast("double"))
          .as("stop_ratio"),
        (TextOps.punctCount(col("text")).cast("double") / length(col("text")).cast("double"))
          .as("punct_ratio"))
      .withColumn("quality_score",
        TextOps.qualityScore(col("n_tokens"), col("avg_token_len"),
          col("stop_ratio"), col("punct_ratio")))
  }

  /** Marker-token language identification with argmax prediction. */
  def q22LangId(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val scores = TextOps.langScores(toks)
    val scoreCols = scores.map { case (lang, c) => c.as(s"s_$lang") }
    Tables.documents(s, dir)
      .select(col("doc_id") +: col("lang") +: scoreCols: _*)
      .withColumn("predicted_lang",
        TextOps.predictedLang(TextOps.LangMarkers.map { case (l, _) => l -> col(s"s_$l") }))
      .withColumn("is_correct", col("predicted_lang") === col("lang"))
  }

  /** Content fingerprinting: md5 + Karp-Rabin rolling hash. */
  def q23Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        TextOps.md5Fingerprint(col("text")).as("md5_fp"),
        TextOps.rollingFingerprint(col("text")).as("roll_fp"))

  /** Exact dedup groups by normalized-content hash. */
  def q24DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")

  /** Exact word-3gram Jaccard near-dup pairs, via the measured df-tail
    * selector (full inverted index on light tails — this corpus — vs the
    * df-ordered prefix-filtered index on heavy tails; both exact). */
  def q25JaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsAuto(Tables.documents(s, dir), "doc_id", "text", n = 3, threshold = 0.6)

  /** MinHash+LSH near-dup pairs, exact-verified — the sub-quadratic path.
    * Oracle: identical contract to q25 (the banding parameters make the
    * per-pair miss probability ~3.6e-5 at the 0.6 threshold). */
  def q26MinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
      n = 3, threshold = 0.6, bands = 42, rows = 3)

  /** SimHash near-dup pairs (hamming <= 3, pigeonhole-complete candidates).
    * Token weights are md5-derived (VectorMath.md5Prefix64), so the oracle
    * recomputes the identical fingerprints and the FULL pair set
    * hash-checks; recall over planted near-dups is DedupSpec's law. */
  def q27SimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text", maxHamming = 3)

  /** Exact brute-force cosine top-10 for every 25th vector (the KNN
    * correctness baseline; LSH scale path is q30). */
  def q28EmbedKnn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.cosineKnn(
      emb.filter(col("vec_id") % 25 === 0), emb, "vec_id", "embedding", k = 10)
  }

  /** Embedding-cosine near-dup pairs (brute force, threshold 0.45) — the
    * exact correctness baseline; the production scale path is q49. */
  def q29EmbedNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding", 0.45)

  /** Embedding near-dup, scale path: sign-LSH chunk-pigeonhole candidates +
    * exact cosine verify — candidates-only shuffles, no all-pairs join. The
    * bucketing is deterministic, so the oracle mirrors it and the whole
    * dataflow is hash-checked (q35's oracle-mirrored-approximation pattern). */
  def q49EmbedNearDupLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairsLsh(Tables.embeddings(s, dir), "vec_id", "embedding",
      0.45, planes = 16, maxHamming = 3)

  /** Multi-probe sign-LSH approximate KNN — same output contract as q28 on
    * a candidate subset. The bucketing and probe rule are deterministic, so
    * the oracle mirrors them (annLshSql) and the approximation hash-checks;
    * recall vs exact KNN is asserted separately in SimilaritySpec. */
  def q30AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.lshKnn(
      emb.filter(col("vec_id") % 25 === 0), emb, "vec_id", "embedding", k = 10,
      planes = 8, probeHamming = 2)
  }

  /** Multimodal binary plumbing: asset table -> partition-local stub decode. */
  def q31Multimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeStub(Multimodal.assetsFromDocuments(Tables.documents(s, dir)))
      .toDF()
      .select(
        col("asset_id"), col("mime"), col("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("luma16"))

  /** REAL codec round trip: payload bytes → actual grayscale PNG
    * (javax.imageio writer) → actual PNG decode → pixel-derived features.
    * The PNG pixels are a pure function of the payload (the gridDims
    * resample rule), so the DuckDB oracle predicts the decoded dimensions
    * and pixel sums — a hash-checked real-decoder path, with decodeStub
    * retained as the no-codec fallback (q31). */
  def q60PngDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeImage(
      Multimodal.encodePngGray(
        Multimodal.assetsFromDocuments(Tables.documents(s, dir))))
      .toDF()
      .select(
        col("asset_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("luma16"), col("pix_sum"), col("decoded"))

  /** Multimodal frame sampling: every 16th byte offset of each asset as a
    * "frame" (the video-frame-extraction plumbing shape; mapPartitions over
    * binary content, deterministic and oracle-mirrored via the text bytes). */
  def q39FrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.assetsFromDocuments(Tables.documents(s, dir)), stride = 16)

  /** Event-time session windows per user (6-hour inactivity gap). */
  def q32SessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))

  /** Sliding windows: 10-minute windows every 5 minutes, counts per type. */
  def q33SlidingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("window_end"),
        col("event_type"), col("n"))

  /** IVF-style ANN: deterministic coarse quantizer (every 50th vector as a
    * centroid), nProbe=3 — fully SQL-expressible, so unlike LSH this
    * approximate path is hash-checked against the oracle end to end. */
  def q35AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfKnn(
      emb.filter(col("vec_id") % 25 === 0), emb, "vec_id", "embedding", k = 10,
      centroidStride = 50, nProbe = 3)
  }

  /** TRAINED IVF end to end: spherical k-means (2 Lloyd rounds, md5-stride
    * init, fixed-point mean accumulation — partition-order independent, so
    * the whole training loop is mirrored by the DuckDB oracle) → ivfKnnWith
    * probe → top-10. The stride-quantizer variant is q35. */
  def q57KmeansIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 16, iters = 2)
    Similarity.ivfKnnWith(
      emb.filter(col("vec_id") % 25 === 0), emb, cents,
      "vec_id", "embedding", k = 10, nProbe = 3)
  }

  /** As-of join: each order picks up its user's most recent event at or
    * before the order timestamp (point-in-time enrichment). Event times are
    * truncated to seconds so both engines compare identical values (the
    * parquet carries nanos; Spark reads micros). */
  def q34AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir).select(
      col("o_orderkey"), (col("o_custkey") % 150).as("user_id"),
      col("o_orderdate").cast("timestamp").as("ots"))
    val events = Tables.events(s, dir).select(
      col("user_id"), date_trunc("second", col("ts")).as("ets"),
      col("event_id"), col("event_type"), col("value"))
    graft.ops.AsofJoin.asof(
      orders, events,
      keyCols = ("user_id", "user_id"), tsCols = ("ots", "ets"),
      tieCol = "event_id", rightVals = Seq("event_type", "value"))
      .select(col("o_orderkey"), col("user_id"),
        col("event_type").as("last_type"), col("value").as("last_value"))
  }

  /** P15: from_utc_timestamp (declared by the reference's import surface,
    * bexley_spark_stream_msk_es.py:12, never exercised there). A fixed
    * offset zone keeps the oracle DST-free (interval shift is equivalent). */
  def q36TzShift(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(from_utc_timestamp(col("ts"), "+05:30").as("local_ts"), col("event_type"))
      .groupBy(hour(col("local_ts")).cast("long").as("local_hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** MapType surface (declared at reference :16, never instantiated): build a
    * per-user event_type->count map, then explode it back to rows. */
  def q37MapFuncs(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .groupBy(col("user_id"))
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("event_type"), col("cnt"))))).as("m"))
      .select(col("user_id"), explode(col("m")).as(Seq("event_type", "n")),
        )
      .select(col("user_id"), col("event_type"), col("n"))
  }

  /** Exact percentiles (continuous interpolation): Spark `percentile` and
    * DuckDB `quantile_cont` share the (1-f)·a + f·b formula — verified
    * bit-identical on this data. The approximate sketch twin is q14. */
  def q40Percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_extendedprice"), lit(0.5)).as("p50"),
        percentile(col("l_extendedprice"), lit(0.95)).as("p95"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      .orderBy(col("l_returnflag"))

  /** Scalar-subquery pattern: rows above the global average, the aggregate
    * broadcast back over the fact side (no driver round-trip). */
  def q41AboveAvg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val avgPrice = o.agg(
      (sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(25, 6))) / count(lit(1)))
        .cast("double").as("avg_price"))
    o.crossJoin(broadcast(graft.ops.Guards.scalar(avgPrice)))
      .filter(col("o_totalprice") > col("avg_price") * 1.5)
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  /** Pivot: per-user event-type count matrix (dynamic-to-fixed columns). */
  def q42Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot(col("event_type"), Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** CUBE grouping sets (rollup's twin, q12) with grouping_id disambiguator. */
  def q43Cube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))

  /** RANGE window frame over event time: events per user in the trailing
    * hour (epoch-second range; both engines truncate ns->s identically). */
  def q44RangeWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"))
      .rangeBetween(-3600L, 0L)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("sec"))
      .withColumn("n_last_hour", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"), col("n_last_hour"))
  }

  /** Analytic window breadth beyond q18: lead/lag/ntile/first/last/percent_rank. */
  def q45WindowFuncs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderkey"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"),
      ntile(4).over(w).cast("long").as("quartile"),
      first(col("o_orderkey")).over(wf).as("first_order"),
      last(col("o_orderkey")).over(wf).as("last_order"),
      percent_rank().over(w).as("pr"))
  }

  /** Edit-distance fuzzy matching (levenshtein — the char-level member of
    * the dedup family; identical classic DP semantics in both engines). */
  def q46EditDistance(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(
        col("c_custkey"),
        levenshtein(col("c_name"), col("c_mktsegment")).cast("long").as("name_seg_dist"),
        levenshtein(substring(col("c_name"), 1, 10),
          reverse(substring(col("c_name"), 1, 10))).cast("long").as("palindrome_dist"))

  /** Multiset set-ops (q11's ALL-variants): bag semantics preserve
    * duplicate cardinalities through except/intersect. */
  def q47SetOpsAll(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val high = li.filter(col("l_quantity") >= 25).select(col("l_suppkey").as("k"))
    val ret = li.filter(col("l_returnflag") === "R").select(col("l_suppkey").as("k"))
    high.exceptAll(ret).groupBy(col("k")).agg(count(lit(1)).as("n_excess"))
      .unionByName(
        high.intersectAll(ret).groupBy(col("k")).agg(count(lit(1)).as("n_excess"))
          .withColumn("k", -col("k")))
      .filter(col("n_excess") >= 3)
  }

  /** Array higher-order functions over per-order quantity vectors:
    * exists / forall / filter+size / zip_with / flatten-free aggregate. */
  def q48ArrayHofs(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity").cast("long"))).as("qs"))
      .select(
        col("l_orderkey"),
        exists(col("qs"), q => q >= 45).as("has_bulk"),
        forall(col("qs"), q => q > 0).as("all_positive"),
        size(filter(col("qs"), q => q % 2 === 0)).cast("long").as("n_even"),
        aggregate(zip_with(col("qs"), reverse(col("qs")), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("rev_dot"))

  /** Deterministic stratified sampling (dataset mixing): keep 50% of 'en',
    * 20% of 'de', 10% of everything else, by md5-hash percent of doc_id —
    * reproducible and auditable, unlike rand()-based sampleBy. */
  def q50StratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.stratifiedSample(
      Tables.documents(s, dir), "lang", "doc_id",
      Map("en" -> 0.5, "de" -> 0.2), defaultFraction = 0.1)
      .select(col("doc_id"), col("lang"))

  /** Vocabulary building: global token frequencies, deterministic top-100. */
  def q51TokenFreq(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.tokenFrequency(Tables.documents(s, dir), "text", k = 100)

  /** Sequence packing: the PER-DOCUMENT (doc, shard, bin) assignment a
    * batch assembler consumes (512-token budget, 100-doc shards at this
    * scale so the fixture exercises many shards). */
  def q52Packing(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.packSequences(
      Tables.documents(s, dir), "doc_id", "text",
      budgetTokens = 512L, shardSize = 100L)

  /** Bin occupancy statistics over the q52 assignment — the audit view
    * (docs and token mass per bin), derived from the mapping. */
  def q58PackStats(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.packStats(q52Packing(s, dir))

  /** Near-dup CLUSTERS: connected components over the exact Jaccard pairs,
    * labeling each involved doc with its component's smallest doc id (the
    * canonical representative) — pairwise matches become dedup groups. */
  def q53DedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.jaccardPairsAuto(Tables.documents(s, dir), "doc_id", "text"))

  /** The WHOLE curation pipeline in one verb: quality gate → exact dedup →
    * near-dedup → 8-gram decontamination (vs the every-97th eval stand-in)
    * → per-language mixing rates. End-to-end deterministic, so the composed
    * dataflow hash-checks against one composed oracle. */
  def q61CurateCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.curation.Curation.curateCorpus(
      docs, docs.filter(col("doc_id") % 97 === 0),
      "doc_id", "text", "lang",
      Map("en" -> 0.5, "de" -> 0.2), defaultFraction = 0.1,
      minQuality = 0.5, dedupN = 3, dedupThreshold = 0.6, contamN = 8)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** The one-call dedup verb end to end: exact-Jaccard near-dup pairs →
    * connected components → keep-canonical — returns the CURATED corpus
    * (each near-dup group survives only through its smallest doc id). */
  def q59DropNearDups(s: SparkSession, dir: String): DataFrame =
    Dedup.dropNearDups(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("lang"), col("source"))

  /** Repeated-n-gram ratio (the Gopher/RefinedWeb repetition quality
    * signal): share of a doc's word 3-grams that are duplicates of an
    * earlier one — high values flag boilerplate/spam. Narrow projection on
    * the native shingle kernel; no shuffle. */
  def q54RepNgrams(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        greatest(size(toks) - 2, lit(0)).cast("long").as("n_ngrams"),
        size(Dedup.shingles(toks, 3)).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_ngrams") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Multimodal resize plumbing: 8x8 nearest-neighbor byte grid per asset
    * (scalar projection of [[Multimodal.resizeStub]] — the binary payload
    * itself is spec-checked; the oracle verifies the transform through the
    * sampled-byte checksum, exact on this ASCII corpus). */
  def q55Resize(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizeStub(
      Multimodal.assetsFromDocuments(Tables.documents(s, dir)), outW = 8, outH = 8)
      .select(col("asset_id"), col("out_w"), col("out_h"), col("checksum"))

  /** Benchmark decontamination: flag docs sharing any word 8-gram with the
    * stand-in eval set (every 97th doc) — the eval-leakage guard. */
  def q56Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.curation.Curation.contaminationFlags(
      docs, docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 8)
  }

  /** Cross-document long-span duplication: pairs sharing >= 1 contiguous
    * 20-token run (the word-level relative of suffix-array substring dedup
    * — catches shared boilerplate paragraphs between otherwise-dissimilar
    * docs). The default hot-span cap (maxDf = 1000) exceeds any span df in
    * the fixture corpora, so the uncapped SQL oracle mirrors exactly. */
  def q64SharedSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.sharedSpans(Tables.documents(s, dir), "doc_id", "text", n = 20)

  /** Graded decontamination: per-doc 8-gram overlap RATIO vs the eval
    * stand-in (the GPT-3/PaLM contamination measure; q56 is the boolean
    * any-collision special case). */
  def q62ContamScores(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.curation.Curation.contaminationScores(
      docs, docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", n = 8)
  }

  /** Symmetric int8 embedding quantization: per-vector scale + code sums +
    * exact L1 reconstruction error (the 4x storage-reduction path for
    * embedding columns; narrow projection, zero shuffle). */
  def q63QuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    q.join(emb.select(col("vec_id").as("id"), col("embedding")), "id")
      .select(col("id").as("vec_id"), col("scale"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x.cast("long")).as("qsum"),
        aggregate(
          zip_with(col("embedding"), col("qv"),
            (a, b) => abs(a.cast("double") - b.cast("double") * col("scale"))),
          lit(0.0), (acc, x) => acc + x).as("l1_err"))
  }

  /** REAL lossy-codec round trip: grid-resample payload → actual JPEG encode
    * (javax.imageio, quality 0.95) → actual JPEG decode → drift check. The
    * SQL-predictable columns (dims, exact pre-encode sum, decode flag) hash
    * directly; the lossy decoded sum enters as the q14-style tolerance-law
    * boolean within_tol, asserted constant TRUE by the oracle. */
  def q65JpegDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.jpegRoundTrip(
      Multimodal.assetsFromDocuments(Tables.documents(s, dir)))
      .toDF()
      .select(col("asset_id"), col("width"), col("height"),
        col("exact_sum"), col("decoded"), col("within_tol"))

  /** REAL audio-codec round trip: payload → 8-bit PCM samples → actual WAV
    * write (javax.sound.sampled) → actual WAV parse+decode → sample sums.
    * PCM is lossless, so every column hash-checks — no tolerance law. */
  def q66WavDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.wavRoundTrip(
      Multimodal.assetsFromDocuments(Tables.documents(s, dir)))
      .toDF()
      .select(col("asset_id"), col("n_samples"), col("sample_sum"),
        col("sample_rate_hz"), col("decoded"))

  /** PII redaction + per-class audit counts: the standard scrub step for
    * released corpora. Narrow regexp projection, zero shuffles; the oracle
    * runs the IDENTICAL pattern strings (generated from TextOps.PiiPatterns). */
  def q67PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val counts = graft.text.TextOps.piiCounts(col("text"))
      .map { case (name, c) => c.as(s"n_$name") }
    Tables.documents(s, dir)
      .select(
        Seq(col("doc_id"),
          graft.text.TextOps.redactPii(col("text")).as("redacted")) ++ counts: _*)
  }

  /** SEMANTIC decontamination: corpus vectors (vec_id % 97 != 0) surviving
    * after dropping everything cosine-near (>= 0.45 under the mirrored
    * sign-LSH candidate rule) to the eval stand-in (vec_id % 97 == 0) —
    * the embedding-space complement of the n-gram guard (q56/q62), catching
    * paraphrased eval leakage that n-grams miss. */
  def q68SemanticDecontam(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Dedup.decontaminateByEmbedding(
      emb.filter(col("vec_id") % 97 =!= 0), emb.filter(col("vec_id") % 97 === 0),
      "vec_id", "embedding", threshold = 0.45)
      .select(col("vec_id"))
  }

  /** Deterministic train/val/test split assignment (90/5/5 by hash band):
    * a document's split is a pure function of its id — reproducible across
    * runs, engines, and corpus growth. */
  def q69TrainSplit(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.assignSplits(Tables.documents(s, dir), "doc_id")
      .select(col("doc_id"), col("lang"), col("split"))

  /** Square-root-tempered domain mixing weights (the multilingual
    * low-resource upsampling rule): weight(source) = √n / Σ√n, denominator
    * in exact fixed-point so the result is aggregation-order independent. */
  def q70DomainMix(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.mixtureWeights(Tables.documents(s, dir), "source")

  /** Approximate-percentile sketch (Greenwald-Khanna summaries) as a
    * TOLERANCE LAW, q14's pattern for the quantile family: the sketch value
    * is engine-specific, but its rank-error contract (±1/accuracy of the
    * target rank, any merge order) makes "approx lies between the exact
    * quantiles at p ∓ slack" a deterministic boolean the oracle asserts as
    * constant TRUE. The slack is 2ε plus a 0.1% rank cushion: the sketch
    * returns a dataset ELEMENT, while `percentile` interpolates between
    * elements, so a band of bare 2ε (< one element gap at small N) can
    * exclude the element straddling the target rank. The exact-percentile
    * twin is q40. */
  def q71ApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    val accuracy = 10000
    val slack = 2.0 / accuracy + 1e-3
    val price = col("l_extendedprice")
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(price, lit(0.5), lit(accuracy)).as("a50"),
        percentile_approx(price, lit(0.95), lit(accuracy)).as("a95"),
        percentile(price, lit(0.5 - slack)).as("lo50"),
        percentile(price, lit(0.5 + slack)).as("hi50"),
        percentile(price, lit(0.95 - slack)).as("lo95"),
        percentile(price, lit(0.95 + slack)).as("hi95"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("n"),
        (col("a50") >= col("lo50") && col("a50") <= col("hi50")).as("ok50"),
        (col("a95") >= col("lo95") && col("a95") <= col("hi95")).as("ok95"))
      .orderBy(col("l_returnflag"))
  }

  /** Gopher-style rule gate with per-rule audit booleans (word-count band,
    * mean-token-length band, stopword floor, repetition ceiling) — corpus
    * reports can attribute WHY each document fails, not just that it did. */
  def q72GopherRules(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.ruleGate(Tables.documents(s, dir), "doc_id", "text")

  /** Per-label embedding centroids (class prototypes): fixed-point mean per
    * (label, dimension) — partition-order independent, hash-checked. */
  def q73LabelCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroids(Tables.embeddings(s, dir), "label", "embedding")

  /** Token-rarity quality signal (the LM-free CCNet-style filter): mean
    * corpus-frequency of each doc's tokens, exact integer arithmetic. */
  def q74TokenRarity(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.rarityScores(Tables.documents(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")

  /** BPE merge training (the tokenizer-training step): 8 merge rounds over
    * the corpus vocabulary; the oracle replays the identical deterministic
    * loop in SQL, so the learned merge table hash-checks end to end. */
  def q75BpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.bpeMerges(Tables.documents(s, dir), "text", nMerges = 8)

  /** ANALYZE-style column profile of lineitem's numeric columns in one
    * scan: row count, null count, exact NDV, min/max per column — the
    * stats a CBO or a data-quality gate consumes. */
  def q84ProfileStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.numericStats(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_partkey"))

  /** TF-IDF keyword extraction (rational linear-idf form): top-3 tokens
    * per document by tf·n_docs/df with deterministic tie-breaks. */
  def q99TfidfKeywords(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.tfidfKeywords(
      Tables.documents(s, dir), "doc_id", "text", k = 3)

  /** Dataset reconciliation: the added/removed/changed/same report between
    * the customer snapshot and a deterministically perturbed next version
    * (every 10th balance shifted, every 97th row dropped, a synthetic
    * block appended) — the post-migration validation query. */
  def q100ReconcileDiff(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    val next = base.filter(col("c_custkey") % 97 =!= 0)
      .withColumn("bal_cents",
        when(col("c_custkey") % 10 === 0, col("bal_cents") + 10000L)
          .otherwise(col("bal_cents")))
      // synthetic adds use STRICTLY NEGATIVE keys (-(k+1)) — disjoint from
      // TPC-H's non-negative key space at every scale factor (a fixed
      // offset would collide with real keys once custkey exceeds it, and
      // bare negation would map key 0 onto itself)
      .unionByName(base.filter(col("c_custkey") % 50 === 0)
        .select((-(col("c_custkey") + 1L)).as("c_custkey"),
          col("c_mktsegment"), col("bal_cents")))
    graft.ops.Reconcile.diff(base, next,
      Seq("c_custkey"), Seq("c_mktsegment", "bal_cents"))
  }

  /** Exact duplicated-substring spans (ExactSubstr, Lee et al. 2022):
    * maximal ≥20-token spans whose text appears at least twice anywhere in
    * the corpus — the excision list character-level dedup consumes. The
    * suffix-prefix grouping and island merge are fully deterministic, so
    * the oracle replays them verbatim. */
  def q101DuplicatedSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(Tables.documents(s, dir), "doc_id", "text", minLen = 20)
      .withColumnRenamed("id", "doc_id")

  /** Dedup by excision (the ExactSubstr application, completing q101):
    * every duplicated ≥20-token span is cut from all but its globally
    * first occurrence — documents survive, repetition does not. */
  def q102ExciseDupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.exciseDuplicatedSpans(Tables.documents(s, dir), "doc_id", "text", minLen = 20)
      .withColumnRenamed("id", "doc_id")

  /** Asymmetric shingle containment: the sub-document duplication signal
    * Jaccard misses (a short doc quoted wholesale inside a long one has
    * tiny Jaccard but containment ≈ 1 from the short side). */
  def q103ContainmentPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
      n = 3, threshold = 0.7)

  /** Cross-split leakage audit (the governance question q69's splitter
    * raises: are the splits actually clean?): every TEST-split document
    * scored for 8-gram overlap against the TRAIN split's shingle set —
    * the q62 contamination measure pointed across the split boundary.
    * Pure composition of assignSplits + contaminationScores. */
  def q104SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val split = graft.curation.Curation.assignSplits(
      Tables.documents(s, dir), "doc_id")
    graft.curation.Curation.contaminationScores(
      split.filter(col("split") === "test"),
      split.filter(col("split") === "train"),
      "doc_id", "text", n = 8)
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup via the q57-trained
    * spherical k-means cells + within-cell cosine pruning. dup_of is NULL
    * on kept representatives, else the least same-cell witness id. tau is
    * tuned to this corpus's near-random embeddings (real paraphrase dups
    * sit at >= 0.9); the dataflow is threshold-independent. */
  def q105SemDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.semDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
      k = 16, iters = 2, tau = 0.3)
      .withColumnRenamed("id", "vec_id")

  /** LM-based quality gate (CCNet made exact): rare-bigram ratio against
    * the corpus-trained bigram statistic, gated by rational comparison. */
  def q106RareBigramGate(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.rareBigramGate(
      Tables.documents(s, dir), "doc_id", "text",
      minCount = 5, maxRareNum = 1, maxRareDen = 100)
      .withColumnRenamed("id", "doc_id")

  /** Bloom-filter runtime pruning audit: lineitem probed against a Bloom
    * filter built from the high-value-order keys, rolled up to
    * (bloom_pass, is_match) counts — (false, true) can never appear (the
    * no-false-negative law), the (true, false) row measures the FP leak
    * the filter geometry predicts. */
  def q107BloomAudit(s: SparkSession, dir: String): DataFrame =
    graft.ops.Prefilter.bloomAudit(
      Tables.lineitem(s, dir), "l_orderkey",
      Tables.orders(s, dir).filter(col("o_totalprice") > 450000.0), "o_orderkey",
      mBits = 16384, kHashes = 3)

  /** Two-stage retrieval: int8-quantized shortlist (top-40 by the
    * scale-free integer score) -> full-precision rerank (top-10). */
  def q108RerankKnn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.rerankKnn(
      emb.filter(col("vec_id") % 25 === 0), emb, "vec_id", "embedding",
      k1 = 40, k2 = 10)
  }

  /** Hard-negative mining over the q57-trained k-means cells: for each
    * query, the top-10 most-similar candidates drawn ONLY from its 3
    * nearest foreign cells (own cell excluded — that's where positives
    * live). */
  def q109HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 16, iters = 2)
    Similarity.hardNegatives(
      emb.filter(col("vec_id") % 25 === 0), emb, cents,
      "vec_id", "embedding", j = 10, nProbe = 3)
      .withColumnRenamed("neg_id", "neg_vec_id")
  }

  /** Salted replicate join as a catalog verb: lineitem ⋈ supplier forced
    * through the (key, salt) rewrite — the shuffle shape for a fact key
    * too skewed for one reducer over a dim too large to broadcast — then
    * rolled up per nation. SkewSpec proves row-equality with the plain
    * join; the oracle IS the plain join, so the hash-match re-proves it
    * on real data every round. */
  def q110SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_suppkey"), col("l_quantity"))
    val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
    graft.ops.Skew.saltedJoin(li, sup, "l_suppkey", "s_suppkey", salts = 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("qty"))
  }

  /** BPE encode — the apply side of q75: train the 8-merge table, then
    * segment every document with it in one shuffle-free pass (the merge
    * chain folded into per-row codegen'd replaces). The oracle replays
    * training AND encoding end to end. */
  def q111BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.curation.Curation.bpeEncode(docs, "text", "doc_id",
      graft.curation.Curation.bpeMerges(docs, "text", nMerges = 8))
  }

  /** DSIR importance weights: hashed-unigram likelihood ratio of every
    * document between the rule-gate-passing target subset and the raw
    * corpus — trained as two 64-bucket aggregates, applied as a
    * shuffle-free fold over the scan (see Curation.dsirWeights for the
    * exact-arithmetic log2 that makes the oracle replay bit-exact). */
  def q112DsirWeights(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.dsirWeights(
      Tables.documents(s, dir), "doc_id", "text", buckets = 64)

  /** PCA-projection outliers: the 20 vectors farthest from the corpus
    * bulk along the principal axis — the drift/anomaly view that makes
    * the trained component (q96) actionable. */
  def q98PcaOutliers(s: SparkSession, dir: String): DataFrame =
    graft.sim.Pca.outlierScores(Tables.embeddings(s, dir), "vec_id", "embedding")

  /** Bigram LM training: conditional next-token probabilities over the
    * corpus (the n-gram LM step; also the distribution a templated-text
    * detector reads). */
  def q97BigramLm(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.bigramModel(Tables.documents(s, dir), "text")

  /** PCA top principal component of the embedding corpus: fixed-point
    * centering + exact-integer scatter matrix + 8 power-iteration rounds
    * whose only floating-point folds run in fixed in-row order — the
    * oracle replays the entire training loop (see Pca). */
  def q96PcaTop(s: SparkSession, dir: String): DataFrame =
    graft.sim.Pca.topComponent(Tables.embeddings(s, dir), "embedding")

  /** Explicit GROUPING SETS (the general form behind q43's cube): the
    * (flag, status), (flag), and grand-total groupings in one pass, with
    * grouping_id disambiguating NULL-as-rollup from NULL-as-data. */
  def q94GroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("qty"))

  /** CDC compaction: latest observation per (user, event_type) key by
    * (ts, event_id) — the keep-last-write verb that turns a change log
    * into current state. One per-key window, rank pushdown eligible. */
  def q95LatestByKey(s: SparkSession, dir: String): DataFrame =
    graft.ops.Scd2.latestByKey(
      Tables.events(s, dir)
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("cents")),
      Seq("user_id", "event_type"), "ts", "event_id")

  /** Incremental view maintenance: a per-user aggregate materialized over
    * pre-February history merged with the post-cutoff delta — the refresh
    * touches only aggregate-sized state, and the oracle asserts it equals
    * the full recompute over everything. */
  def q92IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
    val cutoff = to_timestamp(lit("2024-02-01 00:00:00"))
    val prevState = ev.filter(col("ts") < cutoff)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total"))
    graft.ops.Incremental.mergeCountSum(
      prevState, ev.filter(col("ts") >= cutoff), "user_id", "cents")
  }

  /** Point-in-interval range join through coarse-bucket equi-keys: every
    * lineitem shipped inside a sampled order's 7-day window, planned as a
    * HASH join on week buckets + exact post-filter (never a nested-loop
    * cartesian). */
  def q93RangeJoin(s: SparkSession, dir: String): DataFrame =
    graft.ops.RangeJoin.pointInInterval(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate")),
      "l_shipdate",
      Tables.orders(s, dir).filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"), col("o_orderdate").as("w_start"),
          (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("w_end")),
      "w_start", "w_end")
      .select(col("o_orderkey"), col("l_orderkey"), col("l_linenumber"))

  /** Batch sessionization (gaps-and-islands, 6h gap like q32's streaming
    * session window) emitting a session id PER EVENT, tie-broken by
    * event_id for a total deterministic order. */
  def q88SessionIds(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.sessionIds(
      Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts")),
      "user_id", "ts", "event_id", gapSeconds = 6 * 3600)
      .select(col("event_id"), col("user_id"), col("session_seq"), col("session_id"))

  /** Retention cohort triangle: users bucketed by first-activity week,
    * counted in each later week they return. */
  def q89RetentionCohorts(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.retentionCohorts(Tables.events(s, dir), "user_id", "ts")

  /** SCD2 dimension versioning: the customer snapshot (effective
    * 2024-01-01) merged with a deterministic change set (every 10th
    * customer re-observed 2024-06-01 with a shifted balance) into
    * versioned rows with validity intervals — the lakehouse MERGE shape. */
  def q90Scd2(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"),
        to_timestamp(lit("2024-01-01 00:00:00")).as("eff"))
    val changes = base.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("bal_cents") + 10000L).as("bal_cents"),
        to_timestamp(lit("2024-06-01 00:00:00")).as("eff"))
    graft.ops.Scd2.versions(base.unionByName(changes), "c_custkey", "eff")
  }

  /** Winsorization: l_extendedprice clamped to its [p05, p95] element-rank
    * percentiles (distribution-first bounds, broadcast clamp). */
  def q91Winsorize(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.winsorize(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
      "l_extendedprice")

  /** Runtime-filter semi-join: lineitem reduced by the urgent-order key
    * set as a broadcast sorted-array scan predicate (binary search inside
    * codegen, no join operator). The result is exactly the semi-join,
    * which is what the oracle asserts. */
  def q87RuntimeFilter(s: SparkSession, dir: String): DataFrame =
    graft.ops.Prefilter.semiJoinBySortedKeys(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      "l_orderkey",
      Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
      "o_orderkey")

  /** Time-series densification: per-user hourly event grid with gap rows
    * (n=0) and the last observed hourly cents total carried forward —
    * LOCF over each user's own activity span. */
  def q86GapfillLocf(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.gapFillLocf(
      Tables.events(s, dir)
        .withColumn("cents", round(col("value") * 100).cast("long")),
      "user_id", "ts", "cents")

  /** Exact equi-depth histogram of l_extendedprice in 8 buckets: rows
    * collapse to the (value, count) distribution first, so the cumulative
    * window runs over distinct values, never the raw table. */
  def q85EquiDepthHist(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.equiDepthHistogram(Tables.lineitem(s, dir),
      "l_extendedprice", buckets = 8)

  /** Fixed-point PageRank over the customer↔supplier trade graph (an edge
    * per distinct trading pair through orders/lineitem, both directions;
    * node id = 2·key + side to keep the key spaces disjoint): 8 damped
    * iterations in exact BIGINT arithmetic, every iteration replayed by
    * the oracle's chained CTEs — the mirror-the-training pattern applied
    * to iterative graph analytics. */
  def q83PageRank(s: SparkSession, dir: String): DataFrame =
    graft.graph.Graph.pageRankFixedPoint(
      tradeGraphEdges(s, dir), "src", "dst", iterations = 8)

  /** The q83 fixture graph (shared with the dev profiler so both always
    * measure the same graph): an edge per distinct trading pair, both
    * directions, node id = 2·key + side. */
  private[graft] def tradeGraphEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("cust"), (col("l_suppkey") * 2 + 1).as("supp"))
      .distinct()
    pairs.select(col("cust").as("src"), col("supp").as("dst"))
      .union(pairs.select(col("supp").as("src"), col("cust").as("dst")))
  }

  /** Unicode normalization round trip: deterministically decorate the
    * corpus with precomposed Latin accents (translate a→á e→é o→ö), then
    * fold them back through the native StripAccents kernel + case/space
    * canon. roundtrip_ok = (normalized == original) is the engine-level
    * law; the oracle replays decorate + strip_accents + canon in SQL. */
  def q82NormalizeText(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("decorated",
        translate(col("text"), "aeo", "áéö"))
      .select(col("doc_id"), col("decorated"),
        TextOps.normalizeUnicode(col("decorated")).as("normalized"),
        (TextOps.normalizeUnicode(col("decorated")) === col("text")).as("roundtrip_ok"))
  }

  /** Ordered-stage funnel: per-user first reach times for view → click →
    * purchase (stage k only counts events at/after the stage k−1 reach
    * time) plus conversion depth — the standard product-analytics report. */
  def q81Funnel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.stageTimes(Tables.events(s, dir),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"))

  /** Two-phase salted aggregation surfaced end to end: per-user event
    * count + fixed-point value total through Skew.saltedCountSum (hot keys
    * spread over 16 salt reducers, partials re-merged on the bare key).
    * The salt is invisible in the result — the oracle is the PLAIN group
    * by, which is exactly the law the rewrite must preserve. */
  def q80SaltedAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
    graft.ops.Skew.saltedCountSum(ev, "user_id", "cents", salts = 16)
      .withColumnRenamed("total", "cents_total")
  }

  /** Context-window chunking: every document sliced into 32-token windows
    * every 16 tokens (overlapping sliding contexts, the corpus→training-
    * sequence step). One generator on the scan, no shuffle. */
  def q79ContextWindows(s: SparkSession, dir: String): DataFrame =
    TextOps.contextWindows(Tables.documents(s, dir), "doc_id", "text",
      window = 32, stride = 16)

  /** Hybrid retrieval via reciprocal-rank fusion: a keyword ranking (term
    * frequency of 'spark', TakeOrdered top-50) and an embedding ranking
    * (cosine to the vec_id=0 query vector, top-50) fused rank-wise —
    * RRF needs no score calibration between the two modalities. */
  def q78RrfFusion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kwScored = Tables.documents(s, dir).select(
      col("doc_id").as("id"),
      size(filter(TextOps.tokens(col("text")), t => t === "spark"))
        .cast("long").as("score"))
    val kwTop = kwScored.orderBy(col("score").desc, col("id").asc).limit(50)
      .withColumn("r", row_number()
        .over(Window.orderBy(col("score").desc, col("id").asc)).cast("long"))
    val emb = Tables.embeddings(s, dir)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_v"))
    val vecScored = emb.crossJoin(broadcast(graft.ops.Guards.scalar(qv))).select(
      col("vec_id").as("id"),
      graft.functions.GraftFunctions.cosine(col("embedding"), col("q_v")).as("cos"))
    val vecTop = vecScored.orderBy(col("cos").desc, col("id").asc).limit(50)
      .withColumn("r", row_number()
        .over(Window.orderBy(col("cos").desc, col("id").asc)).cast("long"))
    Similarity.rrfFuse(kwTop, vecTop, "id", "r")
      .withColumnsRenamed(Map("r_a" -> "r_kw", "r_b" -> "r_vec"))
  }

  /** Count-min sketch point-frequency estimates next to exact counts: the
    * constant-size (d×w longs) mergeable summary for frequency queries at
    * corpus scale. Buckets are md5-derived, so the oracle REPLAYS the
    * sketch — the approximate estimates themselves hash-match. */
  def q77CmsFreq(s: SparkSession, dir: String): DataFrame =
    graft.sketch.Sketch.cmsEstimates(
      Tables.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token")),
      "token")

  /** Z-order layout audit: Morton-interleave (l_partkey, l_suppkey) to a
    * 32-bit clustering key and report per-bucket min/max of BOTH dims —
    * the data-skipping guarantee a reader gets per file after a z-ordered
    * write (every bucket confined to a 1/16 × 1/16 key-space rectangle). */
  def q76ZorderCluster(s: SparkSession, dir: String): DataFrame =
    graft.layout.Layout.zOrderStats(
      Tables.lineitem(s, dir), "l_partkey", "l_suppkey")
      .withColumnsRenamed(Map(
        "min_x" -> "min_pk", "max_x" -> "max_pk",
        "min_y" -> "min_sk", "max_y" -> "max_sk"))


  /** HITS hubs & authorities over the DIRECTED customer→supplier trade
    * graph (the one-direction half of q83's fixture: hubs = customers
    * spreading orders across strong suppliers, authorities = suppliers
    * drawing orders from strong customers), 8 fixed-point rounds — the
    * oracle replays every round as chained CTEs, the mirror-the-training
    * pattern applied to a second eigenvector recursion. */
  def q113Hits(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    graft.graph.Graph.hitsFixedPoint(e, "src", "dst", iterations = 8)
  }

  /** Per-domain cap: at most 15 docs per source, picked by deterministic
    * md5 order through the bounded-heap aggregator (never a per-domain
    * window — see Curation.domainCap for the mega-host argument). The
    * oracle states the contract as the row_number form, so the hash-match
    * IS the heap≡window equivalence law on real data. */
  def q114DomainCap(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.domainCap(
      Tables.documents(s, dir), "doc_id", "source", cap = 15)

  /** Per-domain KL divergence from the corpus unigram distribution over
    * 64 hashed buckets — the drift statistic that flags a templated or
    * mis-scraped source (see Curation.domainDivergence). */
  def q115DomainKl(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.domainDivergence(
      Tables.documents(s, dir), "text", "source", buckets = 64)

  /** 3-gram novelty: the share of each doc's distinct 3-grams whose first
    * corpus occurrence is in that doc (near-dups ≈ 0, novel text ≈ 1). */
  def q116NgramNovelty(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.ngramNovelty(
      Tables.documents(s, dir), "doc_id", "text", n = 3)
      .withColumnRenamed("id", "doc_id")

  /** Weighted sampling without replacement (Efraimidis–Spirakis), 100
    * docs proportional-ish to n_chars, md5-deterministic and exact-log2
    * keyed so the oracle replays the draw bit-for-bit. */
  def q117WeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.weightedSample(
      Tables.documents(s, dir), "doc_id", "n_chars", n = 100)
      .withColumnRenamed("id", "doc_id")

  /** PQ-ADC approximate nearest neighbors: 4 subspaces, id-stride
    * sub-codebooks, asymmetric distance tables — the compressed-domain
    * scan that never touches a float vector per candidate (see
    * Similarity.pqAdcKnn; PqSpec pins the stride=1 ≡ exact-L2 law). */
  def q118PqAdc(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.pqAdcKnn(
      emb.filter(col("vec_id") % 25 === 0), emb, "vec_id", "embedding",
      k = 10, m = 4, stride = 40)
  }


  /** Blocked fuzzy linkage: 40-char title prefixes, lang-blocked pairs,
    * Sørensen–Dice ≥ 3/4 over character bigrams via the native
    * graft_bigram_overlap kernel; exact-rational threshold (see
    * Dedup.fuzzyBlockedPairs). Surfaces the planted near-dup documents
    * as linkage candidates without any n² comparison. */
  def q119FuzzyPairs(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.fuzzyBlockedPairs(
      Tables.documents(s, dir), "doc_id", "text", "lang",
      prefixLen = 40, thresholdNum = 3, thresholdDen = 4)


  /** Bigram-LM log-probability scoring — the apply side of q97's trained
    * model: per-doc log2-likelihood and per-bigram average under the
    * corpus conditional distribution, exact-lg + position-order fold
    * (see Curation.bigramLogProb). The perplexity filter's raw score. */
  def q120BigramPpl(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.bigramLogProb(
      Tables.documents(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")

  /** Classifier-calibration sweep: DSIR weight scored against the rule
    * gate at 32 equal-width thresholds — confusion counts + tpr/fpr/prec
    * per threshold, the audit a filter cutoff is chosen from; bounded
    * geometry, never a global ordered window (see Curation.thresholdSweep). */
  def q121ThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scores = graft.curation.Curation.dsirWeights(docs, "doc_id", "text", buckets = 64)
      .select(col("doc_id"), col("dsir_weight"))
    val labels = graft.curation.Curation.ruleGate(docs, "doc_id", "text")
      .select(col("doc_id"), col("pass"))
    graft.curation.Curation.thresholdSweep(
      scores.join(labels, "doc_id"), "dsir_weight", "pass", bins = 32)
  }

  /** BM25 retrieval workload shared with the oracle (literal multi-term
    * queries over the corpus vocabulary). */
  val Bm25Workload: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "join", "window"),
    2L -> Seq("hash", "merge", "sort"),
    3L -> Seq("stream", "batch", "table"),
    4L -> Seq("filter", "scan", "agg"))

  /** BM25 top-k retrieval — the ranking the reference's ES sink serves,
    * brought into the engine: postings filtered to the query vocabulary
    * before any shuffle, exact-lg IDF, fixed-order score fold, bounded-heap
    * top-k (see [[graft.sim.Bm25]]; the oracle states the window form, so
    * the hash-match is again the heap ≡ window law). */
  def q122Bm25TopK(s: SparkSession, dir: String): DataFrame =
    graft.sim.Bm25.bm25TopK(
      Tables.documents(s, dir), "doc_id", "text", Bm25Workload, k = 10)

  /** Trained quality classifier: 8 rounds of fixed-point batch gradient
    * descent under a hard-sigmoid link (integer gradients → order-free),
    * labels from the Gopher rule gate, then every doc scored — the
    * fastText-style quality-filter stage of an LLM data pipeline with the
    * training loop itself replayed by the oracle (see
    * [[graft.model.QualityLr]]). */
  def q123QualityLr(s: SparkSession, dir: String): DataFrame =
    graft.model.QualityLr.trainAndScore(
      Tables.documents(s, dir), "doc_id", "text", rounds = 24)

  /** Image near-dup pairs through a REAL codec path: text payloads → real
    * PNG encode → real javax.imageio decode → perceptual average-hash →
    * band-bucket LSH → exact bit_count(xor) Hamming verify. The oracle
    * replays the pixels from the byte-resample formula (the q60 trick), so
    * an actual encoder/decoder round trip sits inside a hash-checked
    * dedup operator (see [[graft.multimodal.Multimodal.imageNearDupPairs]]). */
  def q124ImageNearDup(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.imageNearDupPairs(
      Tables.documents(s, dir), maxHamming = 7)

  /** Johnson–Lindenstrauss reduction of the embedding table: 64 → 16 dims
    * through a deterministic Rademacher sign matrix baked into the plan as
    * literals; pure narrow projection, fixed-order folds, flattened
    * (vec_id, dim, val) output (see [[Similarity.randomProject]]). */
  def q125RandomProject(s: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(
      Tables.embeddings(s, dir), "vec_id", "embedding", inDims = 64, outDims = 16)

  /** Greedy k-center coreset over the embedding corpus: 8 farthest-point
    * rounds, each a broadcast-centers narrow scan + TakeOrdered(1); the
    * oracle replays every round as a chained CTE (see
    * [[Similarity.kCenterCoreset]]). The data-pruning counterpart to the
    * similarity operators: pick the k most mutually-distant exemplars. */
  def q126KCenter(s: SparkSession, dir: String): DataFrame =
    Similarity.kCenterCoreset(
      Tables.embeddings(s, dir), "vec_id", "embedding", k = 8, dims = 64)

  /** Length-bucket batching audit: per 16-token band, the batch count at
    * size 32 and the padding waste of pad-to-band-max batching — one
    * map-side-combinable aggregate (see [[Curation.lengthBucketAudit]]). */
  def q127LengthBuckets(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.lengthBucketAudit(
      Tables.documents(s, dir), "text", bucketWidth = 16, batchSize = 32)

  /** Character-level Shannon entropy per doc in exact-lg bits — the
    * gibberish/padding detector (see [[graft.text.TextOps.charEntropy]]). */
  def q128CharEntropy(s: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.charEntropy(Tables.documents(s, dir), "doc_id", "text")

  /** Top-100 PMI collocations (adjacent-pair pointwise mutual information
    * in exact-lg bits, count ≥ 5) — see [[Curation.pmiCollocations]]. */
  def q129PmiCollocations(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.pmiCollocations(
      Tables.documents(s, dir), "text", minCount = 5L, k = 100)

  /** Dataset content fingerprints: per-source + corpus-total ('*') XOR of
    * 60-bit row digests in one rollup pass — O(1) snapshot comparison,
    * incrementally maintainable (see [[graft.ops.Fingerprint]]). */
  def q130Fingerprint(s: SparkSession, dir: String): DataFrame =
    graft.ops.Fingerprint.datasetFingerprint(
      Tables.documents(s, dir), "doc_id", "text", "source")

  /** MMR diverse top-5 per query (λ = 0.5): greedy relevance-vs-redundancy
    * re-ranking over the exact cosine kernel, every round replayed by the
    * oracle (see [[Similarity.mmrTopK]]). */
  def q131MmrRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.mmrTopK(emb.filter(col("vec_id") % 50 === 0), emb,
      "vec_id", "embedding", k = 5, lambda = 0.5)
  }

  /** Semi-supervised label propagation over the sign-LSH near-dup graph:
    * 20% seeded with their true embedding label, 4 synchronous majority
    * rounds with clamped seeds, output audited against ground truth (see
    * [[graft.graph.Graph.labelPropagation]]; edges = q49's operator).
    * NOTE the fixture's embeddings are label-uncorrelated noise, so the
    * `correct` audit column reads ~chance here by construction — the
    * recovery law (planted communities fully relabel) lives in GraphSpec;
    * this query is the oracle + scale gate for the round machinery. */
  def q132LabelProp(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val nodes = emb.select(col("vec_id").as("id"),
      when(col("vec_id") % 5 === 0, col("label").cast("long")).as("seed"))
    val edges = Dedup.embeddingNearDupPairsLsh(emb, "vec_id", "embedding",
      0.45, planes = 16, maxHamming = 3).select(col("a_id"), col("b_id"))
    graft.graph.Graph.labelPropagation(nodes, edges, rounds = 4)
      .join(emb.select(col("vec_id").as("id"), col("label").cast("long").as("__t")), "id")
      .select(col("id").as("vec_id"), col("seeded"), col("label"),
        (col("label") === col("__t")).as("correct"))
  }

  /** Group-integrity 80/10/10 split keyed on the DOMAIN hash — no source
    * ever spans splits, closing the q104 leakage channel by construction
    * (see [[Curation.groupSplit]]). */
  def q133GroupSplit(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.groupSplit(Tables.documents(s, dir), "doc_id", "source")

  /** Robust per-source outlier flags on n_chars via median/MAD modified
    * z-scores (see [[graft.ops.Profile.robustOutliers]]). */
  def q134RobustOutliers(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.robustOutliers(
      Tables.documents(s, dir), "doc_id", "source", "n_chars")

  /** Mergeable HLL vocabulary sketches per source + the '*' union row,
    * graded by the q14 tolerance-law form (see [[graft.sketch.Sketch
    * .hllVocabulary]]). */
  def q135HllVocab(s: SparkSession, dir: String): DataFrame =
    graft.sketch.Sketch.hllVocabulary(Tables.documents(s, dir), "text", "source")

  /** CUSUM level-shift alarms per event type over hourly counts — the
    * running-window identity form (see [[graft.ops.TimeSeries.cusumDrift]]). */
  def q136CusumDrift(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.cusumDrift(Tables.events(s, dir), "event_type", "ts")

  /** Shot-boundary detection on the sampled frame stream (lag window,
    * integer deltas — see [[graft.multimodal.Multimodal.shotBoundaries]]). */
  def q137ShotBounds(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.shotBoundaries(
      graft.multimodal.Multimodal.assetsFromDocuments(Tables.documents(s, dir)),
      stride = 16, threshold = 64)

  /** Referential-integrity audit over the full TPC-H FK graph — child
    * counts + orphan counts per declared relationship (see
    * [[graft.ops.Reconcile.fkOrphans]]); zero everywhere = the fixture's
    * integrity proof, non-zero = the post-ingest alert. */
  def q138FkOrphans(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
    val cu = Tables.customer(s, dir); val p = Tables.part(s, dir)
    val su = Tables.supplier(s, dir); val na = Tables.nation(s, dir)
    val re = Tables.region(s, dir)
    graft.ops.Reconcile.fkOrphans(Seq(
      ("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
      ("orders.o_custkey->customer", o, "o_custkey", cu, "c_custkey"),
      ("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"),
      ("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey"),
      ("customer.c_nationkey->nation", cu, "c_nationkey", na, "n_nationkey"),
      ("supplier.s_nationkey->nation", su, "s_nationkey", na, "n_nationkey"),
      ("nation.n_regionkey->region", na, "n_regionkey", re, "r_regionkey")))
  }

  /** Incremental ingest dedup: the 1-in-10 delta probed against the
    * standing 9-in-10 corpus — delta-vs-corpus near-dup pairs only,
    * never corpus² (see [[Dedup.incrementalNearDup]]). */
  def q139IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    Dedup.incrementalNearDup(
      d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 3, threshold = 0.5)
  }

  /** Unpivot/melt (the long-form inverse of q42's pivot): lineitem's four
    * measures to (measure, value) rows via the native `Dataset.unpivot` —
    * a Generate, zero shuffles. */
  def q140Unpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "measure", "value")

  /** Spark 4 VARIANT ingestion: parse the semi-structured props payload
    * once into a variant and extract typed paths — the schema-on-read
    * path for evolving JSON (vs q02's declared-schema `from_json`). */
  def q141VariantJson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), parse_json(col("props")).as("v"))
      .select(col("event_id"),
        variant_get(col("v"), "$.k", "bigint").as("k"),
        variant_get(col("v"), "$.missing", "bigint").as("missing"))

  /** Per-supplier triangle counts over the co-order graph (suppliers
    * sharing an order are adjacent) — the clustering-coefficient
    * numerator via the canonical a<b<c three-way join (see
    * [[graft.graph.Graph.triangleCounts]]). */
  def q142Triangles(s: SparkSession, dir: String): DataFrame = {
    val so = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    val edges = so.select(col("ok"), col("sk").as("a_id"))
      .join(so.select(col("ok"), col("sk").as("b_id")), "ok")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    graft.graph.Graph.triangleCounts(edges)
  }

  /** Last-touch attribution: each purchase as-of-joined to the user's most
    * recent click (the X15 operator on the events table), then the 1-hour
    * attribution-window verdict; NULL click ⇒ NULL verdict. */
  def q143Attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    graft.ops.AsofJoin.asof(purchases, clicks,
        ("user_id", "user_id"), ("ts", "click_ts"), "click_id",
        Seq("click_id", "click_ts"))
      .select(col("purchase_id"), col("user_id"), col("ts"),
        col("click_id"), col("click_ts"),
        (col("click_ts") >= col("ts") - expr("INTERVAL 1 HOUR")).as("attributed"))
  }

  /** Behavioral motif mining: top-20 per-user event-type trigrams in time
    * order — the funnel-pattern counterpart of q129's textual PMI. */
  def q144EventTrigrams(s: SparkSession, dir: String): DataFrame = {
    val arr = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
        col("event_type")))).as("__es"))
      .select(transform(col("__es"), e => e("event_type")).as("t"))
    arr
      .filter(size(col("t")) >= 3) // sequence(1, n) needs n >= 1
      .select(explode(transform(
        sequence(lit(1), size(col("t")) - 2),
        i => struct(element_at(col("t"), i).as("t1"),
          element_at(col("t"), i + 1).as("t2"),
          element_at(col("t"), i + 2).as("t3")))).as("g"))
      .groupBy(col("g.t1").as("t1"), col("g.t2").as("t2"), col("g.t3").as("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1").asc, col("t2").asc, col("t3").asc)
      .limit(20)
  }

  /** Seasonal hour-of-day profiles + integer-exact residuals per event
    * series (see [[graft.ops.TimeSeries.seasonalResiduals]]). */
  def q145Seasonal(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.seasonalResiduals(Tables.events(s, dir), "event_type", "ts")

  /** Cross-source content-overlap matrix (directional containment —
    * mirror detection; see [[Dedup.sourceOverlap]]). */
  def q146SourceOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(Tables.documents(s, dir), "text", "source")

  /** PSI drift of n_chars between the group-integrity train and test
    * splits — the q133 splitter composed into the monitoring statistic
    * (see [[Curation.psiDrift]]). */
  def q147PsiDrift(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val withSplit = d.join(
      graft.curation.Curation.groupSplit(d, "doc_id", "source")
        .select(col("doc_id"), col("split")), "doc_id")
    graft.curation.Curation.psiDrift(withSplit, "n_chars", "split",
      "train", "test", bins = 16)
  }

  /** First-view → first-purchase conversion-latency curve in hour buckets
    * with the cumulative share (see [[graft.ops.TimeSeries
    * .conversionLatency]]). */
  def q148ConversionLatency(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.conversionLatency(
      Tables.events(s, dir), "user_id", "ts", "event_type", "view", "purchase")

  /** 40-core peel of the bipartite trade graph (8 rounds — the fixture's
    * uniform degrees make the cascade shallow; the cascade law lives in
    * the spec's crafted graph; see [[graft.graph.Graph.kCore]]). */
  def q149KCore(s: SparkSession, dir: String): DataFrame =
    graft.graph.Graph.kCore(
      tradeGraphEdges(s, dir)
        .select(col("src").as("a_id"), col("dst").as("b_id")),
      k = 40, rounds = 8)

  /** The one-call corpus report card (see [[Curation.corpusReport]]) —
    * ingest-acceptance metrics as (metric, value) rows, every metric
    * reusing an existing operator's exact arithmetic. */
  def q150CorpusReport(s: SparkSession, dir: String): DataFrame =
    graft.curation.Curation.corpusReport(
      Tables.documents(s, dir), "doc_id", "text", "source", "lang")

  private def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(25, 6))).cast("double")

  /** TPC-H Q3 (shipping-priority) with the full date predicates — the
    * classic segment ⋈ open-orders ⋈ late-shipments top-k; broadcast dim,
    * decimal-stabilized revenue, TakeOrdered cut. */
  def q151TpchQ3(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1998-03-15"))
    val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit("1998-03-15"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5 (local-supplier volume): six-table star with the
    * customer-and-supplier-same-nation condition, one year of orders,
    * per-nation decimal-stabilized revenue. */
  def q152TpchQ5(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
    Tables.lineitem(s, dir)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  /** TPC-H Q10 (returned-item reporting): one quarter of orders whose
    * lineitems were returned, revenue per customer, top 20. */
  def q153TpchQ10(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-07-01") &&
        col("o_orderdate") < lit("1996-10-01"))
    Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** Hashing-trick TF vectors flattened to (doc_id, dim, cnt) rows (see
    * [[graft.text.TextOps.hashedTfVectors]]). */
  def q154HashedTf(s: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.hashedTfVectors(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), posexplode(col("vector")))
      .select(col("doc_id"), col("pos").cast("long").as("dim"),
        col("col").cast("long").as("cnt"))

  /** Exact cosine top-5 over the hashed-TF vectors — the text→vector
    * bridge: the q28 machinery on REAL text-derived features (integer
    * dot products, order-free on any engine). */
  def q155HashedTfKnn(s: SparkSession, dir: String): DataFrame = {
    val v = graft.text.TextOps.hashedTfVectors(Tables.documents(s, dir),
      "doc_id", "text")
    Similarity.cosineKnn(v.filter(col("doc_id") % 100 === 0), v,
      "doc_id", "vector", k = 5)
  }

  /** Item co-visitation with exact-lg lift — the "users who touched X
    * also touched Y" recommender primitive: distinct (user, item) rows
    * (item = the VARIANT-extracted props key), per-user item pairs i<j,
    * co-user counts, and lift(i,j) = lg c_ij + lg n_users − lg c_i −
    * lg c_j in bits; top-50 by (c_ij DESC, i, j) as a TakeOrdered.
    * Scale note: candidate volume is Σ_user |items_u|² — bounded by the
    * per-user activity cap a production pipeline enforces upstream (the
    * X108/X116 quota operators exist for exactly that). */
  def q156Covisitation(s: SparkSession, dir: String): DataFrame = {
    val ui = Tables.events(s, dir)
      .select(col("user_id").as("u"),
        variant_get(parse_json(col("props")), "$.k", "bigint").as("item"))
      .filter(col("item").isNotNull)
      .distinct()
    val nUsers = ui.agg(countDistinct(col("u")).as("n_users"))
    val ic = ui.groupBy(col("item")).agg(count(lit(1)).as("c"))
    val pairs = ui.alias("a")
      .join(ui.alias("b"), col("a.u") === col("b.u") &&
        col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("i"), col("b.item").as("j"))
      .agg(count(lit(1)).as("c_ij"))
    val lg = graft.curation.Curation.lg _
    pairs
      .join(broadcast(ic.select(col("item").as("i"), col("c").as("c_i"))), "i")
      .join(broadcast(ic.select(col("item").as("j"), col("c").as("c_j"))), "j")
      .crossJoin(broadcast(graft.ops.Guards.scalar(nUsers)))
      .select(col("i"), col("j"), col("c_ij"), col("c_i"), col("c_j"),
        (((lg(col("c_ij")) + lg(col("n_users"))) - lg(col("c_i"))) -
          lg(col("c_j"))).as("lift_bits"))
      .orderBy(col("c_ij").desc, col("i").asc, col("j").asc)
      .limit(50)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q21_text_stats"     -> q21TextStats _,
    "q22_lang_id"        -> q22LangId _,
    "q23_fingerprint"    -> q23Fingerprint _,
    "q24_dedup_exact"    -> q24DedupExact _,
    "q25_jaccard_pairs"  -> q25JaccardPairs _,
    "q26_minhash_lsh"    -> q26MinhashLsh _,
    "q27_simhash_pairs"  -> q27SimhashPairs _,
    "q28_embed_knn"      -> q28EmbedKnn _,
    "q29_embed_neardup"  -> q29EmbedNearDup _,
    "q30_ann_lsh"        -> q30AnnLsh _,
    "q31_multimodal"     -> q31Multimodal _,
    "q32_session_window" -> q32SessionWindow _,
    "q33_sliding_window" -> q33SlidingWindow _,
    "q34_asof_join"      -> q34AsofJoin _,
    "q35_ann_ivf"        -> q35AnnIvf _,
    "q36_tz_shift"       -> q36TzShift _,
    "q37_map_funcs"      -> q37MapFuncs _,
    "q38_embed_knn_agg"  -> q38EmbedKnnAgg _,
    "q39_frame_sample"   -> q39FrameSample _,
    "q40_percentiles"    -> q40Percentiles _,
    "q41_above_avg"      -> q41AboveAvg _,
    "q42_pivot"          -> q42Pivot _,
    "q43_cube"           -> q43Cube _,
    "q44_range_window"   -> q44RangeWindow _,
    "q45_window_funcs"   -> q45WindowFuncs _,
    "q46_edit_distance"  -> q46EditDistance _,
    "q47_set_ops_all"    -> q47SetOpsAll _,
    "q48_array_hofs"     -> q48ArrayHofs _,
    "q49_embed_neardup_lsh" -> q49EmbedNearDupLsh _,
    "q50_stratified_sample" -> q50StratifiedSample _,
    "q51_token_freq"     -> q51TokenFreq _,
    "q52_packing"        -> q52Packing _,
    "q53_dedup_clusters" -> q53DedupClusters _,
    "q54_rep_ngrams"     -> q54RepNgrams _,
    "q55_resize"         -> q55Resize _,
    "q56_decontaminate"  -> q56Decontaminate _,
    "q58_pack_stats"     -> q58PackStats _,
    "q59_drop_neardups"  -> q59DropNearDups _,
    "q60_png_decode"     -> q60PngDecode _,
    "q57_kmeans_ivf"     -> q57KmeansIvf _,
    "q61_curate_corpus"  -> q61CurateCorpus _,
    "q62_contam_scores"  -> q62ContamScores _,
    "q63_quantize_int8"  -> q63QuantizeInt8 _,
    "q64_shared_spans"   -> q64SharedSpans _,
    "q65_jpeg_decode"    -> q65JpegDecode _,
    "q66_wav_decode"     -> q66WavDecode _,
    "q67_pii_redact"     -> q67PiiRedact _,
    "q68_semantic_decontam" -> q68SemanticDecontam _,
    "q69_train_split"    -> q69TrainSplit _,
    "q70_domain_mix"     -> q70DomainMix _,
    "q71_approx_quantiles" -> q71ApproxQuantiles _,
    "q72_gopher_rules"   -> q72GopherRules _,
    "q73_label_centroids" -> q73LabelCentroids _,
    "q74_token_rarity"   -> q74TokenRarity _,
    "q75_bpe_merges"     -> q75BpeMerges _,
    "q76_zorder_cluster" -> q76ZorderCluster _,
    "q77_cms_freq"       -> q77CmsFreq _,
    "q78_rrf_fusion"     -> q78RrfFusion _,
    "q79_context_windows" -> q79ContextWindows _,
    "q80_salted_agg"     -> q80SaltedAgg _,
    "q81_funnel"         -> q81Funnel _,
    "q82_normalize_text" -> q82NormalizeText _,
    "q83_pagerank"       -> q83PageRank _,
    "q84_profile_stats"  -> q84ProfileStats _,
    "q85_equidepth_hist" -> q85EquiDepthHist _,
    "q86_gapfill_locf"   -> q86GapfillLocf _,
    "q87_runtime_filter" -> q87RuntimeFilter _,
    "q88_session_ids"    -> q88SessionIds _,
    "q89_retention"      -> q89RetentionCohorts _,
    "q90_scd2"           -> q90Scd2 _,
    "q91_winsorize"      -> q91Winsorize _,
    "q92_incremental_agg" -> q92IncrementalAgg _,
    "q93_range_join"     -> q93RangeJoin _,
    "q94_grouping_sets"  -> q94GroupingSets _,
    "q95_latest_by_key"  -> q95LatestByKey _,
    "q96_pca_top"        -> q96PcaTop _,
    "q97_bigram_lm"      -> q97BigramLm _,
    "q98_pca_outliers"   -> q98PcaOutliers _,
    "q99_tfidf_keywords" -> q99TfidfKeywords _,
    "q100_reconcile_diff" -> q100ReconcileDiff _,
    "q101_duplicated_spans" -> q101DuplicatedSpans _,
    "q102_excise_dup_spans" -> q102ExciseDupSpans _,
    "q103_containment_pairs" -> q103ContainmentPairs _,
    "q104_split_leakage"    -> q104SplitLeakage _,
    "q105_semdedup"         -> q105SemDedup _,
    "q106_rare_bigram_gate" -> q106RareBigramGate _,
    "q107_bloom_audit"      -> q107BloomAudit _,
    "q108_rerank_knn"       -> q108RerankKnn _,
    "q109_hard_negatives"   -> q109HardNegatives _,
    "q110_salted_join"      -> q110SaltedJoin _,
    "q111_bpe_encode"       -> q111BpeEncode _,
    "q112_dsir_weights"     -> q112DsirWeights _,
    "q113_hits"             -> q113Hits _,
    "q114_domain_cap"       -> q114DomainCap _,
    "q115_domain_kl"        -> q115DomainKl _,
    "q116_ngram_novelty"    -> q116NgramNovelty _,
    "q117_weighted_sample"  -> q117WeightedSample _,
    "q118_pq_adc"           -> q118PqAdc _,
    "q119_fuzzy_pairs"      -> q119FuzzyPairs _,
    "q120_bigram_ppl"       -> q120BigramPpl _,
    "q121_threshold_sweep"  -> q121ThresholdSweep _,
    "q122_bm25_topk"        -> q122Bm25TopK _,
    "q123_quality_lr"       -> q123QualityLr _,
    "q124_image_neardup"    -> q124ImageNearDup _,
    "q125_random_project"   -> q125RandomProject _,
    "q126_kcenter_coreset"  -> q126KCenter _,
    "q127_length_buckets"   -> q127LengthBuckets _,
    "q128_char_entropy"     -> q128CharEntropy _,
    "q129_pmi_collocations" -> q129PmiCollocations _,
    "q130_fingerprint"      -> q130Fingerprint _,
    "q131_mmr_rerank"       -> q131MmrRerank _,
    "q132_label_prop"       -> q132LabelProp _,
    "q133_group_split"      -> q133GroupSplit _,
    "q134_robust_outliers"  -> q134RobustOutliers _,
    "q135_hll_vocab"        -> q135HllVocab _,
    "q136_cusum_drift"      -> q136CusumDrift _,
    "q137_shot_bounds"      -> q137ShotBounds _,
    "q138_fk_orphans"       -> q138FkOrphans _,
    "q139_incremental_dedup" -> q139IncrementalDedup _,
    "q140_unpivot"          -> q140Unpivot _,
    "q141_variant_json"     -> q141VariantJson _,
    "q142_triangles"        -> q142Triangles _,
    "q143_attribution"      -> q143Attribution _,
    "q144_event_trigrams"   -> q144EventTrigrams _,
    "q145_seasonal"         -> q145Seasonal _,
    "q146_source_overlap"   -> q146SourceOverlap _,
    "q147_psi_drift"        -> q147PsiDrift _,
    "q148_conversion_curve" -> q148ConversionLatency _,
    "q149_kcore"            -> q149KCore _,
    "q150_corpus_report"    -> q150CorpusReport _,
    "q151_tpch_q3"          -> q151TpchQ3 _,
    "q152_tpch_q5"          -> q152TpchQ5 _,
    "q153_tpch_q10"         -> q153TpchQ10 _,
    "q154_hashed_tf"        -> q154HashedTf _,
    "q155_hashed_tf_knn"    -> q155HashedTfKnn _,
    "q156_covisitation"     -> q156Covisitation _,
  )

  /** q28's exact KNN re-planned through the bounded-heap TopKAgg typed
    * Aggregator (map-side partial top-k instead of a window rank shuffle);
    * identical output contract, same oracle. */
  def q38EmbedKnnAgg(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.cosineKnnAgg(
      emb.filter(col("vec_id") % 25 === 0), emb, "vec_id", "embedding", k = 10)
  }
}
