package graft.dedup

import graft.functions.GraftFunctions
import graft.ops.IterativeLoop
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data curation, in increasing
 * tolerance: exact (hash identity), n-gram Jaccard (set resemblance),
 * MinHash+LSH (sub-quadratic candidate generation for Jaccard), and SimHash
 * (Hamming-space near-dup). All are shuffle-on-key dataflows — no driver
 * collects, no cartesian products — so each survives a 1000-executor 100 TB
 * run by construction:
 *
 *  - exact dedup shuffles once on the content hash;
 *  - Jaccard uses an inverted shingle index (pairs sharing >=1 shingle),
 *    cost O(sum_shingle df^2) instead of O(n^2) — the standard ppjoin-family
 *    baseline;
 *  - MinHash-LSH shuffles on (band, band-hash) buckets, candidates only
 *    (sf0.1 replicated in memory as in SCALE.md, by the ScaleProbe main
 *    removed after feb0fc4; native shingle kernel: 20k docs / 34k
 *    true pairs -> LSH 3.3s vs 6.7s full-index / 19.1s prefix on the same
 *    host — the gap widens with corpus size since LSH cost tracks
 *    candidates, not Σdf²);
 *  - SimHash partitions by 16-bit chunk equality (pigeonhole: hamming <= 3
 *    over 4 chunks forces >=1 equal chunk), again candidates only.
 */
object Dedup {

  /** Driver-safety cap on the hot-label fallback's per-round collect
    * (mirrors decontaminateGate's 131k shingle cap): pigeonhole bounds hot
    * labels at nodes/threshold, so hitting this means the threshold was
    * chosen far too small, not that the graph is big. */
  val HotLabelCollectCap: Int = 131072

  /** The guard itself, factored out so the boundary is law-testable without
    * planting 131k+ hot labels in a spec graph. */
  private[dedup] def requireHotLabelBound(collected: Int, t: Long,
      cap: Int = HotLabelCollectCap): Unit =
    require(collected <= cap,
      s"hot-label fallback collected $collected labels above " +
        s"threshold=$t (cap $cap): the threshold is too " +
        "small for this graph - raise hotLabelThreshold (hot labels " +
        "are bounded by nodes/threshold) or rely on AQE skew handling")

  /** Word n-gram shingles (distinct) of a token array — the native
    * [[graft.functions.WordShingles]] kernel (one codegen'd static call per
    * row). [[shinglesHof]] is the built-in composition it is law-tested
    * against. */
  def shingles(toks: Column, n: Int): Column = GraftFunctions.wordShingles(toks, n)

  /** Reference semantics for [[shingles]] via built-in higher-order
    * functions: correct but interpreted (HOFs don't participate in
    * whole-stage codegen, and the per-element lambda dispatch profiled as
    * ~3/4 of the Jaccard family's runtime — ProfileDedup). */
  def shinglesHof(toks: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", (1 to n).map(j => element_at(toks, i + lit(j))): _*)))

  /** doc frame -> (id, shingle-set, set-size); drops docs too short to shingle.
    * Inputs with fewer partitions than cores are repartitioned first: the
    * local testdata is a single parquet split, and the HOF shingle lambdas
    * are interpreted (no whole-stage codegen for higher-order functions), so
    * without it the entire pipeline runs on one task. The repartition is
    * GATED on the input's actual partition count — a real multi-split
    * 100 TB scan already yields enough partitions and must not pay a
    * gratuitous exchange of raw text (round-2 verdict item 8). */
  def shingled(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingledBase(docs, idCol, textCol, n, shingles)

  /** [[shingled]] with the shingles HASHED in the kernel (round 16,
    * [[graft.functions.WordShingleHashes]]): (id, s: array<long>, sz). For
    * the equality-only consumers — the exact-Jaccard family, span/
    * containment overlap, decontamination — where a shingle is only ever
    * compared for EQUALITY: every downstream exchange and join key carries
    * 8 bytes instead of the n-word string, and the per-row string set is
    * never allocated. Counts (and so every emitted jaccard/containment
    * value) are identical up to xxhash64 collisions, ~2⁻⁶⁴ per shingle
    * pair — the [[graft.functions.VectorMath.shingleHashOverlap]] /
    * minhash precedent; hash-verified against the string oracle at every
    * SF. NOT for [[minhashLshPairs]]' signature input (minhash reads the
    * shingle BYTES) or any consumer that outputs shingle text. */
  def shingledHashed(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingledBase(docs, idCol, textCol, n, GraftFunctions.wordShingleHashes)

  private def shingledBase(docs: DataFrame, idCol: String, textCol: String, n: Int,
      shingleFn: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // .rdd materializes a physical plan just to read the partition count and
    // THROWS on streaming frames — skip the spread gate for streams (a
    // micro-batch's parallelism is the source's concern, not this op's)
    val spread =
      if (docs.isStreaming) docs
      else if (docs.rdd.getNumPartitions < par) docs.repartition(par)
      else docs
    spread
      // tokens must be a NAMED column, not an expression passed into the
      // shingle lambda: element_at(split(text), i) inside transform would
      // re-run the split per element — O(tokens^2) per doc. As a non-cheap
      // aliased projection CollapseProject keeps it evaluated once per row.
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("w"))
      .filter(size(col("w")) >= n)
      .select(col("id"), shingleFn(col("w"), n).as("s"))
      .withColumn("sz", size(col("s")))
  }

  /**
   * Incremental near-dup admission: probe a DELTA batch against the
   * standing corpus without touching corpus-internal pairs — the daily
   * ingest shape (a new crawl lands; only new-vs-existing similarity
   * matters, so the join is delta-postings × corpus-postings, never
   * corpus²). Emits (delta_id, corpus_id, jaccard ≥ threshold): the
   * delta docs to REJECT as near-dups of something already held.
   *
   * Scale shape: the inverted index shuffles on shingles like
   * [[jaccardPairs]], but one side is delta-sized — candidate volume is
   * Σ_sh df_delta·df_corpus, linear in the delta for stable corpora. The
   * corpus postings would be a MATERIALIZED index in production (write
   * once, probe every batch); the dataflow is identical.
   */
  def incrementalNearDup(corpus: DataFrame, delta: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6): DataFrame = {
    // round 16: hashed shingles — equality-only consumer (see shingledHashed)
    def inv(df: DataFrame) = shingledHashed(df, idCol, textCol, n)
      .select(col("id"), col("sz"), explode(col("s")).as("sh"))
    inv(delta).alias("d")
      .join(inv(corpus).alias("c"), col("d.sh") === col("c.sh"))
      .groupBy(col("d.id").as("delta_id"), col("c.id").as("corpus_id"),
        col("d.sz").as("d_sz"), col("c.sz").as("c_sz"))
      .agg(count(lit(1)).as("c"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("d_sz") + col("c_sz") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("delta_id"), col("corpus_id"), col("jaccard"))
  }

  /**
   * Cross-source content-overlap matrix (mirror/repost detection): for
   * every ordered source pair, how many of src's DISTINCT `n`-gram
   * shingles also appear in dst, and the containment share
   * |src ∩ dst| / |src| — the report that catches one source mirroring or
   * boiler-plating another (containment is directional: a small mirror is
   * ~fully contained in the original, not vice versa; shingle granularity
   * catches partial/edited mirrors that whole-document hashing misses).
   *
   * Scale shape: distinct (source, shingle) rows, one shingle-keyed
   * self-join whose fan-out per shingle is bounded by |sources| (≤ that,
   * since rows are per-source distinct), and a |sources|²-bounded
   * aggregate. The corpus shuffles once on the shingle.
   */
  def sourceOverlap(docs: DataFrame, textCol: String,
      domainCol: String, n: Int = 3): DataFrame = {
    val h = docs
      .select(col(domainCol).as("source"), TextOps.tokens(col(textCol)).as("w"))
      .filter(size(col("w")) >= n)
      // round 16: hashed shingles — the overlap matrix only tests equality
      .select(col("source"), explode(GraftFunctions.wordShingleHashes(col("w"), n)).as("h"))
      .distinct()
    val sizes = h.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    h.alias("a")
      .join(h.alias("b"),
        col("a.h") === col("b.h") && col("a.source") =!= col("b.source"))
      .groupBy(col("a.source").as("src"), col("b.source").as("dst"))
      .agg(count(lit(1)).as("common"))
      .join(broadcast(sizes.select(col("source").as("src"), col("n_src"))), "src")
      .select(col("src"), col("dst"), col("n_src"), col("common"),
        (col("common").cast("double") / col("n_src").cast("double"))
          .as("containment"))
  }

  // --------------------------------------------------------------- exact ----

  /** Exact dedup by normalized-content hash: one row per distinct content
    * with the canonical (minimum) id and the duplicate count. Single shuffle
    * on the 128-bit hash; at 100 TB this is the map-side-combinable groupBy
    * Spark already partial-aggregates. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), md5(TextOps.normalize(col(textCol))).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  // ------------------------------------------------------------- jaccard ----

  /** Exact-verify a candidate-pair frame against the shingle sets: computes
    * true Jaccard via array_intersect and applies the threshold. Shared by
    * the prefix-filtered exact path and the MinHash-LSH path. */
  private def verifyExact(candidates: DataFrame, t: DataFrame,
      threshold: Double): DataFrame = {
    val sa = t.select(col("id").as("a_id"), col("s").as("a_s"), col("sz").as("a_sz"))
    val sb = t.select(col("id").as("b_id"), col("s").as("b_s"), col("sz").as("b_sz"))
    candidates.join(sa, "a_id").join(sb, "b_id")
      .withColumn("c", size(array_intersect(col("a_s"), col("b_s"))))
      .withColumn("jaccard",
        col("c").cast("double") / (col("a_sz") + col("b_sz") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /**
   * Exact n-gram Jaccard near-dup pairs via PREFIX-FILTERED inverted index
   * with the document-frequency canonical order (Chaudhuri/Ganti/Kaushik
   * 2006, ICDE, "A primitive operator for similarity joins"; Bayardo/Ma/
   * Srikant 2007, WWW, "Scaling up all pairs similarity search"): under ANY
   * fixed total order of shingles, two sets with J >= t must share an
   * element within their first |S| - floor(t·|S|) + 1 shingles. Ordering by
   * ascending global df puts the RAREST shingles in the indexed prefix, so
   * candidate pairs scale with Σ_rare df² instead of Σ_all df² — the hot
   * (high-df) shingles that dominate the naive index's join fan-out never
   * get indexed. Candidates are then exact-verified, so the result EQUALS
   * [[jaccardPairs]] (law-tested). floor (not ceil) keeps the
   * prefix a superset of the theoretical minimum under floating-point.
   *
   * Measured on the local corpus (sf0.1, 5000 docs): candidates drop from
   * 1.27M (full index) to ~20k; under lexicographic order prefix filtering
   * only reached 466k — the df order, not the prefix alone, is the win.
   */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // round 16: hashed shingles — candidates are exact-verified, keys equality-only
    val t = shingledHashed(docs, idCol, textCol, n)
    val inv = t.select(col("id"), col("sz"), explode(col("s")).as("sh"))
    val dfreq = inv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("id"))
      .orderBy(col("df").asc, col("sh").asc)
    val pref = inv.join(dfreq, "sh")
      .withColumn("pos", row_number().over(byRarity))
      .filter(col("pos") <= col("sz") - floor(col("sz") * threshold) + 1)
      .select(col("id"), col("sh"))
    val a = pref.alias("a"); val b = pref.alias("b")
    val candidates = a
      .join(b, col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    verifyExact(candidates, t, threshold)
  }

  /**
   * The default exact path: full inverted shingle index with COUNT-based
   * intersection (no array materialization in the verify). Measured faster
   * than [[jaccardPairsPrefix]] at the local scales (5.4s vs 7-10s at
   * sf0.1): this corpus's df distribution is light-tailed (max df 25), so
   * the prefix pipeline's extra shuffles (df agg + join + per-doc window)
   * cost more than its candidate reduction saves. On a heavy-tailed real
   * corpus the hot-shingle fan-out dominates and jaccardPairsPrefix is the
   * right choice — both are exact and law-tested identical.
   */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6): DataFrame = {
    // round 16: hashed shingles — the inverted index joins on equality only,
    // so every posting carries 8 bytes instead of the n-word string
    val t = shingledHashed(docs, idCol, textCol, n)
    val inv = t.select(col("id"), col("sz"), explode(col("s")).as("sh"))
    val a = inv.alias("a"); val b = inv.alias("b")
    a.join(b, col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(
        col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.sz").as("a_sz"), col("b.sz").as("b_sz"))
      .agg(count(lit(1)).as("c"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("a_sz") + col("b_sz") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /**
   * Measured path selection between the two EXACT Jaccard plans: a cheap
   * document-frequency probe over a deterministic 1-in-`sampleOneIn` doc
   * sample estimates the full inverted index's candidate blowup
   * B = Σ_sh df² / Σ_sh df (average candidate comparisons generated per
   * shingle posting; sample Σdf² rescales by sampleOneIn since df_sample ≈
   * df/sampleOneIn on the hot shingles that matter). Light tail (B small —
   * this corpus measures ~5, max df 25) keeps [[jaccardPairs]], which
   * measured faster (SCALE.md method; ScaleProbe, code at feb0fc4)
   * because the prefix pipeline's extra shuffles cost more than its
   * candidate reduction saves. A heavy-tailed
   * corpus (hot shingles with df in the 10⁴⁺ range) blows past any
   * constant limit and flips to [[jaccardPairsPrefix]], whose df-ordered
   * indexed prefix never contains the hot shingles. Both paths are exact
   * and law-tested identical, so the probe changes only the plan, never
   * the result. Probe cost: shingling 1/sampleOneIn of the corpus + one
   * aggregate — the 100 TB-sane way to choose a plan (never a full pass).
   */
  private[dedup] def prefixPathPreferred(docs: DataFrame, idCol: String, textCol: String,
      n: Int, sampleOneIn: Int = 20, blowupLimit: Double = 64.0): Boolean = {
    val sampled = docs.filter(pmod(xxhash64(col(idCol)), lit(sampleOneIn)) === 0)
    val row = shingledHashed(sampled, idCol, textCol, n)
      .select(explode(col("s")).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .agg(
        coalesce(sum(col("df") * col("df")), lit(0L)).cast("double").as("s2"),
        coalesce(sum(col("df")), lit(0L)).cast("double").as("s1"))
      .head()
    val (s2, s1) = (row.getDouble(0), row.getDouble(1))
    s1 > 0.0 && sampleOneIn * s2 / s1 > blowupLimit
  }

  /** Exact Jaccard pairs through the measured selector above. */
  def jaccardPairsAuto(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6): DataFrame =
    if (prefixPathPreferred(docs, idCol, textCol, n))
      jaccardPairsPrefix(docs, idCol, textCol, n, threshold)
    else jaccardPairs(docs, idCol, textCol, n, threshold)

  /**
   * DELTA-scoped exact Jaccard pairs: every pair (a, b) with J ≥ threshold
   * where at least one side is in `delta` — the per-micro-batch pair
   * discovery of streaming near-dup maintenance
   * ([[graft.streaming.DocsPipeline.nearDupClusterBatch]]). Pairs wholly
   * inside `stored` are deliberately NOT re-found: by induction they were
   * emitted when their newer side was itself the delta, which is what
   * makes N successive delta discoveries ∪-equal to one [[jaccardPairs]]
   * over the union (the DocsPipelineSpec law).
   *
   * Contract: `stored` and `delta` carry disjoint id sets (the caller
   * anti-joins re-deliveries away first) and ids are append-only — a
   * REVISED text under an old id would need pair retraction, which
   * insert-only CC maintenance cannot express.
   *
   * Scale shape: the candidate join is delta-shingles × union-index, so
   * fan-out is bounded by the delta's postings (batch-sized), never the
   * stored corpus squared. The union side's shingle frame is recomputed
   * per batch from the docs store here; a production deployment
   * materializes that inverted index incrementally in its own keyed store
   * — the access pattern (equi-join on shingle) is unchanged, so this is
   * a storage choice, not a plan change. Output ids are normalized
   * (a_id < b_id) and distinct, matching [[jaccardPairs]] exactly.
   */
  def jaccardPairsDelta(stored: DataFrame, delta: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.6): DataFrame = {
    val all = IterativeLoop.cutLazy(
      shingledHashed(stored.select(col(idCol), col(textCol))
        .unionByName(delta.select(col(idCol), col(textCol))), idCol, textCol, n))
    val dIds = delta.select(col(idCol).as("id"))
    val inv = all.select(col("id"), explode(col("s")).as("sh"))
    val dInv = inv.join(dIds, Seq("id"), "left_semi")
    val a = dInv.alias("a"); val b = inv.alias("b")
    val candidates = a
      .join(b, col("a.sh") === col("b.sh") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("a_id"),
        greatest(col("a.id"), col("b.id")).as("b_id"))
      .distinct()
    verifyExact(candidates, all, threshold)
  }

  /**
   * Cross-document LONG-SPAN duplication: pairs of docs sharing at least
   * `minShared` contiguous `n`-token runs — the word-level, bounded-memory
   * relative of suffix-array substring dedup (Lee et al. 2022, ACL,
   * "Deduplicating training data makes language models better" §4.1 uses
   * 50-token spans; pick `n` ≈ the span length that matters for
   * memorization). Distinct from Jaccard near-dup: two docs can share one
   * verbatim boilerplate paragraph while being dissimilar overall — this
   * catches exactly that.
   *
   * Scale shape: the same inverted-index join as [[jaccardPairs]]. For
   * NATURAL text, long shingles are near-unique (a 20-gram is practically
   * a fingerprint), the df tail is flat, and Σdf² ≈ Σdf — cheap. But the
   * very boilerplate this operator hunts breaks that premise: a license
   * header shared by k docs gives its spans df = k, and the self-join
   * emits span_len·C(k,2) rows for that one template. `maxDf` is the
   * standard mitigation (cap posting-list length; Lee et al. likewise
   * bound bucket sizes): spans shared by MORE than `maxDf` docs are
   * excluded from pair generation — at that popularity the right tool is
   * boilerplate REMOVAL (the span itself, findable from the df table),
   * not quadratic pair enumeration. Shared-span counts equal intersection
   * sizes (over the surviving spans) because shingle sets are distinct
   * per doc.
   */
  def sharedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 20, minShared: Long = 1L, maxDf: Long = 1000L): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2 (a span needs df 2 to form a pair), got $maxDf")
    // round 16: hashed spans — a 20-token span string is ~100+ bytes per
    // posting; the hash is 8. Spans are only compared for equality.
    val t = shingledHashed(docs, idCol, textCol, n)
    // materialize the exploded inverted index ONCE: it feeds the hot-span
    // aggregate plus BOTH sides of the self-join, and without the cut each
    // consumer re-scans and re-shingles the whole corpus (measured on the
    // adaptive plan before the cut: 5 parquet scans / 6 shingle Generates
    // per query — a 100 TB corpus read five times). After the cut: one
    // scan, one shingle pass, three cheap checkpoint reads.
    val inv = IterativeLoop.cut(t.select(col("id"), explode(col("s")).as("sh")))
    // one map-side-combinable count per span; the broadcast-ability of the
    // HOT list (df > maxDf) is by construction: it is tiny or the corpus
    // is template spam
    val hot = inv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("sh"))
    val cold = inv.join(broadcast(hot), Seq("sh"), "left_anti")
    val a = cold.alias("a"); val b = cold.alias("b")
    a.join(b, col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .agg(count(lit(1)).as("n_shared_spans"))
      .filter(col("n_shared_spans") >= minShared)
  }

  /**
   * Exact duplicated-substring spans, the ExactSubstr upgrade of
   * [[sharedSpans]] (Lee et al. 2022, ACL, "Deduplicating training data
   * makes language models better" — their suffix-array pass dedups by
   * EXCISING any substring that appears twice anywhere in the corpus;
   * `/root/reference` has no analogue, this is §2.12 extension surface).
   *
   * Token-array formulation of the suffix-array criterion: a duplicated
   * substring of ≥ `minLen` tokens exists exactly where two suffixes share
   * a `minLen`-token prefix, and grouping suffixes BY that prefix (the
   * sorted-suffix prefix group) is a hash aggregate — no global suffix
   * sort. Every suffix emits its first-`minLen`-token gram with its
   * position; grams occurring ≥ 2 times corpus-wide (same doc or not —
   * the suffix-array adjacency makes no distinction) mark their token
   * interval [pos, pos+minLen-1] as duplicated, and per doc the
   * overlapping/touching intervals merge (gaps-and-islands) into MAXIMAL
   * spans — the excision list a dedup pass consumes.
   *
   * Scale shape: one narrow gram projection (no corpus self-join ever);
   * one gram-keyed shuffle for the occurrence count (window count, no
   * sort frame); one doc-keyed window for the island merge. Output:
   * (id, span_start, span_end, span_len, n_dup_grams), positions 1-based.
   * Fully deterministic ⇒ the DuckDB oracle replays it verbatim (q101).
   */
  /** (id, pos, gram): every suffix's first-`minLen`-token prefix with its
    * 1-based start position — the shared front end of [[duplicatedSpans]]
    * and [[exciseDuplicatedSpans]]. */
  private def positionedGrams(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame = {
    val toks = graft.text.TextOps.tokens(col(textCol))
    docs
      .filter(size(toks) >= minLen)
      .select(col(idCol).as("id"),
        posexplode(transform(
          sequence(lit(1), size(toks) - (minLen - 1)),
          i => concat_ws(" ", slice(toks, i, lit(minLen))))).as(Seq("p0", "gram")))
      .select(col("id"), (col("p0") + 1).cast("long").as("pos"), col("gram"))
  }

  /** Merge a (id, pos) frame of fixed-length-`minLen` interval starts into
    * maximal per-doc intervals (gaps-and-islands): a gap strictly wider
    * than minLen means the previous interval [p_prev, p_prev+minLen-1]
    * cannot overlap or touch [p, ...] — island break (first row: NULL lag
    * -> 0). Output: (id, island, span_start, span_end, n_dup_grams). */
  private def mergeSpanIslands(marks: DataFrame, minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    val brk = when(col("pos") - lag(col("pos"), 1).over(byDoc) > minLen, 1L)
      .otherwise(0L)
    marks
      .withColumn("island",
        sum(brk).over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (minLen - 1)).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
  }

  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 20): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2 tokens, got $minLen")
    import org.apache.spark.sql.expressions.Window
    val dup = positionedGrams(docs, idCol, textCol, minLen)
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .filter(col("occ") >= 2)
    mergeSpanIslands(dup, minLen)
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"),
        col("n_dup_grams"))
  }

  /**
   * Dedup by EXCISION — the application of [[duplicatedSpans]], completing
   * the ExactSubstr pass (Lee et al. 2022 remove each duplicated substring
   * from all but one occurrence, keeping the documents): every occurrence
   * of a duplicated `minLen`-gram EXCEPT the globally first (smallest
   * (id, pos) — the deterministic stand-in for suffix-array order) marks
   * its token interval; marked intervals merge per doc into maximal spans,
   * and the covered tokens are cut out of the document. The first
   * occurrence of every span survives verbatim, so no content is lost from
   * the corpus — only repetition.
   *
   * Scale shape: one gram-keyed window (rank within gram), one doc-keyed
   * island window, then a per-doc range anti-join of tokens against the
   * doc's own intervals and an order-preserving rebuild — no corpus
   * self-join, state bounded by token count. Output: (id, clean_text,
   * n_removed); docs shorter than `minLen` tokens pass through untouched.
   */
  def exciseDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 20): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2 tokens, got $minLen")
    import org.apache.spark.sql.expressions.Window
    // rn >= 2 implies the gram occurs >= 2 times: no separate occurrence
    // count needed, and the rn = 1 occurrence is exactly the retained one
    val marks = positionedGrams(docs, idCol, textCol, minLen)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("gram")).orderBy(col("id"), col("pos"))))
      .filter(col("rn") >= 2)
      .select(col("id"), col("pos"))
    val intervals = mergeSpanIslands(marks, minLen)
      .select(col("id").as("iid"), col("span_start"), col("span_end"))
    val toks = graft.text.TextOps.tokens(col(textCol))
    // cut the positioned-token frame: the anti-join and the per-doc totals
    // both consume it — one text scan for the token side instead of two
    // (at 100 TB the raw-text column is the expensive read)
    val tok = IterativeLoop.cutLazy(docs.select(col(idCol).as("id"),
        posexplode(toks).as(Seq("t0", "token")))
      .select(col("id"), (col("t0") + 1).cast("long").as("tp"), col("token")))
    val totals = tok.groupBy(col("id")).agg(count(lit(1)).as("n_toks"))
    val kept = tok.join(intervals,
      col("id") === col("iid") &&
        col("tp") >= col("span_start") && col("tp") <= col("span_end"),
      "left_anti")
    val rebuilt = kept
      .groupBy(col("id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("tp"), col("token")))),
          x => x.getField("token"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    totals
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /**
   * Asymmetric shingle CONTAINMENT pairs: C(src→dst) = |S_src ∩ S_dst| /
   * |S_src| — the sub-document duplication detector Jaccard misses. A
   * short document quoted wholesale inside a long one has tiny Jaccard
   * (the union is dominated by the long doc) but containment ≈ 1 from the
   * short side; it is the signal for quote/boilerplate inclusion and
   * near-superset version detection (Broder 1997's "containment", the
   * other resemblance measure alongside Jaccard).
   *
   * Same inverted-index scale shape as [[jaccardPairs]] (one shingle
   * explode, candidate pairs from the index, count-based intersection —
   * no array materialization), emitting BOTH directed rows per unordered
   * candidate since C is asymmetric. The ratio is one IEEE division of
   * two exact longs ⇒ bit-deterministic cross-engine.
   */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"bad containment threshold $threshold")
    // cut the shingle frame once: both self-join sides and the size lookup
    // consume it — without the cut each pays a corpus scan + shingle pass
    // (the q64 lesson; the naive plan showed 5 FileScans / 4 Generates)
    val t = IterativeLoop.cutLazy(shingledHashed(docs, idCol, textCol, n))
    val inv = t.select(col("id"), explode(col("s")).as("sh"))
    val a = inv.alias("a"); val b = inv.alias("b")
    // cut the candidate aggregate too: BOTH directed union branches read it,
    // and its recompute would replay the whole self-join
    val inter = IterativeLoop.cutLazy(a
      .join(b, col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("x_id"), col("b.id").as("y_id"))
      .agg(count(lit(1)).as("c")))
    val szs = t.select(col("id"), col("sz"))
    val both = inter
      .select(col("x_id").as("src_id"), col("y_id").as("dst_id"), col("c"))
      .unionByName(inter
        .select(col("y_id").as("src_id"), col("x_id").as("dst_id"), col("c")))
    both
      .join(szs.withColumnRenamed("id", "src_id").withColumnRenamed("sz", "src_sz"), "src_id")
      .withColumn("containment", col("c").cast("double") / col("src_sz").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("src_id"), col("dst_id"), col("containment"))
  }

  // ------------------------------------------------------------- minhash ----

  /**
   * MinHash+LSH near-dup pairs: k=bands*rows affine-permutation minhashes
   * per doc (native [[graft.functions.MinHashSig]] expression), banded into
   * `bands` buckets of `rows` signature slots; docs colliding in any band
   * become candidates, then candidates are verified with the EXACT shingle
   * Jaccard so the output contract equals [[jaccardPairs]] minus any pair
   * LSH missed. With rows=3, bands=42 the per-pair miss probability at
   * j=0.6 is (1-0.6^3)^42 ~ 3.6e-5 — statistically exact on the testdata.
   *
   * Scale shape: signature computation is a narrow projection; the only
   * shuffles are the (band, bucket) self-join and the final verify join,
   * both on candidate pairs only — the sub-quadratic path that replaces
   * jaccardPairs when sum df^2 blows up (Leskovec/Rajaraman/Ullman, Mining
   * of Massive Datasets ch.3).
   */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6, bands: Int = 42, rows: Int = 3): DataFrame = {
    val t = shingled(docs, idCol, textCol, n)
    val sigs = t.withColumn("sig", GraftFunctions.minhashSig(col("s"), bands * rows))
    val banded = sigs.select(
      col("id"),
      explode(transform(
        sequence(lit(0), lit(bands - 1)),
        bIdx => struct(
          bIdx.as("band"),
          xxhash64(bIdx, slice(col("sig"), bIdx * rows + 1, lit(rows))).as("bucket")))).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val ca = banded.alias("ca"); val cb = banded.alias("cb")
    val candidates = ca
      .join(cb, col("ca.band") === col("cb.band") && col("ca.bucket") === col("cb.bucket") &&
        col("ca.id") < col("cb.id"))
      .select(col("ca.id").as("a_id"), col("cb.id").as("b_id"))
      .distinct()
    verifyExact(candidates, t, threshold)
  }

  // ------------------------------------------------------------- simhash ----

  /**
   * SimHash near-dup pairs with guaranteed-complete candidate generation for
   * hamming <= maxHamming via chunk pigeonhole: the 64-bit fingerprint is cut
   * into maxHamming+1 chunks; two fingerprints within the bound must agree
   * on at least one whole chunk (Manku/Jain/Sarma 2007, WWW, "Detecting
   * near-duplicates for web crawling"). Join per chunk, dedupe, verify with
   * bit_count(a^b).
   */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    val f = docs.select(
      col(idCol).as("id"),
      GraftFunctions.simhash64(TextOps.tokens(col(textCol))).as("fp"))
    // unsigned shift then mask: chunk cIdx's bit window as the join key
    // (chunk count is a small compile-time constant, so unroll the structs)
    val chunkStructs = (0 until chunks).map { cIdx =>
      struct(
        lit(cIdx).as("chunk"),
        shiftrightunsigned(col("fp"), cIdx * bitsPer)
          .bitwiseAND(lit((1L << bitsPer) - 1)).as("ck"))
    }
    val keyed = f.select(col("id"), col("fp"), explode(array(chunkStructs: _*)).as("kk"))
      .select(col("id"), col("fp"), col("kk.chunk").as("chunk"), col("kk.ck").as("ck"))
    val ka = keyed.alias("ka"); val kb = keyed.alias("kb")
    ka.join(kb, col("ka.chunk") === col("kb.chunk") && col("ka.ck") === col("kb.ck") &&
        col("ka.id") < col("kb.id"))
      .select(col("ka.id").as("a_id"), col("kb.id").as("b_id"),
        bit_count(col("ka.fp").bitwiseXOR(col("kb.fp"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---------------------------------------------------------- clustering ----

  /**
   * Connected components over a near-dup pair list: labels every document
   * appearing in `pairs` with the SMALLEST doc id reachable through the
   * near-dup relation — the step that turns pairwise matches into dedup
   * GROUPS with a canonical representative (keep `id == component`, drop
   * the rest).
   *
   * Min-label propagation with POINTER JUMPING: each round first takes the
   * min of a node's label and its neighbors' labels (Pregel step), then
   * shortcuts through the label forest — component := label(component) —
   * the classic path-halving step (Shiloach/Vishkin 1982 family; same
   * effect as the star-contraction rounds of Kiveris et al. 2014,
   * "Connected components in MapReduce and beyond"). The shortcut makes the
   * distance each label has travelled DOUBLE per round, so convergence is
   * O(log diameter) rounds instead of O(diameter) — a 1000-link near-dup
   * chain converges in ~10 rounds, not 1000 (DedupSpec asserts the bound on
   * a 64-node path graph).
   *
   * Invariant: a node's label is always the id of some node reachable from
   * it and only ever decreases; the global minimum of a component keeps
   * label == id, so the unique fixpoint labels every node with its
   * component's min id. Scale shape per round: two equi-joins on node id +
   * one map-side-combinable min — all distributed; the driver loop carries
   * only the changed-label COUNT (convergence test), never data. Lineage is
   * truncated every round via [[graft.ops.IterativeLoop.cut]] (reliable on
   * clusters with a checkpoint dir, local otherwise) so the plan doesn't
   * grow with iterations.
   */
  def connectedComponents(pairs: DataFrame,
      aCol: String = "a_id", bCol: String = "b_id", maxIter: Int = 20,
      hotLabelThreshold: Option[Long] = None): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter, hotLabelThreshold)._1

  /** [[connectedComponents]] exposing the executed round count — the
    * convergence-rate contract DedupSpec asserts (O(log diameter)).
    *
    * `hotLabelThreshold`: the GIANT-COMPONENT fallback. Once a huge dedup
    * group forms (the degenerate million-identical-docs corpus), most rows'
    * `mid_component` is the SAME label, so the pointer-jump equi-join
    * hot-keys one shuffle partition. AQE's skew-join split handles this on
    * sane configs; where it can't be relied on, pass a threshold: each
    * round counts members per label (map-side-combinable, skew-free),
    * collects the few labels above the threshold (bounded by
    * nodes/threshold), and routes their rows through a BROADCAST lookup of
    * just those labels — map-side, no shuffle key hotter than the threshold
    * — while cold rows take the normal equi-join. Same fixpoint (the law
    * spec plants a giant star and holds both paths' labelings equal); costs
    * one extra count + materialization per round, so it stays opt-in —
    * measured (ScaleProbe, code at feb0fc4; 800k-edge star, local[32],
    * AQE on): default
    * 9.5 s vs hot-label 13.0 s, i.e. where AQE's skew split works the
    * fallback is pure overhead; reach for it only where it doesn't. */
  def connectedComponentsWithRounds(pairs: DataFrame,
      aCol: String = "a_id", bCol: String = "b_id",
      maxIter: Int = 20, hotLabelThreshold: Option[Long] = None): (DataFrame, Int) = {
    val (labels, iter, changed) =
      connectedComponentsAttempt(pairs, aCol, bCol, maxIter, hotLabelThreshold)
    // no silent caps: returning a non-fixpoint labeling would be wrong
    // data, not degraded data — fail loudly instead (deeper graphs need a
    // larger maxIter; pointer-jumped propagation converges in O(log diameter))
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        s"($changed labels still changing) - raise maxIter for this graph")
    (labels, iter)
  }

  /** [[connectedComponentsWithRounds]] body WITHOUT the loud cap failure:
    * (labels, rounds, labels-still-changing-at-exit). ONLY for callers
    * that treat a non-zero `changed` as a signal to fall back on a
    * structurally-bounded CC ([[graft.graph.Graph.ccAuto]] restarts on
    * hookComponents when the min-label loop stalls — the high-diameter /
    * local-minimum-basin regime); everyone else goes through the throwing
    * wrappers, because a capped labeling is silently wrong data. */
  private[graft] def connectedComponentsAttempt(pairs: DataFrame,
      aCol: String = "a_id", bCol: String = "b_id",
      maxIter: Int = 20, hotLabelThreshold: Option[Long] = None): (DataFrame, Int, Long) = {
    // Round 15: hash-partitioned on `v` before the persist — every round's
    // nbrMin join keys the edge side on v, and a cached plan (unlike a
    // lineage cut) keeps its outputPartitioning visible to the planner, so
    // the edge-sized side of that join shuffles ONCE here instead of once
    // per round (guide §2.4; the labels side still moves, but it is
    // node-sized).
    val edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .unionByName(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct()
      .repartition(col("v"))
      .persist()
    var labels = IterativeLoop.cut(
      edges.select(col("u").as("id")).distinct()
        .withColumn("component", col("id")))
    var changed = 1L
    var iter = 0
    val lid = graft.ops.PlanProbe.loopId()
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("vid"), col("component").as("vlabel")),
          col("v") === col("vid"))
        .groupBy(col("u"))
        .agg(min(col("vlabel")).as("nbr_min"))
      val propagated = labels
        .join(nbrMin, col("id") === col("u"), "left")
        .select(col("id"), col("component"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("mid_component"))
      // pointer jump THROUGH THE PREVIOUS round's labels (already
      // materialized — no extra checkpoint, and `propagated` is consumed
      // once so it needs none either): mid_component is some reachable
      // node's id, and that node's previous-round label is reachable from
      // it and <= it, so the hop preserves the invariant while still
      // doubling the lookback distance per round (k -> 2k+1 instead of the
      // same-round jump's 2k+2 — identical O(log diameter) bound, half the
      // per-round materializations).
      val jump = labels
        .select(col("id").as("jid"), col("component").as("jlabel"))
      def jumped(rows: DataFrame, lookup: DataFrame): DataFrame = rows
        .join(lookup, col("mid_component") === col("jid"), "left")
        .select(col("id"), col("component"),
          least(col("mid_component"), coalesce(col("jlabel"), col("mid_component")))
            .as("next_component"))
      val next = hotLabelThreshold match {
        case None => jumped(propagated, jump)
        case Some(t) =>
          // materialize once: the hot count, the split, and the join all
          // re-read `propagated` below
          val mid = IterativeLoop.cut(propagated)
          val hotKeys = mid.groupBy(col("mid_component")).agg(count(lit(1)).as("__n"))
            .filter(col("__n") > t).select(col("mid_component"))
            .collect().map(_.get(0)).toSeq
          // driver-safety cap, mirroring decontaminateGate's discipline: a
          // label counts as hot only above t members, so #hot ≤ nodes/t by
          // pigeonhole — a collect beyond the cap means the threshold is
          // far too small for this graph (and the isin()/broadcast built
          // from it would be the real scale hazard). Fail loudly.
          requireHotLabelBound(hotKeys.size, t)
          if (hotKeys.isEmpty) jumped(mid, jump)
          else {
            val isHot = col("mid_component").isin(hotKeys: _*)
            val hotJump = jump.filter(col("jid").isin(hotKeys: _*))
            jumped(mid.filter(isHot), broadcast(hotJump))
              .unionByName(jumped(mid.filter(!isHot), jump))
          }
      }
      // convergence count FUSED into the materialization: an Observation on
      // the frame the lineage cut materializes delivers the changed-label
      // count from the SAME job, replacing the per-round follow-up count()
      // scan — one job per round instead of two. Verified empirically on
      // BOTH IterativeLoop.cut paths (Spark 4.1: sum over 1..100 observed as
      // exactly 5050): in particular the reliable checkpoint(true) does NOT
      // double-deliver the metric through its checkpoint-write recompute.
      graft.ops.PlanProbe.offer(lid, iter + 1, next)
      val obs = org.apache.spark.sql.Observation()
      val updated = IterativeLoop.cut(next.observe(obs,
        coalesce(sum((col("next_component") =!= col("component")).cast("long")), lit(0L))
          .as("changed")))
      changed = obs.get("changed").asInstanceOf[Long]
      labels = updated.select(col("id"), col("next_component").as("component"))
      iter += 1
    }
    edges.unpersist()
    (labels, iter, changed)
  }

  /** Keep-canonical filter over a labeling: drops every doc whose component
    * label differs from its own id (the non-canonical members of each dedup
    * group). Docs never paired keep their rows untouched — the labeling
    * only covers paired docs, so the anti-join key set is small (bounded by
    * the near-dup population, not the corpus). */
  def keepCanonical(docs: DataFrame, idCol: String, labels: DataFrame): DataFrame = {
    val losers = labels.filter(col("id") =!= col("component"))
      .select(col("id").as("__dup_id"))
    docs.join(losers, col(idCol) === col("__dup_id"), "left_anti")
  }

  /**
   * The one-call dedup verb users actually want: near-dup pair generation
   * ([[jaccardPairsAuto]] — exact n-gram Jaccard through the measured plan
   * selector) → [[connectedComponents]] → keep-canonical filter. Returns
   * the curated corpus: every doc whose id is its group's minimum (docs in
   * no near-dup pair survive trivially). Guarantees (law-tested): output is
   * a subset of the input, and NO surviving pair has Jaccard >= threshold —
   * any such pair would have been an edge, putting both docs in one
   * component of which only the min id survives.
   *
   * Measured (ScaleProbe, code at feb0fc4; sf0.1 replicated as in
   * SCALE.md, local[32]): end to end 5.4 s at
   * 5k docs / 34.1 s at 20k docs with 34k planted pairs — cost tracks pair
   * generation; the components stage converged in 2 pointer-jump rounds at
   * every probed scale (rounds track cluster diameter, not corpus size).
   */
  def dropNearDups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, threshold: Double = 0.6): DataFrame =
    keepCanonical(docs, idCol,
      graft.graph.Graph.ccAuto(jaccardPairsAuto(docs, idCol, textCol, n, threshold)))

  /** [[dropNearDups]] for embedding-space near-dups: pairs from the
    * sign-LSH scale path ([[embeddingNearDupPairsLsh]]), same
    * components + keep-canonical composition.
    *
    * Round 12: both composition pipelines cluster through
    * [[graft.graph.Graph.ccAuto]] — on the shallow graphs near-dup
    * pairing actually produces, the min-label probe converges and the
    * cost is IDENTICAL to calling [[connectedComponents]] directly; on a
    * pathological deep pair graph the old path threw at its round cap,
    * while ccAuto restarts on the diameter-free hook CC and returns the
    * same canonical component-minimum labeling (so downstream
    * keep-canonical output is unchanged whenever both converge — the
    * CcAutoSpec law). */
  def dropNearDupsByEmbedding(rows: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 16, maxHamming: Int = 3): DataFrame =
    keepCanonical(rows, idCol,
      graft.graph.Graph.ccAuto(
        embeddingNearDupPairsLsh(rows, idCol, vecCol, threshold, planes, maxHamming)))

  // ----------------------------------------------------------- embedding ----

  /** Embedding-cosine near-dup pairs, brute force: the CORRECTNESS BASELINE
    * the scale path [[embeddingNearDupPairsLsh]] is law-tested against —
    * exact by construction but an all-pairs nested-loop join, so it belongs
    * in tests and small-corpus audits, never in a 100 TB pipeline. */
  def embeddingNearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val e = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism)
    val a = e.alias("a"); val b = e.alias("b")
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        GraftFunctions.cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /**
   * Embedding-cosine near-dup pairs, scale path: sign-random-projection LSH
   * (Charikar 2002) candidate generation with the chunk-pigeonhole
   * completeness rule of [[simhashPairs]], then exact
   * [[graft.functions.CosineSim]] verification.
   *
   * Each vector gets a `planes`-bit sign code ([[graft.functions.SignBucket]]);
   * the code is cut into maxHamming+1 chunks and two vectors become a
   * candidate iff they agree on at least one whole chunk — which pigeonhole
   * GUARANTEES for every pair whose codes differ in <= maxHamming bits.
   * Pairs further apart in code space are missed: the operator is
   * approximate with a deterministic, angle-monotone miss rule (the sign
   * code is a fixed function of the vector), so the DuckDB oracle mirrors
   * the identical bucketing bit-for-bit and the whole dataflow stays
   * hash-checkable end to end — the same oracle-mirrored-approximation
   * pattern as [[graft.sim.Similarity.ivfKnn]].
   *
   * Scale shape vs [[embeddingNearDupPairs]]: shuffles on (chunk, chunk-key)
   * buckets and candidate ids only — no cartesian, no all-pairs join, no
   * driver collect. Candidate volume tracks bucket occupancy: ~26% of
   * all-pairs on this worst-case corpus (uniform random vectors), collapsing
   * to near-candidates-only on real clustered embedding corpora where
   * near-dups sit at cosine >= 0.9 and code hamming ~0.
   */
  def embeddingNearDupPairsLsh(embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 16, maxHamming: Int = 3): DataFrame = {
    val (chunks, bitsPer) = chunkGeometry(planes, maxHamming)
    val e = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
    val keyed = chunkKeyed(e, planes, chunks, bitsPer)
    val ka = keyed.alias("ka"); val kb = keyed.alias("kb")
    val candidates = ka
      .join(kb, col("ka.chunk") === col("kb.chunk") && col("ka.ck") === col("kb.ck") &&
        col("ka.id") < col("kb.id"))
      .select(col("ka.id").as("a_id"), col("kb.id").as("b_id"))
      .distinct()
    val va = e.select(col("id").as("a_id"), col("v").as("a_v"))
    val vb = e.select(col("id").as("b_id"), col("v").as("b_v"))
    candidates.join(va, "a_id").join(vb, "b_id")
      .select(col("a_id"), col("b_id"),
        GraftFunctions.cosine(col("a_v"), col("b_v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  private def chunkGeometry(planes: Int, maxHamming: Int): (Int, Int) = {
    val chunks = maxHamming + 1
    require(planes % chunks == 0,
      s"planes ($planes) must divide into maxHamming+1 ($chunks) equal chunks")
    (chunks, planes / chunks)
  }

  /** (id, v) -> one (id, chunk, ck) row per sign-code chunk — the shared
    * candidate key of the single-frame and cross-frame LSH paths. The sign
    * code is a NAMED column so the O(planes x dim) kernel runs once per row
    * (a non-cheap alias survives CollapseProject), not once per chunk. */
  private def chunkKeyed(e: DataFrame, planes: Int, chunks: Int, bitsPer: Int): DataFrame = {
    val coded = e.withColumn("code", GraftFunctions.signBucket(col("v"), planes))
    val chunkStructs = (0 until chunks).map { cIdx =>
      struct(
        lit(cIdx).as("chunk"),
        shiftrightunsigned(col("code"), cIdx * bitsPer)
          .bitwiseAND(lit((1 << bitsPer) - 1)).as("ck"))
    }
    coded.select(col("id"), explode(array(chunkStructs: _*)).as("kk"))
      .select(col("id"), col("kk.chunk").as("chunk"), col("kk.ck").as("ck"))
  }

  /**
   * CROSS-corpus semantic near-dup pairs: the two-frame form of
   * [[embeddingNearDupPairsLsh]] — sign-LSH chunk-pigeonhole candidates
   * between `left` and `right`, then exact cosine verification. Same
   * deterministic, oracle-mirrorable approximation; the output is
   * (l_id, r_id, cosine) with no id-order constraint (the frames' id
   * spaces are unrelated). Scale shape: each side shuffles on its
   * (chunk, chunk-key) buckets only — never a cartesian — and the
   * candidate join keys are the same on both sides, so a 100 TB corpus
   * meets a small benchmark without the corpus ever being broadcast or
   * replicated.
   */
  def embeddingCrossPairsLsh(left: DataFrame, right: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      planes: Int = 16, maxHamming: Int = 3): DataFrame = {
    val (chunks, bitsPer) = chunkGeometry(planes, maxHamming)
    val l = left.select(col(idCol).as("id"), col(vecCol).as("v"))
    val r = right.select(col(idCol).as("id"), col(vecCol).as("v"))
    val kl = chunkKeyed(l, planes, chunks, bitsPer).alias("kl")
    val kr = chunkKeyed(r, planes, chunks, bitsPer).alias("kr")
    val candidates = kl
      .join(kr, col("kl.chunk") === col("kr.chunk") && col("kl.ck") === col("kr.ck"))
      .select(col("kl.id").as("l_id"), col("kr.id").as("r_id"))
      .distinct()
    val vl = l.select(col("id").as("l_id"), col("v").as("l_v"))
    val vr = r.select(col("id").as("r_id"), col("v").as("r_v"))
    candidates.join(vl, "l_id").join(vr, "r_id")
      .select(col("l_id"), col("r_id"),
        GraftFunctions.cosine(col("l_v"), col("r_v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /**
   * SEMANTIC decontamination: drop every corpus row whose embedding is a
   * near-duplicate (cosine >= threshold under [[embeddingCrossPairsLsh]]'s
   * deterministic candidate rule) of ANY benchmark row — the
   * embedding-space complement of the n-gram guard
   * ([[graft.curation.Curation.contaminationFlags]]): n-grams catch verbatim
   * and lightly-edited eval leakage, embeddings catch paraphrased leakage
   * n-grams miss entirely. Anti-join on the matched corpus ids; benchmark
   * rows never enter the output.
   */
  def decontaminateByEmbedding(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      planes: Int = 16, maxHamming: Int = 3): DataFrame = {
    val dirty = embeddingCrossPairsLsh(corpus, benchmark, idCol, vecCol,
      threshold, planes, maxHamming)
      .select(col("l_id").as("__dirty_id")).distinct()
    corpus.join(dirty, col(idCol) === col("__dirty_id"), "left_anti")
  }

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication
   * by clustering, the production recipe for pruning paraphrase-level
   * duplicates from web-scale pre-training corpora. Spherical k-means
   * ([[graft.sim.Similarity.kmeansCentroids]] — fixed-point update, so the
   * whole training loop is oracle-replayable) partitions the corpus into k
   * cells; exact pairwise cosine is then paid ONLY within each cell, and a
   * vector is marked a semantic duplicate when some LOWER-id vector in its
   * cell sits at cosine >= tau (the paper's keep-one-per-epsilon-ball
   * policy with the deterministic min-id representative).
   *
   * Output: one row per input vector — (id, cent_id, dup_of), `dup_of`
   * NULL for kept representatives, else the least same-cell witness id.
   * All-integer output: the hash law never touches a float.
   *
   * Scale shape: this is exactly why SemDeDup clusters first — the
   * within-cell self-join shuffles on cent_id and costs O(Σ|cell|²)
   * instead of O(n²); k is chosen so cells stay bounded (the paper runs
   * 50k clusters over 5B embeddings ≈ 100k-row cells). Assignment itself
   * is the NARROW broadcast-array argmax — the fact side never shuffles to
   * be assigned. No driver collect anywhere.
   */
  def semDedup(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, tau: Double): DataFrame = {
    val cents = graft.sim.Similarity.kmeansCentroids(embeddings, idCol, vecCol, k, iters)
    // one materialized assignment: the self-join below references cells on
    // BOTH sides (plus the output base) — without the cut each reference
    // re-scans and re-assigns the full corpus
    val cells = IterativeLoop.cut(graft.sim.Similarity
      .assignToCentroids(embeddings, cents, idCol, vecCol, 1))
    val a = cells.select(col("cent_id"), col("x_id").as("a_id"), col("x_v").as("a_v"))
    val b = cells.select(col("cent_id"), col("x_id").as("b_id"), col("x_v").as("b_v"))
    val witness = a.join(b, Seq("cent_id"))
      .filter(col("a_id") < col("b_id"))
      .filter(GraftFunctions.cosine(col("a_v"), col("b_v")) >= tau)
      .groupBy(col("b_id")).agg(min(col("a_id")).as("dup_of"))
    cells.select(col("x_id").as("id"), col("cent_id"))
      .join(witness, col("id") === col("b_id"), "left")
      .select(col("id"), col("cent_id"), col("dup_of"))
  }

  /**
   * N-gram novelty: per document, how many of its distinct n-grams make
   * their FIRST corpus-wide appearance in it (first = smallest
   * (doc_id, position) over all occurrences). The curation statistic
   * behind "is this doc new text or a remix" — boilerplate-heavy and
   * near-duplicate docs score near 0, genuinely novel text near 1; also
   * the incremental-crawl dial (score new snapshots against the corpus
   * so far). Docs with fewer than n tokens carry no grams and are absent.
   *
   * Output: (id, n_grams [distinct], n_first, novelty = n_first/n_grams).
   *
   * Scale shape: one shuffle keyed on the gram (min-struct argmin —
   * map-side combinable; the Σdf cost is the corpus' token count, same as
   * any inverted-index pass), one count keyed on the doc, one
   * broadcast-sized... no — both reductions are plain hash aggregates;
   * nothing driver-side, no window. Hot grams cost one combiner cell
   * each, not a reducer's worth of rows.
   */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    val toks = graft.text.TextOps.tokens(col(textCol))
    val grams = IterativeLoop.cutLazy(docs
      .select(col(idCol).as("id"), toks.as("w"))
      .filter(size(col("w")) >= n)
      .select(col("id"), explode(
        transform(sequence(lit(1), size(col("w")) - (n - 1)),
          i => struct((i - 1).cast("long").as("pos"),
            concat_ws(" ", (0 until n).map(j => element_at(col("w"), i + j)): _*)
              .as("gram")))).as("g"))
      .select(col("id"), col("g.pos").as("pos"), col("g.gram").as("gram")))
    val firsts = grams
      .groupBy(col("gram"))
      .agg(min(struct(col("id"), col("pos"))).as("f"))
      .groupBy(col("f.id").as("id"))
      .agg(count(lit(1)).as("n_first"))
    grams
      .groupBy(col("id"))
      .agg(count_distinct(col("gram")).as("n_grams"))
      .join(firsts, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("n_first"), lit(0L)).as("n_first"))
      .withColumn("novelty",
        col("n_first").cast("double") / col("n_grams").cast("double"))
  }

  /**
   * Blocked fuzzy record linkage over a title/prefix column: candidate
   * pairs form ONLY within a blocking key (the classic blocking design —
   * at crawl scale the all-pairs comparison is the thing you never do),
   * and each pair is scored by Sørensen–Dice over character bigrams,
   * dice = 2·|A∩B| / (|A|+|B|) on bigram MULTISETS — computed by the
   * native codegen'd [[graft.functions.BigramOverlap]] kernel (sort +
   * two-pointer per pair; the explode/groupBy/join composition the
   * oracle uses would shuffle per gram).
   *
   * The threshold test is EXACT-RATIONAL — keep iff 2·inter·den ≥
   * num·(n_a+n_b) in long arithmetic — so membership never hinges on a
   * float ULP; the reported dice is one IEEE divide of exact longs.
   * Output: (a_id, b_id, inter, na, nb, dice), a_id < b_id.
   *
   * Scale shape: one equi-join shuffle keyed on the block; cost is
   * Σ_block |block|² like every blocking scheme — block-key choice (and
   * salting a hot block) is the knob, the engine never pays n².
   */
  def fuzzyBlockedPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, prefixLen: Int = 40,
      thresholdNum: Int = 3, thresholdDen: Int = 4,
      salts: Int = 16): DataFrame = {
    require(prefixLen >= 2 && thresholdNum >= 0 && thresholdDen > 0 && salts >= 1,
      s"need prefixLen >= 2, a valid threshold and salts >= 1, " +
        s"got $prefixLen, $thresholdNum/$thresholdDen, $salts")
    val t = docs
      .select(col(idCol).as("id"), col(blockCol).as("blk"),
        substring(col(textCol), 1, prefixLen).as("s"))
      .filter(length(col("s")) >= 2)
      .withColumn("nbg", (length(col("s")) - 1).cast("long"))
    // The (blk, salt) rewrite of the X104 replicate join: a LOW-cardinality
    // blocking key (a handful of langs here) would otherwise hash every
    // block through one reducer — the join runs at |blocks| parallelism no
    // matter how many cores exist. Salting the a-side and replicating the
    // b-side ×salts spreads each block over `salts` reducers; the pair SET
    // is unchanged, so the oracle is oblivious. For high-cardinality
    // blocking keys (url hosts) pass salts = 1 and skip the replication.
    val a0 = t.select(col("id").as("a_id"), col("blk"),
      col("s").as("sa"), col("nbg").as("na"))
      .withColumn("salt", pmod(col("a_id"), lit(salts.toLong)))
    // the kernel runs at the PROBE side's partitioning when the b-side
    // broadcasts (local test data is one parquet split = one task), so
    // spread a under-partitioned probe side — same gated idiom as
    // [[shingled]]; the explicit partition count keeps AQE from
    // coalescing the tiny local shuffle back to one task
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val a = if (!docs.isStreaming && a0.rdd.getNumPartitions < par)
      a0.repartition(par) else a0
    val b = t.select(col("id").as("b_id"), col("blk"),
      col("s").as("sb"), col("nbg").as("nb"))
      .withColumn("salt", explode(sequence(lit(0L), lit(salts - 1L))))
    a.join(b, Seq("blk", "salt"))
      .drop("salt")
      .filter(col("a_id") < col("b_id"))
      .withColumn("inter", GraftFunctions.bigramOverlap(col("sa"), col("sb")))
      .filter(col("inter") * (2L * thresholdDen) >=
        lit(thresholdNum.toLong) * (col("na") + col("nb")))
      .select(col("a_id"), col("b_id"), col("inter"), col("na"), col("nb"),
        ((col("inter") * 2L).cast("double") /
          (col("na") + col("nb")).cast("double")).as("dice"))
  }
}
