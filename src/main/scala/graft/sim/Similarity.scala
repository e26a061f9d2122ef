package graft.sim

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Two paths, one contract:
 *  - [[cosineKnn]]: exact brute force — the correctness baseline. Queries
 *    are broadcast (the query set is small by construction); the candidate
 *    side streams through a codegen'd [[graft.functions.CosineSim]] kernel,
 *    so the only shuffle is the per-query top-k. At 100 TB the fact side
 *    never moves.
 *  - [[lshKnn]]: sign-random-projection LSH (Charikar 2002) — the scale
 *    path. Vectors bucket by the sign pattern of `planes` fixed Rademacher
 *    hyperplanes; a query probes its own bucket plus all buckets within
 *    `probeHamming` sign flips (multi-probe, Lv et al. 2007, VLDB), and
 *    only probed candidates pay the exact cosine. Recall is tunable via
 *    planes/probeHamming; on uniformly random vectors (this testdata —
 *    no planted neighbors) recall@10 is inherently modest, which the spec
 *    asserts as a floor, not a point estimate.
 */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    * Deterministic: ties broken by candidate id ascending. */
  def cosineKnn(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
    val c = candidates.select(col(idCol).as("c_id"), col(vecCol).as("c_v"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        GraftFunctions.cosine(col("q_v"), col("c_v")).as("cosine"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("rnk"), col("cosine"))
  }

  /**
   * Exact top-k via the bounded-heap [[graft.functions.TopKAgg]] typed
   * Aggregator instead of a window rank. Same output contract as
   * [[cosineKnn]] (same oracle), different physical shape: partial
   * aggregation bounds each map partition to k pairs before the exchange, so
   * the shuffle carries O(k x partitions) rows per query instead of every
   * scored candidate — the scale-preferred form when candidates >> k.
   */
  def cosineKnnAgg(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
    val c = candidates.select(col(idCol).as("c_id"), col(vecCol).as("c_v"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        GraftFunctions.cosine(col("q_v"), col("c_v")).as("cosine"))
      .as[(Long, Long, Double)]
    scored
      .groupByKey(_._1)
      .mapValues(r => (r._3, r._2))
      .agg(graft.functions.TopKAgg.topK(k).toColumn.name("top"))
      .toDF("q_id", "top")
      .select(col("q_id"), posexplode(col("top")))
      .select(
        col("q_id"),
        col("col._2").as("c_id"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("col._1").as("cosine"))
  }

  /**
   * IVF-style approximate top-k (the inverted-file ANN family: Sivic &
   * Zisserman 2003, ICCV, "Video Google"; the coarse-quantizer stage of
   * Jégou et al. 2011, TPAMI, IVFADC): candidates are partitioned into
   * `lists` cells by nearest centroid (cosine), and each query scans only
   * the `nProbe` cells whose centroids it is closest to.
   *
   * Centroids here are a deterministic sample of the corpus (every
   * strideth vector) rather than k-means iterations — the assignment,
   * probing and ranking plumbing is identical, the query plan is the same
   * shuffle shape, and the whole operator stays oracle-reproducible in SQL.
   *
   * Scale shape: nearest-centroid assignment is a NARROW projection — the
   * centroid set is collapsed to a single broadcast array row and each
   * vector ranks it in-place (array_sort over a struct array), so the fact
   * side pays zero shuffle to be assigned. The probe side (small by
   * construction) broadcasts into the cell join; the only shuffle of scored
   * rows is the per-query top-k window. All ties break on ascending id, so
   * output is deterministic.
   */
  def ivfKnn(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroidStride: Int = 50, nProbe: Int = 3): DataFrame =
    ivfKnnWith(queries, candidates,
      candidates.filter(col(idCol) % centroidStride === 0)
        .select(col(idCol).as("cent_id"), col(vecCol).as("cent_v")),
      idCol, vecCol, k, nProbe)

  /** Top-n nearest centroids of a vector against the collapsed centroid
    * array, as a sorted struct array — the shared narrow argmax of
    * [[ivfKnnWith]] and [[kmeansCentroids]]. Struct comparison is
    * lexicographic, so (-cos, cent_id) ascending == (cos desc, id asc). */
  private def topCentroids(vec: org.apache.spark.sql.Column,
      cents: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    slice(array_sort(transform(cents, c => struct(
      (-GraftFunctions.cosine(vec, c("cent_v"))).as("neg_cos"),
      c("cent_id").as("cent_id")))), 1, n)

  /** Nearest-centroid assignment against the collapsed broadcast centroid
    * array: one output row per (vector, probe) — `(x_id, x_v, cent_id)`,
    * the vector's `n` nearest centroids by (cosine desc, cent_id asc).
    *
    * One row holds every centroid, sorted by id for a deterministic array.
    * Broadcast-joined, this keeps assignment pipelined: no exchange on the
    * fact side, no per-row fan-out to |centroids| rows, no argmin sort —
    * the top-n centroids fall out of an in-row array_sort. Struct
    * comparison is lexicographic, so (-cos, cent_id) ascending == (cos
    * desc, id asc), exactly a row_number ordering. Ceiling: the collapsed
    * row must fit a single Spark row (~2 GB) — fine for any sane coarse
    * quantizer (even 2^16 centroids x 1k dims x 4 B ~ 256 MB). Shared by
    * [[ivfKnnWith]], [[graft.dedup.Dedup.semDedup]] and the hard-negative
    * miner. */
  def assignToCentroids(df: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, n: Int): DataFrame = {
    val centArr = cents
      .agg(sort_array(collect_list(struct(col("cent_id"), col("cent_v")))).as("__cents"))
    df.select(col(idCol).as("x_id"), col(vecCol).as("x_v"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(centArr)))
      .select(col("x_id"), col("x_v"),
        topCentroids(col("x_v"), col("__cents"), n).as("__top"))
      .select(col("x_id"), col("x_v"), explode(col("__top")).as("__tc"))
      .select(col("x_id"), col("x_v"), col("__tc.cent_id").as("cent_id"))
  }

  /** [[ivfKnn]] against an explicit centroid table (`cent_id`, `cent_v`) —
    * e.g. one trained by [[kmeansCentroids]]. */
  def ivfKnnWith(queries: DataFrame, candidates: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    def assign(df: DataFrame, n: Int): DataFrame =
      assignToCentroids(df, cents, idCol, vecCol, n)
    val cells = assign(candidates, 1)
      .select(col("x_id").as("c_id"), col("x_v").as("c_v"), col("cent_id"))
    val probes = assign(queries, nProbe)
      .select(col("x_id").as("q_id"), col("x_v").as("q_v"), col("cent_id"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id").asc)
    // no broadcast hint: for small probe sets Spark's size estimation picks
    // the broadcast join on its own (measured: BHJ in PLANS.md), while a
    // LARGE query set must be allowed to fall back to a shuffle join
    // instead of being forced through the driver
    probes.join(cells, "cent_id")
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        GraftFunctions.cosine(col("q_v"), col("c_v")).as("cosine"))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("rnk"), col("cosine"))
  }

  /** Fixed-point scale for the k-means mean update: float inputs times a
    * power of two are EXACT in double (the product only shifts the
    * exponent), so floor(v * 2^24) is an exact integer per element and the
    * per-cluster sum is a LONG — associative/commutative, hence
    * partition-order independent. 2^24 keeps |sum| < 2^53 up to ~2^28
    * unit-scale members per cluster, so the back-conversion to double is
    * exact too at any realistic cluster size. */
  private val FixedPointScale = 1L << 24

  /**
   * Spherical k-means (Lloyd) training for the IVF coarse quantizer:
   * deterministic init by id-HASH stride — a narrow filter selecting a
   * binomial-around-k centroid set (a positional "every n/k-th row" pick
   * would need a global row_number window, the one-task scale cliff;
   * if the hash happens to select nothing, the k smallest ids step in via
   * a TakeOrdered). The hash is the md5-prefix rule of
   * [[graft.curation.Curation.hashPct]] — SQL-expressible, so an external
   * engine can reproduce the selection. Then `iters` rounds of
   * assign-by-max-cosine + per-cluster NORMALIZED mean (true spherical
   * k-means: normalizing the mean direction makes the update optimal for
   * the cosine objective regardless of input norms, so inertia is monotone
   * for any corpus).
   *
   * The mean accumulates in FIXED POINT ([[FixedPointScale]]): per-element
   * floor(v * 2^24) longs, summed exactly, divided back in double — so the
   * trained centroids are PARTITION-ORDER INDEPENDENT and the whole
   * training loop is oracle-checkable (q57 hash-matches a DuckDB mirror of
   * the identical update), unlike a float `avg` whose partial sums depend
   * on scheduling.
   *
   * Scale shape per round: assignment reuses the NARROW broadcast-array
   * argmax (zero shuffle on the fact side); the centroid update is
   * posexplode → (cluster, dim) partial-aggregated sum — the shuffle
   * carries O(k × dim) partial sums, never vectors. The driver loop holds
   * nothing but the loop counter. Clusters that lose every member simply
   * drop (standard Lloyd detail; production re-seeds from the largest
   * cluster).
   */
  def kmeansCentroids(candidates: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0 and iters >= 0, got k=$k iters=$iters")
    val n = candidates.count()
    require(n > 0, "kmeansCentroids needs a non-empty candidate set")
    val stride = math.max(1L, n / k)
    val idHash = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("long")
    val strided = candidates
      .filter(idHash % stride === 0)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_v"))
    var cents =
      if (strided.isEmpty)
        candidates.select(col(idCol).as("cent_id"), col(vecCol).as("cent_v"))
          .orderBy(col("cent_id")).limit(k)
      else strided
    (0 until iters).foreach { _ =>
      val centArr = cents
        .agg(sort_array(collect_list(struct(col("cent_id"), col("cent_v")))).as("__cents"))
      val assigned = candidates
        .select(col(vecCol).as("x_v"))
        .crossJoin(broadcast(graft.ops.Guards.scalar(centArr)))
        .select(col("x_v"),
          element_at(topCentroids(col("x_v"), col("__cents"), 1), 1)
            .getField("cent_id").as("cid"))
      // per-round lineage cut shared with connectedComponents: reliable
      // checkpoint when a checkpoint dir is set (fault-tolerant training),
      // else eager localCheckpoint
      cents = graft.ops.IterativeLoop.cut(assigned
        .select(col("cid"), posexplode(col("x_v")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(
          sum(floor(col("v").cast("double") * FixedPointScale).cast("long")).as("sv"),
          count(lit(1)).as("nv"))
        .select(col("cid"), col("pos"),
          (col("sv").cast("double") / col("nv").cast("double") / FixedPointScale).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid").as("cent_id"), transform(col("pm"), e => e("m")).as("mv"))
        // normalize the mean direction (guarding the zero vector, which
        // stays as-is and can never win a cosine argmax anyway)
        .withColumn("nrm",
          sqrt(aggregate(col("mv"), lit(0.0), (acc, x) => acc + x * x)))
        .select(col("cent_id"),
          transform(col("mv"),
            x => when(col("nrm") > 0, x / col("nrm")).otherwise(x).cast("float"))
            .as("cent_v")))
    }
    cents
  }

  /**
   * Symmetric int8 vector quantization — the standard 4x storage/bandwidth
   * reduction for embedding columns at the 100 TB scale (a float32 corpus'
   * dominant cost is the vectors themselves; IVFADC-family systems, Jégou
   * et al. 2011, store exactly such coarse codes). Per vector: scale =
   * max|v| / 127, code_i = round(v_i / scale) ∈ [-127, 127] as TINYINT.
   * A NARROW projection (no shuffle, no UDF — array HOFs only), and every
   * step is exact double arithmetic + half-away-from-zero rounding, so the
   * oracle reproduces codes and reconstruction error bit-for-bit (q63).
   * The zero vector keeps scale 0 and an all-zero code.
   */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("mx", array_max(transform(col("v"), x => abs(x.cast("double")))))
      .withColumn("scale", col("mx") / 127.0)
      .select(col("id"), col("scale"),
        when(col("mx") === 0.0,
          transform(col("v"), _ => lit(0).cast("tinyint")))
          .otherwise(transform(col("v"),
            x => round(x.cast("double") / col("scale")).cast("tinyint")))
          .as("qv"))

  /**
   * Two-stage retrieval: int8-quantized shortlist, full-precision rerank —
   * the standard SQ8-scan serving pattern (FAISS's `SQ8` flat index;
   * IVFADC's refine step, Jégou et al. 2011). Stage 1 scores EVERY
   * candidate against each query using only the [[quantizeInt8]] codes —
   * a quarter of the float32 scan bandwidth, which is the dominant cost of
   * a brute-force pass at corpus scale — and keeps the top `k1`. Stage 2
   * pays the exact float cosine ONLY on those k1 rows per query and
   * returns the top `k2`.
   *
   * The quantized score needs no scales at all: cosine of the dequantized
   * vectors is (Σqa·qb·sa·sb)/(√(Σqa²·sa²)·√(Σqb²·sb²)) and the per-vector
   * scales cancel, leaving dotq/√(Σqa²·Σqb²) — integer sums (exact longs)
   * under one IEEE divide/sqrt, so the stage-1 ranking is deterministic
   * and the oracle replays it bit-for-bit. Zero-vector guard: a vector
   * with an all-zero code scores 0 against everything.
   *
   * Scale shape: stage 1 is the narrow broadcast pattern of [[cosineKnn]]
   * (quantized queries broadcast into the candidate scan; only the
   * per-query top-k1 window shuffles, and it carries ids + one long, not
   * vectors); stage 2's shortlist is k1 rows per query — it broadcasts
   * back into the full-precision candidate scan, so the expensive column
   * is touched once, for a vanishing fraction of rows.
   */
  def rerankKnn(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k1: Int, k2: Int): DataFrame = {
    require(k1 >= k2 && k2 > 0, s"need k1 >= k2 > 0, got k1=$k1 k2=$k2")
    def codes(df: DataFrame, prefix: String): DataFrame =
      quantizeInt8(df, idCol, vecCol)
        .select(col("id").as(s"${prefix}_id"), col("qv").as(s"${prefix}_qv"),
          aggregate(col("qv"), lit(0L),
            (acc, x) => acc + x.cast("long") * x.cast("long")).as(s"${prefix}_nq"))
    val dotq = aggregate(
      zip_with(col("q_qv"), col("c_qv"), (a, b) => a.cast("long") * b.cast("long")),
      lit(0L), (acc, x) => acc + x)
    val w1 = Window.partitionBy(col("q_id"))
      .orderBy(col("approx").desc, col("c_id").asc)
    val shortlist = codes(candidates, "c")
      .crossJoin(broadcast(graft.ops.Guards.bounded(codes(queries, "q"),
        graft.ops.Guards.BroadcastSetCap)))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        when(col("q_nq") > 0 && col("c_nq") > 0,
          dotq.cast("double") / sqrt((col("q_nq") * col("c_nq")).cast("double")))
          .otherwise(lit(0.0)).as("approx"))
      .withColumn("rnk1", row_number().over(w1))
      .filter(col("rnk1") <= k1)
      .select(col("q_id"), col("c_id"))
    val w2 = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id").asc)
    shortlist
      .join(broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"))),
        "q_id")
      .join(candidates.select(col(idCol).as("c_id"), col(vecCol).as("c_v")), "c_id")
      .select(col("q_id"), col("c_id"),
        GraftFunctions.cosine(col("q_v"), col("c_v")).as("cosine"))
      .withColumn("rnk", row_number().over(w2).cast("long"))
      .filter(col("rnk") <= k2)
      .select(col("q_id"), col("c_id"), col("rnk"), col("cosine"))
  }

  /**
   * Hard-negative mining for contrastive training (the DPR/ANCE recipe:
   * negatives that are SIMILAR but from a DIFFERENT semantic region make
   * embedding models learn; random negatives teach nothing). For each
   * query: rank candidates from the `nProbe` nearest FOREIGN k-means cells
   * (the query's own cell — where the positives live — is excluded) by
   * exact cosine, keep the top `j`.
   *
   * Scale shape: both assignments are the narrow broadcast-array argmax of
   * [[assignToCentroids]]; the probe side joins cells on cent_id exactly
   * like [[ivfKnnWith]], so cost tracks probed-cell occupancy, never n².
   */
  def hardNegatives(queries: DataFrame, candidates: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, j: Int, nProbe: Int): DataFrame = {
    val own = assignToCentroids(queries, cents, idCol, vecCol, 1)
      .select(col("x_id").as("q_id"), col("cent_id").as("own_cent"))
    val probes = assignToCentroids(queries, cents, idCol, vecCol, nProbe + 1)
      .select(col("x_id").as("q_id"), col("x_v").as("q_v"), col("cent_id"))
      .join(own, "q_id")
      .filter(col("cent_id") =!= col("own_cent"))
    val cells = assignToCentroids(candidates, cents, idCol, vecCol, 1)
      .select(col("x_id").as("neg_id"), col("x_v").as("c_v"), col("cent_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("neg_id").asc)
    probes.join(cells, "cent_id")
      .select(col("q_id"), col("neg_id"),
        GraftFunctions.cosine(col("q_v"), col("c_v")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= j)
      .select(col("q_id"), col("neg_id"), col("rnk"), col("cosine"))
  }

  /** Dequantized view of a [[quantizeInt8]] frame: v̂_i = code_i * scale
    * (float array, same shape as the source column). */
  def dequantizeInt8(quantized: DataFrame): DataFrame =
    quantized.select(col("id"),
      transform(col("qv"), q => (q.cast("double") * col("scale")).cast("float"))
        .as("v_hat"))

  /**
   * Per-label embedding centroids — the aggregate view behind corpus-level
   * embedding analyses (class prototypes, per-domain drift monitoring,
   * nearest-centroid labeling). One row per (label, dimension): the member
   * count and the dimension's mean.
   *
   * The mean accumulates in FIXED POINT ([[FixedPointScale]] — the same
   * idiom as the k-means update): floor(v · 2²⁴) longs summed exactly, so
   * the result is partition-order independent and hash-checks against a
   * SQL oracle, unlike a float `avg` whose partial sums depend on
   * scheduling. Plan shape: posexplode → one map-side-combinable aggregate;
   * the shuffle carries O(labels × dim) partial sums, never vectors.
   */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(floor(col("v").cast("double") * FixedPointScale).cast("long")).as("__sv"))
      .select(col("label"), col("pos").cast("long").as("pos"), col("n_vecs"),
        (col("__sv").cast("double") / col("n_vecs").cast("double") / FixedPointScale)
          .as("centroid"))

  /** Multi-probe sign-LSH approximate top-k with the same output contract as
    * [[cosineKnn]] (subset of candidates -> possibly different neighbors). */
  def lshKnn(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      planes: Int = 8, probeHamming: Int = 2): DataFrame = {
    require(planes <= 16,
      s"lshKnn enumerates the 2^planes code space per query ($planes planes = " +
        s"${1 << planes} codes); use <= 16 planes or switch to ivfKnn for finer partitions")
    val c = candidates.select(col(idCol).as("c_id"), col(vecCol).as("c_v"),
      GraftFunctions.signBucket(col(vecCol), planes).as("bucket"))
    // All bucket ids within probeHamming sign flips of the query's bucket:
    // enumerate the full 2^planes code space once (tiny) and keep close codes.
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"),
      GraftFunctions.signBucket(col(vecCol), planes).as("q_bucket"))
      .select(col("q_id"), col("q_v"),
        explode(filter(
          sequence(lit(0), lit((1 << planes) - 1)),
          code => bit_count(code.bitwiseXOR(col("q_bucket"))) <= probeHamming))
          .as("bucket"))
    val joined = c.alias("c").join(broadcast(q).alias("q"),
      col("c.bucket") === col("q.bucket") && col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        GraftFunctions.cosine(col("q_v"), col("c_v")).as("cosine"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id").asc)
    joined
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("rnk"), col("cosine"))
  }

  /**
   * Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009): merge
   * two retrieval rankings by score(d) = Σ 1/(kRrf + rank_i(d)) — the
   * standard way to combine a keyword ranking with an embedding ranking in
   * hybrid search, rank-based so the two scoring scales never need
   * calibration.
   *
   * Inputs are (id, rank) frames (rank 1-based, each id at most once). The
   * fusion is a single full-outer join on id — ranked lists are top-N by
   * construction, so both sides are small relative to the corpus and the
   * join is broadcastable; the corpus itself is never touched. Output keeps
   * both source ranks (NULL where a list missed the doc) plus the fused
   * score. Deterministic: the score sums exactly two IEEE divisions in
   * fixed order, ties order by id.
   */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, rankCol: String,
      kRrf: Int = 60, topN: Int = 20): DataFrame = {
    val left = a.select(col(idCol).as("id"), col(rankCol).cast("long").as("r_a"))
    val right = b.select(col(idCol).as("id"), col(rankCol).cast("long").as("r_b"))
    left.join(right, Seq("id"), "full_outer")
      .select(col("id"), col("r_a"), col("r_b"),
        (coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("r_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("r_b")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("id").asc)
      .limit(topN)
  }

  /**
   * Product-quantization ANN with asymmetric distance computation (Jégou,
   * Douze & Schmid, TPAMI 2011, "Product quantization for nearest
   * neighbor search"): the vector space splits into `m` subspaces; each
   * candidate stores only its nearest sub-codeword INDEX per subspace
   * (m small ints — at m=4 that is ~64× less than a 64-dim float32
   * vector, the compression that lets a 100 TB embedding corpus fit a
   * scan budget); each query precomputes one distance TABLE per subspace
   * (squared L2 to every sub-codeword) and a candidate's approximate
   * distance is m table lookups summed — no float vector is touched at
   * scan time (that is the "asymmetric" in ADC: only the candidate is
   * quantized).
   *
   * Codebooks here are the deterministic id-stride sample of the corpus
   * (the [[ivfKnn]] stance: identical plumbing and plan shape to trained
   * codebooks, SQL-replayable — swap in k-means sub-codebooks for recall).
   *
   * Determinism/oracle: sub-distances are fixed-order folds of exact
   * float-in-double products; encode argmin breaks ties by codeword
   * position ascending (array_sort on (dist, idx) structs); the ADC sum
   * folds subspaces in fixed order — q118 replays all of it to the hash.
   * With stride=1 the codebook IS the corpus, every candidate encodes to
   * itself exactly (all-zero sub-distances), and ADC degenerates to exact
   * squared-L2 search — the law PqSpec pins.
   *
   * Scale shape: the collapsed codebook row broadcasts (m·k_sub·dim
   * floats — tiny); candidate encoding is a NARROW projection over the
   * scan (zero shuffle, the PQ-code column is what a real deployment
   * materializes once); queries broadcast with their tables; the only
   * shuffle of scored rows is the per-query top-k window carrying ids +
   * one double.
   */
  def pqAdcKnn(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 4, stride: Int = 40): DataFrame = {
    require(m >= 1 && stride >= 1 && k >= 1,
      s"need m, stride, k >= 1; got m=$m stride=$stride k=$k")
    val cb = candidates.filter(col(idCol) % stride === 0)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_v"))
      .agg(sort_array(collect_list(struct(col("cent_id"), col("cent_v"))))
        .as("__cb"))
    // Round 16: the per-(row, subspace, codeword) squared-L2 used to be an
    // interpreted `aggregate(zip_with(slice, slice))` HOF inside a
    // per-codeword `transform` + `array_sort` — a lambda dispatch per
    // element × |codebook| codewords × m subspaces per row, which profiled
    // as ~all of q118's runtime. The native PQ kernels
    // ([[graft.functions.VectorMath.subL2F]]/pqArgmin/pqDists/adcSum) run
    // the IDENTICAL fp operations in the identical order (exact
    // float→double casts, one (a−b)² product+add per element in slice
    // order; argmin ties to the smaller position exactly like the
    // (d, j)-struct array_sort) — every distance, every code, every hash
    // is unchanged; only the interpretation overhead is gone (guide
    // §1.2 step 2: per-task work).
    val subDimC = (size(element_at(col("__cb"), 1)("cent_v")) / lit(m)).cast("int")
    // candidates -> m codeword positions (argmin per subspace, ties to
    // the smaller position = smaller cent_id)
    val enc = candidates
      .select(col(idCol).as("c_id"), col(vecCol).as("c_v"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(cb)))
      .select(col("c_id"),
        transform(sequence(lit(0), lit(m - 1)), s =>
          GraftFunctions.pqArgmin(col("c_v"), col("__cb"), s, subDimC))
          .as("code"))
    // queries -> per-subspace distance tables (position-aligned with code)
    val qt = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(cb)))
      .select(col("q_id"),
        transform(sequence(lit(0), lit(m - 1)), s =>
          GraftFunctions.pqDists(col("q_v"), col("__cb"), s, subDimC))
          .as("dt"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dist2").asc, col("c_id").asc)
    enc.crossJoin(broadcast(graft.ops.Guards.bounded(qt,
      graft.ops.Guards.BroadcastSetCap)))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        GraftFunctions.adcSum(col("dt"), col("code")).as("dist2"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("rnk"), col("dist2"))
  }

  /** The deterministic Rademacher (±1) projection matrix entry for output
    * dim `j`, input dim `i`: sign = parity of the first hex digit of
    * md5("rp:j:i"). Computed ONCE driver-side and baked into the plan (and
    * into the oracle SQL) as literals — both engines then share the exact
    * matrix without per-row hashing. */
  private[graft] def rademacherSign(j: Int, i: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp:$j:$i".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0xf) % 2 == 0) 1 else -1
  }

  /**
   * Johnson–Lindenstrauss dimensionality reduction by a deterministic
   * Rademacher random projection (Achlioptas 2003, JCSS: ±1 entries
   * preserve pairwise geometry like Gaussian projections): y_j = Σ_i
   * s_ji·x_i over the literal sign matrix of [[rademacherSign]]. The JL
   * guarantee makes the 16-dim sketch a drop-in pre-filter for the
   * cosine operators — distances are preserved within (1±ε) w.h.p., at
   * 1/4 the bytes per vector.
   *
   * Exactness: each output coordinate is a FIXED-ORDER fold (seeded 0.0,
   * input dims ascending) of exact ±x products, so DuckDB's list_reduce
   * reproduces Spark's doubles bit-for-bit. Output is flattened to
   * (vec_id, dim, val) — narrow rows, no array-hash ambiguity.
   *
   * Scale shape: a pure NARROW projection — zero shuffles, zero joins; the
   * sign matrix lives in the plan (16×64 literals), never in state. The
   * expression tree is outDims independent folds, each codegen-friendly.
   */
  /**
   * Greedy k-center coreset selection (farthest-point traversal — the
   * 2-approximation of Gonzalez 1985, TCS, and the "k-center greedy"
   * baseline of coreset-based data selection, e.g. Sener & Savarese 2018,
   * ICLR active learning): start from the lowest-id vector, then `k`−1
   * times add the point FARTHEST (squared L2) from its nearest selected
   * center. Returns (round, vec_id, d2) — d2 is the point's min-distance
   * at selection time, a non-increasing sequence that doubles as the
   * corpus' covering-radius profile.
   *
   * Exactness: distances are seeded fixed-order folds over dims (DuckDB
   * list_reduce ≡ Spark foldLeft), the per-point nearest-center reduction
   * is a true min (order-free), and the argmax breaks ties on ascending
   * id — the oracle replays every round as a chained CTE.
   *
   * Scale shape: each round is one broadcast of the ≤k selected centers
   * into a narrow scan + a TakeOrdered(1) — no shuffle of the corpus,
   * ever; the loop state is k rows. Lineage is cut per round (the
   * PageRank discipline) so the plan stays linear in k.
   */
  def kCenterCoreset(df: DataFrame, idCol: String, vecCol: String,
      k: Int, dims: Int = 64): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64] (k centers broadcast), got $k")
    val pts = df.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    def d2(x: Column, c: Column): Column =
      (1 to dims).foldLeft(lit(0.0)) { (acc, i) =>
        acc + (element_at(x, i).cast("double") - element_at(c, i).cast("double")) *
          (element_at(x, i).cast("double") - element_at(c, i).cast("double"))
      }
    val seed = pts.orderBy(col("vec_id").asc).limit(1)
      .select(lit(0L).as("round"), col("vec_id"), col("v"), lit(0.0).as("d2"))
    var centers = seed
    val lid = graft.ops.PlanProbe.loopId()
    for (t <- 1 until k) {
      val cArr = centers
        .agg(collect_list(struct(col("vec_id").as("cid"), col("v").as("cv"))).as("cs"))
      val winner = pts.crossJoin(broadcast(graft.ops.Guards.scalar(cArr)))
        .select(col("vec_id"), col("v"),
          array_min(transform(col("cs"), c => d2(col("v"), c("cv")))).as("d2"))
        .orderBy(col("d2").desc, col("vec_id").asc).limit(1)
        .select(lit(t.toLong).as("round"), col("vec_id"), col("v"), col("d2"))
      graft.ops.PlanProbe.offer(lid, t, winner)
      centers = graft.ops.IterativeLoop.cutLazy(centers.union(winner))
    }
    centers.select(col("round"), col("vec_id"), col("d2"))
  }

  /**
   * Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998,
   * SIGIR): greedily pick `k` results per query balancing relevance
   * against redundancy — round t selects argmax over unpicked candidates
   * of λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s). The
   * diversity-aware retrieval verb (RAG context selection, dedup-aware
   * serving) on top of the exact cosine kernel.
   *
   * Exactness: cosines are the shared bit-equal kernel (GraftFunctions
   * .cosine ≡ DuckDB list_dot_product/sqrt-product, the q28/q29
   * contract); the redundancy term is a true max (order-free); the
   * argmax breaks ties on ascending candidate id; the oracle replays
   * every greedy round as a chained CTE.
   *
   * Scale shape: the relevance table is computed ONCE (broadcast query
   * side) and lineage-cut; each round broadcasts the ≤ k·|queries|
   * selected rows back into it — no corpus reshuffle per round; the
   * per-round argmax is one map-side-combinable max(struct) aggregate.
   */
  def mmrTopK(queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int = 5,
      lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
    val c = candidates.select(col(idCol).as("c_id"), col(vecCol).as("c_v"))
    val rel = graft.ops.IterativeLoop.cutLazy(
      c.join(broadcast(q), col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"), col("c_v"),
          GraftFunctions.cosine(col("q_v"), col("c_v")).as("rel")))
    var selected = rel
      .select(col("q_id"), lit(0L).as("round"), col("c_id"), col("c_v"),
        lit(0.0).as("mmr"))
      .filter(lit(false))
    val lid = graft.ops.PlanProbe.loopId()
    for (t <- 1 to k) {
      val selArr = selected.groupBy(col("q_id"))
        .agg(collect_list(col("c_id")).as("sel_ids"),
          collect_list(col("c_v")).as("sel_vs"))
      val winner = rel
        .join(broadcast(selArr), Seq("q_id"), "left")
        .filter(coalesce(!array_contains(col("sel_ids"), col("c_id")), lit(true)))
        .select(col("q_id"), col("c_id"), col("c_v"),
          (lit(lambda) * col("rel") - (lit(1.0) - lit(lambda)) *
            coalesce(array_max(transform(col("sel_vs"),
              sv => GraftFunctions.cosine(col("c_v"), sv))), lit(0.0))).as("mmr"))
        .groupBy(col("q_id"))
        .agg(max(struct(col("mmr").as("m"), (-col("c_id")).as("nid"),
          col("c_v").as("v"))).as("w"))
        .select(col("q_id"), lit(t.toLong).as("round"),
          (-col("w.nid")).as("c_id"), col("w.v").as("c_v"), col("w.m").as("mmr"))
      graft.ops.PlanProbe.offer(lid, t, winner)
      selected = graft.ops.IterativeLoop.cutLazy(selected.union(winner))
    }
    selected.select(col("q_id"), col("round"), col("c_id"), col("mmr"))
  }

  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      inDims: Int = 64, outDims: Int = 16): DataFrame = {
    require(outDims >= 1 && outDims <= 64 && inDims >= outDims,
      s"need 1 <= outDims <= 64 <= inDims, got in=$inDims out=$outDims")
    val v = col(vecCol)
    val ys = (0 until outDims).map { j =>
      (0 until inDims).foldLeft(lit(0.0)) { (acc, i) =>
        acc + element_at(v, i + 1).cast("double") *
          lit(rademacherSign(j, i).toDouble)
      }.as(s"y$j")
    }
    df.select(col(idCol).as("vec_id") +: ys: _*)
      .select(col("vec_id"),
        posexplode(array((0 until outDims).map(j => col(s"y$j")): _*)))
      .select(col("vec_id"), col("pos").cast("long").as("dim"),
        col("col").as("val"))
  }
}
