package graft.sim

import graft.ops.IterativeLoop
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * PCA top principal component over an embedding column — the
 * dimensionality-reduction / drift-detection primitive — computed so that
 * a SQL engine can replay it bit for bit (the mirror-the-training
 * discipline of the k-means/BPE/PageRank oracles).
 *
 * Determinism strategy, stage by stage:
 *  1. Quantize: q_ij = ⌊x_ij·2²⁰⌋ (long). All corpus-order-dependent
 *     reductions below happen on INTEGERS, which commute.
 *  2. Center: per-dim integer mean m_j = ⌊Σq_ij / n⌋; c_ij = q_ij − m_j.
 *  3. Scatter: S_jk = Σᵢ c_ij·c_ik in exact long arithmetic (|c| ≲ 2²⁰ ⇒
 *     products ≤ 2⁴⁰; safe to n ≈ 4M rows — rescale the quantization for
 *     bigger corpora). The only corpus-sized shuffles are the per-dim
 *     mean and the (j,k)-keyed scatter sum, both map-side combinable.
 *  4. Power iteration on the 64×64 scatter: matvec per dim is an IN-ROW
 *     `aggregate(zip_with(...))` fold (fixed element order — the same
 *     left-to-right fold as DuckDB's list_dot_product, proven equal by
 *     the q28 oracle); the norm folds over the j-ORDERED collected array.
 *     No floating-point reduction ever runs in corpus order, so doubles
 *     are bit-stable too.
 *
 * Iteration state is one 64-element row; iterations chain with lazy
 * lineage cuts. Sign is pinned by the all-ones start vector.
 */
object Pca {

  // Round 16: native codegen'd dot (graft_dot_d) replaces the interpreted
  // `aggregate(zip_with(...))` HOF fold — bit-compatible per
  // [[graft.functions.VectorMath.dotD]] (same multiplies and adds in the
  // same element order), so every double and every hash is unchanged; the
  // q240/graft_dot precedent, here on array<double>.
  private def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.GraftFunctions.dotD(a, b)

  /** Fitted state: the one-row per-dim integer means array and the
    * one-row (unit vector, eigenvalue) frame after `iterations` rounds. */
  private def fit(df: DataFrame, vecCol: String, iterations: Int,
      quantBits: Int): (DataFrame, DataFrame) = {
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    val scale = 1L << quantBits

    // 1-2: quantize + per-dim integer means + centered values, exploded
    val quant = df.select(
      transform(col(vecCol), x => floor(x.cast("double") * scale).cast("long")).as("q"))
    val exploded = quant.select(posexplode(col("q")).as(Seq("j", "qv")))
    val means = exploded.groupBy(col("j"))
      .agg(sum(col("qv")).as("s"), count(lit(1)).as("n"))
      .select(col("j"), expr("s div n").as("m"))
    val meanArr = means
      .agg(array_sort(collect_list(struct(col("j"), col("m")))).as("jm"))
      .select(transform(col("jm"), e => e.getField("m")).as("marr"))
    val centered = IterativeLoop.cutLazy(quant.crossJoin(broadcast(graft.ops.Guards.scalar(meanArr)))
      .select(zip_with(col("q"), col("marr"), (q, m) => q - m).as("c")))

    // 3: exact-integer scatter, then k-ordered rows of doubles
    val sEntries = centered
      .select(posexplode(col("c")).as(Seq("j", "cj")), col("c"))
      .select(col("j"), col("cj"), posexplode(col("c")).as(Seq("k", "ck")))
      .groupBy(col("j"), col("k"))
      .agg(sum(col("cj") * col("ck")).as("s"))
    val sRows = IterativeLoop.cutLazy(sEntries
      .groupBy(col("j"))
      .agg(array_sort(collect_list(struct(col("k"), col("s")))).as("ks"))
      .select(col("j"), transform(col("ks"), e => e.getField("s").cast("double")).as("srow")))

    // 4: power iteration; state = one row holding the current unit vector
    var v = meanArr.select(transform(col("marr"), _ => lit(1.0)).as("v"))
    val lid = graft.ops.PlanProbe.loopId()
    for (r <- 1 to iterations) {
      val w = sRows.crossJoin(broadcast(graft.ops.Guards.scalar(v)))
        .select(col("j"), dot(col("srow"), col("v")).as("w"))
      val warr = w.agg(array_sort(collect_list(struct(col("j"), col("w")))).as("jw"))
        .select(transform(col("jw"), e => e.getField("w")).as("warr"))
      val next = warr.select(
        transform(col("warr"),
          x => x / sqrt(dot(col("warr"), col("warr")))).as("v"),
        sqrt(dot(col("warr"), col("warr"))).as("norm"))
      graft.ops.PlanProbe.offer(lid, r, next)
      v = IterativeLoop.cutLazy(next)
    }
    (meanArr, v)
  }

  /** (dim, loading, eigval): unit top principal component of the centered
    * quantized scatter, plus its Rayleigh-quotient eigenvalue estimate
    * (in scatter units). */
  def topComponent(df: DataFrame, vecCol: String, iterations: Int = 8,
      quantBits: Int = 20): DataFrame = {
    val (_, v) = fit(df, vecCol, iterations, quantBits)
    v.select(posexplode(col("v")).as(Seq("dim", "loading")), col("norm").as("eigval"))
      .select(col("dim").cast("long").as("dim"), col("loading"), col("eigval"))
  }

  /** Top-N outliers along the principal axis: |projection of the centered
    * quantized vector onto the fitted component|, largest first — the
    * drift/anomaly view a corpus report reads (what's far from the bulk
    * along the direction of maximum variance?). The projection is the
    * same fixed-order in-row fold as training, so scores hash-match. */
  def outlierScores(df: DataFrame, idCol: String, vecCol: String,
      iterations: Int = 8, quantBits: Int = 20, topN: Int = 20): DataFrame = {
    val scale = 1L << quantBits
    val (meanArr, v) = fit(df, vecCol, iterations, quantBits)
    df.select(col(idCol),
      transform(col(vecCol), x => floor(x.cast("double") * scale).cast("long")).as("q"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(meanArr)))
      .crossJoin(broadcast(graft.ops.Guards.scalar(v.select(col("v")))))
      // graft_center_dot_l fuses the (q−m) centering zip_with into the dot:
      // exact long subtraction + exact cast + the same ordered multiply-add
      // fold (bit-compatible per VectorMath.centerDotL's doc) — one codegen
      // kernel call per row instead of two interpreted HOF passes.
      .select(col(idCol),
        graft.functions.GraftFunctions.centerDotL(col("q"), col("marr"),
          col("v")).as("proj"))
      .orderBy(abs(col("proj")).desc, col(idCol).asc)
      .limit(topN)
  }
}
