package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distributed quality-classifier training — batch gradient descent for a
 * linear model under a hard-sigmoid link, in FIXED-POINT integer
 * arithmetic so the whole training loop is order-free and replayable by
 * the DuckDB oracle (the mirror-the-training pattern of q57's k-means,
 * q83's PageRank and q96's power iteration, applied to supervised
 * learning). This is the engine-native form of the fastText/logistic
 * quality filters used to select LLM training data (the GPT-3 and
 * Gopher data pipelines both gate documents with a trained linear
 * classifier over cheap text features).
 *
 * Model: p = clamp(z/4 + 1/2, 0, 1) with z = w·x (the piecewise-linear
 * "hard sigmoid" — the same replace-the-transcendental trick as the
 * engine's exact-lg). All state is scaled integers:
 *
 *   - weights w_j : BIGINT, scaled by S = 2^16
 *   - z_int = Σ_j w_j·x_j  (features x_j are raw integers, bias x_0 = 1)
 *   - p_int = clamp(floor(z_int / 4.0) + S/2, 0, S)
 *   - gradient g_j = Σ_docs (p_int − y·S)·x_j   ← a BIGINT sum: ORDER-FREE,
 *     so partitioning cannot change the result (the determinism contract)
 *   - update w_j ← w_j − floor(g_j / (1024.0 · n))   (lr = 1/1024, mean
 *     gradient; the one floor-divide is exact while |g_j| < 2^53 — at
 *     larger corpora the divide would move to DECIMAL)
 *
 * Scale shape: each round is ONE map-side-combinable aggregate over the
 * feature table (4 integer sums) with the 1-row weight state broadcast
 * into the scan — no driver round trips, no windows, no shuffles beyond
 * the 4-value partial-aggregate tree. `rounds` is fixed and small, so the
 * plan is a chain of `rounds` aggregates exactly like the PageRank loop.
 */
object QualityLr {

  val Scale = 65536L // S = 2^16
  val LrDen = 1024.0 // learning rate 1/1024

  /** Cheap text features + the rule-gate label (Curation.ruleGate's
    * conditions re-derived inline so the feature scan is ONE pass).
    * Features are DEVIATION-coded so the gate's band conditions become
    * linearly separable for the model (a band `a ≤ v ≤ b` is `|v − mid| ≤
    * halfwidth` — monotone in the deviation, which a linear weight can
    * express; the raw count cannot):
    * x1 = |n_tokens − 55| (the 20..90 length band as a deviation),
    * x2 = stopword count,
    * x3 = |2·tot_len − 11·n_tokens| (= 2·n_tokens·|avg_tok_len − 5.5|,
    *      the 3..8 avg-token-length band as an integer deviation),
    * y = the Gopher-style gate bit as 0/1. */
  def features(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.text.TextOps
    val toks = TextOps.tokens(col(textCol))
    docs
      .select(col(idCol).as("doc_id"),
        size(toks).cast("long").as("nt"),
        TextOps.stopwordCount(toks).cast("long").as("ns"),
        TextOps.totalTokenLen(toks).cast("long").as("tl"),
        greatest(size(toks) - 2, lit(0)).cast("long").as("__n_ngrams"),
        size(graft.dedup.Dedup.shingles(toks, 3)).cast("long").as("__n_distinct"))
      .select(col("doc_id"), lit(1L).as("x0"),
        abs(col("nt") - lit(55L)).as("x1"),
        col("ns").as("x2"),
        abs(col("tl") * lit(2L) - col("nt") * lit(11L)).as("x3"),
        (col("nt").between(20L, 90L) &&
          (col("tl").cast("double") / col("nt").cast("double") >= 3.0 &&
            col("tl").cast("double") / col("nt").cast("double") <= 8.0) &&
          col("ns") >= 2L &&
          (when(col("__n_ngrams") > 0,
            lit(1.0) - col("__n_distinct").cast("double") / col("__n_ngrams").cast("double"))
            .otherwise(lit(0.0)) <= 0.2))
          .cast("long").as("y"))
  }

  private def pOf(z: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(greatest(floor(z.cast("double") / lit(4.0)).cast("long") + lit(Scale / 2),
      lit(0L)), lit(Scale))

  /** One GD round: feat ⨯ broadcast(1-row weights) → 4 integer gradient
    * sums → updated 1-row weights (n carried through). */
  private def round(feat: DataFrame, w: DataFrame): DataFrame = {
    val z = col("w0") * col("x0") + col("w1") * col("x1") +
      col("w2") * col("x2") + col("w3") * col("x3")
    val err = pOf(z) - col("y") * lit(Scale)
    def upd(wj: String, xj: String) =
      (max(col(wj)) - floor(sum(err * col(xj)).cast("double") /
        (lit(LrDen) * max(col("n")).cast("double"))).cast("long")).as(wj)
    feat.crossJoin(broadcast(graft.ops.Guards.scalar(w)))
      .agg(upd("w0", "x0"), upd("w1", "x1"), upd("w2", "x2"), upd("w3", "x3"),
        max(col("n")).as("n"))
  }

  /** Train `rounds` rounds from zero weights; returns the 1-row weight
    * state (w0..w3 scaled by S, plus n). */
  def train(feat: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1, 64], got $rounds")
    val w0 = feat.agg(count(lit(1)).as("n"))
      .select(lit(0L).as("w0"), lit(0L).as("w1"), lit(0L).as("w2"),
        lit(0L).as("w3"), col("n"))
    graft.ops.IterativeLoop.fixed(w0, rounds)((w, _) => round(feat, w))
  }

  /** Score every doc under the trained weights: z (scaled logit), p
    * (scaled hard-sigmoid probability), pred (p > 1/2 strictly). */
  def score(feat: DataFrame, weights: DataFrame): DataFrame = {
    val z = col("w0") * col("x0") + col("w1") * col("x1") +
      col("w2") * col("x2") + col("w3") * col("x3")
    feat.crossJoin(broadcast(graft.ops.Guards.scalar(weights)))
      .select(col("doc_id"), col("y"), z.as("z"), pOf(z).as("p"),
        (pOf(z) * 2 > lit(Scale)).as("pred"))
  }

  /** The composed verb: features → train → score. The feature table is the
    * loop invariant — its lineage is cut once (lazy local checkpoint /
    * reliable checkpoint when a dir is set, exactly like the PageRank
    * loop) so the `rounds`+1 scans in the training DAG read a
    * materialized table instead of re-deriving shingles every round. */
  def trainAndScore(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int = 8): DataFrame = {
    val feat = graft.ops.IterativeLoop.cutLazy(features(docs, idCol, textCol))
    score(feat, train(feat, rounds))
  }
}
