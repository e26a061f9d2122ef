package graft.queries

import graft.Tables
import graft.ops.IterativeLoop
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Round-11 evaluation-metrics wave — the measurement half of a retrieval
 * / classification pipeline, in the engine's exact cross-engine
 * arithmetic conventions:
 *
 *  - q432 retrieval eval (MRR, DCG@10, nDCG@10) over the labeled
 *    embedding corpus: per-QUERY rows (no cross-query float sums, so no
 *    order-dependence anywhere), discounts through the established
 *    piecewise-linear exact lg, per-query sums as FIXED-ORDER folds
 *    (collect → sort → aggregate ≡ DuckDB list_reduce);
 *  - q433 exact tie-corrected ROC-AUC by the Mann–Whitney rank-sum
 *    identity: midranks from VALUE-GROUPED counts (×2-scaled so they
 *    stay integers), AUC = (2·Σ_pos midrank − 2·P(P+1)/2) / (2PN) with
 *    every term exact and ONE final IEEE divide. No per-row ranking —
 *    the rank structure lives on the distinct-value domain frame.
 */
object CatalogEv {

  private def lg(x: Column): Column = graft.curation.Curation.lg(x)

  // ---------------------------------------------------------------- q432

  /** Top-10 cosine retrieval scored against label relevance: per query,
    * the reciprocal rank of the first same-label hit, DCG@10 with exact
    * lg discounts, the ideal DCG over min(R,10) (R = same-label
    * candidates in the corpus), and their ratio. Brute-force scan by the
    * bounded-eval contract (q418/q28); the serving path stays ANN. */
  def q432RetrievalMetrics(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val q = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("qv"))
    val nq = q.count()
    require(nq <= 1000,
      s"retrieval eval is an offline harness over a bounded query batch; got $nq")
    val c = e.filter(col("vec_id") % 25 =!= 0)
      .select(col("vec_id").as("c_id"), col("label").as("c_label"),
        col("embedding").as("cv"))
    val labCnt = c.groupBy(col("c_label")).agg(count(lit(1)).as("r"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    val top = IterativeLoop.cutLazy(c.crossJoin(broadcast(graft.ops.Guards.bounded(q, 1000)))
      .select(col("q_id"), col("q_label"), col("c_id"),
        graft.functions.GraftFunctions.cosine(col("qv"), col("cv")).as("cos"),
        (col("q_label") === col("c_label")).cast("long").as("rel"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10))
    val perQ = top
      .withColumn("term", col("rel").cast("double") / lg(col("rnk") + 1L))
      .groupBy(col("q_id"), col("q_label"))
      .agg(
        sum(col("rel")).as("n_rel_top10"),
        min(when(col("rel") === 1L, col("rnk"))).as("first_rel"),
        aggregate(array_sort(collect_list(struct(col("rnk"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("dcg"))
    perQ.join(labCnt, col("q_label") === col("c_label"))
      .withColumn("idcg", aggregate(
        sequence(lit(1L), least(col("r"), lit(10L))), lit(0.0),
        (acc, i) => acc + lit(1.0) / lg(i + 1L)))
      .select(col("q_id"), col("r").as("n_rel_corpus"), col("n_rel_top10"),
        coalesce(col("first_rel"), lit(0L)).as("first_rel"),
        coalesce(lit(1.0) / col("first_rel"), lit(0.0)).as("rr"),
        col("dcg"), col("idcg"), (col("dcg") / col("idcg")).as("ndcg"))
      .orderBy(col("q_id"))
  }

  // ---------------------------------------------------------------- q433

  /** Exact ROC-AUC of the "long documents are English" scorer (feature
    * n_chars, label lang='en') by the tie-corrected Mann–Whitney
    * identity. Midranks stay ×2-scaled integers: a value group of f rows
    * starting at rank s contributes fp·(2s+f−1) to 2·Σ_pos midrank.
    * The cumulative rank offsets live on the DISTINCT-VALUE domain frame
    * (the q85 equi-depth precedent) — the corpus is read once, grouped
    * once, and never per-row ranked. */
  def q433RocAuc(s: SparkSession, dir: String): DataFrame = {
    val rows = Tables.documents(s, dir).select(
      length(col("text")).cast("long").as("v"),
      (col("lang") === "en").cast("long").as("y"))
    val grp = rows.groupBy(col("v"))
      .agg(count(lit(1)).as("f"), sum(col("y")).as("fp"))
    // prefix counts over the distinct-value domain (domain-sized window,
    // q85 precedent: the window runs over |distinct values| rows only)
    val wv = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = grp
      .withColumn("cum", sum(col("f")).over(wv))
      .select(col("v"), col("f"), col("fp"), (col("cum") - col("f")).as("before"))
    val agg = ranked.agg(
      sum(col("fp") * (lit(2L) * col("before") + col("f") + 1L)).as("two_rpos"),
      sum(col("fp")).as("p"), sum(col("f") - col("fp")).as("n"))
    agg.select(col("p").as("n_pos"), col("n").as("n_neg"),
      (col("two_rpos") - col("p") * (col("p") + 1L)).as("two_u"),
      ((col("two_rpos") - col("p") * (col("p") + 1L)).cast("double")
        / (lit(2L) * col("p") * col("n")).cast("double")).as("auc"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q432_retrieval_metrics" -> q432RetrievalMetrics _,
    "q433_roc_auc"           -> q433RocAuc _)
}
