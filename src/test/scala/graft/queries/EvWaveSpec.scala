package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Laws for the round-11 evaluation-metrics wave (CatalogEv): q433's AUC
  * must equal the brute-force pairwise probability P(s⁺>s⁻)+½P(=) — the
  * DEFINITION, computed over every (pos, neg) pair — and q432's ranks
  * feed a driver-side metric recount through the same piecewise lg. */
class EvWaveSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Driver replica of Curation.lg (piecewise-linear log2). */
  private def lgL(x: Long): Double = {
    val len = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val p = 1L << (len - 1)
    (len - 1).toDouble + (x - p).toDouble / p.toDouble
  }

  test("q433 AUC equals the brute-force pairwise definition " +
      "P(pos>neg) + 0.5·P(pos=neg), and the exact integer parts agree") {
    val out = CatalogEv.q433RocAuc(spark, sf).collect()(0)
    val rows = graft.Tables.documents(spark, sf)
      .select(length(col("text")).cast("long").as("v"),
        (col("lang") === "en").cast("long").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pos = rows.filter(_._2 == 1L).map(_._1)
    val neg = rows.filter(_._2 == 0L).map(_._1)
    assert(out.getAs[Long]("n_pos") === pos.length.toLong)
    assert(out.getAs[Long]("n_neg") === neg.length.toLong)
    var wins = 0L; var ties = 0L
    pos.foreach(p => neg.foreach { n =>
      if (p > n) wins += 1 else if (p == n) ties += 1 })
    // two_u = 2·U = 2·wins + ties, the rank-sum ⇄ pair-count identity
    assert(out.getAs[Long]("two_u") === 2L * wins + ties)
    val auc = (2L * wins + ties).toDouble /
      (2L * pos.length.toLong * neg.length.toLong).toDouble
    assert(out.getAs[Double]("auc") === auc)
    assert(auc >= 0.0 && auc <= 1.0)
  }

  test("q432 metrics match a driver recount from the engine's own " +
      "ranking, and sit in their defining ranges") {
    val out = CatalogEv.q432RetrievalMetrics(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    // rebuild the ranked lists with the engine's scorer, then recompute
    // the metrics independently of the in-plan folds
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val q = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("qv"))
    val c = e.filter(col("vec_id") % 25 =!= 0)
      .select(col("vec_id").as("c_id"), col("label").as("c_label"),
        col("embedding").as("cv"))
    val scored = c.crossJoin(broadcast(q)).select(col("q_id"), col("c_id"),
      graft.functions.GraftFunctions.cosine(col("qv"), col("cv")).as("cos"),
      (col("q_label") === col("c_label")).cast("long").as("rel"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val labR = c.groupBy(col("c_label")).agg(count(lit(1)).as("r"))
      .collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getLong(1)).toMap
    val qLab = q.collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue()).toMap
    scored.groupBy(_._1).foreach { case (qid, cands) =>
      val top = cands.sortBy(t => (-t._3, t._2)).take(10)
      val rels = top.zipWithIndex.map { case (t, i) => (i + 1L, t._4) }
      val dcg = rels.foldLeft(0.0) { case (acc, (rk, rel)) =>
        acc + rel.toDouble / lgL(rk + 1L) }
      val r = labR(qLab(qid))
      val idcg = (1L to math.min(r, 10L)).foldLeft(0.0)(
        (acc, i) => acc + 1.0 / lgL(i + 1L))
      val firstRel = rels.find(_._2 == 1L).map(_._1).getOrElse(0L)
      val row = out(qid)
      assert(row.getAs[Long]("n_rel_top10") === rels.map(_._2).sum)
      assert(row.getAs[Long]("first_rel") === firstRel)
      assert(row.getAs[Double]("dcg") === dcg, s"q$qid dcg")
      assert(row.getAs[Double]("idcg") === idcg, s"q$qid idcg")
      assert(row.getAs[Double]("ndcg") === dcg / idcg, s"q$qid ndcg")
      val rr = row.getAs[Double]("rr")
      assert(if (firstRel == 0L) rr === 0.0 else rr === 1.0 / firstRel)
      assert(row.getAs[Double]("ndcg") >= 0.0 &&
        row.getAs[Double]("ndcg") <= 1.0 + 1e-12)
    }
  }
}
