package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Late round-8 extension wave: graph reachability, behavioral Markov
 * models, multi-objective curation (Pareto frontier), and optimizer-style
 * statistics (join-size estimation from per-key histograms). Same
 * determinism rules as [[CatalogExt]]: integer arithmetic wherever the
 * engine pair could disagree on association, one shared division at the
 * very end where a ratio is surfaced.
 */
object CatalogMore {

  /** Multi-source BFS hop counts on the customer⇄supplier trade graph
    * from every 50th supplier, 6 hop levels (see
    * [[graft.graph.Graph.bfsHops]]) — delta-frontier expansion, one
    * frontier-sized shuffle per level; the oracle replays it as a
    * recursive CTE with min() over walk lengths. */
  def q175BfsHops(s: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.supplier(s, dir)
      .filter(col("s_suppkey") % 50 === 0)
      .select((col("s_suppkey") * 2 + 1).as("id"))
    graft.graph.Graph.bfsHops(
        CatalogExt.tradeGraphEdges(s, dir), "src", "dst", seeds, rounds = 6)
      .orderBy(col("hops"), col("id"))
  }

  /** First-order Markov transition model over per-user event sequences:
    * lag() in (ts, event_id) order → transition counts → row-normalized
    * probabilities (one divide of two exact longs, identical
    * parenthesization in the oracle). The behavioral-model counterpart
    * of q97's textual bigram LM. */
  def q176MarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val t = Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("to_type"),
        lag(col("event_type"), 1).over(w).as("from_type"))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val wf = Window.partitionBy(col("from_type"))
    t.select(col("from_type"), col("to_type"), col("cnt"),
        (col("cnt").cast("double") /
          sum(col("cnt")).over(wf).cast("double")).as("prob"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** 2-D Pareto frontier (skyline) over documents — maximize distinct
    * tokens, minimize length: the multi-objective curation verb ("the
    * densest doc at every length budget"). NOT the O(n²) dominance
    * anti-join: per-length bucket maxima (one map-combinable aggregate)
    * feed a running cummax over the DISTINCT-length frame (domain-sized,
    * the only single-partition window), broadcast back. A doc survives
    * iff it attains its bucket max and strictly beats every shorter
    * bucket's best. */
  def q177ParetoFrontier(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("dt"))
    val buckets = d.groupBy(col("n_chars")).agg(max(col("dt")).as("bucket_max"))
    val wCum = Window.orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = buckets.withColumn("best_smaller", max(col("bucket_max")).over(wCum))
    d.join(broadcast(cum), "n_chars")
      .filter((col("best_smaller").isNull || col("best_smaller") < col("dt")) &&
        col("dt") === col("bucket_max"))
      .select(col("doc_id"), col("n_chars"), col("dt").as("distinct_tokens"))
      .orderBy(col("n_chars"), col("doc_id"))
  }

  /** Join-size estimation from per-key count histograms — the
    * optimizer-statistics primitive: |A ⋈_k B| = Σ_k cntA(k)·cntB(k),
    * computed WITHOUT executing the join (two map-combinable counts +
    * one key-sized join), audited against the actual join count. Exact
    * for equi-joins by definition; at 100 TB the same arithmetic runs
    * over sampled or sketched histograms. */
  def q178JoinSizeEstimate(s: SparkSession, dir: String): DataFrame = {
    def estimate(name: String, a: DataFrame, ka: String,
        b: DataFrame, kb: String): DataFrame = {
      val ca = a.groupBy(col(ka).as("k")).agg(count(lit(1)).as("ca"))
      val cb = b.groupBy(col(kb).as("k")).agg(count(lit(1)).as("cb"))
      val pred = ca.join(cb, "k")
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("predicted_rows"))
      val actual = a.join(b, col(ka) === col(kb))
        .agg(count(lit(1)).as("actual_rows"))
      pred.crossJoin(actual).select(lit(name).as("join_name"),
        col("predicted_rows"), col("actual_rows"))
    }
    estimate("customer_orders", Tables.customer(s, dir), "c_custkey",
        Tables.orders(s, dir), "o_custkey")
      .unionByName(estimate("orders_lineitem", Tables.orders(s, dir), "o_orderkey",
        Tables.lineitem(s, dir), "l_orderkey"))
      .orderBy(col("join_name"))
  }

  /** Truncated integer-exact EWMA (α = 1/2, 8 lags) over per-event-type
    * hourly counts (see [[graft.ops.TimeSeries.ewmaSmooth]]) — the float
    * recursion EWMA is usually computed with cannot hash-match across
    * engines; the powers-of-two formulation must. */
  def q179Ewma(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.ewmaSmooth(Tables.events(s, dir), "event_type", "ts",
        lags = 8)
      .orderBy(col("series"), col("hour"))

  /** Run-length distribution of per-user event streams (gaps-and-islands
    * RLE, see [[graft.ops.TimeSeries.eventRuns]]): how long do users
    * repeat the same action consecutively — summarized as (event_type,
    * run_len, n_runs) so the output is domain-sized. */
  def q180EventRuns(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.eventRuns(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type")
      .groupBy(col("event_type"), col("run_len"))
      .agg(count(lit(1)).as("n_runs"))
      .orderBy(col("event_type"), col("run_len"))

  /** Retrieval evaluation — hit-rate@5 and MRR of the hashed-TF cosine
    * knn (q155) against same-language relevance, in EXACT rational
    * arithmetic: reciprocal ranks are summed as integers scaled by
    * lcm(1..5) = 60 (1/3 is not float-representable; 60/3 is an integer),
    * with the two divides at the very end. */
  def q181RetrievalEval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val v = graft.text.TextOps.hashedTfVectors(docs, "doc_id", "text")
    val knn = graft.sim.Similarity.cosineKnn(
      v.filter(col("doc_id") % 100 === 0), v, "doc_id", "vector", k = 5)
    val lang = docs.select(col("doc_id"), col("lang"))
    val judged = knn
      .join(broadcast(lang.select(col("doc_id").as("q_id"),
        col("lang").as("q_lang"))), "q_id")
      .join(broadcast(lang.select(col("doc_id").as("c_id"),
        col("lang").as("c_lang"))), "c_id")
      .withColumn("rel", col("q_lang") === col("c_lang"))
    val perQuery = judged.groupBy(col("q_id"))
      .agg(min(when(col("rel"), col("rnk"))).as("first_rel"))
    perQuery.agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("first_rel").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        sum(when(col("first_rel").isNotNull, expr("60 div first_rel"))
          .otherwise(lit(0L))).as("mrr_x60"))
      .select(col("n_queries"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_queries").cast("double"))
          .as("hit_rate"),
        (col("mrr_x60").cast("double") /
          (lit(60.0) * col("n_queries").cast("double"))).as("mrr"))
  }

  /** Bloom-filter membership over the corpus vocabulary (see
    * [[graft.sketch.Sketch.bloomMembership]]): probes are every-97th
    * document's tokens plus their '~zz'-mangled (near-certainly absent)
    * twins; `present` is computed exactly, so the output shows real
    * false-positive mechanics while the no-false-negative law holds. */
  def q182Bloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"),
      explode(graft.text.TextOps.tokens(col("text"))).as("t"))
    val base = toks.filter(col("doc_id") % 97 === 0).select(col("t")).distinct()
    val probes = base.select(col("t"))
      .unionByName(base.select(concat(col("t"), lit("~zz")).as("t")))
    graft.sketch.Sketch.bloomMembership(toks, "t", probes, "t",
        bits = 512, hashes = 3)
      .orderBy(col("probe"))
  }

  /** Calibration curve (reliability diagram) for the q123 trained
    * quality classifier: predictions bucketed into 8 probability bins,
    * mean predicted probability vs observed positive rate per bin — the
    * standard "is the classifier's confidence honest" audit. Integer bin
    * arithmetic (`p·8 div S`), two divides at the end; the oracle replays
    * the full 24-round training inside a nested CTE. */
  def q183Calibration(s: SparkSession, dir: String): DataFrame =
    graft.model.QualityLr.trainAndScore(
        Tables.documents(s, dir), "doc_id", "text", rounds = 24)
      .groupBy(expr("least(p * 8 div 65536, 7)").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("p")).as("sum_p"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("sum_p").cast("double") /
          (lit(65536.0) * col("n").cast("double"))).as("mean_pred"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("obs_rate"))
      .orderBy(col("bin"))

  /** Frequent triple itemsets, A-priori style with a deterministic
    * candidate bound: top-10 items by user support (TakeOrdered), all
    * per-user triples among ONLY those items (≤ C(10,3) = 120 candidates,
    * ≤ 120 rows per user after the semi-join prune — the A-priori insight
    * that candidate generation must shrink before counting), top-20 by
    * (support DESC, items ASC). */
  def q184FrequentTriples(s: SparkSession, dir: String): DataFrame = {
    val ui = Tables.events(s, dir)
      .select(col("user_id").as("u"),
        variant_get(parse_json(col("props")), "$.k", "bigint").as("item"))
      .filter(col("item").isNotNull)
      .distinct()
    val top = ui.groupBy(col("item")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("item")).limit(10)
    val u1 = ui.join(broadcast(top.select(col("item"))), Seq("item"), "left_semi")
    u1.alias("a")
      .join(u1.alias("b"), col("a.u") === col("b.u") && col("a.item") < col("b.item"))
      .join(u1.alias("c"), col("b.u") === col("c.u") && col("b.item") < col("c.item"))
      .groupBy(col("a.item").as("i"), col("b.item").as("j"), col("c.item").as("k"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("i"), col("j"), col("k"))
      .limit(20)
  }

  /** Token-weighted median document length per language: cumulative
    * integer weights over the per-language value sort, the median is the
    * first value where 2·cumw ≥ total — no float quantile interpolation,
    * so any engine agrees. The weighted-statistics primitive (corpus
    * "median length per token", not per doc). */
  def q185WeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("wt"))
    val wCum = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("lang"))
    d.select(col("lang"), col("n_chars"),
        sum(col("wt")).over(wCum).as("cumw"),
        sum(col("wt")).over(wAll).as("total"))
      .groupBy(col("lang"))
      .agg(max(col("total")).as("total_weight"),
        min(when(col("cumw") * 2 >= col("total"), col("n_chars")))
          .as("weighted_median_chars"))
      .orderBy(col("lang"))
  }

  /** Data-contract expectations audit (the Deequ/dbt-tests shape):
    * completeness, uniqueness, range, and referential checks as
    * (check, n_checked, n_violations, pass) rows — ONE aggregate pass per
    * table (every sum(CASE) rides the same scan) plus one anti-join for
    * the FK probe; the ingest acceptance gate a 100 TB pipeline runs
    * before promoting a snapshot. */
  def q186Expectations(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).agg(
      count(lit(1)).as("n"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v_null"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_uniq"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v_pos"))
    val l = Tables.lineitem(s, dir).agg(
      count(lit(1)).as("n"),
      sum(when(!col("l_quantity").between(1, 50), 1L).otherwise(0L)).as("v_qty"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
        .otherwise(0L)).as("v_disc"))
    val fk = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"),
        "left_anti")
      .agg(count(lit(1)).as("v_fk"))
      .crossJoin(Tables.lineitem(s, dir).agg(count(lit(1)).as("n")))
    val rows =
      o.select(lit("orders.o_custkey_not_null").as("check"), col("n"),
          col("v_null").as("n_violations"))
        .unionByName(o.select(lit("orders.o_orderkey_unique").as("check"),
          col("n"), col("v_uniq").as("n_violations")))
        .unionByName(o.select(lit("orders.o_totalprice_positive").as("check"),
          col("n"), col("v_pos").as("n_violations")))
        .unionByName(l.select(lit("lineitem.l_quantity_in_1_50").as("check"),
          col("n"), col("v_qty").as("n_violations")))
        .unionByName(l.select(lit("lineitem.l_discount_in_0_1").as("check"),
          col("n"), col("v_disc").as("n_violations")))
        .unionByName(fk.select(lit("lineitem.fk_orders").as("check"),
          col("n"), col("v_fk").as("n_violations")))
    rows.select(col("check"), col("n").as("n_checked"), col("n_violations"),
        (col("n_violations") === 0L).as("pass"))
      .orderBy(col("check"))
  }

  /** Benford first-digit audit on order totals — the fraud/synthetic-data
    * smoke test: leading digit via exact integer cents (no float log10),
    * counts + one-divide shares. Uniform synthetic money will NOT follow
    * Benford — the point of the audit is to SHOW the distribution, and
    * the spec pins the conservation laws. */
  def q187Benford(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.orders(s, dir)
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = d.agg(sum(col("n")).as("total"))
    d.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("total").cast("double")).as("share"))
      .orderBy(col("digit"))
  }

  /** Weight-of-evidence encoding of token-count bands against the Gopher
    * rule-gate label — the credit-scoring feature transform in exact-lg
    * bits: WOE(b) = (lg n⁺_b − lg n⁻_b) − (lg N⁺ − lg N⁻); zero cells
    * yield NULL (no smoothing lie). One doc-keyed scan + a domain-sized
    * aggregate + a 1-row broadcast. */
  def q188WoeEncoding(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val lg = graft.curation.Curation.lg _
    val gate = graft.curation.Curation.ruleGate(docs, "doc_id", "text")
      .select(col("doc_id"), col("pass"))
    val nt = docs.select(col("doc_id"),
      size(graft.text.TextOps.tokens(col("text"))).cast("long").as("nt"))
    val agg = nt.join(gate, "doc_id")
      .groupBy(expr("least(nt div 20, 7)").as("bucket"))
      .agg(sum(when(col("pass"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("pass"), 1L).otherwise(0L)).as("n_neg"))
    val tot = agg.agg(sum(col("n_pos")).as("tp"), sum(col("n_neg")).as("tn"))
    agg.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("bucket"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0 && col("tp") > 0 && col("tn") > 0,
          (lg(col("n_pos")) - lg(col("n_neg"))) - (lg(col("tp")) - lg(col("tn"))))
          .as("woe_bits"))
      .orderBy(col("bucket"))
  }

  /** Token-budget selection: per source, greedily keep the
    * highest-stopword-density docs (integer score ·10⁶, the q21 quality
    * proxy) until HALF the source's tokens are spent — the data-mixing
    * verb "best docs within a token budget". Inclusive-cumsum ≤ budget,
    * all integers; summarized per source with a one-divide share. */
  def q189TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.text.TextOps.tokens(col("text"))
    val d = Tables.documents(s, dir).select(col("source"), col("doc_id"),
      size(toks).cast("long").as("nt"),
      (graft.text.TextOps.stopwordCount(toks).cast("long") * 1000000L).as("sc"))
      .select(col("source"), col("doc_id"), col("nt"),
        expr("sc div nt").as("score"))
    val wCum = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    d.select(col("source"), col("nt"),
        sum(col("nt")).over(wCum).as("cumtok"),
        sum(col("nt")).over(wAll).as("total"))
      .filter(col("cumtok") * 2 <= col("total"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_kept"), sum(col("nt")).as("tokens_kept"),
        max(col("total")).as("tokens_total"))
      .select(col("source"), col("n_docs_kept"), col("tokens_kept"),
        (col("tokens_kept").cast("double") / col("tokens_total").cast("double"))
          .as("token_share"))
      .orderBy(col("source"))
  }

  /** Gini concentration of the corpus over sources (token mass): the
    * inequality audit for training-data balance, in EXACT integer
    * arithmetic — ascending-rank weighted sum identity
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ), one divide at the end.
    * The rank window runs over the SOURCE-sized frame (domain-sized, not
    * corpus-sized). */
  def q190GiniConcentration(s: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(s, dir)
      .select(col("source"),
        size(graft.text.TextOps.tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("x"))
    val w = Window.orderBy(col("x"), col("source"))
    perSource
      .select(col("x"), row_number().over(w).cast("long").as("i"))
      .agg(count(lit(1)).as("n_sources"), sum(col("x")).as("total_tokens"),
        sum(col("i") * col("x")).as("s1"))
      .select(col("n_sources"), col("total_tokens"),
        ((lit(2L) * col("s1") - (col("n_sources") + 1) * col("total_tokens"))
          .cast("double") /
          (col("n_sources") * col("total_tokens")).cast("double")).as("gini"))
  }

  /** Contrastive triplet mining: for each anchor, the nearest SAME-label
    * neighbor (positive) and the nearest OTHER-label neighbor (hard
    * negative) by exact cosine, plus the triplet margin — the training-
    * data op behind contrastive/metric learning. Brute-force baseline by
    * design (the q28 shape); at 100 TB the same mining runs over the
    * LSH/IVF candidate sets (q30/q35) instead of all pairs. */
  def q191TripletMining(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_v"),
        col("label").as("q_lab"))
    val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_v"),
      col("label").as("c_lab"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("q_lab"), col("c_id"), col("c_lab"),
        graft.functions.GraftFunctions.cosine(col("q_v"), col("c_v")).as("cos"))
    def top1(side: DataFrame, idAs: String, cosAs: String): DataFrame = {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("c_id"))
      side.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
        .select(col("q_id"), col("q_lab"), col("c_id").as(idAs),
          col("cos").as(cosAs))
    }
    val pos = top1(scored.filter(col("q_lab") === col("c_lab")), "pos_id", "pos_cos")
      .select(col("q_id"), col("q_lab").as("label"), col("pos_id"), col("pos_cos"))
    val neg = top1(scored.filter(col("q_lab") =!= col("c_lab")), "neg_id", "neg_cos")
      .select(col("q_id"), col("neg_id"), col("neg_cos"))
    pos.join(neg, "q_id")
      .select(col("q_id"), col("label"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"),
        (col("pos_cos") - col("neg_cos")).as("margin"))
      .orderBy(col("q_id"))
  }

  /** ANN quality gate: recall@10 of the q35 IVF path against the q28
    * exact knn, as one audited number — the evaluation a pipeline runs
    * before trusting an approximate index. Hit counts are integers; ONE
    * divide for the recall. Both legs are already oracle-replayed, so
    * even this meta-measurement hash-matches. */
  def q192AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val exact = graft.sim.Similarity.cosineKnn(
      queries, emb, "vec_id", "embedding", k = 10)
    val ivf = graft.sim.Similarity.ivfKnn(
      queries, emb, "vec_id", "embedding", k = 10,
      centroidStride = 50, nProbe = 3)
    val hits = ivf.select(col("q_id"), col("c_id"))
      .join(exact.select(col("q_id"), col("c_id")), Seq("q_id", "c_id"),
        "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("h"))
    exact.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("h"), lit(0L)).as("h"))
      .agg(count(lit(1)).as("n_queries"), sum(col("h")).as("n_hits"))
      .select(col("n_queries"), col("n_hits"),
        (col("n_hits").cast("double") /
          (lit(10.0) * col("n_queries").cast("double"))).as("recall_at_10"))
  }

  /** Quantile (percent-rank) normalization of a bounded-domain feature —
    * the sklearn-QuantileTransformer shape done scalably: NOT a global
    * rank window (single-partition at 100 TB) but a value-domain histogram
    * (one map-combinable count), a cumsum over the DISTINCT-value frame,
    * and a broadcast join back. pct = count(x < v)/(n − 1), the classic
    * percent_rank identity, one divide. Summarized per value so the
    * output is domain-sized. */
  def q193QuantileTransform(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_quantity").cast("long").as("v"))
    val hist = li.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = hist.agg(sum(col("cnt")).as("n"))
    hist
      .withColumn("below", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("v").as("l_quantity"), col("cnt"),
        (col("below").cast("double") / (col("n") - 1).cast("double"))
          .as("pct_rank"))
      .orderBy(col("l_quantity"))
  }

  /** Near-dup LSH quality gate: precision AND recall of the q49 sign-LSH
    * pigeonhole path against the q29 exact all-pairs baseline — the
    * second half of the approximate-path audit pair (q192 covers ANN).
    * Integer pair counts, two guarded divides. */
  def q194NearDupEval(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val exact = graft.dedup.Dedup.embeddingNearDupPairs(
      emb, "vec_id", "embedding", 0.45).select(col("a_id"), col("b_id"))
    val approx = graft.dedup.Dedup.embeddingNearDupPairsLsh(
      emb, "vec_id", "embedding", 0.45, planes = 16, maxHamming = 3)
      .select(col("a_id"), col("b_id"))
    val nEx = exact.agg(count(lit(1)).as("n_exact"))
    val nAp = approx.agg(count(lit(1)).as("n_approx"))
    val nCo = approx.join(exact, Seq("a_id", "b_id"), "left_semi")
      .agg(count(lit(1)).as("n_common"))
    nEx.crossJoin(nAp).crossJoin(nCo)
      .select(col("n_exact"), col("n_approx"), col("n_common"),
        when(col("n_approx") > 0,
          col("n_common").cast("double") / col("n_approx").cast("double"))
          .as("precision"),
        when(col("n_exact") > 0,
          col("n_common").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
  }

  /** k-anonymity audit (k = 5) over the (priority, order-date)
    * quasi-identifier: groups smaller than k are re-identification risks.
    * One map-combinable group count + a 5-sum rollup; the
    * privacy-release gate next to q67's PII redaction. */
  def q195KAnonymity(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"), col("o_orderdate"))
      .agg(count(lit(1)).as("c"))
    g.agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("c") < 5, 1L).otherwise(0L)).as("n_small_groups"),
        sum(when(col("c") < 5, col("c")).otherwise(0L)).as("rows_at_risk"),
        sum(col("c")).as("n_rows"))
      .select(col("n_groups"), col("n_small_groups"), col("rows_at_risk"),
        col("n_rows"),
        (col("rows_at_risk").cast("double") / col("n_rows").cast("double"))
          .as("risk_share"))
  }

  /** Language-ID confusion matrix: the q22 classifier cross-tabulated
    * against the declared label, with per-cell share of the declared
    * language's row count — the evaluation twin that turns q22's
    * per-doc verdicts into the model-quality artifact. */
  def q196LangConfusion(s: SparkSession, dir: String): DataFrame = {
    val cell = CatalogExt.q22LangId(s, dir)
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang"))
    cell.select(col("lang"), col("predicted_lang"), col("n"),
        (col("n").cast("double") / sum(col("n")).over(w).cast("double"))
          .as("share_of_lang"))
      .orderBy(col("lang"), col("predicted_lang"))
  }

  /** Range-predicate selectivity estimation (X155's sibling): the
    * uniform-distribution estimate n·(b−a+1) div (hi−lo+1) every
    * cost-based optimizer starts from, audited against the actual count —
    * four predicates, ONE scan (all conditional sums ride the same
    * aggregate), integer arithmetic, one guarded divide for the
    * actual/estimate ratio. */
  def q197Selectivity(s: SparkSession, dir: String): DataFrame = {
    val preds = Seq((5L, 15L), (20L, 30L), (1L, 50L), (40L, 45L))
    val li = Tables.lineitem(s, dir).select(col("l_quantity").cast("long").as("v"))
    val aggs = Seq(count(lit(1)).as("n"), min(col("v")).as("lo"),
      max(col("v")).as("hi")) ++
      preds.zipWithIndex.map { case ((a, b), i) =>
        sum(when(col("v").between(a, b), 1L).otherwise(0L)).as(s"act_$i")
      }
    val one = li.agg(aggs.head, aggs.tail: _*)
    preds.zipWithIndex.map { case ((a, b), i) =>
      one.select(lit(a).as("pred_lo"), lit(b).as("pred_hi"),
        expr(s"n * (${b} - ${a} + 1) div (hi - lo + 1)").as("est_rows"),
        col(s"act_$i").as("actual_rows"),
        when(expr(s"n * (${b} - ${a} + 1) div (hi - lo + 1)") > 0,
          col(s"act_$i").cast("double") /
            expr(s"n * (${b} - ${a} + 1) div (hi - lo + 1)").cast("double"))
          .as("actual_over_est"))
    }.reduce(_ unionByName _).orderBy(col("pred_lo"), col("pred_hi"))
  }

  /** Chi-square association + Cramér's V between two categorical columns
    * (order priority × order year) — the feature-dependence audit. Each
    * cell's term uses the integer identity (o·n − rₙ·cₙ)²/(rₙ·cₙ·n)
    * (the (o−e)²/e expansion that defers every divide); the cross-cell
    * χ² sum is a FIXED-ORDER fold over the sorted cell list (the X123
    * charEntropy technique — float addition doesn't commute, sorted
    * folds do), so both engines produce the identical double. */
  def q198CramersV(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("r"),
        year(col("o_orderdate")).cast("long").as("c"))
      .agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy(col("r")).agg(sum(col("o")).as("rn"))
    val colT = cells.groupBy(col("c")).agg(sum(col("o")).as("cn"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("r")).as("rl"), countDistinct(col("c")).as("cl"))
    val terms = cells
      .join(broadcast(rowT), "r").join(broadcast(colT), "c")
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("r"), col("c"), col("n"), col("rl"), col("cl"),
        ((col("o") * col("n") - col("rn") * col("cn")).cast("double") *
          (col("o") * col("n") - col("rn") * col("cn")).cast("double") /
          (col("rn") * col("cn") * col("n")).cast("double")).as("t"))
    terms
      .groupBy(col("n"), col("rl"), col("cl"))
      .agg(sort_array(collect_list(struct(col("r"), col("c"), col("t"))))
        .as("__cells"))
      .select(col("n"), col("rl").as("r_levels"), col("cl").as("c_levels"),
        aggregate(col("__cells"), lit(0.0), (acc, x) => acc + x("t"))
          .as("chi2"))
      .withColumn("cramers_v",
        sqrt(col("chi2") / (col("n") * least(col("r_levels") - 1,
          col("c_levels") - 1)).cast("double")))
  }

  /** Class-based TF-IDF (the BERTopic labeling trick, on the language
    * class): score(term, lang) = tf_lang · (lg N_docs − lg df_term) in
    * exact-lg bits, top-5 distinctive terms per language by (score DESC,
    * term ASC). One token-keyed aggregate per factor, a broadcast of the
    * vocabulary-sized df table, WindowGroupLimit for the per-class cut. */
  def q199CTfidf(s: SparkSession, dir: String): DataFrame = {
    val lg = graft.curation.Curation.lg _
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("lang"), col("doc_id"),
      explode(graft.text.TextOps.tokens(col("text"))).as("t"))
    val tf = toks.groupBy(col("lang"), col("t")).agg(count(lit(1)).as("tf"))
    val df = toks.select(col("doc_id"), col("t")).distinct()
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("t"))
    tf.join(broadcast(df), "t").crossJoin(broadcast(graft.ops.Guards.scalar(nDocs)))
      .select(col("lang"), col("t"), col("tf"), col("df"),
        (col("tf").cast("double") * (lg(col("n_docs")) - lg(col("df"))))
          .as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("lang"), col("t").as("term"), col("tf"), col("df"),
        col("score"), col("rnk"))
      .orderBy(col("lang"), col("rnk"))
  }

  /** The one-call EVENTS report card (q150's sibling for the behavioral
    * table): volume, reach, span, peak load, and the exact median user
    * activity — every metric integer-exact, output as (metric, value)
    * rows. The ingest-acceptance summary for event streams. */
  def q200EventsReport(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val base = ev.agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_event_types"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .as("span_us"))
      .withColumn("span_hours", expr("span_us div 3600000000"))
    val peak = ev.groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("peak_hour_events"))
    // median via the count-of-counts histogram (q193's trick): the only
    // window runs over DISTINCT activity levels, never the user domain
    val perUser = ev.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val hist = perUser.groupBy(col("c")).agg(count(lit(1)).as("w"))
    val wCum = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val median = hist
      .select(col("c"), sum(col("w")).over(wCum).as("cum"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(perUser.agg(count(lit(1)).as("nu")))))
      .agg(min(when(col("cum") * 2 >= col("nu"), col("c")))
        .as("median_events_per_user"))
    def rowOf(d: DataFrame, name: String, c: String) =
      d.select(lit(name).as("metric"), col(c).cast("long").as("value"))
    rowOf(base, "n_events", "n_events")
      .unionByName(rowOf(base, "n_users", "n_users"))
      .unionByName(rowOf(base, "n_event_types", "n_event_types"))
      .unionByName(rowOf(base, "span_hours", "span_hours"))
      .unionByName(rowOf(peak, "peak_hour_events", "peak_hour_events"))
      .unionByName(rowOf(median, "median_events_per_user",
        "median_events_per_user"))
      .orderBy(col("metric"))
  }

  /** Join-key skew report: the pre-flight audit for any 100 TB shuffle —
    * top-10 heaviest keys with their share of rows, plus the max/mean
    * ratio (mean ·10⁶, integer div) that predicts straggler tasks. One
    * map-combinable count; the cut is a TakeOrdered; totals broadcast. */
  def q201SkewReport(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.events(s, dir).groupBy(col("user_id").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val tot = keyed.agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_keys"))
    keyed.orderBy(col("cnt").desc, col("key")).limit(10)
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("key"), col("cnt"),
        (col("cnt").cast("double") / col("n").cast("double")).as("share"),
        expr("cnt * n_keys * 1000000 div n").as("x_mean_x1e6"))
      .orderBy(col("cnt").desc, col("key"))
  }

  /** Watermark-lateness audit: using per-user arrival order (event_id as
    * the arrival proxy), how late does each event arrive behind the
    * running event-time high-water mark — and what fraction would a
    * 1/2/5-minute watermark drop? The measurement that justifies (or
    * indicts) the reference pipeline's 2-minute watermark with data
    * instead of folklore. Integer microsecond lateness, one-divide
    * shares. */
  def q202LatenessAudit(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.latenessAudit(Tables.events(s, dir),
      "user_id", "event_id", "ts")

  /** Keyword-in-context concordance (KWIC): every occurrence of a term
    * with its ±3-token window — the corpus-inspection verb behind any
    * "show me how this token is used" debugging session. posexplode +
    * slice, purely narrow (zero joins); output capped by the term's df. */
  def q203Kwic(s: SparkSession, dir: String): DataFrame = {
    val term = "merge"
    val toks = graft.text.TextOps.tokens(col("text"))
    val start = greatest(col("pos") + 1 - 3, lit(1))
    val stop = least(col("pos") + 1 + 3, size(col("w")))
    Tables.documents(s, dir)
      .select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"), col("w"), posexplode(col("w")))
      .filter(col("col") === term)
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        concat_ws(" ", slice(col("w"), start, stop - start + 1)).as("context"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Exact sample variance per group via the integer identity
    * (n·Σx² − (Σx)²)/(n·(n−1)) — every cross-row reduction is an INTEGER
    * sum (commutes on any engine/partitioning), one divide + one sqrt at
    * the end. The float-free alternative to Welford/naive float sums,
    * whose accumulation order differs per partitioning. */
  def q204ExactVariance(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("x"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"))
      .select(col("l_returnflag"), col("n"),
        ((col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("n") * (col("n") - 1)).cast("double")).as("variance"))
      .withColumn("stddev", sqrt(col("variance")))
      .orderBy(col("l_returnflag"))

  /** Two-proportion A/B significance (user_id parity as the variant,
    * "made a purchase over 150" as conversion): the pooled z² statistic
    * in the deferred-divide form z² = (c₁n₂ − c₂n₁)²·N / (n₁n₂·C·(N−C)) —
    * every factor integer, squared in double (the q198 overflow
    * discipline), guarded divides (all-or-none conversion ⇒ NULL, the
    * undefined-variance case); verdict at the χ²₁ 95% critical value. */
  def q205AbTest(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150.0,
        1L).otherwise(0L)).as("converted"))
      .select((col("user_id") % 2).as("variant"), col("converted"))
    val arms = users.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("c"))
    val a = arms.filter(col("variant") === 0)
      .select(col("n").as("n1"), col("c").as("c1"))
    val b = arms.filter(col("variant") === 1)
      .select(col("n").as("n2"), col("c").as("c2"))
    a.crossJoin(broadcast(graft.ops.Guards.scalar(b)))
      .select(col("n1"), col("c1"), col("n2"), col("c2"),
        when(col("c1") + col("c2") > 0 &&
            col("c1") + col("c2") < col("n1") + col("n2"),
          ((col("c1") * col("n2") - col("c2") * col("n1")).cast("double") *
            (col("c1") * col("n2") - col("c2") * col("n1")).cast("double")) *
            (col("n1") + col("n2")).cast("double") /
            (col("n1") * col("n2") * (col("c1") + col("c2"))).cast("double") /
            (col("n1") + col("n2") - col("c1") - col("c2")).cast("double"))
          .as("z2"))
      .withColumn("significant_95", col("z2") > 3.841458820694124)
  }

  /** Catalog-wide completeness profile: (table, column, n_rows, n_nulls)
    * for every column of orders/lineitem/customer — ONE aggregate pass
    * per table (every null-sum rides the same scan), melted to rows; the
    * ANALYZE-style snapshot a warehouse publishes per ingest. */
  def q206CatalogProfile(s: SparkSession, dir: String): DataFrame = {
    val tables: Seq[(String, DataFrame, Seq[String])] = Seq(
      ("customer", Tables.customer(s, dir),
        Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")),
      ("lineitem", Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")),
      ("orders", Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")))
    tables.map { case (name, df, cols) =>
      val aggs = count(lit(1)).as("n_rows") +:
        cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"))
      val one = df.agg(aggs.head, aggs.tail: _*)
      cols.map { c =>
        one.select(lit(name).as("table_name"), lit(c).as("column_name"),
          col("n_rows"), col(s"nn_$c").as("n_nulls"))
      }.reduce(_ unionByName _)
    }.reduce(_ unionByName _)
      .orderBy(col("table_name"), col("column_name"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q175_bfs_hops"       -> q175BfsHops _,
    "q176_markov"         -> q176MarkovTransitions _,
    "q177_pareto"         -> q177ParetoFrontier _,
    "q178_join_estimate"  -> q178JoinSizeEstimate _,
    "q179_ewma"           -> q179Ewma _,
    "q180_event_runs"     -> q180EventRuns _,
    "q181_retrieval_eval" -> q181RetrievalEval _,
    "q182_bloom"          -> q182Bloom _,
    "q183_calibration"    -> q183Calibration _,
    "q184_freq_triples"   -> q184FrequentTriples _,
    "q185_weighted_median" -> q185WeightedMedian _,
    "q186_expectations"   -> q186Expectations _,
    "q187_benford"        -> q187Benford _,
    "q188_woe"            -> q188WoeEncoding _,
    "q189_token_budget"   -> q189TokenBudget _,
    "q190_gini"           -> q190GiniConcentration _,
    "q191_triplets"       -> q191TripletMining _,
    "q192_ann_recall"     -> q192AnnRecall _,
    "q193_quantile_norm"  -> q193QuantileTransform _,
    "q194_neardup_eval"   -> q194NearDupEval _,
    "q195_k_anonymity"    -> q195KAnonymity _,
    "q196_lang_confusion" -> q196LangConfusion _,
    "q197_selectivity"    -> q197Selectivity _,
    "q198_cramers_v"      -> q198CramersV _,
    "q199_ctfidf"         -> q199CTfidf _,
    "q200_events_report"  -> q200EventsReport _,
    "q201_skew_report"    -> q201SkewReport _,
    "q202_lateness_audit" -> q202LatenessAudit _,
    "q203_kwic"           -> q203Kwic _,
    "q204_exact_variance" -> q204ExactVariance _,
    "q205_ab_test"        -> q205AbTest _,
    "q206_catalog_profile" -> q206CatalogProfile _)
}
