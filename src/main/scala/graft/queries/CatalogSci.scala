package graft.queries

import graft.Tables
import graft.ops.IterativeLoop
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Science/evaluation wave: community-structure quality (modularity),
 * sketch-vs-exact set similarity (bottom-k / KMV), robust trend
 * estimation (Theil–Sen), and distribution-free prediction intervals
 * (split conformal). Determinism contract as everywhere in the
 * catalog: integer moments until a final divide, md5-derived hashes
 * compared as integers, order-statistic picks instead of interpolated
 * quantiles, sorted folds for any float sum.
 */
object CatalogSci {

  private def lg(x: Column): Column = graft.curation.Curation.lg(x)

  /** md5-prefix uniform u32 ∈ [0, 2³²) of a string column. */
  private def u32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** Newman modularity of the nation partition on the weighted
    * customer–supplier trade graph (edge weight = lineitem count):
    * Q = Σ_c (w_c∕m − (d_c∕2m)²) — positive iff trade is
    * nation-assortative beyond degree chance. All masses are exact
    * int64 (intra-community weight, community degree, total weight);
    * each community term is two fixed-parenthesization divides; the
    * cross-community sum is a sorted fold over ≤ 25 nations. One
    * shuffle for the edge aggregate, nation lookups broadcast. */
  def q235Modularity(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").as("cn"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("sn"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("cn"), col("sn"))
    val m = edges.agg(count(lit(1)).as("m"))
    val byNation = edges
      .select(explode(array(
        struct(col("cn").as("nation"),
          when(col("cn") === col("sn"), 1L).otherwise(0L).as("intra")),
        struct(col("sn").as("nation"), lit(0L).as("intra"))))
        .as("e"))
      .select(col("e.nation").as("nation"), col("e.intra").as("intra"))
      .groupBy(col("nation"))
      // intra mass is attached to the customer-side endpoint only (an
      // intra edge belongs wholly to its single community), degree to both
      .agg(count(lit(1)).as("deg"), sum(col("intra")).as("wi"))
    byNation.crossJoin(broadcast(graft.ops.Guards.scalar(m)))
      .select(col("nation"),
        (col("wi").cast("double") / col("m").cast("double") -
          (col("deg").cast("double") / (lit(2L) * col("m")).cast("double")) *
            (col("deg").cast("double") / (lit(2L) * col("m")).cast("double")))
          .as("term"),
        col("m"))
      .groupBy(col("m").as("m_weight"))
      .agg(count(lit(1)).as("n_communities"),
        aggregate(
          transform(sort_array(collect_list(struct(col("nation"), col("term")))),
            e => e("term")),
          lit(0.0), (acc, x) => acc + x).as("modularity"))
  }

  /** Bottom-k (KMV) sketch Jaccard between source vocabularies, k = 64,
    * audited against the exact Jaccard: each source keeps only its 64
    * smallest md5 token hashes (mergeable, fixed-size — the sketch you
    * ship at 100 TB where the exact side is a full vocabulary join),
    * and Ĵ = |union-k ∩ S_a ∩ S_b| ∕ k (Bar-Yossef et al. 2002;
    * Beyer et al. 2007). The estimate, the exact value, and the
    * absolute error sit side by side per source pair — the calibration
    * table that justifies replacing the exact join with the sketch. */
  def q236BottomkJaccard(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
      .withColumn("h", u32(col("tok")))
    val wSk = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("tok"))
    val sk = toks.withColumn("rn", row_number().over(wSk))
      .filter(col("rn") <= k)
      .select(col("source"), col("tok"), col("h"))
    val srcs = sk.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("sa"))
      .join(srcs.select(col("source").as("sb")), col("sa") < col("sb"))
    // union of the two sketches, deduped by token, ranked by (h, tok)
    val skA = pairs.join(sk, col("source") === col("sa"))
      .select(col("sa"), col("sb"), col("tok"), col("h"))
    val skB = pairs.join(sk, col("source") === col("sb"))
      .select(col("sa"), col("sb"), col("tok"), col("h"))
    val un = skA.unionByName(skB)
      .groupBy(col("sa"), col("sb"), col("tok"), col("h"))
      .agg(count(lit(1)).as("n_sides"))
    val wUn = Window.partitionBy(col("sa"), col("sb"))
      .orderBy(col("h"), col("tok"))
    val est = un.withColumn("rn", row_number().over(wUn))
      .filter(col("rn") <= k)
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("union_k"),
        sum(when(col("n_sides") === 2, 1L).otherwise(0L)).as("in_both"))
      .select(col("sa"), col("sb"),
        (col("in_both").cast("double") /
          least(lit(k.toLong), col("union_k")).cast("double")).as("j_est"))
    val sizes = toks.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    val inter = toks.select(col("source").as("sa"), col("tok"))
      .join(toks.select(col("source").as("sb"), col("tok")), "tok")
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("ni"))
    val exact = inter
      .join(broadcast(sizes.select(col("source").as("sa"), col("nv").as("na"))), "sa")
      .join(broadcast(sizes.select(col("source").as("sb"), col("nv").as("nb"))), "sb")
      .select(col("sa"), col("sb"),
        (col("ni").cast("double") /
          (col("na") + col("nb") - col("ni")).cast("double")).as("j_exact"))
    est.join(exact, Seq("sa", "sb"))
      .select(col("sa"), col("sb"), col("j_est"), col("j_exact"),
        abs(col("j_est") - col("j_exact")).as("abs_err"))
      .orderBy(col("sa"), col("sb"))
  }

  /** Theil–Sen robust slope of the daily event-count trend: the median
    * of all pairwise slopes (Sen 1968) — up to ~29% of days can be
    * corrupted before the estimate moves, unlike OLS. The quadratic
    * pair space is bounded BY CONSTRUCTION to the daily series; the
    * median is the lower-median ORDER-STATISTIC pick (row_number over
    * (slope, t1, t2) — no float interpolation), and the Sen intercept
    * is median(y) − slope·median(t) with both medians integer picks. */
  def q237TheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))
      .withColumn("t", row_number().over(Window.orderBy(col("d"))).cast("long"))
    val a = daily.select(col("t").as("t1"), col("y").as("y1"))
    val b = daily.select(col("t").as("t2"), col("y").as("y2"))
    val slopes = a.join(b, col("t1") < col("t2"))
      .select(col("t1"), col("t2"),
        ((col("y2") - col("y1")).cast("double") /
          (col("t2") - col("t1")).cast("double")).as("slope"))
    val np = slopes.agg(count(lit(1)).as("n_pairs"))
    val medSlope = slopes
      .withColumn("rn", row_number().over(
        Window.orderBy(col("slope"), col("t1"), col("t2"))))
      .crossJoin(broadcast(graft.ops.Guards.scalar(np)))
      .filter(col("rn") === floor((col("n_pairs") + 1) / 2))
      .select(col("slope"), col("n_pairs"))
    val nd = daily.agg(count(lit(1)).as("n_days"))
    val medY = daily
      .withColumn("rn", row_number().over(Window.orderBy(col("y"), col("t"))))
      .crossJoin(broadcast(graft.ops.Guards.scalar(nd)))
      .filter(col("rn") === floor((col("n_days") + 1) / 2))
      .select(col("y").as("med_y"), col("n_days"))
    val medT = daily
      .withColumn("rn", row_number().over(Window.orderBy(col("t"))))
      .crossJoin(broadcast(graft.ops.Guards.scalar(nd.select(col("n_days").as("nd2")))))
      .filter(col("rn") === floor((col("nd2") + 1) / 2))
      .select(col("t").as("med_t"))
    medSlope.crossJoin(broadcast(graft.ops.Guards.scalar(medY))).crossJoin(broadcast(graft.ops.Guards.scalar(medT)))
      .select(col("n_days"), col("n_pairs"), col("slope"),
        (col("med_y").cast("double") -
          col("slope") * col("med_t").cast("double")).as("intercept"))
  }

  /** Split-conformal prediction interval for document length predicted
    * from token count (Vovk et al.; Lei et al. 2018): thirds by
    * doc_id mod 3 — OLS on the train third (exact integer moments, two
    * divides), calibration residual quantile q̂ = the ⌈(n+1)·0.9⌉-th
    * order statistic of |residual| (an integer-indexed PICK, the
    * finite-sample-valid choice), coverage audited on the held-out
    * test third. Distribution-free ~90% coverage is the contract the
    * law spec pins. */
  def q238Conformal(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("x"),
        col("n_chars").as("y"),
        (col("doc_id") % 3).as("fold"))
    val m = docs.filter(col("fold") === 0)
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
          col("n").cast("double"))
      .select(col("n").as("n_train"), col("slope"), col("intercept"))
    val cal = docs.filter(col("fold") === 1).crossJoin(broadcast(graft.ops.Guards.scalar(m)))
      .select(col("doc_id"), col("n_train"), col("slope"), col("intercept"),
        abs(col("y").cast("double") -
          (col("slope") * col("x").cast("double") + col("intercept")))
          .as("r"))
    val nc = cal.agg(count(lit(1)).as("n_cal"))
    val qhat = cal
      .withColumn("rn", row_number().over(Window.orderBy(col("r"), col("doc_id"))))
      .crossJoin(broadcast(graft.ops.Guards.scalar(nc)))
      .filter(col("rn") ===
        least(floor((lit(9L) * (col("n_cal") + 1) + 9) / 10), col("n_cal")))
      .select(col("n_train"), col("slope"), col("intercept"),
        col("n_cal"), col("r").as("q90"))
    docs.filter(col("fold") === 2).crossJoin(broadcast(graft.ops.Guards.scalar(qhat)))
      .select(col("n_train"), col("n_cal"), col("slope"), col("intercept"),
        col("q90"),
        when(abs(col("y").cast("double") -
          (col("slope") * col("x").cast("double") + col("intercept"))) <=
          col("q90"), 1L).otherwise(0L).as("cov"))
      .groupBy(col("n_train"), col("n_cal"), col("slope"),
        col("intercept"), col("q90"))
      .agg(count(lit(1)).as("n_test"), sum(col("cov")).as("n_covered"))
      .select(col("n_train"), col("n_cal"), col("n_test"), col("slope"),
        col("intercept"), col("q90"),
        (col("n_covered").cast("double") / col("n_test").cast("double"))
          .as("coverage"))
  }

  /** l-diversity audit over the (lang, length-bucket) quasi-identifier
    * — the sensitive-attribute complement of q195's k-anonymity
    * (Machanavajjhala et al. 2007): a group can be k-anonymous yet leak
    * its members' `source` if every member shares one. One aggregate
    * pass; l = exact distinct count of the sensitive attribute; the
    * l ≥ 3 verdict is an integer compare. */
  def q239LDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"), floor(col("n_chars") / 100).as("len_bucket"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("source")).as("l_div"))
      .select(col("lang"), col("len_bucket"), col("n"), col("l_div"),
        (col("l_div") >= 3).as("pass"))
      .orderBy(col("lang"), col("len_bucket"))

  /** Rank-biased overlap (Webber et al. 2010) between the cosine and
    * raw-dot-product rankings of the q28 retrieval fixture, truncated
    * at depth 10 with p = 0.9 — the top-weighted rank-agreement metric
    * that tells you whether skipping normalization changes what users
    * actually see. overlap_d is an exact integer per depth (each
    * common pair expands to the depths d ≥ max(ra, rb) it occupies —
    * a bounded 10-row explode, never a prefix self-join); the
    * geometric weights are shared p^(d−1) literals built by repeated
    * multiplication; per-query RBO is a sorted fold over d. */
  def q240Rbo(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val pw: Seq[Double] = Iterator.iterate(1.0)(_ * 0.9).take(k).toSeq
    // Round 15: the per-pair scoring used interpreted `aggregate(zip_with)`
    // HOFs (CodegenFallback — a lambda dispatch per element) and recomputed
    // both vector norms for every one of the |Q|×|C| candidate pairs. The
    // native codegen'd dot ([[graft.functions.VectorMath.dotF]]) is
    // bit-compatible with the HOF fold on the double-cast arrays, and the
    // norms are per-VECTOR constants — computed once per side before the
    // join (guide §1.2 step 2: per-task work; ~4× less array arithmetic
    // per pair, and the one remaining dot is codegen'd). cosine =
    // dotp / (q_n · c_n) runs the identical fp operations on identical
    // values, so every ranking — and the hash — is unchanged.
    val dot = graft.functions.GraftFunctions.dot _
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("v"))
    val qs = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        sqrt(dot(col("v"), col("v"))).as("q_n"))
    val cs = emb.select(col("vec_id").as("c_id"), col("v").as("c_v"),
      sqrt(dot(col("v"), col("v"))).as("c_n"))
    val scored = cs.join(broadcast(qs), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        dot(col("q_v"), col("c_v")).as("dotp"), col("q_n"), col("c_n"))
      .select(col("q_id"), col("c_id"),
        (col("dotp") / (col("q_n") * col("c_n"))).as("cosine"),
        col("dotp"))
    val wA = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id").asc)
    val wB = Window.partitionBy(col("q_id"))
      .orderBy(col("dotp").desc, col("c_id").asc)
    val ranked = scored
      .withColumn("ra", row_number().over(wA))
      .withColumn("rb", row_number().over(wB))
      .filter(col("ra") <= k || col("rb") <= k)
    val common = ranked.filter(col("ra") <= k && col("rb") <= k)
      .select(col("q_id"),
        greatest(col("ra"), col("rb")).cast("long").as("m"))
    val byDepth = common
      .select(col("q_id"), explode(sequence(col("m"), lit(k.toLong))).as("d"))
      .groupBy(col("q_id"), col("d")).agg(count(lit(1)).as("overlap_d"))
    val pwArr = array(pw.map(lit): _*)
    byDepth
      .select(col("q_id"), col("d"),
        (element_at(pwArr, col("d").cast("int")) *
          (col("overlap_d").cast("double") / col("d").cast("double")))
          .as("term"),
        when(col("d") === k, col("overlap_d")).otherwise(lit(0L)).as("o10"))
      .groupBy(col("q_id"))
      .agg(sum(col("o10")).as("overlap_10"),
        ((lit(1.0) - lit(0.9)) * aggregate(
          transform(sort_array(collect_list(struct(col("d"), col("term")))),
            e => e("term")),
          lit(0.0), (acc, x) => acc + x)).as("rbo"))
      .orderBy(col("q_id"))
  }

  /** Weiszfeld geometric median per embedding label, 4 fixed-point
    * iterations — the ROBUST centroid (≤50% of a label's vectors can
    * be corrupted before it moves arbitrarily, vs q73's mean which one
    * outlier drags; Weiszfeld 1937). Every iteration is order-free by
    * construction so it needs NO sorted fold and survives any
    * partitioning: coordinates are quantized to 2²⁰ fixed-point
    * integers, weights are the quantized-and-capped integers
    * round(2²⁰∕d) (d from the dot-product identity ‖v−x‖² =
    * v·v − 2v·x + x·x, a fixed parenthesization), and the update is
    * Σw·q ∕ Σw ∕ 2²⁰ — int64 sums, two divides. Per iteration: one
    * narrow pass + a (label × dim)-sized aggregate; labels broadcast
    * back. (Int64 headroom: w ≤ 2²⁴, q ≤ 2²², so ~2⁴⁶ per row —
    * fine to ~10⁷ rows per label; shard the sum at larger scale.) */
  def q241GeoMedian(s: SparkSession, dir: String): DataFrame =
    geoMedianOf(Tables.embeddings(s, dir))

  private[graft] def geoMedianOf(embIn: DataFrame): DataFrame = {
    val scale = 1048576L // 2^20
    val wCap = 16777216L // 2^24
    // Round 16: native graft_dot_d — bit-compatible with the HOF fold it
    // replaces (same ordered multiply-add per VectorMath.dotD), codegen'd.
    def dot(a: Column, b: Column): Column =
      graft.functions.GraftFunctions.dotD(a, b)
    val emb = embIn
      .select(col("label"), col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"),
        transform(col("embedding"),
          x => round(x.cast("double") * scale).cast("long")).as("q"))
    val n = emb.groupBy(col("label")).agg(count(lit(1)).as("n"))
    // x0: per-dimension fixed-point mean (exact integer sums, order-free)
    val x0 = emb.select(col("label"), posexplode(col("q")).as(Seq("pos", "qv")))
      .groupBy(col("label"), col("pos")).agg(sum(col("qv")).as("sq"))
      .join(broadcast(n), "label")
      .select(col("label"), col("pos"),
        ((col("sq") - pmod(col("sq"), col("n"))) / col("n")).cast("long")
          .as("m"))
      .select(col("label"), col("pos"),
        (col("m").cast("double") / lit(scale.toDouble)).as("coord"))
    def toArr(df: DataFrame): DataFrame = df
      .groupBy(col("label"))
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("coord")))),
        e => e("coord")).as("x"))
    def iterate(xk: DataFrame): DataFrame = {
      val joined = emb.join(broadcast(toArr(xk)), "label")
        .withColumn("d2",
          dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("x")) +
            dot(col("x"), col("x")))
        .withColumn("d", sqrt(greatest(col("d2"), lit(0.0))))
        .withColumn("w",
          when(col("d") < 1e-9, lit(wCap)).otherwise(
            least(round(lit(scale.toDouble) / col("d")).cast("long"),
              lit(wCap))))
      joined
        .select(col("label"), col("w"), posexplode(col("q")).as(Seq("pos", "qv")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("w") * col("qv")).as("swq"), sum(col("w")).as("sw"))
        .select(col("label"), col("pos"),
          (col("swq").cast("double") / col("sw").cast("double") /
            lit(scale.toDouble)).as("coord"))
    }
    val x4 = IterativeLoop.fixedEager(x0, 4)((x, _) => iterate(x))
    x4.select(col("label"), col("pos").cast("long").as("pos"), col("coord"))
      .orderBy(col("label"), col("pos"))
  }

  /** Neyman optimal allocation of a 1000-document sampling budget
    * across sources (Neyman 1934): n_h ∝ N_h·S_h — strata that are big
    * OR internally variable get more of the budget, the design that
    * minimizes the estimator's variance at fixed cost. Variances are
    * exact integer moments with one divide; the largest-remainder
    * rounding (floor + top-r fractional parts) makes the integer
    * allocation sum EXACTLY to the budget, deterministically. Strata
    * are manifest-sized, so the global windows are legitimate. */
  def q242NeymanAlloc(s: SparkSession, dir: String): DataFrame = {
    val budget = 1000L
    val strata = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nh"), sum(col("n_chars")).as("sy"),
        sum(col("n_chars") * col("n_chars")).as("syy"))
      .withColumn("s2",
        when(col("nh") < 2, lit(0.0)).otherwise(
          (col("nh") * col("syy") - col("sy") * col("sy")).cast("double") /
            (col("nh") * (col("nh") - 1)).cast("double")))
      .withColumn("w", col("nh").cast("double") * sqrt(col("s2")))
    val tot = strata
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("source"), col("w")))),
          e => e("w")),
        lit(0.0), (acc, x) => acc + x).as("sumw"))
    val alloc = strata.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .withColumn("alloc",
        lit(budget.toDouble) * col("w") / col("sumw"))
      .withColumn("base", floor(col("alloc")).cast("long"))
      .withColumn("frac", col("alloc") - col("base").cast("double"))
    val used = alloc.agg(sum(col("base")).as("used"))
    alloc.crossJoin(broadcast(graft.ops.Guards.scalar(used)))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("frac").desc, col("source"))))
      .select(col("source"), col("nh").as("n_docs"), col("s2"),
        col("alloc").as("alloc_frac"),
        (col("base") + when(col("rk") <= lit(budget) - col("used"), 1L)
          .otherwise(0L)).as("n_alloc"))
      .orderBy(col("source"))
  }

  /** Chapman capture–recapture estimate of the distinct-document
    * universe (Chapman 1951, the bias-corrected Lincoln–Petersen): two
    * INDEPENDENT md5-seeded half-samples of the corpus, identity = the
    * md5 text fingerprint (so exact duplicates collapse, which is the
    * point: this estimates the DEDUPLICATED universe a full dedup run
    * would find, from two cheap samples). n1, n2, m are exact distinct
    * counts; N̂ = (n1+1)(n2+1)∕(m+1) − 1 is one divide; the true
    * distinct count sits beside it as the audit. */
  def q243CaptureRecapture(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("fp"),
        pmod(u32(concat(lit("cr_a:"), col("doc_id").cast("string"))), lit(2L))
          .as("ina"),
        pmod(u32(concat(lit("cr_b:"), col("doc_id").cast("string"))), lit(2L))
          .as("inb"))
    val m = docs.agg(
      countDistinct(when(col("ina") === 0, col("fp"))).as("n1"),
      countDistinct(when(col("inb") === 0, col("fp"))).as("n2"),
      countDistinct(when(col("ina") === 0 && col("inb") === 0, col("fp")))
        .as("m_naive"),
      countDistinct(col("fp")).as("true_distinct"))
    // recapture = fingerprints seen in BOTH samples (not necessarily the
    // same doc row: capture is at the fingerprint level)
    val caught = docs.groupBy(col("fp"))
      .agg(max(when(col("ina") === 0, 1L).otherwise(0L)).as("a"),
        max(when(col("inb") === 0, 1L).otherwise(0L)).as("b"))
      .agg(sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L))
        .as("m"))
    m.crossJoin(broadcast(graft.ops.Guards.scalar(caught)))
      .select(col("n1"), col("n2"), col("m"), col("true_distinct"),
        (((col("n1") + 1) * (col("n2") + 1)).cast("double") /
          (col("m") + 1).cast("double") - lit(1.0)).as("n_hat"))
      .select(col("n1"), col("n2"), col("m"), col("true_distinct"),
        col("n_hat"),
        (abs(col("n_hat") - col("true_distinct").cast("double")) /
          col("true_distinct").cast("double")).as("rel_err"))
  }

  /** Isotonic (PAV) calibration of the length→quality relationship via
    * the MINIMAX formula (Barlow et al. 1972): fitted_i =
    * max_{j≤i} min_{k≥i} avg(y over levels j..k) — the closed form of
    * pool-adjacent-violators that needs NO sequential stack, only
    * interval averages over the BOUNDED level domain (⌊n_chars∕50⌋
    * buckets), so it is fully relational: prefix sums once, then a
    * bounded (i, j, k) triple enumeration. y = the q229 TTR gate.
    * Interval averages are one divide of exact int64 prefix sums;
    * min/max of doubles is order-free. */
  def q244Isotonic(s: SparkSession, dir: String): DataFrame = {
    val lv = Tables.documents(s, dir)
      .select(floor(col("n_chars") / 50).as("level"),
        (size(array_distinct(split(col("text"), " "))) * 2 >=
          size(split(col("text"), " "))).cast("long").as("y"))
      .groupBy(col("level"))
      .agg(count(lit(1)).as("w"), sum(col("y")).as("sy"))
    val wIdx = Window.orderBy(col("level"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = lv.select(col("level"), col("w"), col("sy"),
      sum(col("w")).over(wIdx).as("cw"), sum(col("sy")).over(wIdx).as("cs"))
    val right = pre.select(col("level").as("k"), col("cw").as("cwk"),
      col("cs").as("csk"))
    val left = pre.select(col("level").as("j"),
      (col("cw") - col("w")).as("cwj0"), (col("cs") - col("sy")).as("csj0"))
    val intervals = left.join(right, col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("csk") - col("csj0")).cast("double") /
          (col("cwk") - col("cwj0")).cast("double")).as("avg_jk"))
    val levels = pre.select(col("level").as("i"))
    val minK = levels.join(intervals,
        col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("i"), col("j")).agg(min(col("avg_jk")).as("mn"))
    val fitted = minK.groupBy(col("i")).agg(max(col("mn")).as("fitted"))
    pre.join(fitted, col("level") === col("i"))
      .select(col("level"), col("w"),
        (col("sy").cast("double") / col("w").cast("double")).as("raw_rate"),
        col("fitted"))
      .orderBy(col("level"))
  }

  /** Simplified silhouette per label (Rousseeuw 1987 via the
    * centroid shortcut): a = cosine distance to the OWN label
    * centroid, b = distance to the nearest OTHER centroid,
    * s = (b − a) ∕ max(a, b) — the clustering-quality score for the
    * label structure q73/q224 use, without the O(n²) pairwise pass
    * full silhouette needs. Centroids are the q73 fixed-point means
    * (one broadcast row); per-label means are sorted folds by vec_id. */
  def q245Silhouette(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cents = graft.sim.Similarity
      .labelCentroids(emb, "label", "embedding")
      .groupBy(col("label").as("cl"))
      .agg(sort_array(collect_list(struct(col("pos"), col("centroid"))))
        .as("cs"))
      .select(col("cl"), transform(col("cs"), x => x("centroid")).as("cv"))
    // Round 16: native graft_dot_d — bit-compatible with the HOF fold it
    // replaces (same ordered multiply-add per VectorMath.dotD), codegen'd.
    def dot(a: Column, b: Column): Column =
      graft.functions.GraftFunctions.dotD(a, b)
    val centArr = cents
      .agg(sort_array(collect_list(struct(col("cl"), col("cv")))).as("__cents"))
    val scored = emb
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(centArr)))
      .select(col("vec_id"), col("label"),
        explode(col("__cents")).as("c"), col("v"))
      .select(col("vec_id"), col("label"), col("c.cl").as("cl"),
        (lit(1.0) - dot(col("v"), col("c.cv")) /
          (sqrt(dot(col("v"), col("v"))) *
            sqrt(dot(col("c.cv"), col("c.cv"))))).as("dist"))
    val own = scored.filter(col("cl") === col("label"))
      .select(col("vec_id"), col("label"), col("dist").as("a"))
    val other = scored.filter(col("cl") =!= col("label"))
      .groupBy(col("vec_id")).agg(min(col("dist")).as("b"))
    val sil = own.join(other, "vec_id")
      .select(col("vec_id"), col("label"),
        ((col("b") - col("a")) / greatest(col("a"), col("b"))).as("sil"))
    sil.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        aggregate(
          transform(sort_array(collect_list(struct(col("vec_id"), col("sil")))),
            e => e("sil")),
          lit(0.0), (acc, x) => acc + x).as("sil_sum"))
      .select(col("label"), col("n"),
        (col("sil_sum") / col("n").cast("double")).as("mean_sil"))
      .orderBy(col("label"))
  }

  /** Sample-ratio-mismatch guardrail for the q205 A/B assignment
    * (Fabijan et al. 2019 — the single most common invalidator of
    * online experiments): χ² = (n1−n0)²∕(n1+n0) against the designed
    * 50/50 split, flagged at the 0.05 critical value 3.841. One
    * aggregate; the statistic is one divide of exact int64s. An SRM
    * flag means the assignment channel is broken and every downstream
    * readout (q205/q225/q226/q228) is void — which is why it ships as
    * its own verb. */
  def q246Srm(s: SparkSession, dir: String): DataFrame = {
    val arms = Tables.events(s, dir)
      .select(col("user_id")).distinct()
      .groupBy((col("user_id") % 2).as("variant"))
      .agg(count(lit(1)).as("n"))
    arms.agg(
        sum(when(col("variant") === 1, col("n")).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 0, col("n")).otherwise(0L)).as("n0"))
      .select(col("n1"), col("n0"),
        ((col("n1") - col("n0")) * (col("n1") - col("n0"))).cast("double")
          ./((col("n1") + col("n0")).cast("double")).as("chi2"))
      .select(col("n1"), col("n0"), col("chi2"),
        (col("chi2") > 3.841458820694124).as("srm_flag"))
  }

  /** Quadratic-kernel MMD² between two embedding populations (even vs
    * odd vec_id) THROUGH SECOND-MOMENT MATRICES — the closed form that
    * turns the O(n²) kernel two-sample test (Gretton et al. 2012) into
    * two d×d moment aggregates: for k(x,y) = (x·y)², MMD² =
    * ‖M_P − M_Q‖²_F with M = (1∕n)Σ xxᵀ. Coordinates quantized to 2¹⁰
    * fixed-point so every moment entry is an exact int64 sum
    * (order-free, any partitioning); the Frobenius norm is a sorted
    * fold over the BOUNDED (i,j) grid (d² = 4096 rows). The embedding
    * drift detector that scales: state is d², never n². */
  def q247MmdQuad(s: SparkSession, dir: String): DataFrame =
    mmdQuadOf(Tables.embeddings(s, dir))

  private[graft] def mmdQuadOf(embIn: DataFrame): DataFrame = {
    val qscale = 1024L
    val emb = embIn
      .select((col("vec_id") % 2 === 0).as("grp"),
        transform(col("embedding"),
          x => round(x.cast("double") * qscale).cast("long")).as("q"))
    val pairs = emb
      .select(col("grp"), posexplode(col("q")).as(Seq("i", "qi")), col("q"))
      .select(col("grp"), col("i"), col("qi"),
        posexplode(col("q")).as(Seq("j", "qj")))
      .groupBy(col("grp"), col("i"), col("j"))
      .agg(sum(col("qi") * col("qj")).as("sij"), count(lit(1)).as("n"))
    val m = pairs.select(col("grp"), col("i"), col("j"),
      (col("sij").cast("double") / col("n").cast("double") /
        lit((qscale * qscale).toDouble)).as("mij"))
    val a = m.filter(col("grp")).select(col("i"), col("j"),
      col("mij").as("ma"))
    val b = m.filter(!col("grp")).select(col("i"), col("j"),
      col("mij").as("mb"))
    val na = emb.filter(col("grp")).count()
    val nb = emb.filter(!col("grp")).count()
    a.join(b, Seq("i", "j"))
      .select(col("i"), col("j"),
        ((col("ma") - col("mb")) * (col("ma") - col("mb"))).as("d2"))
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("i"), col("j"),
          col("d2")))), e => e("d2")),
        lit(0.0), (acc, x) => acc + x).as("mmd2_quad"))
      .select(lit(na).as("n_even"), lit(nb).as("n_odd"), col("mmd2_quad"))
  }

  /** 10%-trimmed-mean difference between A/B arms — the robust outcome
    * readout that one whale user can't move (unlike q228's raw means):
    * per arm, drop the lowest and highest ⌊n∕10⌋ per-user purchase
    * totals (integer cents) by rank, average the middle. Order
    * statistics are integer-rank picks; the trimmed sums are exact
    * int64; two divides and a subtraction at the end. */
  def q248TrimmedAte(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")).otherwise(0L)).as("cents"))
      .select((col("user_id") % 2).as("variant"), col("user_id"), col("cents"))
    val w = Window.partitionBy(col("variant"))
      .orderBy(col("cents"), col("user_id"))
    val counted = users
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("variant"))))
    val trimmed = counted
      .filter(col("rn") > floor(col("n") / 10) &&
        col("rn") <= col("n") - floor(col("n") / 10))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n_kept"), sum(col("cents")).as("s"))
      .select(col("variant"), col("n_kept"),
        (col("s").cast("double") / col("n_kept").cast("double") / 100.0)
          .as("trimmed_mean"))
    val a1 = trimmed.filter(col("variant") === 1)
      .select(col("n_kept").as("n1_kept"), col("trimmed_mean").as("tm1"))
    val a0 = trimmed.filter(col("variant") === 0)
      .select(col("n_kept").as("n0_kept"), col("trimmed_mean").as("tm0"))
    a1.crossJoin(broadcast(graft.ops.Guards.scalar(a0)))
      .select(col("n1_kept"), col("n0_kept"), col("tm1"), col("tm0"),
        (col("tm1") - col("tm0")).as("trimmed_diff"))
  }

  /** EXACT Shapley-value conversion attribution over the four
    * non-purchase channels (Shapley 1953; the data-driven marketing
    * form) — the axiomatically-fair split that q143's rule-based
    * attribution approximates. Tractable BY CONSTRUCTION: the channel
    * set is 4 bits, so the coalition lattice is 16 rows; v(S) = Σ
    * conversions of users whose touched set ⊆ S (a 16×16 bitmask
    * containment join); φ_c = Σ_{S∌c} |S|!(3−|S|)!·(v(S∪c) − v(S)) ∕ 4!
    * with the factorial weights as exact integer literals and ONE
    * final divide. Efficiency (Σφ = v(full) − v(∅)) is the law. */
  def q249Shapley(s: SparkSession, dir: String): DataFrame = {
    val chanBit = when(col("event_type") === "click", 1L)
      .when(col("event_type") === "error", 2L)
      .when(col("event_type") === "signup", 4L)
      .when(col("event_type") === "view", 8L).otherwise(0L)
    val usersPre = Tables.events(s, dir)
      .select(col("user_id"), chanBit.as("chan"), col("event_type"),
        col("value"))
      .groupBy(col("user_id"))
      .agg(expr("bit_or(chan)").as("mask"),
        max(when(col("event_type") === "purchase" && col("value") > 150.0, 1L)
          .otherwise(0L)).as("conv"))
    val byMask = usersPre.groupBy(col("mask"))
      .agg(sum(col("conv")).as("conv_cnt"))
    val grid = s.range(16).select(col("id").as("S"))
    val v = grid.join(byMask,
        (col("mask").bitwiseAND(col("S"))) === col("mask"), "left")
      .groupBy(col("S"))
      .agg(coalesce(sum(col("conv_cnt")), lit(0L)).as("v"))
    val chans = s.range(1)
      .select(explode(array(lit(1L), lit(2L), lit(4L), lit(8L))).as("c"))
    val wOf = when(col("pop") === 0, 6L).when(col("pop") === 1, 2L)
      .when(col("pop") === 2, 2L).otherwise(6L)
    val terms = chans.join(v.select(col("S"), col("v").as("vs")),
        col("S").bitwiseAND(col("c")) === 0)
      .join(v.select(col("S").as("S2"), col("v").as("vsc")),
        col("S2") === col("S").bitwiseOR(col("c")))
      .select(col("c"), col("S"), bit_count(col("S")).cast("long").as("pop"),
        (col("vsc") - col("vs")).as("delta"))
      .select(col("c"), col("S"), (wOf * col("delta")).as("wd"))
    terms.groupBy(col("c"))
      .agg(sum(col("wd")).as("swd"))
      .select(
        when(col("c") === 1, "click").when(col("c") === 2, "error")
          .when(col("c") === 4, "signup").otherwise("view").as("channel"),
        (col("swd").cast("double") / 24.0).as("phi"))
      .orderBy(col("channel"))
  }

  /** A 64-token word embedding trained IN-ENGINE: positive-PMI matrix
    * over adjacent-token co-occurrence restricted to the top-64
    * vocabulary (bounded 64×64 grid), then 8 power-iteration rounds
    * for the top singular direction — the PMI+SVD construction that
    * word2vec implicitly factorizes (Levy & Goldberg 2014). PPMI
    * entries are exact-lg of integer ratios clamped at 0; each
    * iteration is a row-array dot product (element order = j order,
    * the q28 contract) + a sorted-fold norm; v₀ = 1∕8 exactly. The
    * oracle replays all 8 rounds as chained CTEs, the
    * mirror-the-training pattern of q83/q96/q113. */
  def q250PmiSvd(s: SparkSession, dir: String): DataFrame = {
    val topK = 64
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("p", "tok")))
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(topK)
      .withColumn("idx",
        row_number().over(Window.orderBy(col("cnt").desc, col("tok")))
          .cast("long") - 1)
    val wNext = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val adj = toks
      .withColumn("nxt", lead(col("tok"), 1).over(wNext))
      .filter(col("nxt").isNotNull)
    val pairs = adj
      .join(broadcast(top.select(col("tok"), col("idx").as("i"))), "tok")
      .join(broadcast(top.select(col("tok").as("nxt"), col("idx").as("j"))),
        "nxt")
      .select(col("i"), col("j"))
    // symmetric adjacency counts (both directions)
    val cooc = pairs.unionByName(pairs.select(col("j").as("i"), col("i").as("j")))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("cij"))
    val marg = cooc.groupBy(col("i")).agg(sum(col("cij")).as("ci"))
    val tot = cooc.agg(sum(col("cij")).as("nn"))
    val gi = s.range(topK).select(col("id").as("i"))
    val gj = s.range(topK).select(col("id").as("j"))
    val grid = gi.crossJoin(gj)
    val ppmi = grid
      .join(cooc, Seq("i", "j"), "left")
      .join(broadcast(marg.select(col("i"), col("ci"))), Seq("i"), "left")
      .join(broadcast(marg.select(col("i").as("j"), col("ci").as("cj"))),
        Seq("j"), "left")
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("i"), col("j"),
        when(col("cij").isNull, lit(0.0)).otherwise(
          greatest(lg(col("cij") * col("nn")) - lg(col("ci") * col("cj")),
            lit(0.0))).as("m"))
    // 64 rows; localCheckpoint so the 8 iterations don't re-run the
    // token-level PPMI pipeline 8x (measured 8.6 s -> ~2 s at sf0.1)
    val rows = ppmi.groupBy(col("i"))
      .agg(transform(sort_array(collect_list(struct(col("j"), col("m")))),
        e => e("m")).as("row"))
      .localCheckpoint()
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, t) => acc + t)
    // The eigensolve is a d^2-sized computation (the DISTRIBUTED work is
    // building PPMI; iterating a 64x64 matrix is not cluster work) — run
    // the 8 rounds on the driver with EXACTLY the oracle's fold orders:
    // y_i = row_i . v as a j-ascending left fold, norm as an i-ascending
    // left fold, so JVM and DuckDB produce bit-identical doubles.
    // (The DataFrame formulation cost ~4 scheduler jobs x 8 rounds; this
    // is one collect: measured 8.6 s -> ~1.5 s at sf0.1.)
    val rowsArr: Array[Array[Double]] = rows.orderBy(col("i")).collect()
      .map(_.getSeq[Double](1).toArray)
    var v = Array.fill(topK)(0.125)
    var normV = 0.0
    for (_ <- 1 to 8) {
      val y = rowsArr.map { r =>
        var acc = 0.0; var j = 0
        while (j < topK) { acc += r(j) * v(j); j += 1 }
        acc
      }
      var acc = 0.0; var i = 0
      while (i < topK) { acc += y(i) * y(i); i += 1 }
      normV = math.sqrt(acc)
      // degenerate all-zero PPMI (tiny corpus): keep v, report eigval 0
      // instead of poisoning loadings with 0/0 NaN (mirrored in the oracle)
      if (normV > 0.0) v = y.map(_ / normV)
    }
    val vArr = array(v.map(lit).toIndexedSeq: _*)
    top.select(col("tok"), col("idx"), col("cnt"),
        element_at(vArr, col("idx").cast("int") + 1).as("loading"),
        lit(normV).as("eigval"))
      .orderBy(col("idx"))
  }

  /** Hill tail-index estimator over purchase amounts (Hill 1975): with
    * the top k+1 order statistics of integer cents, ξ̂ = (1∕k)·Σ
    * (lg x_(i) − lg x_(k+1)) in exact-lg bits and α̂ = 1∕(ξ̂·ln2) —
    * how heavy the revenue tail is (α ≤ 2 ⟹ infinite variance: mean
    * readouts like q228's are then fragile, use q248). Order
    * statistics via TakeOrdered (never a global sort), the spread sum
    * a sorted fold over the k ranked rows. */
  def q251HillTail(s: SparkSession, dir: String): DataFrame = {
    val k = 100
    val cents = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(round(col("value") * 100).cast("long").as("x"),
        col("event_id"))
      .orderBy(col("x").desc, col("event_id"))
      .limit(k + 1)
    val ranked = cents
      .withColumn("rn", row_number().over(
        Window.orderBy(col("x").desc, col("event_id"))).cast("long"))
    val xk1 = ranked.filter(col("rn") === k + 1)
      .select(col("x").as("xk1"))
    ranked.filter(col("rn") <= k)
      .crossJoin(broadcast(graft.ops.Guards.scalar(xk1)))
      .select(col("rn"), (lg(col("x")) - lg(col("xk1"))).as("spread"),
        col("xk1"))
      .groupBy(col("xk1"))
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("rn"), col("spread")))),
          e => e("spread")),
        lit(0.0), (acc, x) => acc + x).as("sumspread"))
      .select(lit(k.toLong).as("k"), col("xk1"),
        (col("sumspread") / lit(k.toDouble)).as("xi_bits"),
        (lit(1.0) / (col("sumspread") / lit(k.toDouble) *
          lit(0.6931471805599453))).as("alpha"))
  }

  /** Hilbert-curve layout audit — the locality-preserving twin of
    * q76's Z-order (Hilbert beats Morton on max within-bucket
    * distance because it never "teleports" across quadrant seams):
    * (l_partkey, l_suppkey) mod 256 → the order-8 Hilbert index via
    * the classic 8-round rotate-and-accumulate (Hamilton's xy2d),
    * each round pure integer CASE arithmetic — identical in both
    * engines. Buckets = 16 index ranges; the audit emits each
    * bucket's row count and bounding box, the q76 contract, so the
    * two layouts' seam behavior can be compared directly. */
  def q252Hilbert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .select(pmod(col("l_partkey"), lit(256L)).as("px"),
        pmod(col("l_suppkey"), lit(256L)).as("py"))
      .select(col("px"), col("py"), col("px").as("x"), col("py").as("y"),
        lit(0L).as("d"))
    val indexed = Seq(128L, 64L, 32L, 16L, 8L, 4L, 2L, 1L).foldLeft(base) {
      (df, sBit) =>
        val rx = when(col("x").bitwiseAND(sBit) > 0, 1L).otherwise(0L)
        val ry = when(col("y").bitwiseAND(sBit) > 0, 1L).otherwise(0L)
        df.withColumn("rx", rx).withColumn("ry", ry)
          .withColumn("d",
            col("d") + lit(sBit * sBit) *
              (lit(3L) * col("rx")).bitwiseXOR(col("ry")))
          .withColumn("x2",
            when(col("ry") === 0 && col("rx") === 1,
              lit(sBit - 1) - col("x")).otherwise(col("x")))
          .withColumn("y2",
            when(col("ry") === 0 && col("rx") === 1,
              lit(sBit - 1) - col("y")).otherwise(col("y")))
          .select(col("px"), col("py"),
            when(col("ry") === 0, col("y2")).otherwise(col("x2")).as("x"),
            when(col("ry") === 0, col("x2")).otherwise(col("y2")).as("y"),
            col("d"))
    }
    indexed
      .withColumn("bucket", floor(col("d") / lit(4096L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("px")).as("min_pk"), max(col("px")).as("max_pk"),
        min(col("py")).as("min_sk"), max(col("py")).as("max_sk"))
      .orderBy(col("bucket"))
  }

  /** V-optimal histogram (Jagadish et al. 1998 — THE optimal-bucket
    * construction behind optimizer statistics, upgrading q85's
    * equi-depth): B = 4 buckets over the bounded ⌊n_chars∕20⌋ level
    * domain minimizing total weighted SSE, by dynamic programming
    * dp_b(i) = min_j dp_{b−1}(j) + sse(j..i] — fully relational
    * because the level domain is bounded: prefix sums once (exact
    * int64 moments), interval SSE = one divide, argmin via a
    * (cost, j) row_number so ties break deterministically, backtrack
    * = three bounded joins. */
  def q253VoptimalHist(s: SparkSession, dir: String): DataFrame = {
    val lv = Tables.documents(s, dir)
      .groupBy(floor(col("n_chars") / 20).as("l"))
      .agg(count(lit(1)).as("w"))
    val wOrd = Window.orderBy(col("l"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = lv
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("cw", sum(col("w")).over(wCum))
      .withColumn("cwv", sum(col("w") * col("l")).over(wCum))
      .withColumn("cwv2", sum(col("w") * col("l") * col("l")).over(wCum))
    // Round 16: cut the prefix-sum and interval frames once — pre0 feeds
    // iv twice plus the final join, and iv feeds dp1, three dpNext rounds
    // and the spans join (5 references); without the cuts EVERY reference
    // re-ran the corpus aggregate + the global windows (the C10
    // missing-loop-invariant pattern, guide §2.4). All of these frames are
    // level-domain-sized (bounded), so the persisted blocks are tiny.
    val pre0 = IterativeLoop.cutLazy(pre.select(col("i"), col("l"), col("cw"), col("cwv"),
        col("cwv2"))
      .unionByName(s.range(1).select(lit(0L).as("i"), lit(-1L).as("l"),
        lit(0L).as("cw"), lit(0L).as("cwv"), lit(0L).as("cwv2"))))
    val iv = pre0.select(col("i").as("j"), col("cw").as("cwj"),
        col("cwv").as("cvj"), col("cwv2").as("c2j"))
      .join(pre0.select(col("i").as("k"), col("l").as("lk"),
        col("cw").as("cwk"), col("cwv").as("cvk"), col("cwv2").as("c2k")),
        col("j") < col("k"))
      .select(col("j"), col("k"), col("lk"),
        (col("cwk") - col("cwj")).as("ww"),
        ((col("c2k") - col("c2j")).cast("double") -
          ((col("cvk") - col("cvj")).cast("double") *
            (col("cvk") - col("cvj")).cast("double") /
            (col("cwk") - col("cwj")).cast("double"))).as("sse"))
    val ivC = IterativeLoop.cutLazy(iv)
    val dp1 = ivC.filter(col("j") === 0)
      .select(col("k").as("i"), col("sse").as("cost"), lit(0L).as("arg"))
    def dpNext(prev: DataFrame): DataFrame = {
      val cand = prev.select(col("i").as("j"), col("cost").as("pc"))
        .join(ivC, "j")
        .select(col("k").as("i"), col("j"), (col("pc") + col("sse")).as("cost"))
      cand.withColumn("rn", row_number().over(
          Window.partitionBy(col("i")).orderBy(col("cost"), col("j"))))
        .filter(col("rn") === 1)
        .select(col("i"), col("cost"), col("j").as("arg"))
    }
    // each dp level is read twice (next level + backtrack) — cut them too
    val dp2 = IterativeLoop.cutLazy(dpNext(IterativeLoop.cutLazy(dp1)))
    val dp3 = IterativeLoop.cutLazy(dpNext(dp2))
    val dp4 = IterativeLoop.cutLazy(dpNext(dp3))
    // read the last index from the CUT pre0 (its extra i=0 sentinel row
    // never wins a max), so this aggregate doesn't re-run the corpus pass
    val last = pre0.agg(max(col("i")).as("bL"))
    val b4 = dp4.join(broadcast(last), col("i") === col("bL"))
      .select(col("arg").as("j4"), col("i").as("i4"))
    val b3 = b4.join(dp3, col("i") === col("j4"))
      .select(col("j4"), col("i4"), col("arg").as("j3"))
    val b2 = b3.join(dp2, col("i") === col("j3"))
      .select(col("j4"), col("i4"), col("j3"), col("arg").as("j2"))
    val spans = b2.select(explode(array(
      struct(lit(1L).as("bucket"), lit(0L).as("jj"), col("j2").as("kk")),
      struct(lit(2L).as("bucket"), col("j2").as("jj"), col("j3").as("kk")),
      struct(lit(3L).as("bucket"), col("j3").as("jj"), col("j4").as("kk")),
      struct(lit(4L).as("bucket"), col("j4").as("jj"), col("i4").as("kk"))))
      .as("sp"))
      .select(col("sp.bucket").as("bucket"), col("sp.jj").as("jj"),
        col("sp.kk").as("kk"))
    spans.join(ivC, col("jj") === col("j") && col("kk") === col("k"))
      .join(pre0.select(col("i").as("jj2"), col("l").as("lo0")),
        col("jj2") === col("jj"))
      .select(col("bucket"), (col("lo0") + 1).as("lo_level"),
        col("lk").as("hi_level"), col("ww").as("n_docs"), col("sse"))
      .orderBy(col("bucket"))
  }

  /** Huber-robust linear fit of n_chars on token count via 4 IRLS
    * rounds (Huber 1964) — the outlier-resistant counterpart of
    * q238's OLS, built with the q241 discipline so every round is
    * order-free: weights quantized to 2¹⁶ integers (w = 1 for
    * |r| ≤ c, c∕|r| beyond, c = 50 chars), weighted moments are exact
    * int64 sums, and only the closed-form solve combines them in
    * doubles with fixed parenthesization. Reports the downweighted
    * count — the outlier census. */
  def q254HuberIrls(s: SparkSession, dir: String): DataFrame = {
    val c = 50.0
    val wq = 65536L
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("x"),
        col("n_chars").as("y"))
    val ols = docs.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
          col("n").cast("double"))
      .select(col("slope"), col("intercept"))
    def iterate(fit: DataFrame): DataFrame = {
      val r = docs.crossJoin(broadcast(graft.ops.Guards.scalar(fit)))
        .withColumn("res",
          abs(col("y").cast("double") -
            (col("slope") * col("x").cast("double") + col("intercept"))))
        .withColumn("w",
          when(col("res") <= c, lit(wq)).otherwise(
            round(lit(c * wq) / col("res")).cast("long")))
      r.agg(sum(col("w")).as("sw"), sum(col("w") * col("x")).as("swx"),
          sum(col("w") * col("y")).as("swy"),
          sum(col("w") * col("x") * col("y")).as("swxy"),
          sum(col("w") * col("x") * col("x")).as("swxx"),
          sum(when(col("w") < wq, 1L).otherwise(0L)).as("n_down"))
        .withColumn("slope",
          (col("sw").cast("double") * col("swxy").cast("double") -
            col("swx").cast("double") * col("swy").cast("double")) /
            (col("sw").cast("double") * col("swxx").cast("double") -
              col("swx").cast("double") * col("swx").cast("double")))
        .withColumn("intercept",
          (col("swy").cast("double") - col("slope") * col("swx").cast("double")) /
            col("sw").cast("double"))
        .select(col("slope"), col("intercept"), col("n_down"))
    }
    val r4 = IterativeLoop.fixedEager(
      ols.withColumn("n_down", lit(0L)), 4)(
      (f, _) => iterate(f.select(col("slope"), col("intercept"))))
    r4.select(col("slope"), col("intercept"), col("n_down"))
  }

  /** O'Brien–Fleming canonical two-sided 5%-level z boundaries for
    * K = 5 looks (Pocock & OBF tables) — shared literals with the
    * oracle. */
  private[queries] val ObfZ: Seq[Double] = Seq(4.562, 3.226, 2.634, 2.281, 2.040)

  /** χ²(1df) critical values at p = k·0.1∕20 for the q256 BH step-up,
    * k = 1..20 — computed once with Acklam's inverse-normal (squared)
    * and shared with the oracle as literals. */
  private[queries] val BhCrits: Seq[Double] = Seq(
    7.879438586561168, 6.634896615935399, 5.916467894004033,
    5.411894432669696, 5.02388618220602, 4.709292237637316,
    4.445175129402364, 4.217884581231152, 4.018639511908922,
    3.841458826888164, 3.6820859703646254, 3.5373845885063924,
    3.404977515008592, 3.283020291174746, 3.17005327915388,
    3.064901725682189, 2.9666062673046016, 2.8743733940217093,
    2.787539369375596, 2.705543448115471)

  /** Group-sequential A/B monitoring audit: the q205 conversion test
    * recomputed at 5 evenly spaced interim looks against the
    * O'Brien–Fleming boundary (O'Brien & Fleming 1979) — the peeking
    * discipline that keeps repeated looks at 5% overall error, versus
    * naive peeking whose false-positive rate balloons. Per look the
    * 2×2 χ² is exact integers with one divide; boundaries are shared
    * z² literals. A user enters the denominator once their first
    * event is on or before the look date. */
  def q255ObrienFleming(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val users = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_d"),
        min(when(col("event_type") === "purchase" && col("value") > 150.0,
          to_date(col("ts")))).as("conv_d"))
      .select((col("user_id") % 2).as("variant"), col("first_d"), col("conv_d"))
    val span = ev.agg(min(to_date(col("ts"))).as("min_d"),
      max(to_date(col("ts"))).as("max_d"))
    val looks = span
      .select(explode(sequence(lit(1L), lit(5L))).as("look"),
        col("min_d"), col("max_d"))
      .select(col("look"),
        date_add(col("min_d"),
          floor(datediff(col("max_d"), col("min_d")) * col("look") / 5)
            .cast("int")).as("look_d"))
    val cum = users.crossJoin(broadcast(graft.ops.Guards.bounded(looks, 5)))
      .filter(col("first_d") <= col("look_d"))
      .withColumn("conv",
        when(col("conv_d").isNotNull && col("conv_d") <= col("look_d"), 1L)
          .otherwise(0L))
      .groupBy(col("look"), col("look_d"))
      .agg(sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("a"),
        sum(when(col("variant") === 1, lit(1L) - col("conv")).otherwise(0L)).as("b"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("c"),
        sum(when(col("variant") === 0, lit(1L) - col("conv")).otherwise(0L)).as("d"))
    val n = col("a") + col("b") + col("c") + col("d")
    val num = col("a") * col("d") - col("b") * col("c")
    val den = (col("a") + col("b")) * (col("c") + col("d")) *
      (col("a") + col("c")) * (col("b") + col("d"))
    val bArr = array(ObfZ.map(z => lit(z * z)): _*)
    cum.select(col("look"),
        date_format(col("look_d"), "yyyy-MM-dd").as("look_d"), n.as("n"),
        when(den === 0, lit(0.0)).otherwise(
          (n.cast("double") * num.cast("double") * num.cast("double")) /
            den.cast("double")).as("z2"),
        element_at(bArr, col("look").cast("int")).as("boundary2"))
      .select(col("look"), col("look_d"), col("n"), col("z2"),
        col("boundary2"), (col("z2") > col("boundary2")).as("crossed"))
      .orderBy(col("look"))
  }

  /** Benjamini–Hochberg FDR control (BH 1995) across the 20 per-source
    * quality-gate tests: each source's TTR-gate pass rate vs the rest
    * of the corpus as a 2×2 χ² (exact integers, one divide), ranked
    * descending, step-up against shared χ²(1) critical literals at
    * p = k·0.1∕20 — the multiple-testing discipline a per-source audit
    * needs before flagging "bad sources". k* = the largest rank whose
    * statistic clears its own threshold; all ranks ≤ k* reject. */
  def q256BhFdr(s: SparkSession, dir: String): DataFrame = {
    val rated = Tables.documents(s, dir)
      .select(col("source"),
        (size(array_distinct(split(col("text"), " "))) * 2 >=
          size(split(col("text"), " "))).cast("long").as("pass"))
    val bySrc = rated.groupBy(col("source"))
      .agg(sum(col("pass")).as("a0"), count(lit(1)).as("ns"))
    val tot = bySrc.agg(sum(col("a0")).as("ta"), sum(col("ns")).as("tn"))
    val cells = bySrc.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("source"), col("a0").as("a"),
        (col("ns") - col("a0")).as("b"),
        (col("ta") - col("a0")).as("c"),
        (col("tn") - col("ns") - (col("ta") - col("a0"))).as("d"))
    val n = col("a") + col("b") + col("c") + col("d")
    val num = col("a") * col("d") - col("b") * col("c")
    val den = (col("a") + col("b")) * (col("c") + col("d")) *
      (col("a") + col("c")) * (col("b") + col("d"))
    val scored = cells.select(col("source"),
      when(den === 0, lit(0.0)).otherwise(
        (n.cast("double") * num.cast("double") * num.cast("double")) /
          den.cast("double")).as("chi2"))
    val cArr = array(BhCrits.map(lit): _*)
    val ranked = scored
      .withColumn("rank", row_number().over(
        Window.orderBy(col("chi2").desc, col("source"))).cast("long"))
      .withColumn("crit", element_at(cArr, col("rank").cast("int")))
    val kstar = ranked
      .agg(max(when(col("chi2") >= col("crit"), col("rank")).otherwise(0L))
        .as("kstar"))
    ranked.crossJoin(broadcast(graft.ops.Guards.scalar(kstar)))
      .select(col("source"), col("chi2"), col("rank"), col("crit"),
        (col("rank") <= col("kstar")).as("rejected"))
      .orderBy(col("rank"))
  }

  /** Entropy rate of the user-behavior Markov chain (Shannon 1948;
    * the compressibility of behavior): H = −Σ_ij (c_ij∕N)·lg(c_ij∕c_i)
    * over the q176 transition counts — exact integer counts, exact-lg
    * differences, sorted fold over the BOUNDED (state × state) grid.
    * Low rate = scripted/bot-like behavior, high rate = diverse
    * organic sessions; the behavioral analogue of q128's character
    * entropy. */
  def q257EntropyRate(s: SparkSession, dir: String): DataFrame = {
    val seq0 = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = seq0
      .withColumn("nxt", lead(col("event_type"), 1).over(wU))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("cij"))
    val rowTot = trans.groupBy(col("cur")).agg(sum(col("cij")).as("ci"))
    val tot = trans.agg(sum(col("cij")).as("nn"),
      countDistinct(col("cur")).as("n_states"))
    trans.join(broadcast(rowTot), "cur")
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("nn"), col("n_states"), col("cur"), col("nxt"),
        ((col("cij").cast("double") / col("nn").cast("double")) *
          (lg(col("ci")) - lg(col("cij")))).as("term"))
      .groupBy(col("nn").as("n_transitions"), col("n_states"))
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("cur"), col("nxt"),
          col("term")))), e => e("term")),
        lit(0.0), (acc, x) => acc + x).as("entropy_rate_bits"))
  }

  /** Wasserstein-1 (earth mover's) distance between the English and
    * non-English document-length distributions — the shift metric with
    * UNITS (characters moved per document), complementing q212's
    * unitless KS and q147's binned PSI. In 1-D, W₁ = ∫|F_A − F_B| dx =
    * Σ_levels |cumA∕nA − cumB∕nB|·Δlevel over the bounded
    * ⌊n_chars∕20⌋ level domain: exact integer cumulative counts, one
    * divide each, sorted fold over levels. */
  def q258Wasserstein(s: SparkSession, dir: String): DataFrame = {
    val lv = Tables.documents(s, dir)
      .groupBy(floor(col("n_chars") / 20).as("l"))
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ca"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cb"))
    val wCum = Window.orderBy(col("l"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = lv.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    lv.withColumn("cuma", sum(col("ca")).over(wCum))
      .withColumn("cumb", sum(col("cb")).over(wCum))
      .withColumn("nextl", lead(col("l"), 1).over(Window.orderBy(col("l"))))
      .filter(col("nextl").isNotNull)
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("l"),
        (abs(col("cuma").cast("double") / col("na").cast("double") -
          col("cumb").cast("double") / col("nb").cast("double")) *
          (col("nextl") - col("l")).cast("double")).as("term"))
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("l"), col("term")))),
          e => e("term")),
        lit(0.0), (acc, x) => acc + x).as("w1_levels"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("na").as("n_en"), col("nb").as("n_other"),
        (col("w1_levels") * 20.0).as("w1_chars"))
  }

  /** Cook's-distance influence diagnostics for the q238/q254 OLS fit
    * (Cook 1977): which documents single-handedly move the
    * length-vs-tokens regression. Everything is closed-form from exact
    * integer moments — leverage h_i = 1∕n + (n·x_i − Σx)²∕(n·(nΣx²
    * − (Σx)²)), and Σe² comes from the ALGEBRAIC identity
    * Syy_c − slope·Sxy_c (order-free; never a float sum over rows).
    * Top-20 by D — the points an analyst must look at before trusting
    * the fit. */
  def q259CooksDistance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("x"),
        col("n_chars").as("y"))
    val m = docs.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
    val withFit = docs.crossJoin(broadcast(graft.ops.Guards.scalar(m)))
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
          col("n").cast("double"))
      // sum of squared residuals from integer moments (order-free):
      // sse = (Syy_c - slope * Sxy_c) / n with _c the centered moments
      .withColumn("sse",
        ((col("n") * col("syy") - col("sy") * col("sy")).cast("double") -
          col("slope") *
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")) /
          col("n").cast("double"))
      .withColumn("s2", col("sse") / (col("n") - 2).cast("double"))
      .withColumn("e",
        col("y").cast("double") -
          (col("slope") * col("x").cast("double") + col("intercept")))
      .withColumn("h",
        lit(1.0) / col("n").cast("double") +
          ((col("n") * col("x") - col("sx")) *
            (col("n") * col("x") - col("sx"))).cast("double") /
            (col("n") * (col("n") * col("sxx") - col("sx") * col("sx")))
              .cast("double"))
      .withColumn("cooks_d",
        col("e") * col("e") * col("h") /
          (lit(2.0) * col("s2") * ((lit(1.0) - col("h")) *
            (lit(1.0) - col("h")))))
    withFit.select(col("doc_id"), col("x"), col("y"), col("e"), col("h"),
        col("cooks_d"))
      .orderBy(col("cooks_d").desc, col("doc_id"))
      .limit(20)
  }

  /** Exact ROC AUC of document length as a predictor of the q229 TTR
    * quality gate — via the rank-sum identity AUC = U∕(n₁n₀) with the
    * tie-corrected pair count 2U = Σ_v 2·n₁(v)·cumN₀(<v) + n₁(v)·n₀(v)
    * (each tied pair counts ½, doubled into integers): EXACT int64
    * arithmetic over the bounded score-value domain, one final divide.
    * The canonical classifier metric, no sorting of raw rows — only a
    * value-domain cumulative. */
  def q260Auc(s: SparkSession, dir: String): DataFrame = {
    val rated = Tables.documents(s, dir)
      .select(col("n_chars").as("v"),
        (size(array_distinct(split(col("text"), " "))) * 2 >=
          size(split(col("text"), " "))).cast("long").as("pos"))
    val byV = rated.groupBy(col("v"))
      .agg(sum(col("pos")).as("n1v"),
        sum(lit(1L) - col("pos")).as("n0v"))
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val tot = byV.agg(sum(col("n1v")).as("n1"), sum(col("n0v")).as("n0"))
    byV.withColumn("cum0", coalesce(sum(col("n0v")).over(wCum), lit(0L)))
      .select((lit(2L) * col("n1v") * col("cum0") +
        col("n1v") * col("n0v")).as("u2"))
      .agg(sum(col("u2")).as("u2"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("n1"), col("n0"),
        (col("u2").cast("double") /
          (lit(2L) * col("n1") * col("n0")).cast("double")).as("auc"))
  }

  /** CART decision-stump split (Breiman et al. 1984 — the primitive
    * every tree ensemble repeats): the single best threshold on
    * document length predicting the q229 TTR gate, by weighted Gini
    * reduction over the bounded level domain. Child impurities are
    * 2p(n−p)∕n² with EXACT int64 (n, p) from one cumulative pass;
    * the argmax tie-breaks on the smaller threshold via (gain DESC, t)
    * row_number. One aggregate + one window — the "train a stump"
    * verb at any scale. */
  def q261CartStump(s: SparkSession, dir: String): DataFrame = {
    val lv = Tables.documents(s, dir)
      .groupBy(floor(col("n_chars") / 20).as("l"))
      .agg(count(lit(1)).as("w"),
        sum((size(array_distinct(split(col("text"), " "))) * 2 >=
          size(split(col("text"), " "))).cast("long")).as("p"))
    val wCum = Window.orderBy(col("l"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = lv.agg(sum(col("w")).as("nn"), sum(col("p")).as("pp"))
    val splits = lv
      .withColumn("nl", sum(col("w")).over(wCum))
      .withColumn("pl", sum(col("p")).over(wCum))
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .filter(col("nl") < col("nn")) // right child must be nonempty
      .select(col("l").as("split_level"), col("nl"), col("pl"),
        (col("nn") - col("nl")).as("nr"), (col("pp") - col("pl")).as("pr"),
        col("nn"), col("pp"))
    val childGini =
      lit(2.0) * col("pl").cast("double") *
        (col("nl") - col("pl")).cast("double") /
        (col("nl") * col("nl")).cast("double") *
        (col("nl").cast("double") / col("nn").cast("double")) +
      lit(2.0) * col("pr").cast("double") *
        (col("nr") - col("pr")).cast("double") /
        (col("nr") * col("nr")).cast("double") *
        (col("nr").cast("double") / col("nn").cast("double"))
    val parentGini = lit(2.0) * col("pp").cast("double") *
      (col("nn") - col("pp")).cast("double") /
      (col("nn") * col("nn")).cast("double")
    splits
      .withColumn("parent_gini", parentGini)
      .withColumn("child_gini", childGini)
      .withColumn("gain", col("parent_gini") - col("child_gini"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("gain").desc, col("split_level"))))
      .filter(col("rn") === 1)
      .select(col("split_level"), col("nl").as("n_left"),
        col("nr").as("n_right"), col("pl").as("pos_left"),
        col("pr").as("pos_right"), col("parent_gini"), col("child_gini"),
        col("gain"))
  }

  /** Minimum detectable effect for the q205 A/B at 80% power / 5%
    * two-sided (Cohen 1988): MDE = (z_{α∕2} + z_β)·√(2p̄(1−p̄)∕n_arm)
    * — the "how long must this test run" number every experiment
    * review asks for. Pooled rate from exact integers; z literals
    * shared with the oracle; n_arm = the smaller arm
    * (conservative). */
  def q262PowerMde(s: SparkSession, dir: String): DataFrame = {
    val zA = 1.959963984540054
    val zB = 0.8416212335729143
    val arms = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150.0,
        1L).otherwise(0L)).as("conv"))
      .groupBy((col("user_id") % 2).as("variant"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    arms.agg(
        sum(when(col("variant") === 1, col("n")).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 0, col("n")).otherwise(0L)).as("n0"),
        sum(col("c")).as("cc"), sum(col("n")).as("nn"))
      .withColumn("p_pool", col("cc").cast("double") / col("nn").cast("double"))
      .withColumn("n_arm", least(col("n1"), col("n0")))
      .withColumn("mde_abs",
        lit(zA + zB) * sqrt(lit(2.0) * col("p_pool") *
          (lit(1.0) - col("p_pool")) / col("n_arm").cast("double")))
      .select(col("n1"), col("n0"), col("p_pool"), col("mde_abs"),
        (col("mde_abs") / col("p_pool")).as("mde_rel"))
  }

  /** Rolling-origin forecast backtest with MASE (Hyndman & Koehler
    * 2006 — the scale-free forecast metric): hold out the last 14
    * days of the daily event-count series, compare the OLS trend line
    * (trained on the rest, exact integer moments) against the
    * seasonal-naive-7 baseline ŷ_t = y_{t−7}. The naive MAE is EXACT
    * integers; the line MAE is a sorted fold; MASE = line∕naive — a
    * model that can't beat "same day last week" (MASE ≥ 1) should not
    * ship. */
  def q263MaseBacktest(s: SparkSession, dir: String): DataFrame = {
    val h = 14
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("y"))
      .withColumn("t", row_number().over(Window.orderBy(col("d"))).cast("long"))
    val nd = daily.agg(max(col("t")).as("tt"))
    val lagged = daily
      .withColumn("y7", lag(col("y"), 7).over(Window.orderBy(col("t"))))
      .crossJoin(broadcast(graft.ops.Guards.scalar(nd)))
    val train = lagged.filter(col("t") <= col("tt") - h)
    val m = train.agg(count(lit(1)).as("n"), sum(col("t")).as("sx"),
        sum(col("y")).as("sy"), sum(col("t") * col("y")).as("sxy"),
        sum(col("t") * col("t")).as("sxx"))
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
          col("n").cast("double"))
      .select(col("n").as("n_train"), col("slope"), col("intercept"))
    val test = lagged.filter(col("t") > col("tt") - h)
      .crossJoin(broadcast(graft.ops.Guards.scalar(m)))
      .select(col("t"), col("n_train"),
        abs(col("y") - col("y7")).as("ae_naive"),
        abs(col("y").cast("double") -
          (col("slope") * col("t").cast("double") + col("intercept")))
          .as("ae_line"))
    test.groupBy(col("n_train"))
      .agg(count(lit(1)).as("n_test"), sum(col("ae_naive")).as("sae_naive"),
        aggregate(
          transform(sort_array(collect_list(struct(col("t"), col("ae_line")))),
            e => e("ae_line")),
          lit(0.0), (acc, x) => acc + x).as("sae_line"))
      .select(col("n_train"), col("n_test"),
        (col("sae_naive").cast("double") / col("n_test").cast("double"))
          .as("mae_naive"),
        (col("sae_line") / col("n_test").cast("double")).as("mae_line"),
        ((col("sae_line") / col("n_test").cast("double")) /
          (col("sae_naive").cast("double") / col("n_test").cast("double")))
          .as("mase"))
  }

  /** Grid-DBSCAN over the first two embedding dimensions (the
    * cell-based formulation that makes density clustering
    * communication-bounded: points shuffle ONCE into ε-cells, density
    * and adjacency live on the CELL table — occupied cells, not
    * points — and the exact q53 connected-components machinery links
    * adjacent core cells): ε = 1∕16, minPts = 5, core-cell variant
    * (non-core cells are noise). Adjacency is 9 shifted equi-join
    * keys, never a distance theta-join; the oracle replays the CC as
    * the q53 recursive CTE. Output: clusters by size with cell and
    * point counts, plus the noise row (cluster_rank = 0). */
  def q264GridDbscan(s: SparkSession, dir: String): DataFrame =
    gridDbscanOf(Tables.embeddings(s, dir))

  private[graft] def gridDbscanOf(embIn: DataFrame): DataFrame = {
    val scale = 16L
    val minPts = 5L
    val enc = 10000L // cell id = (cx + 500) * enc + (cy + 500)
    val pts = embIn
      .select(col("vec_id"),
        floor(element_at(col("embedding"), 1).cast("double") * scale)
          .as("cx"),
        floor(element_at(col("embedding"), 2).cast("double") * scale)
          .as("cy"))
    val cells = pts.groupBy(col("cx"), col("cy"))
      .agg(count(lit(1)).as("n"))
      .withColumn("core", col("n") >= minPts)
      .withColumn("cell", (col("cx") + 500L) * enc + (col("cy") + 500L))
    val core = cells.filter(col("core"))
      .select(col("cx"), col("cy"), col("cell"), col("n"))
    // adjacency: each core cell emits its 9 neighborhood keys; an
    // equi-join on the key links neighbors (a < b dedupes)
    val shifts = embIn.sparkSession.range(1).select(explode(array(
      (for (dx <- -1 to 1; dy <- -1 to 1)
        yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*))
      .as("sh")).select(col("sh.dx").as("dx"), col("sh.dy").as("dy"))
    val probes = core.crossJoin(broadcast(graft.ops.Guards.bounded(shifts, 9)))
      .select(col("cell").as("a"),
        ((col("cx") + col("dx") + 500L) * enc +
          (col("cy") + col("dy") + 500L)).as("nbr"))
    val edges = probes
      .join(core.select(col("cell").as("b")), col("nbr") === col("b"))
      .filter(col("a") < col("b"))
      .select(col("a").as("a_id"), col("b").as("b_id"))
    val labeled = graft.dedup.Dedup.connectedComponents(edges)
    // singleton core cells (no core neighbor) keep their own id
    val comp = core
      .join(labeled.withColumnRenamed("id", "cell2"),
        col("cell") === col("cell2"), "left")
      .select(col("cell"), col("n"),
        coalesce(col("component"), col("cell")).as("component"))
    val clusters = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_points"))
      .withColumn("cluster_rank", row_number().over(
        Window.orderBy(col("n_points").desc, col("component"))).cast("long"))
      .filter(col("cluster_rank") <= 10)
      .select(col("cluster_rank"), col("n_cells"), col("n_points"))
    val noise = cells.filter(!col("core"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_points"),
        count(lit(1)).as("n_cells"))
      .select(lit(0L).as("cluster_rank"), col("n_cells"), col("n_points"))
    clusters.unionByName(noise).orderBy(col("cluster_rank"))
  }

  /** Gumbel extreme-value fit of daily maximum purchase size (method
    * of moments; Gumbel 1958) and the 30-day return level z₃₀ = μ +
    * β·(−ln(−ln(1−1∕30))) — "the largest purchase you should expect
    * in a month", the tail-risk companion to q251's Hill index.
    * Moments are exact int64 over integer cents; γ, √6∕π, and the
    * return-level constant are shared literals; σ, β, μ, z₃₀ are a
    * fixed parenthesization. */
  def q265GumbelExtremes(s: SparkSession, dir: String): DataFrame = {
    val sqrt6OverPi = 0.779696801233676
    val gamma = 0.5772156649015329
    val rl30 = 3.3842944934992527
    val daily = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(max(round(col("value") * 100).cast("long")).as("x"))
    daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"))
      .withColumn("mean_max", col("s1").cast("double") / col("n").cast("double"))
      .withColumn("sigma",
        sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("n") * (col("n") - 1)).cast("double")))
      .withColumn("beta", col("sigma") * lit(sqrt6OverPi))
      .withColumn("mu", col("mean_max") - lit(gamma) * col("beta"))
      .select(col("n").as("n_days"), col("mean_max"), col("sigma"),
        col("mu"), col("beta"),
        (col("mu") + col("beta") * lit(rl30)).as("return_level_30d"))
  }

  /** Markov removal-effect attribution (Anderl et al. 2016) — the
    * third leg of the attribution trio (rule-based q143, Shapley
    * q249): model the user journey as a Markov chain over the 5 event
    * states absorbing into conv (a big purchase) or null, and score
    * channel c by how much P(conv) drops when c is removed. Removal
    * has a one-line exact form: clamping v(c) ≡ 0 in the value
    * iteration v(s) = T(s,conv) + Σ_j T(s,j)·v(j) IS redirecting all
    * mass into c to null. The chain is 5×7 — the value iteration (12
    * rounds) runs on the driver with the oracle's exact fold orders
    * (j-ascending dot, state-ascending start mix), like q250's
    * eigensolve; the DISTRIBUTED work is the transition-count
    * aggregate. */
  def q266MarkovRemoval(s: SparkSession, dir: String): DataFrame = {
    val states = Seq("click", "error", "purchase", "signup", "view")
    val rounds = 12
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"),
        (col("event_type") === "purchase" && col("value") > 150.0).as("big"))
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // journey: absorb at the FIRST big purchase; steps before it emit
    // transitions state -> next (or conv if next is big, null at end)
    val seqd = ev
      .withColumn("bigCum",
        sum(when(col("big"), 1L).otherwise(0L)).over(
          wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // journey rows: everything BEFORE the first big purchase, plus the
      // absorbing big row itself (later rows are post-conversion noise)
      .filter(col("bigCum") === 0 || (col("big") && col("bigCum") === 1))
    val steps = seqd
      .withColumn("nxt_type", lead(col("event_type"), 1).over(wU))
      .withColumn("nxt_big", lead(col("big"), 1).over(wU))
      .filter(!col("big")) // absorbing row emits no transition
      .select(col("event_type").as("s"),
        when(col("nxt_type").isNull, "null")
          .when(col("nxt_big"), "conv")
          .otherwise(col("nxt_type")).as("j"))
    val tc = steps.groupBy(col("s"), col("j")).agg(count(lit(1)).as("c"))
    val rowTot = tc.groupBy(col("s")).agg(sum(col("c")).as("ct"))
    val firsts = seqd.withColumn("rn", row_number().over(wU))
      .filter(col("rn") === 1)
      .groupBy(col("event_type"), col("big")).agg(count(lit(1)).as("c"))
    val collected = tc.join(rowTot, "s").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    val firstRows = firsts.collect()
      .map(r => ((r.getString(0), r.getBoolean(1)), r.getLong(2))).toMap
    val nUsers = firstRows.values.sum
    def t(si: String, j: String): Double = collected.get((si, j)) match {
      case Some((c, ct)) => c.toDouble / ct.toDouble
      case None => 0.0
    }
    // start mix: instant conversions (first event is big) contribute 1.0
    val pInstant = firstRows.collect { case ((_, true), c) => c }.sum.toDouble /
      nUsers.toDouble
    def pi0(si: String): Double =
      firstRows.getOrElse((si, false), 0L).toDouble / nUsers.toDouble
    def pConv(removed: Option[String]): Double = {
      var v = states.map(_ => 0.0).toArray
      for (_ <- 1 to rounds) {
        val nv = states.zipWithIndex.map { case (si, i) =>
          if (removed.contains(si)) 0.0
          else {
            var acc = 0.0
            var j = 0
            while (j < states.length) {
              acc += t(si, states(j)) * v(j); j += 1
            }
            t(si, "conv") + acc
          }
        }.toArray
        v = nv
      }
      var p = 0.0
      states.zipWithIndex.foreach { case (si, i) =>
        if (!removed.contains(si)) p += pi0(si) * v(i)
      }
      p + pInstant
    }
    val base = pConv(None)
    val rowsOut = ("(none)", base, 0.0) +:
      Seq("click", "error", "signup", "view").map { c =>
        val pc = pConv(Some(c))
        (c, pc, (base - pc) / base)
      }
    import s.implicits._
    rowsOut.toDF("removed_channel", "p_conv", "removal_effect")
      .select(col("removed_channel"), col("p_conv"), col("removal_effect"))
      .orderBy(col("removed_channel"))
  }

  /** LTV cohort triangle: cumulative purchase revenue per signup-week
    * cohort by age-in-weeks — the table every growth model is fit on.
    * Cohorts from each user's first event week; revenue in exact
    * integer cents; the cumulative is a window over the BOUNDED
    * (cohort × age) grid; per-user LTV is one divide. */
  def q267LtvTriangle(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val firstD = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_d"))
      .withColumn("cohort", date_trunc("week", col("first_d")).cast("date"))
    val cohortSize = firstD.groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_users"))
    val rev = ev.filter(col("event_type") === "purchase")
      .join(firstD, "user_id")
      .select(col("cohort"),
        floor(datediff(to_date(col("ts")), col("cohort")) / 7).as("age_weeks"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("cohort"), col("age_weeks"))
      .agg(sum(col("cents")).as("cents"))
    val wCum = Window.partitionBy(col("cohort")).orderBy(col("age_weeks"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .withColumn("cum_cents", sum(col("cents")).over(wCum))
      .join(broadcast(cohortSize), "cohort")
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
        col("age_weeks"), col("n_users"), col("cum_cents"),
        (col("cum_cents").cast("double") / col("n_users").cast("double") /
          100.0).as("ltv_per_user"))
      .orderBy(col("cohort_week"), col("age_weeks"))
  }

  /** Chao1 species-richness estimate of the total vocabulary — the
    * BIAS-CORRECTED form V̂ = V + F₁(F₁−1)∕(2(F₂+1)) (Chao 1984;
    * Colwell's correction), defined even when no token occurs exactly
    * twice: "how many words exist that this corpus has NOT yet seen",
    * the crawl-more signal next to q217's Heaps extrapolation. Exact
    * integers, one divide. */
  def q268Chao1(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    freq.agg(count(lit(1)).as("v_obs"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("v_obs"), col("f1"), col("f2"),
        (col("v_obs").cast("double") +
          (col("f1") * (col("f1") - 1)).cast("double") /
            (lit(2L) * (col("f2") + 1)).cast("double")).as("chao1"))
      .select(col("v_obs"), col("f1"), col("f2"), col("chao1"),
        ((col("chao1") - col("v_obs").cast("double")) / col("chao1"))
          .as("unseen_frac"))
  }

  /** Temporal burstiness of user activity (Goh & Barabási 2008):
    * B = (σ−μ)∕(σ+μ) over each user's inter-event gaps — B → −1
    * periodic (cron-like bots), B ≈ 0 Poisson, B → +1 bursty humans.
    * The TEMPORAL twin of q221's token burstiness. Gaps are exact
    * integer seconds; per-user moments are exact int64 sums combined
    * in doubles with fixed parenthesization; the release is the
    * bounded 8-bin histogram of B (never a per-user dump). Users with
    * < 6 gaps are excluded (σ undefined territory). */
  def q269IntereventBurstiness(s: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(wU))
      .filter(col("prev").isNotNull)
      .select(col("user_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("prev"))).as("g"))
    val perUser = gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("g")).as("sg"),
        sum(col("g") * col("g")).as("sgg"))
      .filter(col("n") >= 6)
      .withColumn("mu", col("sg").cast("double") / col("n").cast("double"))
      .withColumn("sigma",
        sqrt((col("n").cast("double") * col("sgg").cast("double") -
          col("sg").cast("double") * col("sg").cast("double")) /
          (col("n").cast("double") * (col("n") - 1).cast("double"))))
      .withColumn("b",
        (col("sigma") - col("mu")) / (col("sigma") + col("mu")))
    perUser
      .withColumn("bin", floor((col("b") + 1.0) * 4))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_users"), min(col("b")).as("min_b"),
        max(col("b")).as("max_b"))
      .orderBy(col("bin"))
  }

  /** The Lorenz 80/20 point of revenue concentration: the smallest
    * user count whose (descending) cumulative purchase cents reach
    * 80% of total — the operational readout next to q190's Gini. The
    * threshold is the EXACT integer comparison 5·cum ≥ 4·total (no
    * float 0.8); shares are two final divides. */
  def q270Pareto8020(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")).otherwise(0L)).as("cents"))
    val w = Window.orderBy(col("cents").desc, col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = users.agg(sum(col("cents")).as("total"),
      count(lit(1)).as("n_users"))
    users
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cents").desc, col("user_id"))).cast("long"))
      .withColumn("cum", sum(col("cents")).over(w))
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .filter(col("cum") * 5 >= col("total") * 4)
      .orderBy(col("rnk"))
      .limit(1)
      .select(col("n_users"), col("rnk").as("k_star"),
        (col("rnk").cast("double") / col("n_users").cast("double"))
          .as("user_share"),
        (col("cum").cast("double") / col("total").cast("double"))
          .as("revenue_share"))
  }

  /** RFM segmentation (the classic CRM cube): per-user Recency (days
    * since last event), Frequency (event count), Monetary (purchase
    * cents) scored into quintiles by NTILE(5) with a full
    * deterministic order (metric, user_id) — R ascending is better,
    * F/M descending — released as the bounded segment-count cube.
    * All inputs exact integers; NTILE's even-split rule is identical
    * in both engines given the total order. */
  def q271RfmSegments(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val maxD = ev.agg(max(to_date(col("ts"))).as("max_d"))
    val rfm = ev.groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_d"),
        count(lit(1)).as("f"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("m"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(maxD)))
      .select(col("user_id"),
        datediff(col("max_d"), col("last_d")).cast("long").as("r"),
        col("f"), col("m"))
    val scored = rfm
      .withColumn("r_code", ntile(5).over(
        Window.orderBy(col("r"), col("user_id"))).cast("long"))
      .withColumn("f_code", ntile(5).over(
        Window.orderBy(col("f").desc, col("user_id"))).cast("long"))
      .withColumn("m_code", ntile(5).over(
        Window.orderBy(col("m").desc, col("user_id"))).cast("long"))
    scored.groupBy(col("r_code"), col("f_code"), col("m_code"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("r_code"), col("f_code"), col("m_code"))
  }

  /** One-way ANOVA F across day-of-week groups of daily event counts
    * — "is there weekday seasonality at all", the omnibus test before
    * q145's per-hour decomposition digs in. SSB and SSW come entirely
    * from exact int64 group sums via the identities SSB = Σ_g n_g(x̄_g
    * − x̄)² and SST = Σx² − (Σx)²∕n, SSW = SST − SSB; F is two
    * divides with fixed parenthesization. */
  def q272AnovaF(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
      .select(dayofweek(col("d")).cast("long").as("g"), col("x"))
    val groups = daily.groupBy(col("g"))
      .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"),
      countDistinct(col("g")).as("k"))
    val ssb = groups.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("g"), col("n"), col("sx"), col("sxx"), col("k"),
        // n_g * (mean_g - mean)^2 = (n*sg - ng*sx)^2 / (ng * n^2)
        (((col("n") * col("sg") - col("ng") * col("sx")) *
          (col("n") * col("sg") - col("ng") * col("sx"))).cast("double") /
          (col("ng") * col("n") * col("n")).cast("double")).as("term"))
      .groupBy(col("n"), col("sx"), col("sxx"), col("k"))
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("g"), col("term")))),
          e => e("term")),
        lit(0.0), (acc, x) => acc + x).as("ssb"))
    ssb
      .withColumn("sst",
        col("sxx").cast("double") -
          (col("sx") * col("sx")).cast("double") / col("n").cast("double"))
      .withColumn("ssw", col("sst") - col("ssb"))
      .select(col("n").as("n_days"), col("k").as("n_groups"),
        col("ssb"), col("ssw"),
        ((col("ssb") / (col("k") - 1).cast("double")) /
          (col("ssw") / (col("n") - col("k")).cast("double"))).as("f_stat"))
  }

  /** Wald–Wolfowitz runs test on the sign of day-over-day changes in
    * event volume — "is the series a random walk or does it trend/
    * oscillate": R runs among n₁ ups and n₀ downs, E[R] = 2n₁n₀∕n +
    * 1, Var[R] = 2n₁n₀(2n₁n₀−n)∕(n²(n−1)), z² = (R−E)²∕Var. Runs
    * and counts are exact integers from one lag pass; ties (zero
    * change) are dropped, the classical convention. */
  def q273RunsTest(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
    val wD = Window.orderBy(col("d"))
    val signs = daily
      .withColumn("prev", lag(col("x"), 1).over(wD))
      .filter(col("prev").isNotNull && col("x") =!= col("prev"))
      .select(col("d"), (col("x") > col("prev")).cast("long").as("up"))
    val runs = signs
      .withColumn("prevUp", lag(col("up"), 1).over(Window.orderBy(col("d"))))
      .select(
        when(col("prevUp").isNull || col("up") =!= col("prevUp"), 1L)
          .otherwise(0L).as("newRun"),
        col("up"))
      .agg(sum(col("newRun")).as("r"), sum(col("up")).as("n1"),
        sum(lit(1L) - col("up")).as("n0"))
    runs
      .withColumn("n", col("n1") + col("n0"))
      .withColumn("e_r",
        (lit(2L) * col("n1") * col("n0")).cast("double") /
          col("n").cast("double") + lit(1.0))
      .withColumn("var_r",
        (lit(2L) * col("n1") * col("n0") *
          (lit(2L) * col("n1") * col("n0") - col("n"))).cast("double") /
          (col("n") * col("n") * (col("n") - 1)).cast("double"))
      .select(col("r").as("n_runs"), col("n1"), col("n0"), col("e_r"),
        col("var_r"),
        ((col("r").cast("double") - col("e_r")) *
          (col("r").cast("double") - col("e_r")) / col("var_r")).as("z2"))
  }

  /** Ljung–Box portmanteau statistic over the q207 ACF at lags 1..7:
    * Q = n(n+2)·Σ_k r_k²∕(n−k) — "is there ANY autocorrelation",
    * the joint test q207's per-lag values feed. r_k ratios reuse the
    * exact centered-integer sums (c = n·x − S); the lag fold is a
    * sorted fold over k. */
  def q274LjungBox(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
    val tot = daily.agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
    val cser = daily.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("d"), col("n"), (col("n") * col("x") - col("sx")).as("c"))
    val w = Window.orderBy(col("d"))
    val lagged = cser.select(
      (col("n") +: col("c") +:
        (1 to 7).map(k => lag(col("c"), k).over(w).as(s"c$k"))): _*)
    val aggCols = sum(col("c") * col("c")).as("den") +:
      (1 to 7).map(k => sum(col("c") * col(s"c$k")).as(s"num$k"))
    val sums = lagged.groupBy(col("n")).agg(aggCols.head, aggCols.tail: _*)
    val terms = (1 to 7).map { k =>
      sums.select(col("n"), lit(k.toLong).as("k"),
        ((col(s"num$k").cast("double") / col("den").cast("double")) *
          (col(s"num$k").cast("double") / col("den").cast("double")) /
          (col("n") - k).cast("double")).as("term"))
    }.reduce(_ unionByName _)
    terms.groupBy(col("n"))
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("k"), col("term")))),
          e => e("term")),
        lit(0.0), (acc, x) => acc + x).as("lagsum"))
      .select(col("n").as("n_days"), lit(7L).as("n_lags"),
        ((col("n") * (col("n") + 2)).cast("double") * col("lagsum"))
          .as("q_stat"))
  }

  /** Mann–Kendall trend test on daily event counts (Mann 1945;
    * Kendall's S against TIME) — the nonparametric trend detector that
    * pairs with q237's Theil–Sen slope: S = Σ_{i<j} sign(x_j − x_i)
    * exact integer over the day-bounded pair space, tie-corrected
    * variance Var[S] = (n(n−1)(2n+5) − Σ t(t−1)(2t+5))∕18, and the
    * continuity-corrected z² = (|S|−1)²∕Var. */
  def q275MannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
    val a = daily.select(col("d").as("d1"), col("x").as("x1"))
    val b = daily.select(col("d").as("d2"), col("x").as("x2"))
    val sPairs = a.join(b, col("d1") < col("d2"))
      .agg(sum(when(col("x2") > col("x1"), 1L)
        .when(col("x2") < col("x1"), -1L).otherwise(0L)).as("s"),
        count(lit(1)).as("n_pairs"))
    val ties = daily.groupBy(col("x")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)),
        lit(0L)).as("tie_term"))
    val nd = daily.agg(count(lit(1)).as("n"))
    sPairs.crossJoin(broadcast(graft.ops.Guards.scalar(ties))).crossJoin(broadcast(graft.ops.Guards.scalar(nd)))
      .withColumn("var_s",
        ((col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) -
          col("tie_term"))).cast("double") / 18.0)
      .select(col("n").as("n_days"), col("s"), col("var_s"),
        ((abs(col("s")) - 1).cast("double") *
          (abs(col("s")) - 1).cast("double") / col("var_s")).as("z2"))
  }

  /** 3-fold cross-validated MSE of the length~tokens OLS — the classic
    * model-evaluation loop next to q238's conformal and q263's
    * backtest. Fully order-free: per-fold training moments are
    * TOTAL-minus-fold integer differences, and the held-out SSE uses
    * the expansion Σ(y−a−bx)² = Σy² − 2aΣy − 2bΣxy + na² + 2abΣx +
    * b²Σx² over exact test-fold moments — never a float sum over
    * rows. */
  def q276CvKfold(s: SparkSession, dir: String): DataFrame = {
    val folds = Tables.documents(s, dir)
      .select((col("doc_id") % 3).as("fold"),
        size(split(col("text"), " ")).cast("long").as("x"),
        col("n_chars").as("y"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
    val tot = folds.agg(sum(col("n")).as("tn"), sum(col("sx")).as("tsx"),
      sum(col("sy")).as("tsy"), sum(col("sxy")).as("tsxy"),
      sum(col("sxx")).as("tsxx"))
    val perFold = folds.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .withColumn("trn", col("tn") - col("n"))
      .withColumn("trsx", col("tsx") - col("sx"))
      .withColumn("trsy", col("tsy") - col("sy"))
      .withColumn("trsxy", col("tsxy") - col("sxy"))
      .withColumn("trsxx", col("tsxx") - col("sxx"))
      .withColumn("slope",
        (col("trn") * col("trsxy") - col("trsx") * col("trsy")).cast("double") /
          (col("trn") * col("trsxx") - col("trsx") * col("trsx"))
            .cast("double"))
      .withColumn("icpt",
        (col("trsy").cast("double") - col("slope") * col("trsx").cast("double")) /
          col("trn").cast("double"))
      // held-out SSE from exact test-fold moments (expansion, order-free)
      .withColumn("sse",
        col("syy").cast("double") -
          lit(2.0) * col("icpt") * col("sy").cast("double") -
          lit(2.0) * col("slope") * col("sxy").cast("double") +
          col("n").cast("double") * col("icpt") * col("icpt") +
          lit(2.0) * col("icpt") * col("slope") * col("sx").cast("double") +
          col("slope") * col("slope") * col("sxx").cast("double"))
      .select(col("fold"), col("n").as("n_test"), col("slope"), col("icpt"),
        (col("sse") / col("n").cast("double")).as("mse"))
    perFold.orderBy(col("fold"))
  }

  /** Vocabulary coverage curve: the corpus token share covered by the
    * top-k most frequent types at k ∈ {10, 100, 1000, 10000} — the
    * tokenizer/vocab-budget readout q51's raw frequencies and q217's
    * Heaps growth bracket. One frequency aggregate, one rank window
    * over the type domain, exact cumulative integers, one divide per
    * k. */
  def q277VocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val wRank = Window.orderBy(col("c").desc, col("tok"))
    val ranked = freq
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .withColumn("cum", sum(col("c")).over(
        wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = freq.agg(sum(col("c")).as("total"), count(lit(1)).as("v"))
    val ks = s.range(1)
      .select(explode(array(lit(10L), lit(100L), lit(1000L), lit(10000L)))
        .as("k"))
    val atK = ks.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .join(ranked.select(col("rnk"), col("cum")),
        col("rnk") === least(col("k"), col("v")), "left")
      .select(col("k"), col("v").as("vocab_size"), col("total"),
        coalesce(col("cum"), lit(0L)).as("cum"))
      .select(col("k"), col("vocab_size"),
        (col("cum").cast("double") / col("total").cast("double"))
          .as("coverage"))
    atK.orderBy(col("k"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q275_mann_kendall"   -> q275MannKendall _,
    "q276_cv_kfold"       -> q276CvKfold _,
    "q277_vocab_coverage" -> q277VocabCoverage _,
    "q272_anova_f"        -> q272AnovaF _,
    "q273_runs_test"      -> q273RunsTest _,
    "q274_ljung_box"      -> q274LjungBox _,
    "q269_burstiness_t"   -> q269IntereventBurstiness _,
    "q270_pareto_8020"    -> q270Pareto8020 _,
    "q271_rfm_segments"   -> q271RfmSegments _,
    "q266_markov_removal" -> q266MarkovRemoval _,
    "q267_ltv_triangle"   -> q267LtvTriangle _,
    "q268_chao1"          -> q268Chao1 _,
    "q264_grid_dbscan"    -> q264GridDbscan _,
    "q265_gumbel"         -> q265GumbelExtremes _,
    "q261_cart_stump"     -> q261CartStump _,
    "q262_power_mde"      -> q262PowerMde _,
    "q263_mase_backtest"  -> q263MaseBacktest _,
    "q258_wasserstein"    -> q258Wasserstein _,
    "q259_cooks_distance" -> q259CooksDistance _,
    "q260_auc"            -> q260Auc _,
    "q255_obrien_fleming" -> q255ObrienFleming _,
    "q256_bh_fdr"         -> q256BhFdr _,
    "q257_entropy_rate"   -> q257EntropyRate _,
    "q252_hilbert"        -> q252Hilbert _,
    "q253_voptimal_hist"  -> q253VoptimalHist _,
    "q254_huber_irls"     -> q254HuberIrls _,
    "q249_shapley"        -> q249Shapley _,
    "q250_pmi_svd"        -> q250PmiSvd _,
    "q251_hill_tail"      -> q251HillTail _,
    "q246_srm"            -> q246Srm _,
    "q247_mmd_quad"       -> q247MmdQuad _,
    "q248_trimmed_ate"    -> q248TrimmedAte _,
    "q243_capture_recapture" -> q243CaptureRecapture _,
    "q244_isotonic"       -> q244Isotonic _,
    "q245_silhouette"     -> q245Silhouette _,
    "q235_modularity"     -> q235Modularity _,
    "q236_bottomk_jaccard" -> q236BottomkJaccard _,
    "q237_theil_sen"      -> q237TheilSen _,
    "q238_conformal"      -> q238Conformal _,
    "q239_l_diversity"    -> q239LDiversity _,
    "q240_rbo"            -> q240Rbo _,
    "q241_geo_median"     -> q241GeoMedian _,
    "q242_neyman_alloc"   -> q242NeymanAlloc _)
}
