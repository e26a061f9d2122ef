package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Round-9 wave 8: distribution comparison and data-quality audit verbs —
 * the monitoring layer a production pipeline runs BESIDE the transforms.
 * Benford fraud audit, concentration (Gini/Lorenz), two-sample KS,
 * monotonic-trend tests (Mann–Kendall + Theil–Sen), drift (PSI),
 * divergence (Jensen–Shannon), dependence (mutual information, Kendall
 * τ-b), distribution-free prediction intervals (split conformal), and RFM
 * segmentation. Same determinism contract as the whole catalog: integer
 * sufficient statistics, exact-lg bits for any data-dependent logarithm,
 * e0-form double literals for fixed constants, key-ascending folds for
 * order-sensitive float sums.
 */
object CatalogDist {

  /** Sorted-key double fold — bit-identical to the oracle's
    * `list_reduce(list_prepend(0.0, list(v ORDER BY k)))`. */
  // Round 16: the ordered fold runs as ONE codegen'd kernel
  // (graft_ordered_sum) instead of the interpreted transform+aggregate
  // HOF pair — bit-compatible per OrderedStructSum's doc (same adds in
  // the same sorted order, same int->double cast per element).
  private def foldSorted(k: Column, v: Column): Column =
    graft.functions.GraftFunctions.orderedSum(
      sort_array(collect_list(struct(k.as("k"), v.as("v")))))

  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Exact-lg (deterministic log2 surrogate) of a positive int64. */
  private def lg(x: Column): Column = graft.curation.Curation.lg(x)

  /** Benford first-digit audit over order totals (in cents): observed
    * shares vs log10(1+1/d) with the expected probabilities embedded as
    * exact double literals (identical bits in both engines), per-digit
    * χ² contributions and shares each a single divide of exact integers.
    * The books-cooked alarm for financial feeds. */
  def q351Benford(s: SparkSession, dir: String): DataFrame = {
    val probs = Seq(
      0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
      0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
      0.05799194697768673, 0.05115252244738129, 0.04575749056067514)
    val pCol = probs.zipWithIndex
      .foldLeft(lit(0.0)) { case (acc, (p, i)) =>
        when(col("digit") === (i + 1).toLong, lit(p)).otherwise(acc) }
    val obs = Tables.orders(s, dir)
      .select(cents(col("o_totalprice")).as("v"))
      .select(expr("cast(substring(cast(v as string), 1, 1) as bigint)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
    val tot = obs.agg(sum(col("obs")).as("n"))
    s.range(1, 10).select(col("id").as("digit"))
      .join(obs, Seq("digit"), "left")
      .na.fill(0L, Seq("obs"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .withColumn("p", pCol)
      .withColumn("expected", col("n").cast("double") * col("p"))
      .select(col("digit"), col("obs"),
        (col("obs").cast("double") / col("n").cast("double")).as("share"),
        col("expected"),
        ((col("obs").cast("double") - col("expected"))
          * (col("obs").cast("double") - col("expected"))
          / col("expected")).as("chi2_contrib"))
      .orderBy(col("digit"))
  }

  /** Gini coefficient + Lorenz curve of customer spend concentration:
    * per-customer order cents, ranked ascending (custkey tie-break);
    * G = (2·Σ i·xᵢ − (n+1)·Σx) ∕ (n·Σx) — every term exact int64 until
    * the one final divide; Lorenz points are prefix-sum-at-⌈q·n⌉ shares.
    * The who-holds-the-mass audit behind q70's domain mixing. */
  def q352GiniLorenz(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("k"))
      .agg(sum(cents(col("o_totalprice"))).as("x"))
    val ranked = spend
      .withColumn("i", row_number().over(
        Window.orderBy(col("x"), col("k"))).cast("long"))
      .withColumn("cum", sum(col("x")).over(
        Window.orderBy(col("i"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("i") * col("x")).as("six"))
    val lshares = (1 to 9).map { q =>
      ranked.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
        .filter(col("i") === expr(s"(n * $q + 9) div 10"))
        .select((col("cum").cast("double") / col("sx").cast("double"))
          .as(s"l${q * 10}"))
    }.reduce(_ crossJoin _)
    tot.select(col("n").as("n_cust"),
        ((lit(2.0) * col("six").cast("double")
          - (col("n") + 1).cast("double") * col("sx").cast("double"))
          / (col("n").cast("double") * col("sx").cast("double"))).as("gini"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(lshares)))
  }

  /** Two-sample Kolmogorov–Smirnov: AUTOMOBILE vs rest on balance cents.
    * D·n₁·n₂ = max over the pooled distinct-value frame of
    * |F₁·n₁·n₂ − F₂·n₁·n₂| stays exact int64; the argmax location is the
    * (diff DESC, value ASC) pick; one divide for D. The
    * distribution-equality test q131's χ² bins approximate. */
  def q353KsTwoSample(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.customer(s, dir)
      .select((col("c_mktsegment") === "AUTOMOBILE").cast("long").as("z"),
        cents(col("c_acctbal")).as("v"))
    val byV = d.groupBy(col("v")).agg(
      sum(col("z")).as("c1"), sum(lit(1L) - col("z")).as("c2"))
    val tot = byV.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val cdf = byV
      .withColumn("f1", sum(col("c1")).over(
        Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("f2", sum(col("c2")).over(
        Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("v"), col("n1"), col("n2"),
        abs(col("f1") * col("n2") - col("f2") * col("n1")).as("dscaled"))
    cdf.orderBy(col("dscaled").desc, col("v")).limit(1)
      .select(col("n1"), col("n2"), col("v").as("at_value"),
        col("dscaled"),
        (col("dscaled").cast("double")
          / (col("n1") * col("n2")).cast("double")).as("ks_d"))
  }

  /** Mann–Kendall trend + Theil–Sen slope on the last-120-day daily
    * revenue: S = Σ sign(yⱼ−yᵢ) over the bounded day-pair join (exact
    * int64), τ-a over distinct time points, and the median pairwise slope
    * picked at the exact ⌈m∕2⌉ order statistic with (slope, i, j)
    * tie-break — the robust-trend twin of q335's OLS elasticity. */
  def q354MannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(cents(col("o_totalprice"))).as("y"))
    val maxD = daily.agg(max(col("d")).as("md"))
    val win = daily.crossJoin(broadcast(graft.ops.Guards.scalar(maxD)))
      .filter(datediff(col("md"), col("d")) < 120)
      .withColumn("i", row_number().over(Window.orderBy(col("d"))).cast("long"))
      .select(col("i"), col("y"))
    val pairs = win.alias("a").join(win.alias("b"),
        col("a.i") < col("b.i"))
      .select(col("a.i").as("i"), col("b.i").as("j"),
        (col("b.y") - col("a.y")).as("dy"),
        (col("b.i") - col("a.i")).as("dt"))
    val sTau = pairs.agg(
      sum(signum(col("dy").cast("double")).cast("long")).as("s_mk"),
      count(lit(1)).as("m"))
    val slopes = pairs
      .select((col("dy").cast("double") / col("dt").cast("double"))
        .as("slope"), col("i"), col("j"))
      .withColumn("r", row_number().over(
        Window.orderBy(col("slope"), col("i"), col("j"))).cast("long"))
    val med = slopes.crossJoin(broadcast(graft.ops.Guards.scalar(sTau.select(col("m").as("mm")))))
      .filter(col("r") === expr("(mm + 1) div 2"))
      .select(col("slope").as("theil_sen_cents_per_day"))
    sTau.crossJoin(broadcast(graft.ops.Guards.scalar(med)))
      .select(col("m").as("n_pairs"), col("s_mk"),
        (col("s_mk").cast("double") / col("m").cast("double")).as("tau"),
        col("theil_sen_cents_per_day"))
  }

  /** Population stability index between the first and second calendar
    * halves of the order history: 10 equal-width bins over the global
    * cent range, PSI = Σ (pᵢ−qᵢ)·lg(pᵢ∕qᵢ) in exact-lg BITS with every
    * log argument an int64 product (aᵢ·m vs bᵢ·n); empty-on-either-side
    * bins contribute 0 by documented convention (both engines). The
    * model-monitoring drift alarm. */
  def q355PsiDrift(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(to_date(col("o_orderdate")).as("d"), cents(col("o_totalprice")).as("v"))
    val rng = o.agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
      min(col("d")).as("d0"), max(col("d")).as("d1"))
    val binned = o.crossJoin(broadcast(graft.ops.Guards.scalar(rng)))
      .select(least(expr("(v - lo) * 10 div (hi - lo + 1)"), lit(9L)).as("bin"),
        (datediff(col("d"), col("d0")) * 2
          <= datediff(col("d1"), col("d0"))).cast("long").as("h1"))
    val cells = binned.groupBy(col("bin")).agg(
      sum(col("h1")).as("a"), sum(lit(1L) - col("h1")).as("b"))
    val tot = cells.agg(sum(col("a")).as("n"), sum(col("b")).as("m"))
    val contrib = cells.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("bin"), col("a"), col("b"),
        when(col("a") > 0 && col("b") > 0,
          (col("a").cast("double") / col("n").cast("double")
            - col("b").cast("double") / col("m").cast("double"))
            * (lg(col("a") * col("m")) - lg(col("b") * col("n"))))
          .otherwise(lit(0.0)).as("c"))
    contrib.agg(count(lit(1)).as("n_bins"),
      sum((col("a") === 0 || col("b") === 0).cast("long")).as("n_skipped"),
      foldSorted(col("bin"), col("c")).as("psi_bits"))
  }

  /** Jensen–Shannon divergence (bits, exact-lg) between the weekday and
    * weekend event-type distributions: every log argument is an int64
    * product (2·aᵢ·m vs aᵢ·m + bᵢ·n), the two KL halves are
    * type-ascending folds, zero-count types contribute 0 (their p·lg p
    * limit). Bounded symmetric drift — the metric PSI can't give when
    * supports differ. */
  def q356JsdWeekday(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_type").as("t"),
        (dayofweek(to_date(col("ts"))).isin(1, 7)).cast("long").as("we"))
    val cells = e.groupBy(col("t")).agg(
      sum(lit(1L) - col("we")).as("a"), sum(col("we")).as("b"))
    val tot = cells.agg(sum(col("a")).as("n"), sum(col("b")).as("m"))
    val terms = cells.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("t"), col("a"), col("b"),
        when(col("a") > 0,
          (col("a").cast("double") / col("n").cast("double"))
            * (lg(col("a") * col("m") * 2)
              - lg(col("a") * col("m") + col("b") * col("n"))))
          .otherwise(lit(0.0)).as("kp"),
        when(col("b") > 0,
          (col("b").cast("double") / col("m").cast("double"))
            * (lg(col("b") * col("n") * 2)
              - lg(col("a") * col("m") + col("b") * col("n"))))
          .otherwise(lit(0.0)).as("kq"))
    terms.agg(count(lit(1)).as("n_types"),
        foldSorted(col("t"), col("kp")).as("kl_p"),
        foldSorted(col("t"), col("kq")).as("kl_q"))
      .select(col("n_types"), col("kl_p"), col("kl_q"),
        ((col("kl_p") + col("kl_q")) / lit(2.0)).as("jsd_bits"))
  }

  /** Mutual information (bits, exact-lg) between market segment and
    * balance quartile: quartile cuts are exact ⌈q·n⌉ order statistics
    * (ties go low), MI = Σ (nᵢⱼ∕n)·(lg(nᵢⱼ·n) − lg(rᵢ·cⱼ)) with int64
    * log arguments, (segment, quartile)-ascending fold. Quantifies the
    * dependence q349's direction audit only signs. */
  def q357MutualInfo(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.customer(s, dir)
      .select(col("c_mktsegment").as("seg"), cents(col("c_acctbal")).as("v"),
        col("c_custkey"))
    val ranked = d.withColumn("rn", row_number().over(
        Window.orderBy(col("v"), col("c_custkey"))).cast("long"))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
    val cuts = (1 to 3).map { q =>
      ranked.filter(col("rn") === expr(s"(nn * $q + 3) div 4"))
        .select(max(col("v")).as(s"t$q"))
    }.reduce(_ crossJoin _)
    val cells = d.crossJoin(broadcast(graft.ops.Guards.scalar(cuts)))
      .select(col("seg"),
        (lit(1L) + (col("v") > col("t1")).cast("long")
          + (col("v") > col("t2")).cast("long")
          + (col("v") > col("t3")).cast("long")).as("qt"))
      .groupBy(col("seg"), col("qt")).agg(count(lit(1)).as("nij"))
    val rows = cells.groupBy(col("seg")).agg(sum(col("nij")).as("ri"))
    val cols = cells.groupBy(col("qt")).agg(sum(col("nij")).as("cj"))
    val tot = cells.agg(sum(col("nij")).as("n"))
    cells.join(rows, Seq("seg")).join(cols, Seq("qt"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("seg"), col("qt"), col("nij"), col("n"),
        (col("nij").cast("double") / col("n").cast("double")
          * (lg(col("nij") * col("n")) - lg(col("ri") * col("cj")))).as("c"))
      .agg(count(lit(1)).as("n_cells"),
        foldSorted(struct(col("seg"), col("qt")), col("c")).as("mi_bits"))
  }

  /** Split-conformal prediction interval for next-day revenue under the
    * persistence predictor ŷₜ = yₜ₋₁: calibration = even day index,
    * q̂ = the exact ⌈(n_cal+1)·9∕10⌉-th |residual| order statistic
    * (day tie-break); report q̂ and the achieved test-set coverage —
    * finite-sample validity with zero distributional assumptions. */
  def q358Conformal(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(cents(col("o_totalprice"))).as("y"))
      .withColumn("i", row_number().over(Window.orderBy(col("d"))).cast("long"))
    val resid = daily.alias("a").join(daily.alias("b"),
        col("a.i") === col("b.i") + 1)
      .select(col("a.i").as("i"), abs(col("a.y") - col("b.y")).as("r"))
    val cal = resid.filter(col("i") % 2 === 0)
    val nCal = cal.agg(count(lit(1)).as("nc"))
    val qhat = cal.crossJoin(broadcast(graft.ops.Guards.scalar(nCal)))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("r"), col("i"))).cast("long"))
      .filter(col("rn") === expr("((nc + 1) * 9 + 9) div 10"))
      .select(col("r").as("qhat"), col("nc"))
    val test = resid.filter(col("i") % 2 === 1)
    test.crossJoin(broadcast(graft.ops.Guards.scalar(qhat)))
      .agg(max(col("nc")).as("n_cal"), count(lit(1)).as("n_test"),
        max(col("qhat")).as("qhat_cents"),
        (sum((col("r") <= col("qhat")).cast("long")).cast("double")
          / count(lit(1)).cast("double")).as("coverage"))
  }

  /** Kendall τ-b between monthly revenue and monthly order count over the
    * bounded month-pair join: concordant/discordant/tie counts all exact
    * int64; τ-b = (C−D) ∕ √((m−tx)·(m−ty)) with the one sqrt at the end.
    * The tie-corrected rank dependence q207's Pearson r can't see. */
  def q359KendallTau(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("m"))
      .agg(sum(cents(col("o_totalprice"))).as("x"), count(lit(1)).as("y"))
    val pairs = monthly.alias("a").join(monthly.alias("b"),
        col("a.m") < col("b.m"))
      .select(
        signum((col("b.x") - col("a.x")).cast("double")).cast("long").as("sx"),
        signum((col("b.y") - col("a.y")).cast("double")).cast("long").as("sy"))
    pairs.agg(count(lit(1)).as("m_pairs"),
        sum((col("sx") * col("sy") === 1).cast("long")).as("concordant"),
        sum((col("sx") * col("sy") === -1).cast("long")).as("discordant"),
        sum((col("sx") === 0).cast("long")).as("ties_x"),
        sum((col("sy") === 0).cast("long")).as("ties_y"))
      .select(col("m_pairs"), col("concordant"), col("discordant"),
        ((col("concordant") - col("discordant")).cast("double")
          / sqrt((col("m_pairs") - col("ties_x")).cast("double")
            * (col("m_pairs") - col("ties_y")).cast("double"))).as("tau_b"))
  }

  /** RFM segmentation: recency (days since last order), frequency, and
    * monetary cents per customer; quintile scores from exact ⌈q·n⌉
    * order-statistic thresholds (ties go low, recency scored inverted);
    * output = the 5×5×5 segment cells that exist, with exact counts and
    * one mean divide each. The marketing-segmentation workhorse. */
  def q360Rfm(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val ref = o.agg(max(to_date(col("o_orderdate"))).as("ref"))
    // Round 16: cut the per-customer RFM frame once — it feeds SEVEN
    // consumers (each score()'s ranked window + threshold-scan pass ×3
    // metrics, plus the final join), and the threshold frames run as
    // broadcast scalar subqueries = separate executions, so without the
    // cut each re-ran the orders aggregate (the C10 missing-loop-invariant
    // pattern; guide §2.4). Values untouched.
    val rfm = graft.ops.IterativeLoop.cutLazy(o
      .groupBy(col("o_custkey").as("k"))
      .agg(max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("f"), sum(cents(col("o_totalprice"))).as("mv"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(ref)))
      .select(col("k"), datediff(col("ref"), col("last_d")).cast("long").as("r"),
        col("f"), col("mv")))
    def score(c: String, inverted: Boolean): DataFrame = {
      // the ranked global window feeds the four threshold aggregates (one
      // broadcast-scalar execution) — cut it so they read persisted blocks
      val ranked = graft.ops.IterativeLoop.cutLazy(rfm.select(col("k"), col(c))
        .withColumn("rn", row_number().over(
          Window.orderBy(col(c), col("k"))).cast("long"))
        .withColumn("nn", count(lit(1)).over(Window.partitionBy())))
      val cuts = (1 to 4).map { q =>
        ranked.filter(col("rn") === expr(s"(nn * $q + 4) div 5"))
          .select(max(col(c)).as(s"t$q"))
      }.reduce(_ crossJoin _)
      val raw = rfm.select(col("k"), col(c)).crossJoin(broadcast(graft.ops.Guards.scalar(cuts)))
        .select(col("k"),
          (lit(1L) + (col(c) > col("t1")).cast("long")
            + (col(c) > col("t2")).cast("long")
            + (col(c) > col("t3")).cast("long")
            + (col(c) > col("t4")).cast("long")).as("raw"))
      raw.select(col("k"),
        (if (inverted) lit(6L) - col("raw") else col("raw")).as(s"${c}_score"))
    }
    rfm.join(score("r", inverted = true), Seq("k"))
      .join(score("f", inverted = false), Seq("k"))
      .join(score("mv", inverted = false), Seq("k"))
      .groupBy(col("r_score"), col("f_score"), col("mv_score"))
      .agg(count(lit(1)).as("n_cust"),
        (sum(col("mv")).cast("double") / count(lit(1)).cast("double")
          / lit(100.0)).as("avg_monetary"))
      .orderBy(col("r_score"), col("f_score"), col("mv_score"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q351_benford"      -> q351Benford _,
    "q352_gini_lorenz"  -> q352GiniLorenz _,
    "q353_ks_two_sample" -> q353KsTwoSample _,
    "q354_mann_kendall" -> q354MannKendall _,
    "q355_psi_drift"    -> q355PsiDrift _,
    "q356_jsd_weekday"  -> q356JsdWeekday _,
    "q357_mutual_info"  -> q357MutualInfo _,
    "q358_conformal"    -> q358Conformal _,
    "q359_kendall_tau"  -> q359KendallTau _,
    "q360_rfm"          -> q360Rfm _)
}
