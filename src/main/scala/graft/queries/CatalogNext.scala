package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Round-9 continuation wave 3: the survival/epidemiology pair the KM curve
 * (q208) was missing (log-rank, Nelson–Aalen), stratified 2×2 epi analysis
 * (Mantel–Haenszel), multi-rater and multi-item reliability (Fleiss' κ,
 * Cronbach's α), normality/heteroscedasticity/autocorrelation diagnostics
 * (Jarque–Bera, Brown–Forsythe Levene, Durbin–Watson, Grubbs), and the
 * blocked nonparametric ANOVA (Friedman) that completes the q272/q299
 * rank-test family. Same determinism contract as the rest of the catalog:
 * integer sufficient statistics wherever the data allows, fixed
 * parenthesization on every double combination, and key-ascending list
 * folds for every order-sensitive float sum.
 */
object CatalogNext {

  /** Sorted-key double fold: bit-identical to the oracle's
    * `list_reduce(list_prepend(0.0, list(v ORDER BY k)))`. */
  // Round 16: the ordered fold runs as ONE codegen'd kernel
  // (graft_ordered_sum) instead of the interpreted transform+aggregate
  // HOF pair — bit-compatible per OrderedStructSum's doc (same adds in
  // the same sorted order, same int->double cast per element).
  private def foldSorted(k: Column, v: Column): Column =
    graft.functions.GraftFunctions.orderedSum(
      sort_array(collect_list(struct(k.as("k"), v.as("v")))))

  /** Exact cents of a 2-decimal double dollar column (noise-free: the
    * inputs are integral multiples of 0.01 so x*100 rounds cleanly). */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** q208's per-user survival frame: t = days from first event to first
    * big purchase (value > 150), right-censored at the corpus end, with a
    * deterministic two-arm split on user-id parity for the log-rank test. */
  private[graft] def survivalFrame(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val users = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_d"),
        min(when(col("event_type") === "purchase" && col("value") > 150.0,
          to_date(col("ts")))).as("conv_d"))
    val horizon = ev.agg(max(to_date(col("ts"))).as("max_d"))
    users.crossJoin(broadcast(graft.ops.Guards.scalar(horizon)))
      .select((col("user_id") % 2).as("g"),
        datediff(coalesce(col("conv_d"), col("max_d")), col("first_d"))
          .cast("long").as("t"),
        col("conv_d").isNotNull.cast("long").as("death"))
  }

  /** Two-sample log-rank test (Mantel 1966) comparing time-to-conversion
    * between the two user arms: at every pooled death time, observed arm-0
    * deaths vs the hypergeometric expectation d·n₀∕n and variance
    * d·(n₀∕n)(n₁∕n)(n−d)∕(n−1); χ² = (O−E)²∕V. At-risk counts come from a
    * cumulative window over the day-grain table (≤ calendar days rows —
    * the distributed work is the per-user aggregate, one shuffle), deaths
    * are exact integers, and the E/V sums are t-ascending folds, so both
    * engines produce identical doubles. The censoring-aware A/B read of
    * q205's conversion metric. */
  def q301LogRank(s: SparkSession, dir: String): DataFrame = {
    val life = survivalFrame(s, dir)
    val byT = life.groupBy(col("t")).agg(
      sum(when(col("g") === 0, lit(1L)).otherwise(lit(0L))).as("e1"),
      sum(when(col("g") === 1, lit(1L)).otherwise(lit(0L))).as("e2"),
      sum(when(col("g") === 0, col("death")).otherwise(lit(0L))).as("d1"),
      sum(when(col("g") === 1, col("death")).otherwise(lit(0L))).as("d2"))
    val tot = life.agg(
      sum(when(col("g") === 0, lit(1L)).otherwise(lit(0L))).as("n1tot"),
      sum(when(col("g") === 1, lit(1L)).otherwise(lit(0L))).as("n2tot"))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val risk = byT.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("t"), col("d1"), col("d2"),
        (col("n1tot") - coalesce(sum(col("e1")).over(wPrev), lit(0L))).as("n1"),
        (col("n2tot") - coalesce(sum(col("e2")).over(wPrev), lit(0L))).as("n2"))
    val terms = risk
      .withColumn("dt", col("d1") + col("d2"))
      .withColumn("nt", col("n1") + col("n2"))
      .filter(col("dt") > 0)
      .select(col("t"), col("d1"),
        ((col("dt") * col("n1")).cast("double") / col("nt").cast("double"))
          .as("eexp"),
        when(col("nt") > 1,
          ((col("dt") * col("n1")).cast("double") / col("nt").cast("double"))
            * (col("n2").cast("double") / col("nt").cast("double"))
            * ((col("nt") - col("dt")).cast("double")
              / (col("nt") - 1).cast("double")))
          .otherwise(lit(0.0)).as("v"))
    terms.agg(count(lit(1)).as("n_times"), sum(col("d1")).as("o1"),
        foldSorted(col("t"), col("eexp")).as("e1"),
        foldSorted(col("t"), col("v")).as("v1"))
      .select(col("n_times"), col("o1"), col("e1"), col("v1"),
        ((col("o1").cast("double") - col("e1"))
          * (col("o1").cast("double") - col("e1")) / col("v1")).as("chi2"))
  }

  /** Nelson–Aalen cumulative-hazard estimator over the q208 survival
    * frame: H(t) = Σ_{t'≤t} d∕n with the standard variance estimate
    * Σ d∕n² — the hazard-scale dual of the KM survival curve (Aalen
    * 1978), preferred when curves are compared additively. Same two
    * shuffles as q208; cumulative sums ride the t-ordered window (the
    * q208-proven cumulative-double-window shape). */
  def q302NelsonAalen(s: SparkSession, dir: String): DataFrame = {
    val life = survivalFrame(s, dir)
    val byT = life.groupBy(col("t"))
      .agg(count(lit(1)).as("ending"), sum(col("death")).as("d"))
    val wRisk = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .select(col("t"), col("d"), sum(col("ending")).over(wRisk).as("n_risk"))
      .filter(col("d") > 0)
      .select(col("t"), col("n_risk"), col("d"),
        (col("d").cast("double") / col("n_risk").cast("double")).as("hazard"),
        sum(col("d").cast("double") / col("n_risk").cast("double")).over(wCum)
          .as("na_cum"),
        sum(col("d").cast("double")
          / (col("n_risk").cast("double") * col("n_risk").cast("double")))
          .over(wCum).as("var_cum"))
      .orderBy(col("t"))
  }

  /** Mantel–Haenszel common odds ratio + χ² across nation strata:
    * exposure = AUTOMOBILE market segment, outcome = account balance >
    * 5000 — "does the segment associate with high balance, controlling
    * for nation?" Each stratum contributes one 2×2 of exact integer
    * counts; OR_MH = Σaᵢdᵢ∕nᵢ ∕ Σbᵢcᵢ∕nᵢ and the MH χ² use one divide
    * per stratum with stratum-ascending folds (~25 rows after one
    * shuffle, any customer count). The stratified-confounding companion
    * to q225's stratified ATE. */
  def q303MantelHaenszel(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val ex = col("c_mktsegment") === "AUTOMOBILE"
    val out = col("c_acctbal") > 5000.0
    val tab = c.groupBy(col("c_nationkey").as("stratum")).agg(
        sum(when(ex && out, lit(1L)).otherwise(lit(0L))).as("a"),
        sum(when(ex && !out, lit(1L)).otherwise(lit(0L))).as("b"),
        sum(when(!ex && out, lit(1L)).otherwise(lit(0L))).as("c"),
        sum(when(!ex && !out, lit(1L)).otherwise(lit(0L))).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .filter(col("n") > 1)
    val terms = tab.select(col("stratum"), col("a"),
      ((col("a") * col("d")).cast("double") / col("n").cast("double"))
        .as("adn"),
      ((col("b") * col("c")).cast("double") / col("n").cast("double"))
        .as("bcn"),
      (((col("a") + col("b")) * (col("a") + col("c"))).cast("double")
        / col("n").cast("double")).as("e"),
      (((col("a") + col("b")) * (col("c") + col("d"))).cast("double")
        * ((col("a") + col("c")) * (col("b") + col("d"))).cast("double")
        / (col("n").cast("double") * col("n").cast("double")
          * (col("n") - 1).cast("double"))).as("v"))
    terms.agg(count(lit(1)).as("n_strata"), sum(col("a")).as("sum_o"),
        foldSorted(col("stratum"), col("adn")).as("sum_ad"),
        foldSorted(col("stratum"), col("bcn")).as("sum_bc"),
        foldSorted(col("stratum"), col("e")).as("sum_e"),
        foldSorted(col("stratum"), col("v")).as("sum_v"))
      .select(col("n_strata"), col("sum_o"), col("sum_e"), col("sum_v"),
        (col("sum_ad") / col("sum_bc")).as("or_mh"),
        ((col("sum_o").cast("double") - col("sum_e"))
          * (col("sum_o").cast("double") - col("sum_e")) / col("sum_v"))
          .as("chi2_mh"))
  }

  /** Fleiss' κ (1971) for three deterministic auto-labelers on the
    * documents table: each rater reports the true lang except on an
    * md5-drawn 1∕20 of docs where it reports an md5-drawn category —
    * inter-rater chance-corrected agreement beyond q288's two-rater
    * Cohen κ. Everything up to the final three divides is exact integer
    * arithmetic (Σᵢⱼ nᵢⱼ² is an integer; category marginals are counts),
    * and the chance term is a category-ascending fold over ≤5 rows. */
  def q304FleissKappa(s: SparkSession, dir: String): DataFrame = {
    val langs = array(lit("de"), lit("en"), lit("es"), lit("fr"), lit("zh"))
    def rater(j: Int): Column = {
      val ma = md5(concat(lit(s"flk$j:"), col("doc_id")))
      val flip = conv(substring(ma, 1, 4), 16, 10).cast("long") % 20
      val pick = (conv(substring(ma, 5, 2), 16, 10).cast("long") % 5)
        .cast("int") + 1
      when(flip === 0, element_at(langs, pick)).otherwise(col("lang"))
    }
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val ratings = docs.select(col("doc_id"),
      explode(array(rater(1), rater(2), rater(3))).as("cat"))
    val nij = ratings.groupBy(col("doc_id"), col("cat"))
      .agg(count(lit(1)).as("nij"))
    val sumSq = nij.agg(sum(col("nij") * col("nij")).as("ssq"),
      (sum(col("nij")) / 3).cast("long").as("n_docs"))
    val pj = ratings.groupBy(col("cat")).agg(count(lit(1)).as("cj"))
    val pe = pj.crossJoin(broadcast(graft.ops.Guards.scalar(sumSq.select(col("n_docs")))))
      .agg(foldSorted(col("cat"),
        (col("cj").cast("double") / (col("n_docs") * 3).cast("double"))
          * (col("cj").cast("double") / (col("n_docs") * 3).cast("double")))
        .as("p_e"))
    sumSq.crossJoin(broadcast(graft.ops.Guards.scalar(pe)))
      .select(col("n_docs"), lit(3L).as("n_raters"),
        ((col("ssq") - col("n_docs") * 3).cast("double")
          / (col("n_docs") * 6).cast("double")).as("p_bar"),
        col("p_e"))
      .withColumn("kappa",
        (col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")))
  }

  /** Jarque–Bera normality test (1980) on the daily order-count series:
    * skewness and excess kurtosis from the first four raw moments, JB =
    * n∕6·(S² + (K−3)²∕4). The four power sums are EXACT int64 (counts
    * ≤ a few hundred per day, so ΣC⁴ fits with orders of magnitude to
    * spare at any SF); the central-moment combination is a fixed
    * parenthesization both engines replay, and m2^(3/2) is m2·√m2 — an
    * IEEE-exact sqrt, no pow. One day-grain shuffle regardless of order
    * volume. */
  def q305JarqueBera(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"))
      .agg(count(lit(1)).as("c"))
    val mom = daily.agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
      sum(col("c") * col("c")).as("s2"),
      sum(col("c") * col("c") * col("c")).as("s3"),
      sum(col("c") * col("c") * col("c") * col("c")).as("s4"))
    mom
      .withColumn("m", col("s1").cast("double") / col("n").cast("double"))
      .withColumn("m2", col("s2").cast("double") / col("n").cast("double")
        - col("m") * col("m"))
      .withColumn("m3", col("s3").cast("double") / col("n").cast("double")
        - lit(3.0) * col("m") * (col("s2").cast("double") / col("n").cast("double"))
        + lit(2.0) * col("m") * col("m") * col("m"))
      .withColumn("m4", col("s4").cast("double") / col("n").cast("double")
        - lit(4.0) * col("m") * (col("s3").cast("double") / col("n").cast("double"))
        + lit(6.0) * (col("m") * col("m"))
          * (col("s2").cast("double") / col("n").cast("double"))
        - lit(3.0) * (col("m") * col("m")) * (col("m") * col("m")))
      .withColumn("skew", col("m3") / (col("m2") * sqrt(col("m2"))))
      .withColumn("kurt", col("m4") / (col("m2") * col("m2")))
      .select(col("n").as("n_days"), col("m").as("mean_daily"), col("m2"),
        col("skew"), col("kurt"),
        (col("n").cast("double") / lit(6.0)
          * (col("skew") * col("skew")
            + (col("kurt") - lit(3.0)) * (col("kurt") - lit(3.0)) / lit(4.0)))
          .as("jb"))
  }

  /** Brown–Forsythe Levene test (1974) for equal acctbal spread across
    * market segments: one-way ANOVA F on |x − median_g|, the
    * heteroscedasticity check that should precede q272's ANOVA. Exact
    * machinery: balances become integer cents, group medians are exact
    * order-statistic picks (lower median via `div`, custkey
    * tie-break), the |deviation| values and their squares are integers,
    * and the two sums of squares combine per-group integer sufficient
    * statistics with group-ascending folds. Two shuffles (per-group
    * rank, per-group moments) at any scale. */
  def q306LeveneBf(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_mktsegment").as("seg"), col("c_custkey"),
        cents(col("c_acctbal")).as("x"))
    val w = Window.partitionBy(col("seg"))
      .orderBy(col("x"), col("c_custkey"))
    val med = c
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("seg"))))
      .filter(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("seg"), col("x").as("med"))
    val z = c.join(med, Seq("seg"))
      .select(col("seg"), abs(col("x") - col("med")).as("z"))
    val grp = z.groupBy(col("seg")).agg(count(lit(1)).as("ng"),
      sum(col("z")).as("sz"), sum(col("z") * col("z")).as("sz2"))
    grp.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(col("sz")).as("szall"), sum(col("sz2")).as("sz2all"),
        foldSorted(col("seg"),
          col("sz").cast("double") * col("sz").cast("double")
            / col("ng").cast("double")).as("fold_g"))
      .select(col("k"), col("n"),
        (col("fold_g") - col("szall").cast("double")
          * col("szall").cast("double") / col("n").cast("double"))
          .as("ss_between"),
        (col("sz2all").cast("double") - col("fold_g")).as("ss_within"))
      .withColumn("f_stat",
        (col("ss_between") / (col("k") - 1).cast("double"))
          / (col("ss_within") / (col("n") - col("k")).cast("double")))
  }

  /** Durbin–Watson autocorrelation diagnostic (1950) on the residuals of
    * the daily-revenue-vs-time OLS line: DW = Σ(eₜ−eₜ₋₁)² ∕ Σeₜ². The
    * regression's sufficient statistics are exact int64 (revenue in
    * cents, Σi·y bounded ~1e15 at sf0.1; the final β combination is done
    * in doubles with fixed parenthesization so the same code survives
    * sf1+), residuals are per-day doubles, the lagged difference rides a
    * day-ordered window, and both DW sums are day-ascending folds over
    * the ≤2,500-row day grain. q259's regression diagnostics, extended
    * to serial correlation. */
  def q307DurbinWatson(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"))
      .agg(sum(cents(col("o_totalprice"))).as("y"))
    val idx = daily.withColumn("i",
      row_number().over(Window.orderBy(col("ds"))).cast("long"))
    val sums = idx.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
      sum(col("i") * col("y")).as("sxy"))
    val fit = sums
      .withColumn("sx", expr("n * (n + 1) div 2"))
      .withColumn("sxx", expr("n * (n + 1) * (2 * n + 1) div 6"))
      .withColumn("beta",
        (col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")))
      .withColumn("alpha",
        (col("sy").cast("double") - col("beta") * col("sx").cast("double"))
          / col("n").cast("double"))
    val resid = idx.crossJoin(broadcast(graft.ops.Guards.scalar(fit.select(col("n"), col("beta"), col("alpha")))))
      .withColumn("e",
        col("y").cast("double") - (col("alpha") + col("beta") * col("i").cast("double")))
      .withColumn("ep", lag(col("e"), 1).over(Window.orderBy(col("i"))))
    resid.agg(max(col("n")).as("n_days"), max(col("beta")).as("beta"),
        max(col("alpha")).as("alpha"),
        foldSorted(col("i"),
          when(col("ep").isNull, lit(0.0))
            .otherwise((col("e") - col("ep")) * (col("e") - col("ep"))))
          .as("dnum"),
        foldSorted(col("i"), col("e") * col("e")).as("dden"))
      .select(col("n_days"), col("beta"), col("alpha"),
        (col("dnum") / col("dden")).as("dw"))
  }

  /** Grubbs' single-outlier test (1950) on customer balances: G =
    * max|x−x̄|∕s with the argmax row identified (custkey tie-break).
    * Mean and sample variance come from exact integer cent sums (the
    * S·mean cross term is combined in doubles with fixed parenthesization
    * so the identical code survives scales where S² would overflow
    * int64); the max-deviation pick is a TakeOrdered top-1. One scan +
    * one reduce + one top-1 at any scale. */
  def q308Grubbs(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), cents(col("c_acctbal")).as("x"))
    val st = c.agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"))
      .withColumn("mean", col("s1").cast("double") / col("n").cast("double"))
      .withColumn("s", sqrt(
        (col("s2").cast("double") - col("s1").cast("double") * col("mean"))
          / (col("n") - 1).cast("double")))
    c.crossJoin(broadcast(graft.ops.Guards.scalar(st)))
      .withColumn("dev", abs(col("x").cast("double") - col("mean")))
      .orderBy(col("dev").desc, col("c_custkey"))
      .limit(1)
      .select(col("n").as("n_cust"),
        (col("mean") / lit(100.0)).as("mean_bal"),
        (col("dev") / col("s")).as("g_stat"),
        col("c_custkey").as("outlier_custkey"),
        (col("x").cast("double") / lit(100.0)).as("outlier_bal"))
  }

  /** Friedman blocked rank test (1937): do the five event types keep the
    * same traffic ordering across days? Blocks = days, treatments =
    * event types, values = daily counts; within-block midranks use the
    * q299 distinct-value frame (2·midrank stays integer), rank sums are
    * exact integers, and the tie-corrected statistic divides two numbers
    * both derived from integer sufficient statistics. Day-grain work
    * only — the scan reduces to b·k cells in one shuffle. */
  def q309Friedman(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("ds"),
        col("event_type"))
      .agg(count(lit(1)).as("v"))
    val byv = cells.groupBy(col("ds"), col("v")).agg(count(lit(1)).as("c"))
    val wb = Window.partitionBy(col("ds")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val ranked = byv
      .withColumn("rlo", coalesce(sum(col("c")).over(wb), lit(0L)) + 1)
      .select(col("ds"), col("v"), (col("rlo") * 2 + col("c") - 1).as("ar2"),
        (col("c") * col("c") * col("c") - col("c")).as("tie3"))
    val perTreat = cells.join(ranked, Seq("ds", "v"))
      .groupBy(col("event_type")).agg(sum(col("ar2")).as("r2"))
    val base = cells.agg(count_distinct(col("ds")).as("b"),
      count_distinct(col("event_type")).as("k"))
    val ties = ranked.agg(sum(col("tie3")).as("tsum"))
    perTreat
      .agg(foldSorted(col("event_type"),
        (col("r2").cast("double") / lit(2.0))
          * (col("r2").cast("double") / lit(2.0))).as("sumr2"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(base))).crossJoin(broadcast(graft.ops.Guards.scalar(ties)))
      .withColumn("q_stat",
        lit(12.0) / (col("b").cast("double") * col("k").cast("double")
          * (col("k") + 1).cast("double")) * col("sumr2")
          - lit(3.0) * col("b").cast("double") * (col("k") + 1).cast("double"))
      .withColumn("c_ties", lit(1.0) - col("tsum").cast("double")
        / (col("b") * (col("k") * col("k") * col("k") - col("k"))).cast("double"))
      .select(col("b").as("n_blocks"), col("k").as("n_treatments"),
        col("q_stat"),
        when(col("c_ties") > 0.0, col("q_stat") / col("c_ties"))
          .otherwise(lit(Double.NaN)).as("q_tie_corrected"))
  }

  /** Cronbach's α (1951) treating the five event types as items and each
    * user's per-type activity count as the item score: internal
    * consistency of the "engagement scale", α = k∕(k−1)·(1 −
    * Σvarᵢ∕var_total). The dense user×item grid comes from a broadcast
    * explode of the fixed item list (missing cells are true zeros); all
    * variances reduce to integer Σx/Σx² per item and per user-total, and
    * the item-variance sum is an item-ascending 5-row fold. One shuffle
    * on user_id at any event volume. */
  def q310Cronbach(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val ev = Tables.events(s, dir)
    val counts = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val itemsDf = s.range(1)
      .select(explode(array(types.map(lit): _*)).as("item"))
    val grid = ev.select(col("user_id")).distinct()
      .crossJoin(broadcast(graft.ops.Guards.bounded(itemsDf, types.size)))
    val x = grid.join(counts,
        grid("user_id") === counts("user_id")
          && grid("item") === counts("event_type"), "left")
      .select(grid("user_id"), grid("item"),
        coalesce(col("cnt"), lit(0L)).as("x"))
    val perItem = x.groupBy(col("item")).agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sx2"))
    val itemVar = perItem.agg(max(col("n")).as("n_users"),
      foldSorted(col("item"),
        (col("sx2").cast("double") - col("sx").cast("double")
          * (col("sx").cast("double") / col("n").cast("double")))
          / (col("n") - 1).cast("double")).as("sum_item_var"))
    val totals = x.groupBy(col("user_id")).agg(sum(col("x")).as("t"))
      .agg(count(lit(1)).as("nt"), sum(col("t")).as("st"),
        sum(col("t") * col("t")).as("st2"))
      .select(((col("st2").cast("double") - col("st").cast("double")
        * (col("st").cast("double") / col("nt").cast("double")))
        / (col("nt") - 1).cast("double")).as("total_var"))
    itemVar.crossJoin(broadcast(graft.ops.Guards.scalar(totals)))
      .select(lit(5L).as("k"), col("n_users"), col("sum_item_var"),
        col("total_var"),
        ((lit(5.0) / lit(4.0))
          * (lit(1.0) - col("sum_item_var") / col("total_var"))).as("alpha"))
  }

  /** md5-prefix uniform u32 ∈ [0, 2³²) of an arbitrary string column. */
  private def u32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  private def lg(x: Column): Column = graft.curation.Curation.lg(x)

  /** Maximum drawdown of the daily-revenue "equity curve" (cumulative
    * deviation from the mean daily revenue, scaled by n so every value
    * stays an exact int64: Eᵈ = n·Σᵢ≤ᵈ yᵢ − d·Σy). Running max and
    * drawdown are integer window ops; the only doubles are the final
    * dollar conversions. The trough is the max-drawdown argmax (date
    * tie-break), the peak is the earliest prefix day attaining the
    * running max. Day-grain work after one shuffle at any volume — the
    * classic risk statistic over q179/q263's daily series. */
  def q311MaxDrawdown(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"))
      .agg(sum(cents(col("o_totalprice"))).as("y"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
    val wCum = Window.orderBy(col("ds"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val eq = daily.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .withColumn("rn", row_number().over(Window.orderBy(col("ds"))).cast("long"))
      .withColumn("e", col("n") * sum(col("y")).over(wCum) - col("rn") * col("sy"))
      .withColumn("runmax", max(col("e")).over(wCum))
      .withColumn("dd", col("runmax") - col("e"))
    val trough = eq.orderBy(col("dd").desc, col("ds")).limit(1)
      .select(col("n").as("n_days"), col("ds").as("trough_ds"),
        col("runmax").as("rm"), col("dd"))
    val peak = eq.join(broadcast(trough), eq("e") === trough("rm")
        && eq("ds") <= trough("trough_ds"))
      .agg(min(eq("ds")).as("peak_ds"))
    trough.crossJoin(broadcast(graft.ops.Guards.scalar(peak)))
      .select(col("n_days"), col("peak_ds"), col("trough_ds"),
        (col("dd").cast("double") / (col("n_days").cast("double") * lit(100.0)))
          .as("max_drawdown"))
  }

  /** Historical VaR/CVaR (95%) on day-over-day revenue changes: the k =
    * ⌈n∕20⌉ worst changes are exact integer order-statistic picks (cent
    * diffs, date tie-break), VaR is the k-th worst and CVaR the mean of
    * the k worst — one divide. No interpolated quantiles, no
    * distributional assumption; the whole tail is integer arithmetic.
    * Day-grain sort of ~2.4k rows regardless of order volume. */
  def q312VarCvar(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"))
      .agg(sum(cents(col("o_totalprice"))).as("y"))
    val diffs = daily
      .withColumn("dy", col("y") - lag(col("y"), 1).over(Window.orderBy(col("ds"))))
      .filter(col("dy").isNotNull)
    val ranked = diffs
      .withColumn("rn",
        row_number().over(Window.orderBy(col("dy"), col("ds"))).cast("long"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(diffs.agg(count(lit(1)).as("n")))))
      .withColumn("k", expr("(n + 19) div 20"))
    ranked.filter(col("rn") <= col("k"))
      .groupBy(col("n"), col("k"))
      .agg(max(col("dy")).as("kth"), sum(col("dy")).as("tailsum"))
      .select(col("n").as("n_changes"), col("k").as("k_tail"),
        (-(col("kth").cast("double") / lit(100.0))).as("var95_loss"),
        (-(col("tailsum").cast("double")
          / (col("k").cast("double") * lit(100.0)))).as("cvar95_loss"))
  }

  /** Additive Holt–Winters (period 7, α=1∕2, β=1∕4, γ=1∕2 — all
    * exactly-representable) over the daily event series: level, trend,
    * seasonal slot and one-step forecast per day. Distributed work is
    * the day-grain count; the inherently sequential recurrence runs
    * driver-side over the collected day series (calendar-bounded, q289's
    * pattern) with exactly the arithmetic the oracle's recursive CTE
    * replays — seasonal state rides a 7-slot rotating vector initialized
    * to zeros. */
  def q313HoltWinters(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("ds"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("ds"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val out = Array.newBuilder[(Long, String, Long, Double, Double, Double, Option[Double])]
    var l = 0.0; var t = 0.0
    var sv = Vector.fill(7)(0.0)
    daily.zipWithIndex.foreach { case ((ds, c), i0) =>
      val i = i0 + 1L
      if (i == 1L) {
        l = c.toDouble; t = 0.0
        out += ((i, ds, c, l, t, 0.0, None))
      } else {
        val sh = sv(0)
        val fcst = l + t + sh
        val lNew = 0.5 * (c.toDouble - sh) + 0.5 * (l + t)
        val tNew = 0.25 * (lNew - l) + 0.75 * t
        val sNew = 0.5 * (c.toDouble - lNew) + 0.5 * sh
        sv = sv.tail :+ sNew
        l = lNew; t = tNew
        out += ((i, ds, c, l, t, sh, Some(fcst)))
      }
    }
    import s.implicits._
    out.result().toSeq
      .toDF("i", "ds", "c", "level", "trend", "seasonal", "fcst")
      .orderBy(col("i"))
  }

  /** Partial autocorrelation (lags 1–5) of the daily event series via
    * Durbin–Levinson. The engine computes the autocovariance sufficient
    * statistics EXACTLY (q207's centered-integer trick: cₜ = n·xₜ − Σx
    * stays int64; lag products and their sums are exact integers), so
    * the five ρₖ are one divide each; the Levinson recursion is
    * state-sized driver math with j-ascending accumulation, unrolled
    * CTE-for-CTE by the oracle. */
  def q314Pacf(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
    val tot = daily.agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
    val cser = daily.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("d"), (col("n") * col("x") - col("sx")).as("c"))
    val w = Window.orderBy(col("d"))
    val lagged = cser.select(
      col("c") +: (1 to 5).map(k => lag(col("c"), k).over(w).as(s"c$k")): _*)
    val aggCols = sum(col("c") * col("c")).as("den") +:
      (1 to 5).map(k => sum(col("c") * col(s"c$k")).as(s"num$k"))
    val row = lagged.agg(aggCols.head, aggCols.tail: _*).collect().head
    val den = row.getAs[Long]("den").toDouble
    val r = (1 to 5).map(k => row.getAs[Long](s"num$k").toDouble / den).toArray
    // Durbin–Levinson, j-ascending partial sums (mirrors the oracle).
    val phi = Array.ofDim[Double](6, 6)
    val pacf = Array.ofDim[Double](6)
    var v = 0.0
    phi(1)(1) = r(0); pacf(1) = r(0); v = 1.0 - r(0) * r(0)
    for (k <- 2 to 5) {
      var acc = 0.0
      for (j <- 1 until k) acc += phi(k - 1)(j) * r(k - 1 - j)
      val pkk = (r(k - 1) - acc) / v
      for (j <- 1 until k) phi(k)(j) = phi(k - 1)(j) - pkk * phi(k - 1)(k - j)
      phi(k)(k) = pkk; pacf(k) = pkk
      v = v * (1.0 - pkk * pkk)
    }
    import s.implicits._
    (1 to 5).map(k => (k.toLong, r(k - 1), pacf(k))).toDF("lag", "acf", "pacf")
      .orderBy(col("lag"))
  }

  /** Single change-point detection on daily revenue (binary segmentation,
    * first split): argmin over t of SSE(1..t)+SSE(t+1..n) from integer
    * prefix sums (whole-dollar revenue keeps ΣY² in int64 at tested
    * scales; each candidate's SSE is two fixed-shape divides). The scan
    * reduces to the day grain, the candidate sweep is a window over
    * ~2.4k rows, and the pick is an exact (sse, t) ordering — the
    * mean-shift counterpart of q136's CUSUM drift alarm. */
  def q315Changepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"))
      .agg(sum(round(col("o_totalprice")).cast("long")).as("y"))
    val wCum = Window.orderBy(col("ds"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = daily
      .withColumn("i", row_number().over(Window.orderBy(col("ds"))).cast("long"))
      .withColumn("p", sum(col("y")).over(wCum))
      .withColumn("q", sum(col("y") * col("y")).over(wCum))
    val tot = pre.agg(max(col("i")).as("n"), max(col("p")).as("pn"),
      max(col("q")).as("qn"))
    val cand = pre.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .filter(col("i") >= 2 && col("i") <= col("n") - 2)
      .withColumn("sse_l", col("q").cast("double")
        - col("p").cast("double") * col("p").cast("double") / col("i").cast("double"))
      .withColumn("sse_r", (col("qn") - col("q")).cast("double")
        - (col("pn") - col("p")).cast("double") * (col("pn") - col("p")).cast("double")
          / (col("n") - col("i")).cast("double"))
      .withColumn("sse_split", col("sse_l") + col("sse_r"))
    cand.orderBy(col("sse_split"), col("i")).limit(1)
      .select(col("n").as("n_days"), col("i").as("split_i"),
        col("ds").as("split_ds"),
        (col("qn").cast("double") - col("pn").cast("double")
          * col("pn").cast("double") / col("n").cast("double")).as("sse_full"),
        col("sse_split"),
        (col("p").cast("double") / col("i").cast("double")).as("mean_left"),
        ((col("pn") - col("p")).cast("double")
          / (col("n") - col("i")).cast("double")).as("mean_right"))
  }

  /** Geo radius self-join with grid blocking: customers get deterministic
    * md5-derived positions on an integer micro-degree lattice (2°×2°
    * box), points are bucketed into 0.02° cells, and each point probes
    * its 3×3 cell neighborhood — an EQUI join on the cell key, so the
    * candidate set is density-bounded instead of n². Squared distance
    * stays exact int64; the 10 closest pairs are an exact (d², key)
    * pick. The meters column is illustrative (1 µdeg ≈ 0.11132 m at this
    * latitude, embedded e0-form). The spatial-blocking discipline a
    * 100 TB point corpus needs — same shape as the LSH band joins. */
  def q316GeoRadiusJoin(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.customer(s, dir).select(col("c_custkey").as("key"),
      (u32(concat(lit("glat:"), col("c_custkey"))) % 2000000L).as("ilat"),
      (u32(concat(lit("glon:"), col("c_custkey"))) % 2000000L).as("ilon"))
    val cells = pts
      .withColumn("cl", expr("ilat div 20000"))
      .withColumn("cn", expr("ilon div 20000"))
    val probes = cells.select(col("key").as("a"), col("ilat").as("alat"),
        col("ilon").as("alon"),
        explode(array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
          struct((col("cl") + dx).as("pl"), (col("cn") + dy).as("pn")))): _*))
          .as("p"))
      .select(col("a"), col("alat"), col("alon"),
        col("p.pl").as("pl"), col("p.pn").as("pn"))
    val pairs = probes.join(cells,
        probes("pl") === cells("cl") && probes("pn") === cells("cn")
          && probes("a") < cells("key"))
      .select(col("a"), col("key").as("b"),
        ((col("alat") - col("ilat")) * (col("alat") - col("ilat"))
          + (col("alon") - col("ilon")) * (col("alon") - col("ilon"))).as("d2"))
    pairs.orderBy(col("d2"), col("a"), col("b")).limit(10)
      .select(col("a").as("a_key"), col("b").as("b_key"), col("d2"),
        (sqrt(col("d2").cast("double")) * lit(0.11132e0)).as("meters"))
  }

  /** Multinomial naive Bayes language classifier trained in-engine:
    * hashed-word features (1024 buckets), Laplace smoothing, and
    * per-(doc, lang) log-likelihoods in exact-lg bits — every lg
    * argument is an integer count, the per-doc fold runs in token-
    * position order, and the constant −n_tok·lg(c_L+1024) term is one
    * multiply. Train counts broadcast (≤ 5·1024 rows); scoring is one
    * shuffle on doc_id. Output: resubstitution confusion matrix — the
    * generatively-trained counterpart of q123's discriminative LR. (On
    * this corpus the vocabulary is shared across langs — no lexical
    * signal — so the classifier provably falls back to the prior; the
    * spec asserts exactly that behavior.) */
  def q317NaiveBayes(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      col("text"))
    // round 15: cut, narrow — the tokenize + md5-feature chain feeds THREE
    // independent aggregations (cf, cl, scored) with no shared exchange, so
    // it re-executed per consumer; the token text `w` is dropped before the
    // cut (only the hashed feature flows downstream — guide §2.3 project
    // early)
    val toks = graft.ops.IterativeLoop.cutLazy(docs
      .select(col("doc_id"), col("lang").as("true_lang"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .withColumn("f", u32(concat(lit("nbf:"), col("w"))) % 1024L)
      .drop("w"))
    val cf = toks.groupBy(col("true_lang").as("l"), col("f"))
      .agg(count(lit(1)).as("cf"))
    val cl = toks.groupBy(col("true_lang").as("l")).agg(count(lit(1)).as("cl"))
    val nd = docs.groupBy(col("lang").as("l")).agg(count(lit(1)).as("nd"))
    val ndTot = docs.agg(count(lit(1)).as("ndtot"))
    val langsDf = nd.select(col("l"))
    val scored = toks.select(col("doc_id"), col("pos"), col("f"))
      .crossJoin(broadcast(graft.ops.Guards.bounded(langsDf, 64)))
      .join(broadcast(cf), Seq("l", "f"), "left")
      .select(col("doc_id"), col("l"), col("pos"),
        lg(coalesce(col("cf"), lit(0L)) + 1).as("lgterm"))
      .groupBy(col("doc_id"), col("l"))
      .agg(count(lit(1)).as("ntok"),
        foldSorted(col("pos"), col("lgterm")).as("sumlg"))
    val full = scored
      .join(broadcast(cl), Seq("l"))
      .join(broadcast(nd), Seq("l"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(ndTot)))
      .withColumn("score",
        (lg(col("nd")) - lg(col("ndtot"))) + col("sumlg")
          - col("ntok").cast("double") * lg(col("cl") + 1024L))
    val pred = full
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("l"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("l").as("pred_lang"))
    docs.join(pred, Seq("doc_id"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** Mean average precision @10 for token-overlap retrieval: queries are
    * the 10 lowest doc_ids, candidates are scored by EXACT distinct-
    * token intersection (integer overlap via the inverted index — one
    * token-key shuffle, candidate set bounded by document frequency, the
    * q122/q25 scale shape), relevance = same source. AP stays rational:
    * hit-rank reciprocals are lcm(1..10)=2520-scaled integers, so each
    * query contributes num∕(2520·min(R,10)) with ONE divide, folded
    * query-ascending into MAP. */
  def q318MapRetrieval(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val dtok = docs.select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w")).distinct()
    val qd = dtok.filter(col("doc_id") < 10)
      .select(col("doc_id").as("qid"), col("source").as("qsrc"), col("w"))
    val cd = dtok.filter(col("doc_id") >= 10)
      .select(col("doc_id").as("cid"), col("source").as("csrc"), col("w"))
    val ov = qd.join(cd, Seq("w"))
      .groupBy(col("qid"), col("qsrc"), col("cid"), col("csrc"))
      .agg(count(lit(1)).as("ov"))
    val ranked = ov
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("ov").desc, col("cid"))).cast("long"))
      .filter(col("rk") <= 10)
      .withColumn("rel", (col("csrc") === col("qsrc")).cast("long"))
      .withColumn("hits", sum(col("rel")).over(
        Window.partitionBy(col("qid")).orderBy(col("rk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val rtot = docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("qid"), col("source").as("qsrc"))
      .join(docs.filter(col("doc_id") >= 10)
        .groupBy(col("source").as("qsrc")).agg(count(lit(1)).as("nrel")),
        Seq("qsrc"), "left")
      .select(col("qid"),
        least(coalesce(col("nrel"), lit(0L)), lit(10L)).as("rq"))
    val ap = ranked
      .withColumn("apterm",
        when(col("rel") === 1, col("hits") * expr("2520 div rk"))
          .otherwise(lit(0L)))
      .groupBy(col("qid")).agg(sum(col("apterm")).as("apnum"))
      .join(rtot, Seq("qid"))
      .filter(col("rq") > 0)
      .select(col("qid"),
        (col("apnum").cast("double")
          / (lit(2520.0) * col("rq").cast("double"))).as("ap"))
    ap.agg(count(lit(1)).as("n_queries"),
      (foldSorted(col("qid"), col("ap"))
        / count(lit(1)).cast("double")).as("map10"))
  }

  /** Item–item cosine similarity on the user×item interaction-count
    * matrix (events props.k): dot products and norms are exact integers
    * (one user-key shuffle builds co-occurrence, the q156 shape), cosine
    * is one divide by two exact sqrts, and each low-id item's top-5
    * neighbors are an exact (cosine, item) window pick. The weighted
    * upgrade of q156's binary co-visitation lift — the classic
    * neighborhood recommender. */
  def q319ItemCosine(s: SparkSession, dir: String): DataFrame = {
    val ui = Tables.events(s, dir)
      .select(col("user_id").as("u"),
        variant_get(parse_json(col("props")), "$.k", "bigint").as("item"))
      .filter(col("item").isNotNull)
      .groupBy(col("u"), col("item")).agg(count(lit(1)).as("c"))
    val norms = ui.groupBy(col("item")).agg(sum(col("c") * col("c")).as("n2"))
    val pairs = ui.alias("x")
      .join(ui.alias("y"), col("x.u") === col("y.u")
        && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("i"), col("y.item").as("j"))
      .agg(sum(col("x.c") * col("y.c")).as("dot"))
    val cos = pairs
      .join(norms.select(col("item").as("i"), col("n2").as("ni")), Seq("i"))
      .join(norms.select(col("item").as("j"), col("n2").as("nj")), Seq("j"))
      .withColumn("cosine", col("dot").cast("double")
        / (sqrt(col("ni").cast("double")) * sqrt(col("nj").cast("double"))))
    cos.filter(col("i") < 10)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("i")).orderBy(col("cosine").desc, col("j"))))
      .filter(col("rk") <= 5)
      .select(col("i").as("item"), col("j").as("neighbor"), col("dot"),
        col("cosine"), col("rk").cast("long").as("rk"))
      .orderBy(col("item"), col("rk"))
  }

  /** Rank-1 ALS recommender trained in-engine: 3 alternating rounds of
    * the exact scalar least-squares updates uᵢ = Σrᵢⱼvⱼ∕Σvⱼ² (over the
    * user's rated items, item-ascending folds) and the symmetric item
    * update — every round is one groupBy per side, all folds
    * key-ascending so the oracle replays the whole training loop
    * CTE-for-CTE (q282/q290's trained-in-engine discipline). Output:
    * top-10 items by latent score with the global training RMSE (fold
    * over (u, item)-ordered residuals). */
  def q320AlsRank1(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.events(s, dir)
      .select(col("user_id").as("u"),
        variant_get(parse_json(col("props")), "$.k", "bigint").as("item"))
      .filter(col("item").isNotNull)
      .groupBy(col("u"), col("item")).agg(count(lit(1)).as("c"))
      .select(col("u"), col("item"), col("c").cast("double").as("r"))
    // v0 = 1.0 for every item
    var v = r.select(col("item")).distinct().withColumn("v", lit(1.0))
    var u: DataFrame = null
    val lid = graft.ops.PlanProbe.loopId()
    for (round <- 1 to 3) {
      u = r.join(v, Seq("item"))
        .groupBy(col("u"))
        .agg((foldSorted(col("item"), col("r") * col("v"))
          / foldSorted(col("item"), col("v") * col("v"))).as("uv"))
        .select(col("u"), col("uv").as("v_u"))
      v = r.join(u, Seq("u"))
        .groupBy(col("item"))
        .agg((foldSorted(col("u"), col("r") * col("v_u"))
          / foldSorted(col("u"), col("v_u") * col("v_u"))).as("v"))
      graft.ops.PlanProbe.offer(lid, round, v)
    }
    val pred = r.join(u, Seq("u")).join(v, Seq("item"))
      .select(col("u"), col("item"), col("r"),
        (col("v_u") * col("v")).as("p"))
    val rmse = pred
      .agg(sqrt(
        aggregate(
          transform(sort_array(collect_list(struct(col("u").as("k1"),
            col("item").as("k2"),
            ((col("r") - col("p")) * (col("r") - col("p"))).as("sq")))),
            e => e("sq")),
          lit(0.0), (a, x) => a + x)
        / count(lit(1)).cast("double")).as("rmse"))
    v.orderBy(col("v").desc, col("item")).limit(10)
      .crossJoin(broadcast(graft.ops.Guards.scalar(rmse)))
      .select(col("item"), col("v").as("v_score"), col("rmse"))
      .orderBy(col("v_score").desc, col("item"))
  }

  /** Driver-side twin of [[graft.curation.Curation.lg]] / the oracle's
    * lgSqlOf: exact-lg bits of a positive integer, identical arithmetic
    * shape ((len−1) + (x−p)∕p). */
  private def lgL(x: Long): Double = {
    val len = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val p = 1L << (len - 1)
    (len - 1).toDouble + (x - p).toDouble / p.toDouble
  }

  /** Newman spectral community detection on the item co-visitation graph:
    * 8 power iterations on the MODULARITY matrix B = A − ddᵀ∕2m, applied
    * implicitly (Bx = Ax − d·(dᵀx)∕2m — one neighbor-join aggregate plus
    * one broadcast scalar per round, never a materialized n×n matrix),
    * ∞-norm rescale per round, community = sign. md5-seeded ±1 start;
    * every fold neighbor-/item-ascending so the oracle replays all 8
    * rounds CTE-for-CTE. The eigen-structure path to the q235/q264
    * community questions — and the shape that scales: each round is one
    * edge-key shuffle. */
  def q321SpectralPartition(s: SparkSession, dir: String): DataFrame =
    spectralPartitionOf(s, dir, rounds = 8)

  /** q321's core with the power-iteration round count exposed (the
    * IterativeLoopSpec contraction law compares round counts). */
  private[graft] def spectralPartitionOf(s: SparkSession, dir: String,
      rounds: Int): DataFrame = {
    val ui = Tables.events(s, dir)
      .select(col("user_id").as("u"),
        variant_get(parse_json(col("props")), "$.k", "bigint").as("item"))
      .filter(col("item").isNotNull)
      .distinct()
    val edges = ui.alias("a")
      .join(ui.alias("b"), col("a.u") === col("b.u")
        && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("i"), col("b.item").as("j"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("i"), col("j"))
    // loop invariants materialized once: without the cut every round
    // re-runs the events self-join that builds the graph (8x the cost)
    val nbr = graft.ops.IterativeLoop.cutLazy(
      edges.select(col("i").as("a"), col("j").as("b"))
        .unionAll(edges.select(col("j").as("a"), col("i").as("b"))))
    val deg = graft.ops.IterativeLoop.cutLazy(
      nbr.groupBy(col("a").as("item")).agg(count(lit(1)).as("d")))
    val twom = deg.agg(sum(col("d")).as("twom"))
    val x0 = deg.select(col("item"),
      when(u32(concat(lit("sp:"), col("item"))) % 2 === 0, lit(1.0))
        .otherwise(lit(-1.0)).as("x"))
    // x is referenced twice per round (Ax and dᵀx) — IterativeLoop's
    // per-round cut is what keeps the plan from doubling (the q83 lesson)
    val x = graft.ops.IterativeLoop.fixed(x0, rounds) { (x, _) =>
      val ax = nbr.join(x.withColumnRenamed("item", "b")
          .withColumnRenamed("x", "xb"), Seq("b"))
        .groupBy(col("a").as("item"))
        .agg(foldSorted(col("b"), col("xb")).as("ax"))
      val sdx = deg.join(x, Seq("item"))
        .agg(foldSorted(col("item"), col("d").cast("double") * col("x"))
          .as("sdx"))
      // Round 16 (r15 VERDICT #5): cut bx before the ∞-norm — `mx` runs as
      // a broadcast scalar subquery, a SEPARATE execution from the main
      // projection, so the uncut neighbor-join + aggregate tree executed
      // TWICE per round (the q113/C9 pattern; guide §2.4 — at scale the
      // duplicate is a full edge-sized pass per round). The cut
      // materializes bx once; both the max-abs job and the rescale
      // projection read the persisted blocks. Values untouched.
      val bx = graft.ops.IterativeLoop.cutLazy(
        deg.join(ax, Seq("item"), "left")
          .crossJoin(broadcast(graft.ops.Guards.scalar(sdx))).crossJoin(broadcast(graft.ops.Guards.scalar(twom)))
          .select(col("item"),
            (coalesce(col("ax"), lit(0.0))
              - col("d").cast("double") * col("sdx")
                / col("twom").cast("double")).as("bx")))
      val mx = bx.agg(max(abs(col("bx"))).as("mx"))
      bx.crossJoin(broadcast(graft.ops.Guards.scalar(mx)))
        .select(col("item"), (col("bx") / col("mx")).as("x"))
    }
    x.select(col("item"), col("x").as("score"),
        when(col("x") >= 0.0, lit(1L)).otherwise(lit(0L)).as("community"))
      .orderBy(col("item"))
  }

  /** Interpolated Kneser–Ney bigram cross-entropy (Kneser & Ney 1995,
    * D=3∕4) over the corpus: P(w₂|w₁) = max(c₁₂−D,0)∕c₁ +
    * D·N₁₊(w₁·)∕c₁ · N₁₊(·w₂)∕types. The whole probability collapses to
    * ONE integer ratio per bigram — ((4c₁₂−3)·types + 3·N₁₊(w₁·)·
    * N₁₊(·w₂)) ∕ (4c₁·types) — so the per-occurrence log2 is exact-lg of
    * two int64s, folded (doc, pos)-ascending. The discounting upgrade of
    * q97/q120's MLE bigram model; counts are two shuffles, scoring one
    * broadcast join. */
  def q322KneserNey(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("pos", "w")))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val big = toks
      .withColumn("w1", lag(col("w"), 1).over(wDoc))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), col("pos"), col("w1"), col("w").as("w2"))
    val c12 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"),
      count(lit(1)).as("n1w1"))
    val cont = c12.groupBy(col("w2")).agg(count(lit(1)).as("ncont2"))
    val types = c12.agg(count(lit(1)).as("ntypes"))
    val scored = big
      .join(broadcast(c12), Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .join(broadcast(cont), Seq("w2"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(types)))
      .select(col("doc_id"), col("pos"), col("ntypes"),
        (lg((col("c12") * 4 - 3) * col("ntypes")
          + col("n1w1") * col("ncont2") * 3)
          - lg(col("c1") * 4 * col("ntypes"))).as("lgp"))
    scored.agg(count(lit(1)).as("n_bigrams"),
        max(col("ntypes")).as("n_bigram_types"),
        (-(foldSorted(struct(col("doc_id"), col("pos")), col("lgp"))
          / count(lit(1)).cast("double"))).as("cross_entropy_bits"))
  }

  /** Competing-risks cumulative incidence (Aalen–Johansen, two causes):
    * cause 1 = big-purchase conversion, cause 2 = first error event,
    * right-censored at the corpus end. At-risk counts and per-cause
    * deaths are exact integers on the day grain (q208's machinery); the
    * inherently sequential S(t−)·d∕n recursion runs driver-side over the
    * ≤31 death days with exactly the oracle's recursive-CTE arithmetic
    * (q289 pattern). CIF₁+CIF₂+S stays a partition of 1 — the law the
    * spec asserts. What q208's single-risk KM cannot express: which risk
    * absorbs the users. */
  def q323CompetingRisks(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val users = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_d"),
        min(when(col("event_type") === "purchase" && col("value") > 150.0,
          to_date(col("ts")))).as("ca_d"),
        min(when(col("event_type") === "error", to_date(col("ts"))))
          .as("cb_d"))
    val horizon = ev.agg(max(to_date(col("ts"))).as("max_d"))
    val life = users.crossJoin(broadcast(graft.ops.Guards.scalar(horizon)))
      .withColumn("ta", datediff(col("ca_d"), col("first_d")).cast("long"))
      .withColumn("tb", datediff(col("cb_d"), col("first_d")).cast("long"))
      .select(
        when(col("ca_d").isNull && col("cb_d").isNull,
          datediff(col("max_d"), col("first_d")).cast("long"))
          .otherwise(least(coalesce(col("ta"), lit(Long.MaxValue)),
            coalesce(col("tb"), lit(Long.MaxValue)))).as("t"),
        when(col("ca_d").isNull && col("cb_d").isNull, lit(0L))
          .when(col("cb_d").isNull
            || (col("ca_d").isNotNull && col("ta") <= col("tb")), lit(1L))
          .otherwise(lit(2L)).as("cause"))
    val byT = life.groupBy(col("t")).agg(count(lit(1)).as("ending"),
        sum((col("cause") === 1).cast("long")).as("da"),
        sum((col("cause") === 2).cast("long")).as("db"))
      .orderBy(col("t")).collect()
    val totalUsers = byT.map(_.getAs[Long]("ending")).sum
    var atRisk = totalUsers
    var sCur = 1.0; var cifA = 0.0; var cifB = 0.0
    val out = Array.newBuilder[(Long, Long, Long, Long, Double, Double, Double)]
    byT.foreach { r =>
      val t = r.getAs[Long]("t"); val e = r.getAs[Long]("ending")
      val da = r.getAs[Long]("da"); val db = r.getAs[Long]("db")
      if (da + db > 0) {
        val sBefore = sCur
        cifA = cifA + sBefore * (da.toDouble / atRisk.toDouble)
        cifB = cifB + sBefore * (db.toDouble / atRisk.toDouble)
        sCur = sCur * (1.0 - (da + db).toDouble / atRisk.toDouble)
        out += ((t, atRisk, da, db, sBefore, cifA, cifB))
      }
      atRisk -= e
    }
    import s.implicits._
    out.result().toSeq
      .toDF("t", "n_risk", "d_a", "d_b", "s_before", "cif_a", "cif_b")
      .orderBy(col("t"))
  }

  /** Tukey HSD studentized pairwise mean differences across the five
    * market segments: q = |x̄ᵢ−x̄ⱼ| ∕ √(MSW∕2·(1∕nᵢ+1∕nⱼ)) with MSW from
    * the one-way ANOVA decomposition — the post-hoc companion to q272's
    * F test, all from integer cent sums with group-ascending folds and
    * one fixed-shape sqrt per pair. 10 pair rows after one shuffle. */
  def q324TukeyHsd(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_mktsegment").as("seg"), cents(col("c_acctbal")).as("x"))
    val grp = c.groupBy(col("seg")).agg(count(lit(1)).as("ng"),
      sum(col("x")).as("s1"), sum(col("x") * col("x")).as("s2"))
    val msw = grp.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(col("s2")).as("s2all"),
        foldSorted(col("seg"), col("s1").cast("double")
          * col("s1").cast("double") / col("ng").cast("double")).as("fold_g"))
      .select(col("k"), col("n"),
        ((col("s2all").cast("double") - col("fold_g"))
          / (col("n") - col("k")).cast("double")).as("msw"))
    val a = grp.select(col("seg").as("seg_a"), col("ng").as("na"),
      (col("s1").cast("double") / col("ng").cast("double")).as("ma"))
    val b = grp.select(col("seg").as("seg_b"), col("ng").as("nb"),
      (col("s1").cast("double") / col("ng").cast("double")).as("mb"))
    a.join(b, col("seg_a") < col("seg_b"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(msw)))
      .select(col("seg_a"), col("seg_b"),
        ((col("ma") - col("mb")) / lit(100.0)).as("diff_bal"),
        (abs(col("ma") - col("mb"))
          / sqrt(col("msw") / lit(2.0)
            * (lit(1.0) / col("na").cast("double")
              + lit(1.0) / col("nb").cast("double")))).as("q_stat"))
      .orderBy(col("seg_a"), col("seg_b"))
  }

  /** 2-state HMM Viterbi decode of the daily traffic series (low/high
    * regime): discrete emission buckets from integer day counts, all
    * transition/emission log-probabilities are exact-lg of small
    * integers (4∕5 stay, 1∕5 switch; triangular emissions (10−b)∕55 vs
    * (b+1)∕55), so the DP scores are bit-reproducible doubles. The
    * distributed work is the day-grain count; the O(days·states²) DP +
    * backtrack runs driver-side (q289's calendar-bounded pattern), and
    * the oracle replays BOTH passes — forward recursion carrying
    * backpointer lists, then a recursive backtrack over them. */
  def q325HmmViterbi(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("ds"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("ds")).collect().map(r => (r.getString(0), r.getLong(1)))
    val minc = daily.map(_._2).min
    val maxc = daily.map(_._2).max
    val step = (maxc - minc) / 10 + 1
    val bs = daily.map { case (ds, c) =>
      (ds, c, math.min((c - minc) / step, 9L)) }
    val lg5 = lgL(5L); val lg4 = lgL(4L); val lg1 = lgL(1L)
    val lg2c = lgL(2L); val lg55 = lgL(55L)
    def eLow(b: Long): Double = lgL(10L - b) - lg55
    def eHigh(b: Long): Double = lgL(b + 1L) - lg55
    val n = bs.length
    val dl = new Array[Double](n + 1); val dh = new Array[Double](n + 1)
    val bl = new Array[Int](n + 1); val bh = new Array[Int](n + 1)
    bs.zipWithIndex.foreach { case ((_, _, b), i0) =>
      val i = i0 + 1
      if (i == 1) {
        dl(1) = (lg1 - lg2c) + eLow(b); dh(1) = (lg1 - lg2c) + eHigh(b)
        bl(1) = 0; bh(1) = 0
      } else {
        val toLowFromLow = dl(i - 1) + (lg4 - lg5)
        val toLowFromHigh = dh(i - 1) + (lg1 - lg5)
        if (toLowFromLow >= toLowFromHigh) {
          dl(i) = toLowFromLow + eLow(b); bl(i) = 0
        } else { dl(i) = toLowFromHigh + eLow(b); bl(i) = 1 }
        val toHighFromLow = dl(i - 1) + (lg1 - lg5)
        val toHighFromHigh = dh(i - 1) + (lg4 - lg5)
        if (toHighFromLow >= toHighFromHigh) {
          dh(i) = toHighFromLow + eHigh(b); bh(i) = 0
        } else { dh(i) = toHighFromHigh + eHigh(b); bh(i) = 1 }
      }
    }
    val path = new Array[Int](n + 1)
    path(n) = if (dl(n) >= dh(n)) 0 else 1
    for (j <- n - 1 to 1 by -1)
      path(j) = if (path(j + 1) == 0) bl(j + 1) else bh(j + 1)
    import s.implicits._
    bs.zipWithIndex.map { case ((ds, c, b), i0) =>
      val i = i0 + 1
      (i.toLong, ds, c, b, dl(i), dh(i), path(i).toLong)
    }.toSeq.toDF("i", "ds", "c", "bucket", "d_low", "d_high", "state")
      .orderBy(col("i"))
  }

  /** Leave-one-out 5-NN classifier accuracy on the embeddings table:
    * every 10th vector is a held-out query, scored against ALL other
    * vectors by exact cosine (the q28 broadcast-scored contract —
    * element-order dot folds, (cosine, id) tie-break), label = majority
    * vote among the 5 neighbors (count desc, label asc). Output:
    * label×predicted confusion counts — the supervised read of the
    * vector space that q28/q192's retrieval metrics don't give. */
  def q326KnnLoo(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"))
    val q = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_v"),
        col("label").as("q_label"))
    val scored = emb.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("c_id"),
        col("label").as("c_label"),
        graft.functions.GraftFunctions.cosine(col("q_v"), col("embedding"))
          .as("cosine"))
    val top = scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cosine").desc, col("c_id"))))
      .filter(col("rnk") <= 5)
    val pred = top.groupBy(col("q_id"), col("q_label"), col("c_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("votes").desc, col("c_label"))))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("q_label").as("label"),
        col("c_label").as("pred_label"))
    pred.groupBy(col("label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("pred_label"))
  }

  /** One pLSA EM round (Hofmann 1999), 2 topics, over the (doc, word)
    * count matrix: md5-seeded θ/φ initializations are exact integer
    * ratios, the E-step responsibility is one fixed-shape divide per
    * (doc, word), and both M-step normalizations are key-ascending
    * folds — the whole EM update is oracle-replayable. Output: each
    * topic's top-5 words by the updated φ. The topic-model seed the
    * corpus pipeline would iterate; one round shown, every further round
    * is the same shuffle pair (doc-key, word-key). */
  def q327PlsaEm(s: SparkSession, dir: String): DataFrame = {
    val ndw = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
    val theta = ndw.select(col("doc_id")).distinct()
      .withColumn("k0", u32(concat(lit("pl:"), col("doc_id"))) % 1000 + 500)
      .select(col("doc_id"),
        (col("k0").cast("double") / lit(2000.0)).as("th0"))
      .withColumn("th1", lit(1.0) - col("th0"))
    val phiRaw = ndw.select(col("w")).distinct()
      .withColumn("k0", u32(concat(lit("pw:0:"), col("w"))) % 1000 + 500)
      .withColumn("k1", u32(concat(lit("pw:1:"), col("w"))) % 1000 + 500)
    val phiTot = phiRaw.agg(sum(col("k0")).as("t0"), sum(col("k1")).as("t1"))
    val phi = phiRaw.crossJoin(broadcast(graft.ops.Guards.scalar(phiTot)))
      .select(col("w"),
        (col("k0").cast("double") / col("t0").cast("double")).as("ph0"),
        (col("k1").cast("double") / col("t1").cast("double")).as("ph1"))
    val resp = ndw
      .join(broadcast(theta), Seq("doc_id"))
      .join(broadcast(phi), Seq("w"))
      .withColumn("r0", col("th0") * col("ph0")
        / (col("th0") * col("ph0") + col("th1") * col("ph1")))
    val numW = resp.groupBy(col("w"))
      .agg(foldSorted(col("doc_id"),
          col("n").cast("double") * col("r0")).as("s0"),
        foldSorted(col("doc_id"),
          col("n").cast("double") * (lit(1.0) - col("r0"))).as("s1"))
    val den = numW.agg(foldSorted(col("w"), col("s0")).as("d0"),
      foldSorted(col("w"), col("s1")).as("d1"))
    val phiNew = numW.crossJoin(broadcast(graft.ops.Guards.scalar(den)))
      .select(col("w"), (col("s0") / col("d0")).as("phi0"),
        (col("s1") / col("d1")).as("phi1"))
    val t0 = phiNew
      .withColumn("rk", row_number().over(
        Window.orderBy(col("phi0").desc, col("w"))))
      .filter(col("rk") <= 5)
      .select(lit(0L).as("topic"), col("w").as("word"),
        col("phi0").as("phi"), col("rk").cast("long").as("rk"))
    val t1 = phiNew
      .withColumn("rk", row_number().over(
        Window.orderBy(col("phi1").desc, col("w"))))
      .filter(col("rk") <= 5)
      .select(lit(1L).as("topic"), col("w").as("word"),
        col("phi1").as("phi"), col("rk").cast("long").as("rk"))
    t0.unionAll(t1).orderBy(col("topic"), col("rk"))
  }

  /** Closeness + harmonic centrality for the 10 lowest-id items of the
    * co-visitation graph: per-seed BFS distances via 6 delta-frontier
    * rounds keyed on (seed, node) — each round one join + one min-
    * aggregate with a lineage cut (q175's multi-source BFS generalized
    * to per-seed distance tracking). Distance sums are exact integers;
    * harmonic = Σ1∕d is a node-ascending fold; closeness = one divide.
    * The recursive-CTE oracle replays the same bounded expansion. */
  def q328Centrality(s: SparkSession, dir: String): DataFrame = {
    val ui = Tables.events(s, dir)
      .select(col("user_id").as("u"),
        variant_get(parse_json(col("props")), "$.k", "bigint").as("item"))
      .filter(col("item").isNotNull)
      .distinct()
    val edges = ui.alias("a")
      .join(ui.alias("b"), col("a.u") === col("b.u")
        && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("i"), col("b.item").as("j"))
      .agg(count(lit(1)).as("cw"))
      .filter(col("cw") >= 2)
      .select(col("i"), col("j"))
    // materialize the graph once — 6 frontier rounds would otherwise
    // each re-run the events self-join
    val nbr = graft.ops.IterativeLoop.cutLazy(
      edges.select(col("i").as("a"), col("j").as("b"))
        .unionAll(edges.select(col("j").as("a"), col("i").as("b"))))
    val seeds = nbr.select(col("a").as("item")).distinct()
      .orderBy(col("item")).limit(10)
    var dist = seeds.select(col("item").as("seed"), col("item").as("node"),
      lit(0L).as("d"))
    val lid = graft.ops.PlanProbe.loopId()
    for (r <- 1 to 6) {
      val frontier = dist.filter(col("d") === (r - 1))
        .join(nbr, dist("node") === nbr("a"))
        .select(col("seed"), col("b").as("node"), lit(r.toLong).as("d"))
      val stepped = dist.unionAll(frontier)
        .groupBy(col("seed"), col("node")).agg(min(col("d")).as("d"))
      graft.ops.PlanProbe.offer(lid, r, stepped)
      dist = graft.ops.IterativeLoop.cutLazy(stepped)
    }
    dist.filter(col("d") > 0)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"), sum(col("d")).as("sum_dist"),
        foldSorted(col("node"), lit(1.0) / col("d").cast("double"))
          .as("harmonic"))
      .select(col("seed"), col("n_reached"), col("sum_dist"),
        (col("n_reached").cast("double") / col("sum_dist").cast("double"))
          .as("closeness"), col("harmonic"))
      .orderBy(col("seed"))
  }

  /** Dynamic time warping between the first two weeks of daily traffic:
    * the full 7×7 DP and the warping-path backtrack stay in EXACT
    * integer arithmetic (|Δcount| costs, min-chains, diagonal-first tie
    * rule), so this is bit-free of float concerns at any scale. Day
    * grain in-engine; the O(49) DP runs driver-side (q289's pattern) and
    * the oracle unrolls all 49 cells + a recursive backtrack. The
    * alignment-aware alternative to q263's fixed-lag MASE comparison. */
  def q329Dtw(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("ds"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("ds")).collect().map(_.getAs[Long]("c"))
    require(daily.length >= 14, "need two weeks of days")
    val a = daily.slice(0, 7); val b = daily.slice(7, 14)
    val d = Array.ofDim[Long](8, 8)
    for (i <- 1 to 7; j <- 1 to 7) {
      val cost = math.abs(a(i - 1) - b(j - 1))
      d(i)(j) =
        if (i == 1 && j == 1) cost
        else if (i == 1) cost + d(1)(j - 1)
        else if (j == 1) cost + d(i - 1)(1)
        else cost + math.min(d(i - 1)(j - 1), math.min(d(i - 1)(j), d(i)(j - 1)))
    }
    // backtrack, diagonal-first tie rule
    var (i, j) = (7, 7); var steps = 1L
    while (!(i == 1 && j == 1)) {
      if (i == 1) j -= 1
      else if (j == 1) i -= 1
      else {
        val dg = d(i - 1)(j - 1); val up = d(i - 1)(j); val lf = d(i)(j - 1)
        if (dg <= up && dg <= lf) { i -= 1; j -= 1 }
        else if (up <= lf) i -= 1
        else j -= 1
      }
      steps += 1
    }
    import s.implicits._
    Seq((d(7)(7), steps,
      d(7)(7).toDouble / steps.toDouble))
      .toDF("dtw_dist", "path_len", "dtw_norm")
  }

  /** Weekday-profile anomaly detection on the daily order series: each
    * day's count is z-scored against ITS OWN weekday's mean/sd (the
    * q145-style seasonal profile turned into an outlier detector), and
    * the 5 most anomalous days are an exact (|z|, date) pick. Everything
    * up to the final divide is integer sufficient statistics per the
    * 7 weekday groups. */
  def q330DowAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"))
      .agg(count(lit(1)).as("c"))
      .withColumn("dow", weekday(to_date(col("ds"))).cast("long"))
    val grp = daily.groupBy(col("dow")).agg(count(lit(1)).as("n"),
      sum(col("c")).as("s1"), sum(col("c") * col("c")).as("s2"))
      .withColumn("mean", col("s1").cast("double") / col("n").cast("double"))
      .withColumn("sd", sqrt(
        (col("s2").cast("double") - col("s1").cast("double") * col("mean"))
          / (col("n") - 1).cast("double")))
    daily.join(broadcast(grp.select(col("dow"), col("mean"), col("sd"))),
        Seq("dow"))
      .withColumn("z", (col("c").cast("double") - col("mean")) / col("sd"))
      .orderBy(abs(col("z")).desc, col("ds"))
      .limit(5)
      .select(col("ds"), col("dow"), col("c"), col("z"))
  }

  /** Gehan–Wilcoxon weighted log-rank (weights = pooled at-risk count):
    * emphasizes early survival differences where q301's unweighted
    * statistic weights all death times equally. Same survival frame and
    * at-risk machinery; U = Σnₜ(d₁ₜ−Eₜ), V = Σnₜ²Vₜ, χ² = U²∕V — exact
    * integer weights on the q301 double terms, t-ascending folds. */
  def q331GehanLogRank(s: SparkSession, dir: String): DataFrame = {
    val life = survivalFrame(s, dir)
    val byT = life.groupBy(col("t")).agg(
      sum(when(col("g") === 0, lit(1L)).otherwise(lit(0L))).as("e1"),
      sum(when(col("g") === 1, lit(1L)).otherwise(lit(0L))).as("e2"),
      sum(when(col("g") === 0, col("death")).otherwise(lit(0L))).as("d1"),
      sum(when(col("g") === 1, col("death")).otherwise(lit(0L))).as("d2"))
    val tot = life.agg(
      sum(when(col("g") === 0, lit(1L)).otherwise(lit(0L))).as("n1tot"),
      sum(when(col("g") === 1, lit(1L)).otherwise(lit(0L))).as("n2tot"))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val risk = byT.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("t"), col("d1"), col("d2"),
        (col("n1tot") - coalesce(sum(col("e1")).over(wPrev), lit(0L))).as("n1"),
        (col("n2tot") - coalesce(sum(col("e2")).over(wPrev), lit(0L))).as("n2"))
    val terms = risk
      .withColumn("dt", col("d1") + col("d2"))
      .withColumn("nt", col("n1") + col("n2"))
      .filter(col("dt") > 0)
      .select(col("t"),
        (col("nt").cast("double") * (col("d1").cast("double")
          - (col("dt") * col("n1")).cast("double") / col("nt").cast("double")))
          .as("u"),
        when(col("nt") > 1,
          (col("nt") * col("nt")).cast("double")
            * ((col("dt") * col("n1")).cast("double") / col("nt").cast("double")
              * (col("n2").cast("double") / col("nt").cast("double"))
              * ((col("nt") - col("dt")).cast("double")
                / (col("nt") - 1).cast("double"))))
          .otherwise(lit(0.0)).as("vw"))
    terms.agg(count(lit(1)).as("n_times"),
        foldSorted(col("t"), col("u")).as("u_stat"),
        foldSorted(col("t"), col("vw")).as("var_w"))
      .select(col("n_times"), col("u_stat"), col("var_w"),
        (col("u_stat") * col("u_stat") / col("var_w")).as("chi2"))
  }

  /** Generalized ESD outlier detection (Rosner 1983), 5 rounds, on the
    * daily order-count series: each round removes the largest
    * studentized deviation and recomputes mean/sd WITHOUT it — the
    * masking-proof upgrade of q308's single-outlier Grubbs. Sufficient
    * statistics stay exact integers across removals (subtract the
    * removed value from S/S²/n), so the driver loop over 5 rounds is
    * replayed CTE-for-CTE by the oracle. */
  def q332EsdAnomalies(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("ds")).collect()
      .map(r => (r.getString(0), r.getAs[Long]("c")))
    var n = daily.length.toLong
    var s1 = daily.map(_._2).sum
    var s2 = daily.map(v => v._2 * v._2).sum
    var remaining = daily
    val out = Array.newBuilder[(Long, String, Long, Double)]
    for (round <- 1 to 5) {
      val mean = s1.toDouble / n.toDouble
      val sd = math.sqrt((s2.toDouble - s1.toDouble * mean) / (n - 1).toDouble)
      // deterministic pick: max studentized deviation, then earliest date
      val rs = remaining.map { case (d, v) =>
        (d, v, math.abs(v.toDouble - mean) / sd) }
      val mx = rs.map(_._3).max
      val pick = rs.filter(_._3 == mx).minBy(_._1)
      val (ds, c) = (pick._1, pick._2)
      val r = math.abs(c.toDouble - mean) / sd
      out += ((round.toLong, ds, c, r))
      remaining = remaining.filterNot(_._1 == ds)
      n -= 1; s1 -= c; s2 -= c * c
    }
    import s.implicits._
    out.result().toSeq.toDF("round", "ds", "c", "r_stat")
      .orderBy(col("round"))
  }

  /** STL-lite seasonal decomposition of daily order counts: trend = the
    * centered 7-day moving average (integer window sum, only full
    * windows), seasonal = weekday means of the 7×-scaled detrended
    * series (7c − Σ₇ stays exact int64), remainder = the rest. Three
    * fixed-shape divides per day; one day-grain shuffle + one 7-row
    * broadcast. The decomposition q145's raw hour profiles and q330's
    * z-scores both implicitly assume, made explicit. */
  def q333StlLite(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"))
      .agg(count(lit(1)).as("c"))
    val w7 = Window.orderBy(col("ds")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("mov", sum(col("c")).over(w7))
      .withColumn("nw", count(lit(1)).over(w7))
      .filter(col("nw") === 7)
      .withColumn("dow", weekday(to_date(col("ds"))).cast("long"))
      .withColumn("detr", col("c") * 7 - col("mov"))
    val seas = trended.groupBy(col("dow"))
      .agg(sum(col("detr")).as("sd7"), count(lit(1)).as("nd"))
      .select(col("dow"),
        (col("sd7").cast("double") / col("nd").cast("double")).as("seas7"))
    trended.join(broadcast(seas), Seq("dow"))
      .select(col("ds"), col("dow"), col("c"),
        (col("mov").cast("double") / lit(7.0)).as("trend"),
        (col("seas7") / lit(7.0)).as("seasonal"))
      .withColumn("remainder",
        col("c").cast("double") - col("trend") - col("seasonal"))
      .orderBy(col("ds"))
  }

  /** Degree assortativity (Newman 2002) of the co-visitation graph:
    * Pearson correlation of endpoint degrees over directed edge ends —
    * do heavily-shared items link to other heavily-shared items? All
    * sufficient statistics (Σd, Σd², Σdᵢdⱼ over both orientations) are
    * exact integers; one final fixed-shape divide. Completes the graph
    * panel (q83/q113/q142/q149/q210/q235/q321/q328) with its mixing
    * coefficient. */
  def q334Assortativity(s: SparkSession, dir: String): DataFrame = {
    val ui = Tables.events(s, dir)
      .select(col("user_id").as("u"),
        variant_get(parse_json(col("props")), "$.k", "bigint").as("item"))
      .filter(col("item").isNotNull)
      .distinct()
    val edges = ui.alias("a")
      .join(ui.alias("b"), col("a.u") === col("b.u")
        && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("i"), col("b.item").as("j"))
      .agg(count(lit(1)).as("cw"))
      .filter(col("cw") >= 2)
      .select(col("i"), col("j"))
    val nbr = edges.select(col("i").as("a"), col("j").as("b"))
      .unionAll(edges.select(col("j").as("a"), col("i").as("b")))
    val deg = nbr.groupBy(col("a").as("item")).agg(count(lit(1)).as("d"))
    val ends = nbr
      .join(deg.select(col("item").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("item").as("b"), col("d").as("db")), Seq("b"))
    ends.agg(count(lit(1)).as("se"), sum(col("da")).as("sx"),
        sum(col("da") * col("da")).as("sxx"),
        sum(col("da") * col("db")).as("sxy"))
      .withColumn("den", col("se").cast("double") * col("sxx").cast("double")
        - col("sx").cast("double") * col("sx").cast("double"))
      .select((col("se") / 2).cast("long").as("n_edges"),
        when(col("den") === 0.0, lit(null).cast("double"))
          .otherwise((col("se").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            / col("den"))
          .as("assortativity"))
  }

  /** Price elasticity of demand from the discount grid: total quantity
    * per discount level, OLS slope of lg(quantity) on lg(price) over the
    * 11 levels — both logs are exact-lg of integers (quantities are
    * integral; price enters as the exact integer 100−discount·100), so
    * the regression's x/y series are bit-reproducible and the slope is
    * one fixed-shape combination of bucket-ascending folds. log2∕log2
    * ratios equal natural-log ratios, so the slope IS the elasticity. */
  def q335Elasticity(s: SparkSession, dir: String): DataFrame = {
    val buckets = Tables.lineitem(s, dir)
      .groupBy(round(col("l_discount") * 100).cast("long").as("pctoff"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
      .select(col("pctoff"), (lit(100L) - col("pctoff")).as("p"), col("q"))
    val pts = buckets.select(col("pctoff"), lg(col("p")).as("x"),
      lg(col("q")).as("y"))
    pts.agg(count(lit(1)).as("n"),
        foldSorted(col("pctoff"), col("x")).as("sx"),
        foldSorted(col("pctoff"), col("y")).as("sy"),
        foldSorted(col("pctoff"), col("x") * col("x")).as("sxx"),
        foldSorted(col("pctoff"), col("x") * col("y")).as("sxy"))
      .select(col("n").as("n_buckets"),
        ((col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
          / (col("n").cast("double") * col("sxx") - col("sx") * col("sx")))
          .as("elasticity"))
  }

  /** Iterative proportional fitting (Deming–Stephan raking), 5 rounds:
    * the observed event_type×weekday contingency table is raked to
    * uniform row/column targets (N∕5, N∕7). Each half-round scales by
    * target∕margin with the margin computed as a key-ascending fold —
    * the whole fit is oracle-replayed (10 generated CTEs). The survey-
    * weighting verb an A/B platform needs when segments are imbalanced;
    * every round is two broadcast-sized aggregates. */
  def q336RakingIpf(s: SparkSession, dir: String): DataFrame =
    rakingIpfOf(s, dir, rounds = 5)

  /** q336's core with the raking round count exposed (the
    * IterativeLoopSpec margin-convergence law runs extra rounds). */
  private[graft] def rakingIpfOf(s: SparkSession, dir: String,
      rounds: Int): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy(col("event_type").as("et"),
        weekday(to_date(col("ts"))).cast("long").as("dow"))
      .agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum(col("n")).as("ntot"))
    val w0 = cells.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("et"), col("dow"), col("n"), col("ntot"),
        col("n").cast("double").as("w"))
    // each half-round references w TWICE (margin agg + re-join): the
    // combinator's per-half-round cut is what keeps the plan from doubling
    // twice per round (measured 58.7 s at sf0.1 in BENCH_r9 without it —
    // the q83/q321 lesson, again). 5 full rounds = 10 half-rounds, odd
    // halves rake the row margin to ntot/5, even halves the column margin
    // to ntot/7.
    val w = graft.ops.IterativeLoop.fixed(w0, 2 * rounds) { (w, half) =>
      if (half % 2 == 1) {
        val rowm = w.groupBy(col("et").as("ret"))
          .agg(foldSorted(col("dow"), col("w")).as("rm"))
        w.join(broadcast(rowm), col("et") === col("ret"))
          .select(col("et"), col("dow"), col("n"), col("ntot"),
            (col("w") * ((col("ntot").cast("double") / lit(5.0)) / col("rm")))
              .as("w"))
      } else {
        val colm = w.groupBy(col("dow").as("rdow"))
          .agg(foldSorted(col("et"), col("w")).as("cm"))
        w.join(broadcast(colm), col("dow") === col("rdow"))
          .select(col("et"), col("dow"), col("n"), col("ntot"),
            (col("w") * ((col("ntot").cast("double") / lit(7.0)) / col("cm")))
              .as("w"))
      }
    }
    w.select(col("et").as("event_type"), col("dow"), col("n"),
        col("w").as("raked"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** Empirical-Bayes shrinkage of per-source English rates: beta-binomial
    * prior fit by method of moments on the 20 source rates (mean and
    * variance are source-ascending folds over one-divide rates), then
    * every source's rate shrinks to (x+α)∕(n+α+β) — small sources move
    * toward the prior, big ones barely. The multilevel-modeling verb
    * behind q226's per-source Wilson intervals. */
  def q337EbShrinkage(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum((col("lang") === "en").cast("long")).as("x"))
      .withColumn("rate", col("x").cast("double") / col("n").cast("double"))
    val mom = src.agg(count(lit(1)).as("k"),
        foldSorted(col("source"), col("rate")).as("sr"),
        foldSorted(col("source"), col("rate") * col("rate")).as("srr"))
      .withColumn("m", col("sr") / col("k").cast("double"))
      .withColumn("v", (col("srr") - col("sr") * col("m"))
        / (col("k") - 1).cast("double"))
      .withColumn("ab", col("m") * (lit(1.0) - col("m")) / col("v") - lit(1.0))
      .select(col("m"), col("v"), (col("m") * col("ab")).as("alpha"),
        ((lit(1.0) - col("m")) * col("ab")).as("beta"))
    src.crossJoin(broadcast(graft.ops.Guards.scalar(mom)))
      .select(col("source"), col("n"), col("x"), col("rate"),
        ((col("x").cast("double") + col("alpha"))
          / (col("n").cast("double") + col("alpha") + col("beta")))
          .as("shrunk"))
      .orderBy(col("source"))
  }

  /** Frisch–Waugh–Lovell double regression: the effect of daily order
    * COUNT on daily REVENUE controlling for the time trend — partial the
    * day index out of both sides with exact-integer-sum OLS (q307's
    * machinery), then regress residual on residual (day-ascending
    * folds). Output contrasts the naive slope with the detrended one —
    * the "controlling for X" verb behind q259/q284/q291, done exactly. */
  def q338FwlPartial(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"))
      .agg(sum(cents(col("o_totalprice"))).as("y"), count(lit(1)).as("d"))
      .withColumn("i",
        row_number().over(Window.orderBy(col("ds"))).cast("long"))
    val sums = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
      sum(col("d")).as("sd"), sum(col("i") * col("y")).as("siy"),
      sum(col("i") * col("d")).as("sid"),
      sum(col("d") * col("y")).as("sdy"),
      sum(col("d") * col("d")).as("sdd"))
    val fit = sums
      .withColumn("sx", expr("n * (n + 1) div 2"))
      .withColumn("sxx", expr("n * (n + 1) * (2 * n + 1) div 6"))
      .withColumn("by", (col("n").cast("double") * col("siy").cast("double")
        - col("sx").cast("double") * col("sy").cast("double"))
        / (col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")))
      .withColumn("ay", (col("sy").cast("double")
        - col("by") * col("sx").cast("double")) / col("n").cast("double"))
      .withColumn("bd", (col("n").cast("double") * col("sid").cast("double")
        - col("sx").cast("double") * col("sd").cast("double"))
        / (col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double")))
      .withColumn("ad", (col("sd").cast("double")
        - col("bd") * col("sx").cast("double")) / col("n").cast("double"))
      .withColumn("naive",
        (col("n").cast("double") * col("sdy").cast("double")
          - col("sd").cast("double") * col("sy").cast("double"))
        / (col("n").cast("double") * col("sdd").cast("double")
          - col("sd").cast("double") * col("sd").cast("double")))
    val resid = daily.crossJoin(broadcast(graft.ops.Guards.scalar(
        fit.select(col("n"), col("by"), col("ay"), col("bd"), col("ad"),
          col("naive")))))
      .withColumn("ry", col("y").cast("double")
        - (col("ay") + col("by") * col("i").cast("double")))
      .withColumn("rd", col("d").cast("double")
        - (col("ad") + col("bd") * col("i").cast("double")))
    resid.agg(max(col("n")).as("n_days"), max(col("naive")).as("beta_naive"),
        max(col("by")).as("trend_y"), max(col("bd")).as("trend_d"),
        (foldSorted(col("i"), col("rd") * col("ry"))
          / foldSorted(col("i"), col("rd") * col("rd"))).as("beta_fwl"))
  }

  /** Weekday seasonal quantile bands: exact P10/P50/P90 order-statistic
    * picks of the daily order count WITHIN each weekday (rank =
    * ⌈q·n⌉ via integer `div`, date tie-break) — the forecast envelope
    * q330's z-scores alarm against, with zero distributional
    * assumptions. Integer picks only; one day-grain shuffle. */
  def q339DowBands(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"))
      .agg(count(lit(1)).as("c"))
      .withColumn("dow", weekday(to_date(col("ds"))).cast("long"))
    val ranked = daily
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("dow")).orderBy(col("c"), col("ds"))).cast("long"))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("dow"))))
    def pick(q10: Int): Column =
      max(when(col("rn") === expr(s"(nd * $q10 + 9) div 10"), col("c")))
    ranked.groupBy(col("dow"))
      .agg(max(col("nd")).as("n_days"), pick(1).as("p10"), pick(5).as("p50"),
        pick(9).as("p90"))
      .orderBy(col("dow"))
  }

  /** Wald instrumental-variable estimate: instrument = first half of the
    * calendar (deterministic, correlated with order count through the
    * data's drift, excludable by construction in this fixture), effect
    * of daily order count on daily revenue = Δȳ∕Δd̄ across instrument
    * arms. Four integer sums, three divides — the simplest consistent
    * IV estimator, completing the causal panel (q225/q248/q283/q284/
    * q291/q338). */
  def q340IvWald(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"))
      .agg(sum(cents(col("o_totalprice"))).as("y"), count(lit(1)).as("d"))
      .withColumn("i",
        row_number().over(Window.orderBy(col("ds"))).cast("long"))
    val n = daily.agg(count(lit(1)).as("n"))
    val arms = daily.crossJoin(broadcast(graft.ops.Guards.scalar(n)))
      .withColumn("z", (col("i") <= expr("n div 2")).cast("long"))
      .groupBy(col("z"))
      .agg(count(lit(1)).as("nz"), sum(col("y")).as("sy"),
        sum(col("d")).as("sd"))
      .select(col("z"),
        (col("sy").cast("double") / col("nz").cast("double")).as("my"),
        (col("sd").cast("double") / col("nz").cast("double")).as("md"))
    val z1 = arms.filter(col("z") === 1)
      .select(col("my").as("my1"), col("md").as("md1"))
    val z0 = arms.filter(col("z") === 0)
      .select(col("my").as("my0"), col("md").as("md0"))
    z1.crossJoin(z0)
      .select(col("my1"), col("my0"), col("md1"), col("md0"),
        ((col("my1") - col("my0")) / (col("md1") - col("md0")))
          .as("wald_estimate"))
  }

  /** Golden-record survivorship (MDM merge): every 10th customer gains a
    * deterministic md5-corrupted duplicate (name with 4th char deleted,
    * balance shifted by a md5-drawn cent delta, distinct recency), and
    * the merge applies classic survivorship rules — name from the most
    * recent record, balance = max, segment = lexicographic min — all
    * exact integer/ordering picks. The record-linkage family's (q278/
    * q119) missing last step: what to KEEP once duplicates are found. */
  def q341Survivorship(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("k"), col("c_name").as("nm"),
        cents(col("c_acctbal")).as("bal"), col("c_mktsegment").as("seg"),
        (u32(concat(lit("rc:"), col("c_custkey"))) % 100).as("recency"),
        lit("crm").as("src"))
    val clone = Tables.customer(s, dir)
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("k"),
        concat(substring(col("c_name"), 1, 3), substring(col("c_name"), 5, 1000))
          .as("nm"),
        (cents(col("c_acctbal"))
          + (u32(concat(lit("bd:"), col("c_custkey"))) % 10001L - 5000L))
          .as("bal"),
        col("c_mktsegment").as("seg"),
        (u32(concat(lit("rw:"), col("c_custkey"))) % 100).as("recency"),
        lit("web").as("src"))
    val recs = base.unionAll(clone)
    val wRec = Window.partitionBy(col("k"))
      .orderBy(col("recency").desc, col("src"))
    recs
      .withColumn("rk", row_number().over(wRec))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_records"),
        max(when(col("rk") === 1, col("nm"))).as("name_surv"),
        max(col("bal")).as("bal_cents"),
        min(col("seg")).as("seg_surv"))
      .select(col("k").as("custkey"), col("n_records"), col("name_surv"),
        (col("bal_cents").cast("double") / lit(100.0)).as("bal_surv"),
        col("seg_surv"))
      .orderBy(col("custkey"))
  }

  /** Cost-sensitive threshold selection: predict "doc is English" from
    * n_chars over 32 equal-width cutoffs, with FN costing 5× an FP. The
    * whole sweep is integer confusion counts from two cumulative windows
    * over the (bin, label) sufficient statistics; the pick is an exact
    * (cost, threshold) argmin. q121's calibration sweep turned into a
    * DECISION — the step a production filter actually ships. */
  def q342CostThreshold(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("n_chars"), (col("lang") === "en").cast("long").as("y"))
    val rng = d.agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
    val binned = d.crossJoin(broadcast(graft.ops.Guards.scalar(rng)))
      .select(least(expr("(n_chars - lo) * 32 div (hi - lo + 1)"), lit(31L))
        .as("bin"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val wCum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val tot = binned.agg(sum(col("n")).as("nt"), sum(col("pos")).as("pt"))
    // threshold t = "predict positive iff bin >= t": below-t positives are
    // FN, below-t negatives are TN
    val sweep = binned.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .withColumn("fn", coalesce(sum(col("pos")).over(wCum), lit(0L)))
      .withColumn("below", coalesce(sum(col("n")).over(wCum), lit(0L)))
      .select(col("bin").as("thr"), col("fn"),
        (col("pt") - col("fn")).as("tp"),
        ((col("nt") - col("below")) - (col("pt") - col("fn"))).as("fp"),
        (col("fn") * 5 + ((col("nt") - col("below")) - (col("pt") - col("fn"))))
          .as("cost"))
    sweep.orderBy(col("cost"), col("thr")).limit(1)
  }

  /** Exact average precision of the full n_chars ranking against the
    * English labels: AP = (1∕R)·Σ_{rel k} hits_k∕k with hits from a
    * rank-ordered cumulative window and the sum a rank-ascending fold —
    * the single-ranking corpus twin of q318's MAP@10 and the
    * trapezoid-free alternative to q281's AUC. */
  def q343AvgPrecision(s: SparkSession, dir: String): DataFrame = {
    val ranked = Tables.documents(s, dir)
      .select(col("doc_id"), (col("lang") === "en").cast("long").as("rel"))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .withColumn("k", row_number().over(
        Window.orderBy(col("n_chars").desc, col("doc_id"))).cast("long"))
      .withColumn("hits", sum(col("rel")).over(
        Window.orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ranked.agg(count(lit(1)).as("n_docs"), sum(col("rel")).as("n_rel"),
        foldSorted(col("k"),
          when(col("rel") === 1,
            col("hits").cast("double") / col("k").cast("double"))
            .otherwise(lit(0.0))).as("apsum"))
      .select(col("n_docs"), col("n_rel"),
        (col("apsum") / col("n_rel").cast("double")).as("avg_precision"))
  }

  /** Team-draft interleaving (Radlinski 2008, strict-alternation
    * variant): ranker A (longest docs first) and ranker B (lowest ids
    * first) alternately draft from their top-20 lists, skipping already-
    * drafted docs, 10 picks; credit = English picks per team. The
    * unbiased online-eval verb behind q121/q181's offline metrics. The
    * draft is inherently sequential — driver-side over the two collected
    * top-20 lists (bounded), recursive-CTE replay with a picked-list
    * state. */
  def q344Interleave(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"), (col("lang") === "en").as("rel"))
    val topA = docs.orderBy(col("n_chars").desc, col("doc_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getBoolean(2)))
    val topB = docs.orderBy(col("doc_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getBoolean(2)))
    val picked = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Boolean)]
    var ai = 0; var bi = 0
    for (pos <- 1 to 10) {
      if (pos % 2 == 1) { // A drafts
        while (ai < topA.length && picked.contains(topA(ai)._1)) ai += 1
        if (ai < topA.length) { picked(topA(ai)._1) = (0L, topA(ai)._2); ai += 1 }
      } else {
        while (bi < topB.length && picked.contains(topB(bi)._1)) bi += 1
        if (bi < topB.length) { picked(topB(bi)._1) = (1L, topB(bi)._2); bi += 1 }
      }
    }
    import s.implicits._
    picked.toSeq.zipWithIndex
      .map { case ((id, (team, rel)), i) =>
        (i + 1L, id, team, if (rel) 1L else 0L) }
      .toDF("pos", "doc_id", "team", "rel")
      .orderBy(col("pos"))
  }

  /** 0/1 knapsack under a token budget, exact DP vs the density greedy:
    * 35 candidate docs (weight = ⌈n_chars∕50⌉-ish integer, value =
    * distinct tokens), capacity 60. The DP table stays integer; the
    * oracle replays it as a recursive CTE carrying the 61-slot row as a
    * list. Output contrasts optimal with greedy — the verb that shows
    * when q189's greedy token-budget selection leaves value on the
    * table. */
  def q345KnapsackDp(s: SparkSession, dir: String): DataFrame = {
    val items = Tables.documents(s, dir)
      .filter(col("doc_id") < 35)
      .select(col("doc_id"),
        (expr("n_chars div 50") + 1).as("w"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("v"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cap = 60
    val dp = Array.fill(cap + 1)(0L)
    items.foreach { case (_, w, v) =>
      for (c <- cap to w.toInt by -1)
        dp(c) = math.max(dp(c), dp(c - w.toInt) + v)
    }
    // density greedy: v/w desc (double), doc_id tie-break
    var rem = cap.toLong; var greedy = 0L
    items.sortBy { case (id, w, v) => (-v.toDouble / w.toDouble, id) }
      .foreach { case (_, w, v) => if (w <= rem) { rem -= w; greedy += v } }
    // no-silent-caps: the candidate pool is a doc_id<35 demonstration cap
    // (exact DP is O(n·capacity) driver-side by design) — surface both
    // the cap and the full corpus size so the truncation is visible
    val nTotal = Tables.documents(s, dir).count()
    import s.implicits._
    Seq((items.length.toLong, nTotal, 35L, cap.toLong, dp(cap), greedy))
      .toDF("n_items", "n_docs_total", "doc_id_cap", "capacity",
        "best_value", "greedy_value")
  }

  /** MERGE INTO semantics applied as a batch: a deterministic changelog
    * (every 7th key updates +$1, every 11th deletes — delete wins on
    * overlap — and 50 fresh keys insert) against the customer snapshot,
    * with exact integer audit counts and a cent-sum checksum. The
    * CDC-apply verb that completes q90's SCD2 and q95's latest-per-key:
    * one outer join, no per-row driver logic. */
  def q346MergeApply(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey").as("k"), cents(col("c_acctbal")).as("bal"))
    val maxK = base.agg(max(col("k")).as("mk"))
    val updates = base.filter(col("k") % 7 === 0)
      .select(col("k"), lit("U").as("op"), (col("bal") + 100L).as("nbal"))
    val deletes = base.filter(col("k") % 11 === 0)
      .select(col("k"), lit("D").as("op"), lit(null).cast("long").as("nbal"))
    val inserts = maxK.select(explode(sequence(lit(1), lit(50))).as("i"),
        col("mk"))
      .select((col("mk") + col("i")).as("k"), lit("I").as("op"),
        (col("mk") + col("i")).cast("long").as("nbal"))
    // precedence D > U within the changelog
    val chg = updates.unionByName(deletes).unionByName(inserts)
      .withColumn("pri", when(col("op") === "D", 0).when(col("op") === "U", 1)
        .otherwise(2))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("pri"))))
      .filter(col("rk") === 1)
      .select(col("k"), col("op"), col("nbal"))
    val merged = base.join(chg, Seq("k"), "full_outer")
      .withColumn("keep", col("op").isNull || col("op") =!= "D")
      .withColumn("fbal", when(col("op") === "U", col("nbal"))
        .when(col("op") === "I", col("nbal")).otherwise(col("bal")))
    merged.agg(
      sum(col("op").isNull.cast("long")).as("n_unchanged"),
      sum((col("op") === "I").cast("long")).as("n_inserted"),
      sum((col("op") === "U").cast("long")).as("n_updated"),
      sum((col("op") === "D").cast("long")).as("n_deleted"),
      sum(col("keep").cast("long")).as("n_final"),
      sum(when(col("keep"), col("fbal")).otherwise(lit(0L))).as("sum_bal_cents"))
  }

  /** Two-way ANOVA (segment × custkey-parity on balance cents,
    * sequential sum-of-squares decomposition): SSA/SSB from margin
    * totals, the interaction from cell totals, SSE as the remainder —
    * every sufficient statistic an exact integer, every SS a fixed
    * combination of key-ascending folds, F ratios one divide each.
    * Extends q272's one-way F to factorial designs. */
  def q347TwoWayAnova(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.customer(s, dir)
      .select(col("c_mktsegment").as("a"), (col("c_custkey") % 2).as("b"),
        cents(col("c_acctbal")).as("y"))
    val cells = d.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("nc"), sum(col("y")).as("tc"))
    val tot = d.agg(count(lit(1)).as("n"), sum(col("y")).as("t"),
      sum(col("y") * col("y")).as("syy"))
    val ssa = cells.groupBy(col("a"))
      .agg(sum(col("nc")).as("na"), sum(col("tc")).as("ta"))
      .agg(foldSorted(col("a"), col("ta").cast("double")
        * col("ta").cast("double") / col("na").cast("double")).as("fa"))
    val ssb = cells.groupBy(col("b"))
      .agg(sum(col("nc")).as("nb"), sum(col("tc")).as("tb"))
      .agg(foldSorted(col("b"), col("tb").cast("double")
        * col("tb").cast("double") / col("nb").cast("double")).as("fb"))
    val ssc = cells
      .agg(foldSorted(struct(col("a"), col("b")), col("tc").cast("double")
        * col("tc").cast("double") / col("nc").cast("double")).as("fc"),
        count(lit(1)).as("ncells"))
    tot.crossJoin(broadcast(graft.ops.Guards.scalar(ssa))).crossJoin(broadcast(graft.ops.Guards.scalar(ssb)))
      .crossJoin(broadcast(graft.ops.Guards.scalar(ssc)))
      .withColumn("cm", col("t").cast("double") * col("t").cast("double")
        / col("n").cast("double"))
      .withColumn("ss_a", col("fa") - col("cm"))
      .withColumn("ss_b", col("fb") - col("cm"))
      .withColumn("ss_ab", col("fc") - col("fa") - col("fb") + col("cm"))
      .withColumn("ss_err", col("syy").cast("double") - col("fc"))
      .withColumn("df_err", (col("n") - col("ncells")).cast("double"))
      .select(col("n").as("n_cust"), col("ss_a"), col("ss_b"), col("ss_ab"),
        col("ss_err"),
        ((col("ss_a") / lit(4.0)) / (col("ss_err") / col("df_err")))
          .as("f_a"),
        ((col("ss_b") / lit(1.0)) / (col("ss_err") / col("df_err")))
          .as("f_b"),
        ((col("ss_ab") / lit(4.0)) / (col("ss_err") / col("df_err")))
          .as("f_ab"))
  }

  /** TextRank keywords (Mihalcea 2004): PageRank (damping 3∕4, 6 rounds)
    * on the word-adjacency graph — undirected co-occurrence edges from
    * consecutive tokens, transition weights wᵢⱼ∕Wⱼ. Loop invariants
    * materialized once, per-round lineage cuts (the q83/q321
    * discipline), all folds neighbor-ascending so the oracle replays
    * every round. Top-15 keywords — the graph-centrality alternative to
    * q99's TF-IDF. */
  def q348Textrank(s: SparkSession, dir: String): DataFrame =
    textrankOf(Tables.documents(s, dir))

  /** q348's core on an explicit docs frame (the entry SCALE.md's heavies
    * table timed; probe code at feb0fc4). */
  private[graft] def textrankOf(docsDf: DataFrame): DataFrame =
    textrankScores(docsDf, rounds = 6)
      .orderBy(col("pr").desc, col("node")).limit(15)
      .select(col("node").as("word"), col("pr").as("textrank"))

  /** Full (node, pr) TextRank state after `rounds` rounds — the
    * IterativeLoopSpec contraction law compares round counts over the
    * complete vector, not just the top-15 report. */
  private[graft] def textrankScores(docsDf: DataFrame, rounds: Int): DataFrame = {
    val toks = docsDf
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("pos", "w")))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = toks
      .withColumn("w1", lag(col("w"), 1).over(wDoc))
      .filter(col("w1").isNotNull && col("w1") =!= col("w"))
      .select(least(col("w1"), col("w")).as("x"),
        greatest(col("w1"), col("w")).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cw"))
    val nbr = graft.ops.IterativeLoop.cutLazy(
      pairs.select(col("x").as("a"), col("y").as("b"), col("cw"))
        .unionAll(pairs.select(col("y").as("a"), col("x").as("b"), col("cw"))))
    val wout = graft.ops.IterativeLoop.cutLazy(
      nbr.groupBy(col("b").as("node")).agg(sum(col("cw")).as("wj")))
    val nNodes = wout.agg(count(lit(1)).as("nn"))
    val pr0 = wout.select(col("node"), lit(1.0).as("pr"))
    val pr = graft.ops.IterativeLoop.fixed(pr0, rounds) { (pr, _) =>
      val contrib = nbr
        .join(pr.withColumnRenamed("node", "b").withColumnRenamed("pr", "prb"),
          Seq("b"))
        .join(wout.withColumnRenamed("node", "b2").withColumnRenamed("wj", "wjb"),
          col("b") === col("b2"))
        .groupBy(col("a").as("node"))
        .agg(foldSorted(col("b"),
          col("prb") * (col("cw").cast("double") / col("wjb").cast("double")))
          .as("inflow"))
      wout.select(col("node"))
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(graft.ops.Guards.scalar(nNodes)))
        .select(col("node"),
          (lit(0.25) / col("nn").cast("double")
            + lit(0.75) * coalesce(col("inflow"), lit(0.0))).as("pr"))
    }
    pr
  }

  /** Simpson's-paradox audit: does the AUTOMOBILE↔high-balance
    * association FLIP direction inside any nation stratum vs the
    * aggregate? Direction compares a·d vs b·c — pure int64 cross
    * products, no divisions at all. Output: aggregate direction, strata
    * counts by agreement. The q303 Mantel–Haenszel machinery turned into
    * the confounding alarm. */
  def q349SimpsonAudit(s: SparkSession, dir: String): DataFrame = {
    val ex = col("c_mktsegment") === "AUTOMOBILE"
    val out = col("c_acctbal") > 5000.0
    val strata = Tables.customer(s, dir)
      .groupBy(col("c_nationkey").as("stratum")).agg(
        sum(when(ex && out, lit(1L)).otherwise(lit(0L))).as("a"),
        sum(when(ex && !out, lit(1L)).otherwise(lit(0L))).as("b"),
        sum(when(!ex && out, lit(1L)).otherwise(lit(0L))).as("c"),
        sum(when(!ex && !out, lit(1L)).otherwise(lit(0L))).as("d"))
    val agg = strata.agg(sum(col("a")).as("a"), sum(col("b")).as("b"),
        sum(col("c")).as("c"), sum(col("d")).as("d"))
      .select(signum((col("a") * col("d") - col("b") * col("c")).cast("double"))
        .cast("long").as("agg_dir"))
    strata
      .select(col("stratum"),
        signum((col("a") * col("d") - col("b") * col("c")).cast("double"))
          .cast("long").as("dir"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(agg)))
      .agg(max(col("agg_dir")).as("aggregate_direction"),
        count(lit(1)).as("n_strata"),
        sum((col("dir") === col("agg_dir")).cast("long")).as("n_agree"),
        sum((col("dir") === -col("agg_dir")).cast("long")).as("n_reversed"),
        sum((col("dir") === 0).cast("long")).as("n_null"))
  }

  /** Quantile treatment effects: decile-by-decile balance gaps between
    * the AUTOMOBILE segment and everyone else — exact ⌈q·n⌉ order-
    * statistic picks per arm (custkey tie-break), one row per decile.
    * Where q225/q248's average effects hide distributional shifts, this
    * shows WHERE in the distribution the arms differ. */
  def q350Qte(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.customer(s, dir)
      .select((col("c_mktsegment") === "AUTOMOBILE").cast("long").as("z"),
        cents(col("c_acctbal")).as("yv"), col("c_custkey"))
    // Round 16: cut the ranked frame once — it feeds NINE decile filters
    // (one union branch each), and without the cut every branch re-ran the
    // two rank windows over the full table (the q360/q253 missing-
    // loop-invariant class; guide §2.4). Values untouched.
    val ranked = graft.ops.IterativeLoop.cutLazy(d
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("z")).orderBy(col("yv"), col("c_custkey")))
        .cast("long"))
      .withColumn("nz", count(lit(1)).over(Window.partitionBy(col("z")))))
    val qs = (1 to 9).map { q =>
      ranked.filter(col("rn") === expr(s"(nz * $q + 9) div 10"))
        .groupBy(col("z")).agg(max(col("yv")).as("yq"))
        .withColumn("decile", lit(q.toLong))
    }.reduce(_ unionByName _)
    val t = qs.filter(col("z") === 1).select(col("decile"),
      (col("yq").cast("double") / lit(100.0)).as("y_treat"))
    val c = qs.filter(col("z") === 0).select(col("decile"),
      (col("yq").cast("double") / lit(100.0)).as("y_ctrl"))
    t.join(c, Seq("decile"))
      .select(col("decile"), col("y_treat"), col("y_ctrl"),
        (col("y_treat") - col("y_ctrl")).as("qte"))
      .orderBy(col("decile"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q301_logrank"         -> q301LogRank _,
    "q302_nelson_aalen"    -> q302NelsonAalen _,
    "q303_mantel_haenszel" -> q303MantelHaenszel _,
    "q304_fleiss_kappa"    -> q304FleissKappa _,
    "q305_jarque_bera"     -> q305JarqueBera _,
    "q306_levene_bf"       -> q306LeveneBf _,
    "q307_durbin_watson"   -> q307DurbinWatson _,
    "q308_grubbs"          -> q308Grubbs _,
    "q309_friedman"        -> q309Friedman _,
    "q310_cronbach"        -> q310Cronbach _,
    "q311_max_drawdown"    -> q311MaxDrawdown _,
    "q312_var_cvar"        -> q312VarCvar _,
    "q313_holt_winters"    -> q313HoltWinters _,
    "q314_pacf"            -> q314Pacf _,
    "q315_changepoint"     -> q315Changepoint _,
    "q316_geo_radius"      -> q316GeoRadiusJoin _,
    "q317_naive_bayes"     -> q317NaiveBayes _,
    "q318_map_retrieval"   -> q318MapRetrieval _,
    "q319_item_cosine"     -> q319ItemCosine _,
    "q320_als_rank1"       -> q320AlsRank1 _,
    "q321_spectral_split"  -> q321SpectralPartition _,
    "q322_kneser_ney"      -> q322KneserNey _,
    "q323_competing_risks" -> q323CompetingRisks _,
    "q324_tukey_hsd"       -> q324TukeyHsd _,
    "q325_hmm_viterbi"     -> q325HmmViterbi _,
    "q326_knn_loo"         -> q326KnnLoo _,
    "q327_plsa_em"         -> q327PlsaEm _,
    "q328_centrality"      -> q328Centrality _,
    "q329_dtw"             -> q329Dtw _,
    "q330_dow_anomaly"     -> q330DowAnomaly _,
    "q331_gehan_logrank"   -> q331GehanLogRank _,
    "q332_esd_anomalies"   -> q332EsdAnomalies _,
    "q333_stl_lite"        -> q333StlLite _,
    "q334_assortativity"   -> q334Assortativity _,
    "q335_elasticity"      -> q335Elasticity _,
    "q336_raking_ipf"      -> q336RakingIpf _,
    "q337_eb_shrinkage"    -> q337EbShrinkage _,
    "q338_fwl_partial"     -> q338FwlPartial _,
    "q339_dow_bands"       -> q339DowBands _,
    "q340_iv_wald"         -> q340IvWald _,
    "q341_survivorship"    -> q341Survivorship _,
    "q342_cost_threshold"  -> q342CostThreshold _,
    "q343_avg_precision"   -> q343AvgPrecision _,
    "q344_interleave"      -> q344Interleave _,
    "q345_knapsack_dp"     -> q345KnapsackDp _,
    "q346_merge_apply"     -> q346MergeApply _,
    "q347_two_way_anova"   -> q347TwoWayAnova _,
    "q348_textrank"        -> q348Textrank _,
    "q349_simpson_audit"   -> q349SimpsonAudit _,
    "q350_qte"             -> q350Qte _)
}
