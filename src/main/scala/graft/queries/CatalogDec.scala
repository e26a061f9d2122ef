package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Round-9 wave 9: causal-inference and operations-decision verbs — the
 * layer that turns the catalog's estimates into shipped decisions. Cox
 * proportional hazards (Newton in hazard-ratio space, so the whole loop is
 * rational arithmetic), an exact md5-permutation test, Lindley-recursion
 * queue backlogs via the prefix-max closed form, the newsvendor critical
 * fractile, cohort LTV projection, Brier-score decomposition on a held-out
 * split, position-based multi-touch attribution, Markov removal-effect
 * attribution (driver-side absorption solve with oracle-replayed fold
 * orders), an exact-lg SPRT, and loop-free isotonic regression through the
 * minimax formula. Determinism contract unchanged: integer sufficient
 * statistics, fixed parenthesization, key-ascending folds, bounded driver
 * math only with oracle-identical operation order.
 */
object CatalogDec {

  // Round 16: the ordered fold runs as ONE codegen'd kernel
  // (graft_ordered_sum) instead of the interpreted transform+aggregate
  // HOF pair — bit-compatible per OrderedStructSum's doc (same adds in
  // the same sorted order, same int->double cast per element).
  private def foldSorted(k: Column, v: Column): Column =
    graft.functions.GraftFunctions.orderedSum(
      sort_array(collect_list(struct(k.as("k"), v.as("v")))))

  private def cents(c: Column): Column = round(c * 100).cast("long")

  private def u32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** Cox proportional hazards, binary covariate (the q301 arm split),
    * Breslow ties, with Newton performed in θ = e^β (hazard-ratio) space:
    * score g(θ) = Σ_t [sₜ∕θ − dₜ·n₁ₜ∕(n₀ₜ+n₁ₜθ)] and its curvature are
    * RATIONAL in θ, so six Newton rounds (t-ascending folds, one-row θ
    * state) replay bit-for-bit in the oracle with zero transcendentals.
    * Score at θ=1 is exactly the log-rank O−E (q301 cross-check law). */
  def q361CoxPh(s: SparkSession, dir: String): DataFrame =
    coxOf(s, CatalogNext.survivalFrame(s, dir))

  /** q361's core on an explicit (g, t, death) life frame (the entry
    * SCALE.md's heavies table timed; probe code at feb0fc4;
    * Newton round count exposed for the IterativeLoopSpec convergence
    * law — 6 rounds put a smooth 1-d Newton at machine precision, so an
    * extra round must not move the estimate). */
  private[graft] def coxOf(s: SparkSession, life: DataFrame,
      rounds: Int = 6): DataFrame = {
    val byT = life.groupBy(col("t")).agg(
      sum(when(col("g") === 1, lit(1L)).otherwise(lit(0L))).as("e1"),
      sum(when(col("g") === 0, lit(1L)).otherwise(lit(0L))).as("e0"),
      sum(when(col("g") === 1, col("death")).otherwise(lit(0L))).as("s"),
      sum(col("death")).as("d"))
    val tot = life.agg(
      sum(when(col("g") === 1, lit(1L)).otherwise(lit(0L))).as("n1tot"),
      sum(when(col("g") === 0, lit(1L)).otherwise(lit(0L))).as("n0tot"))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    // loop invariant, cut once: every Newton round folds over the risk
    // table, so without the cut round k replays the window k times
    val risk = graft.ops.IterativeLoop.cutLazy(byT.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .withColumn("n1", col("n1tot") - coalesce(sum(col("e1")).over(wPrev), lit(0L)))
      .withColumn("n0", col("n0tot") - coalesce(sum(col("e0")).over(wPrev), lit(0L)))
      .filter(col("d") > 0)
      .select(col("t"), col("s"), col("d"), col("n1"), col("n0")))
    def x(th: Column): Column =
      col("n0").cast("double") + col("n1").cast("double") * th
    val th0: DataFrame = s.range(1).select(lit(1.0).as("th"))
    val th = graft.ops.IterativeLoop.fixed(th0, rounds) { (th, _) =>
      val g = risk.crossJoin(broadcast(graft.ops.Guards.scalar(th))).agg(
        max(col("th")).as("thv"),
        foldSorted(col("t"),
          col("s").cast("double") / col("th")
            - col("d").cast("double")
              * (col("n1").cast("double") / x(col("th")))).as("g"),
        foldSorted(col("t"),
          col("d").cast("double")
            * (col("n1").cast("double") / x(col("th")))
            * (col("n1").cast("double") / x(col("th")))
            - col("s").cast("double") / col("th") / col("th")).as("gp"))
      g.select((col("thv") - col("g") / col("gp")).as("th"))
    }
    val score1 = risk.agg(
      count(lit(1)).as("n_times"),
      foldSorted(col("t"),
        col("s").cast("double")
          - col("d").cast("double")
            * (col("n1").cast("double")
              / (col("n0").cast("double") + col("n1").cast("double"))))
        .as("score_at_1"))
    score1.crossJoin(broadcast(graft.ops.Guards.scalar(th)))
      .select(col("n_times"), col("score_at_1"),
        col("th").as("hazard_ratio"))
  }

  /** Exact permutation test for the two-arm (user-parity) mean spend
    * difference: 64 md5 sign-flip replicates, every replicate mean a
    * divide of exact int64 sums, p = (1 + #{|T_b| ≥ |T_obs|}) ∕ 65 —
    * distribution-free inference with zero asymptotics, the q272-family
    * tests' nonparametric check. */
  def q362PermTest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val users = ev.groupBy(col("user_id").as("u"))
      .agg(sum(when(col("event_type") === "purchase",
        cents(col("value"))).otherwise(lit(0L))).as("y"))
    def tOf(arm: Column): Column = {
      val s1 = sum(when(arm === 1, col("y")).otherwise(lit(0L)))
      val n1 = sum(when(arm === 1, lit(1L)).otherwise(lit(0L)))
      val s0 = sum(when(arm === 0, col("y")).otherwise(lit(0L)))
      val n0 = sum(when(arm === 0, lit(1L)).otherwise(lit(0L)))
      s1.cast("double") / n1.cast("double") -
        s0.cast("double") / n0.cast("double")
    }
    val obs = users.agg(count(lit(1)).as("n_users"),
      tOf(col("u") % 2).as("t_obs"))
    val reps = users
      .select(col("u"), col("y"),
        explode(sequence(lit(0), lit(63))).as("b"))
      .withColumn("arm",
        u32(concat(col("u").cast("string"), lit("_p"),
          col("b").cast("string"))) % 2)
      .groupBy(col("b")).agg(tOf(col("arm")).as("tb"))
    reps.crossJoin(broadcast(graft.ops.Guards.scalar(obs)))
      .agg(max(col("n_users")).as("n_users"), count(lit(1)).as("n_reps"),
        max(col("t_obs")).as("t_obs_cents"),
        ((lit(1L) + sum((abs(col("tb")) >= abs(col("t_obs"))).cast("long")))
          .cast("double")
          / (count(lit(1)) + 1).cast("double")).as("p_value"))
  }

  /** Deterministic single-server backlog via the Lindley recursion's
    * prefix-max closed form: daily arrivals aₜ (event counts), fixed
    * capacity c = ⌊Σa∕days⌋, backlog Bₜ = Mₜ − min(0, min_{k≤t} Mₖ)
    * with Mₜ the running Σ(a−c) — NO sequential recursion, two windows,
    * all int64. Peak day and congested-day count for capacity planning. */
  def q363LindleyQueue(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("ds"))
      .agg(count(lit(1)).as("a"))
    val cap = daily.agg(expr("sum(a) div count(1)").as("c"),
      count(lit(1)).as("nd"))
    val wCum = Window.orderBy(col("ds"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = daily.crossJoin(broadcast(graft.ops.Guards.scalar(cap)))
      .withColumn("mt", sum(col("a") - col("c")).over(wCum))
      .withColumn("runmin", min(col("mt")).over(wCum))
      .withColumn("bl", col("mt") - least(col("runmin"), lit(0L)))
    val peak = m.orderBy(col("bl").desc, col("ds")).limit(1)
      .select(col("ds").as("peak_day"), col("bl").as("max_backlog"))
    m.agg(max(col("c")).as("capacity"), max(col("nd")).as("n_days"),
        sum((col("bl") > 0).cast("long")).as("n_congested"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(peak)))
  }

  /** Newsvendor critical-fractile stocking decision on daily order
    * demand: underage 4× overage → q* is the exact ⌈0.8·n⌉-th demand
    * order statistic; realized costs at q*−1, q*, q*+1 are exact integer
    * sums, and the spec pins the optimality sandwich cost(q*) ≤ both
    * neighbors — the inventory twin of q342's threshold argmin. */
  def q364Newsvendor(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("dem"))
    val n = daily.agg(count(lit(1)).as("nd"))
    val qstar = daily.crossJoin(broadcast(graft.ops.Guards.scalar(n)))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("dem"), col("d"))).cast("long"))
      .filter(col("rn") === expr("(nd * 4 + 4) div 5"))
      .select(col("dem").as("q_star"))
    def cost(q: Column): Column =
      sum(greatest(col("dem") - q, lit(0L)) * 4L
        + greatest(q - col("dem"), lit(0L)))
    daily.crossJoin(broadcast(graft.ops.Guards.scalar(qstar)))
      .agg(max(col("q_star")).as("q_star"), count(lit(1)).as("n_days"),
        cost(col("q_star")).as("cost_at_q"),
        cost(col("q_star") - 1).as("cost_minus"),
        cost(col("q_star") + 1).as("cost_plus"))
  }

  /** Cohort LTV projection under geometric retention: cohort = first
    * order month; r = month-over-month active-pair retention (consecutive
    * calendar months, last month right-censored out of the base), ARPU =
    * cohort cents per active month, projected LTV = ARPU ∕ (1−r) dollars
    * — three divides of exact int64 sums per cohort, NULL when r ≥ 1. */
  def q365CohortLtv(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey").as("k"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mi"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ms"),
        cents(col("o_totalprice")).as("v"))
    val cohorts = o.groupBy(col("k"))
      .agg(min(col("mi")).as("cmi"), min(col("ms")).as("cohort"))
    val active = o.select(col("k"), col("mi")).distinct()
    val maxMi = active.agg(max(col("mi")).as("maxmi"))
    val pairs = active.alias("a")
      .join(active.alias("b"),
        col("a.k") === col("b.k") && col("b.mi") === col("a.mi") + 1)
      .select(col("a.k").as("k"), col("a.mi").as("mi"))
    val perC = cohorts
      .join(o.groupBy(col("k")).agg(sum(col("v")).as("cv"),
        countDistinct(col("mi")).as("am")), Seq("k"))
      .join(active.crossJoin(broadcast(graft.ops.Guards.scalar(maxMi)))
        .filter(col("mi") < col("maxmi"))
        .groupBy(col("k")).agg(count(lit(1)).as("base")), Seq("k"), "left")
      .join(pairs.groupBy(col("k")).agg(count(lit(1)).as("ret")),
        Seq("k"), "left")
      .na.fill(0L, Seq("base", "ret"))
    perC.groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_cust"), sum(col("cv")).as("sv"),
        sum(col("am")).as("sam"), sum(col("base")).as("sb"),
        sum(col("ret")).as("sr"))
      .filter(col("sb") > 0)
      .select(col("cohort"), col("n_cust"),
        (col("sr").cast("double") / col("sb").cast("double")).as("retention"),
        (col("sv").cast("double") / col("sam").cast("double") / lit(100.0))
          .as("arpu_dollars"),
        when(col("sr") < col("sb"),
          (col("sv").cast("double") / col("sam").cast("double")
            / (lit(1.0) - col("sr").cast("double") / col("sb").cast("double"))
            / lit(100.0))).as("ltv_proj_dollars"))
      .orderBy(col("cohort"))
  }

  /** Murphy's Brier-score decomposition BS = REL − RES + UNC on a real
    * held-out split: forecast = per-source English rate TRAINED on an
    * md5-keyed half of the docs (source is a pure function of doc_id
    * parity in this corpus, so a parity split would separate the sources
    * entirely — the hash split is independent of source), EVALUATED on
    * the other half grouped by forecast value, so reliability is
    * genuinely nonzero. Every term is folds/divides of exact integers;
    * the algebraic identity is the spec law. */
  def q366BrierDecomp(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        (col("lang") === "en").cast("long").as("y"),
        (u32(concat(lit("bt:"), col("doc_id"))) % 2).as("h"))
    val train = docs.filter(col("h") === 0)
      .groupBy(col("source"))
      .agg(sum(col("y")).as("tp"), count(lit(1)).as("tn"))
      .select(col("source"),
        (col("tp").cast("double") / col("tn").cast("double")).as("f"))
    val eval0 = docs.filter(col("h") === 1)
      .join(train, Seq("source"))
    val groups = eval0.groupBy(col("f"))
      .agg(count(lit(1)).as("nk"), sum(col("y")).as("pk"))
    val tot = groups.agg(sum(col("nk")).as("n"), sum(col("pk")).as("p"))
    val terms = groups.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("f"), col("nk"), col("n"),
        (col("f") - col("pk").cast("double") / col("nk").cast("double"))
          .as("fo"),
        (col("pk").cast("double") / col("nk").cast("double")
          - col("p").cast("double") / col("n").cast("double")).as("ob"))
    val base = terms.agg(
      foldSorted(col("f"),
        col("nk").cast("double") / col("n").cast("double")
          * (col("fo") * col("fo"))).as("rel"),
      foldSorted(col("f"),
        col("nk").cast("double") / col("n").cast("double")
          * (col("ob") * col("ob"))).as("res"))
    val unc = tot.select(col("n"), col("p"),
      (col("p").cast("double") / col("n").cast("double")
        * (lit(1.0) - col("p").cast("double") / col("n").cast("double")))
        .as("unc"))
    base.crossJoin(broadcast(graft.ops.Guards.scalar(unc)))
      .select(col("n").as("n_eval"), col("rel"), col("res"), col("unc"),
        (col("rel") - col("res") + col("unc")).as("brier"))
  }

  /** Position-based multi-touch attribution over pre-conversion journeys
    * (touch channels = the four non-purchase event types, ordered by ts
    * with event_id tie-break): first-touch and last-touch credits are
    * exact integers; linear (1∕k) and U-shaped (40∕20∕40) credits are
    * fixed-shape divides summed in (user, position)-ascending folds.
    * The full-credit-menu upgrade of q143's single last-click asof. */
  def q367PositionAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val conv = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts")).as("conv_ts"))
    val touches = ev
      .filter(col("event_type").isin("click", "error", "signup", "view"))
      .join(conv, Seq("user_id"))
      .filter(col("ts") < col("conv_ts"))
      .select(col("user_id"), col("event_type").as("ch"),
        col("ts"), col("event_id"))
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pos = touches
      .withColumn("p", row_number().over(wU).cast("long"))
      .withColumn("k", count(lit(1)).over(
        Window.partitionBy(col("user_id"))))
    val credits = pos.select(col("user_id"), col("ch"), col("p"), col("k"),
      (col("p") === 1).cast("long").as("ft"),
      (col("p") === col("k")).cast("long").as("lt"),
      (lit(1.0) / col("k").cast("double")).as("lin"),
      when(col("k") === 1, lit(1.0))
        .when(col("k") === 2, lit(0.5))
        .when(col("p") === 1 || col("p") === col("k"), lit(0.4))
        .otherwise(lit(0.2) / (col("k") - 2).cast("double")).as("ub"))
    credits.groupBy(col("ch"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("ft")).as("first_touch"),
        sum(col("lt")).as("last_touch"),
        foldSorted(struct(col("user_id"), col("p")), col("lin"))
          .as("linear_credit"),
        foldSorted(struct(col("user_id"), col("p")), col("ub"))
          .as("ushape_credit"))
      .orderBy(col("ch"))
  }

  /** Markov removal-effect attribution (the data-driven alternative to
    * q367's heuristics): journeys become a 7-state chain (start, 4
    * channels, conversion, null); conversion-absorption probabilities
    * solve by 16 fixed-point rounds — run driver-side on the ≤42-entry
    * count matrix with channel-ascending accumulation order so the
    * oracle's recursive list-state CTEs replay every double exactly.
    * Removal effect of c = 1 − x_start(chain with c muted)∕x_start. */
  def q368MarkovAttribution(s: SparkSession, dir: String): DataFrame = {
    val chs = Seq("click", "error", "signup", "view")
    val ev = Tables.events(s, dir)
    val conv = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts")).as("conv_ts"))
    val users = ev.select(col("user_id")).distinct()
      .join(conv, Seq("user_id"), "left")
    val touches = ev
      .filter(col("event_type").isin(chs.map(x => x: Any): _*))
      .join(users, Seq("user_id"))
      .filter(col("conv_ts").isNull || col("ts") < col("conv_ts"))
      .select(col("user_id"), col("event_type").as("ch"),
        col("ts"), col("event_id"),
        col("conv_ts").isNotNull.cast("long").as("cv"))
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pos = touches
      .withColumn("p", row_number().over(wU).cast("long"))
      .withColumn("k", count(lit(1)).over(
        Window.partitionBy(col("user_id"))))
      .withColumn("nxt", lead(col("ch"), 1).over(wU))
    val mid = pos.select(col("ch").as("src"),
      coalesce(col("nxt"),
        when(col("cv") === 1, lit("conv")).otherwise(lit("null")))
        .as("dst"))
    val starts = pos.filter(col("p") === 1)
      .select(lit("start").as("src"), col("ch").as("dst"))
    val loners = users
      .join(touches.select(col("user_id")).distinct(), Seq("user_id"),
        "left_anti")
      .select(lit("start").as("src"),
        when(col("conv_ts").isNotNull, lit("conv")).otherwise(lit("null"))
          .as("dst"))
    val counts = mid.unionByName(starts).unionByName(loners)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // driver-side fixed-point solve — counts are ≤ 6×6 entries, and the
    // accumulation order (channel-ascending, conv term last) is mirrored
    // verbatim by the oracle's recursive list-state CTE
    val cm = counts.map { case (a, b, c) => (a, b) -> c }.toMap
      .withDefaultValue(0L)
    def outOf(src: String): Long =
      (chs :+ "conv" :+ "null").map(d => cm((src, d))).sum
    def p(a: String, b: String): Double =
      if (outOf(a) == 0L) 0.0 else cm((a, b)).toDouble / outOf(a).toDouble
    def absorb(removed: Option[String]): Double = {
      var x = chs.map(_ => 0.0).toArray
      for (_ <- 1 to 16) {
        val nx = chs.zipWithIndex.map { case (ci, i) =>
          if (removed.contains(ci)) 0.0
          else {
            var acc = 0.0
            chs.zipWithIndex.foreach { case (cj, j) =>
              acc = acc + p(ci, cj) * x(j) }
            acc + p(ci, "conv")
          }
        }.toArray
        x = nx
      }
      var acc = 0.0
      chs.zipWithIndex.foreach { case (cj, j) =>
        if (!removed.contains(cj)) acc = acc + p("start", cj) * x(j) }
      acc + p("start", "conv")
    }
    val full = absorb(None)
    val effs = chs.map(c => c -> (1.0 - absorb(Some(c)) / full))
    val sumEff = effs.foldLeft(0.0) { case (a, (_, e)) => a + e }
    import s.implicits._
    effs.map { case (c, e) =>
      (c, full, e, e / sumEff) }
      .toDF("channel", "p_conv_full", "removal_effect", "share")
      .orderBy(col("channel"))
  }

  /** Sequential probability ratio test on the daily purchase rate
    * (H₀: p=1∕4 vs H₁: p=1∕2, Wald boundaries ±lg 19): in exact-lg
    * arithmetic the per-day increment collapses to Pₜ − (Nₜ−Pₜ)∕2 —
    * pure halves of int64 — so the whole LLR path, the first boundary
    * crossing, and the verdict are engine-identical. The
    * early-stopping A/B machinery behind q225/q284's fixed-horizon
    * reads. */
  def q369Sprt(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("ds"))
      .agg(sum((col("event_type") === "purchase").cast("long")).as("p"),
        count(lit(1)).as("n"))
    val wCum = Window.orderBy(col("ds"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val path = daily
      .withColumn("cp", sum(col("p")).over(wCum))
      .withColumn("cn", sum(col("n")).over(wCum))
      .withColumn("llr", col("cp").cast("double")
        - lit(0.5) * (col("cn") - col("cp")).cast("double"))
      .withColumn("crossed",
        when(col("llr") >= lit(4.1875), lit("accept_h1"))
          .when(col("llr") <= lit(-4.1875), lit("accept_h0")))
    val firstCross = path.filter(col("crossed").isNotNull)
      .orderBy(col("ds")).limit(1)
      .select(col("ds").as("cross_day"), col("crossed").as("decision"),
        col("llr").as("llr_at_cross"))
    val fin = path.agg(count(lit(1)).as("n_days"),
      max(struct(col("ds"), col("llr"))).getField("llr").as("llr_final"))
    fin.crossJoin(broadcast(graft.ops.Guards.scalar(firstCross)))
  }

  /** Isotonic regression of the English rate on n_chars WITHOUT the
    * sequential PAVA loop: over the ≤32 nonempty equal-width bins, the
    * fit is the minimax identity μᵢ = max_{j≤i} min_{k≥i} mean(j..k)
    * with every interval mean one divide of exact prefix-sum integers —
    * min/max of doubles are order-independent, so the whole fit is two
    * grouped aggregations over a bounded (j,i,k) grid. Monotone
    * calibration, loop-free (Ayer 1955). */
  def q370Isotonic(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("n_chars"), (col("lang") === "en").cast("long").as("y"))
    val rng = d.agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
    val bins = d.crossJoin(broadcast(graft.ops.Guards.scalar(rng)))
      .select(least(expr("(n_chars - lo) * 32 div (hi - lo + 1)"), lit(31L))
        .as("bin"), col("y"))
      .groupBy(col("bin")).agg(count(lit(1)).as("nb"), sum(col("y")).as("pb"))
      .withColumn("r", row_number().over(Window.orderBy(col("bin"))).cast("long"))
    val pre = bins
      .withColumn("sn", sum(col("nb")).over(Window.orderBy(col("r"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("sp", sum(col("pb")).over(Window.orderBy(col("r"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("r"), col("bin"), col("nb"), col("pb"), col("sn"), col("sp"))
    val jk = pre.alias("j").join(pre.alias("k"),
        col("j.r") <= col("k.r"))
      .select(col("j.r").as("jr"), col("k.r").as("kr"),
        ((col("k.sp") - col("j.sp") + col("j.pb")).cast("double")
          / (col("k.sn") - col("j.sn") + col("j.nb")).cast("double"))
          .as("m"))
    val inner = pre.select(col("r").as("ir"))
      .join(jk, col("jr") <= col("ir") && col("kr") >= col("ir"))
      .groupBy(col("ir"), col("jr")).agg(min(col("m")).as("mn"))
      .groupBy(col("ir")).agg(max(col("mn")).as("iso"))
    pre.join(inner, col("r") === col("ir"))
      .select(col("bin"), col("nb").as("n_docs"),
        (col("pb").cast("double") / col("nb").cast("double")).as("raw_rate"),
        col("iso").as("iso_rate"))
      .orderBy(col("bin"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q361_cox_ph"           -> q361CoxPh _,
    "q362_perm_test"        -> q362PermTest _,
    "q363_lindley_queue"    -> q363LindleyQueue _,
    "q364_newsvendor"       -> q364Newsvendor _,
    "q365_cohort_ltv"       -> q365CohortLtv _,
    "q366_brier_decomp"     -> q366BrierDecomp _,
    "q367_position_attrib"  -> q367PositionAttribution _,
    "q368_markov_attrib"    -> q368MarkovAttribution _,
    "q369_sprt"             -> q369Sprt _,
    "q370_isotonic"         -> q370Isotonic _)
}
