package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Round-9 statistical-science wave: time-series diagnostics (ACF),
 * survival analysis (Kaplan-Meier), graph link prediction (Adamic-Adar)
 * and local clustering structure, rank statistics (Mann-Whitney,
 * Kolmogorov-Smirnov, Spearman), and corpus-law fits (Zipf, Good-Turing,
 * Heaps). Same determinism contract as [[CatalogExt]]/[[CatalogMore]]:
 * integer (or decimal-exact) arithmetic until a single final divide,
 * exact-lg ([[graft.curation.Curation.lg]]) where a logarithm is needed,
 * and fixed-order folds wherever a float sum would otherwise depend on
 * partitioning.
 */
object CatalogStats {

  private def lg(x: Column): Column = graft.curation.Curation.lg(x)

  /** Autocorrelation function of the daily event-count series at lags
    * 1..7 — the seasonality diagnostic behind any time-series feature
    * (q145's decomposition tells you WHAT the weekly shape is; the ACF
    * tells you whether one exists at all). Exact arithmetic: with
    * centered integers c_t = n·x_t − S (n days, S total events),
    * acf(k) = Σ c_t·c_{t+k} / Σ c_t² — both sums are pure int64 (day
    * counts keep n·x ≤ ~1e10 even at 100 TB, squared ≤ 1e20? no:
    * c ≤ n·max(x) ≈ 4e3·1e8 at extreme scale — callers at that volume
    * aggregate to daily counts FIRST, so the series itself is bounded by
    * calendar days and the window below runs over ≤ a few thousand rows
    * on the driver-adjacent single partition, not over raw events). One
    * shuffle (the daily aggregate); the lag windows run on the
    * days-sized series. */
  def q207Acf(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
    val tot = daily.agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
    // centered integer series: c_t = n·x_t − S  (exact, order-free)
    val cser = daily.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("d"), (col("n") * col("x") - col("sx")).as("c"))
    val w = Window.orderBy(col("d"))
    val lagged = cser.select(
      col("c") +: (1 to 7).map(k => lag(col("c"), k).over(w).as(s"c$k")): _*)
    val aggCols = sum(col("c") * col("c")).as("den") +:
      (1 to 7).flatMap(k => Seq(
        sum(col("c") * col(s"c$k")).as(s"num$k"),
        count(col(s"c$k")).as(s"np$k")))
    val sums = lagged.agg(aggCols.head, aggCols.tail: _*)
    (1 to 7).map { k =>
      sums.select(lit(k).as("lag"), col(s"np$k").as("n_pairs"),
        (col(s"num$k").cast("double") / col("den").cast("double")).as("acf"))
    }.reduce(_ unionByName _).orderBy(col("lag"))
  }

  /** Kaplan-Meier estimate of time-to-conversion: survival time = days
    * from a user's first event to their first big purchase (value >
    * 150, q205's conversion event); users who never convert are
    * right-censored at the corpus end — the censoring-aware funnel
    * statistic that q89's fixed-horizon retention grid can't express
    * (at sf0.01: 67 convert, 83 censored). Exact arithmetic: n_risk and
    * deaths are integers; per-step hazard is one divide; the survival
    * curve is carried in exact-lg bits (km_lg2 = Σ_{t'≤t} lg(n−d) −
    * lg(n)) via a cumulative window over the death-time axis — a
    * sequential fold in t order on a series bounded by distinct
    * conversion-day values (≤ calendar days), so both engines produce
    * the identical doubles. Two shuffles total (per-user aggregate,
    * day-level aggregate). */
  def q208Survival(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val users = ev.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_d"),
        min(when(col("event_type") === "purchase" && col("value") > 150.0,
          to_date(col("ts")))).as("conv_d"))
    val horizon = ev.agg(max(to_date(col("ts"))).as("max_d"))
    val life = users.crossJoin(broadcast(graft.ops.Guards.scalar(horizon)))
      .select(
        datediff(coalesce(col("conv_d"), col("max_d")), col("first_d"))
          .cast("long").as("t"),
        col("conv_d").isNotNull.cast("long").as("death"))
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
        sum(lg(col("n_risk") - col("d")) - lg(col("n_risk"))).over(wCum)
          .as("km_lg2"))
      .orderBy(col("t"))
  }

  /** Adamic-Adar link prediction on the item co-visitation graph: for
    * the top-20 co-visited item pairs, AA(i,j) = Σ_{u ∈ common users}
    * 1/lg(deg(u)) — common neighbors weighted inversely by how
    * promiscuous they are (Adamic & Adar 2003), the classic
    * link-prediction baseline that q156's lift can't express. Two-phase
    * scale shape: a cheap support count picks the 20 candidate pairs
    * (TakeOrdered, broadcast back), then only those pairs are rescored —
    * the candidate-generation-then-rescore discipline that keeps the
    * quadratic pair space bounded. Per-pair sum is a sorted fold over
    * the common-user list (list length = pair co-support; a 100 TB run
    * would segment the fold, same associativity). */
  def q209AdamicAdar(s: SparkSession, dir: String): DataFrame = {
    val ui = Tables.events(s, dir)
      .select(col("user_id").as("u"),
        variant_get(parse_json(col("props")), "$.k", "bigint").as("item"))
      .filter(col("item").isNotNull)
      .distinct()
    val deg = ui.groupBy(col("u")).agg(count(lit(1)).as("dg"))
    val pairs = ui.alias("a")
      .join(ui.alias("b"), col("a.u") === col("b.u") && col("a.item") < col("b.item"))
      .select(col("a.item").as("i"), col("b.item").as("j"), col("a.u").as("u"))
    val top = pairs.groupBy(col("i"), col("j")).agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("i"), col("j")).limit(20)
    pairs
      .join(broadcast(top), Seq("i", "j"), "left_semi")
      .join(deg, Seq("u"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("common_users"),
        sort_array(collect_list(struct(col("u"), (lit(1.0) / lg(col("dg"))).as("w"))))
          .as("__terms"))
      .select(col("i"), col("j"), col("common_users"),
        aggregate(col("__terms"), lit(0.0), (acc, x) => acc + x("w")).as("aa_score"))
      .orderBy(col("aa_score").desc, col("i"), col("j"))
  }

  /** Local clustering coefficient of the item co-visitation graph
    * (edges: pairs with ≥ 2 common users — the support threshold that
    * keeps the graph sparse at scale): coeff(v) = 2·T(v) / (deg(v)·
    * (deg(v)−1)), T(v) from the oriented-triangle enumeration (each
    * i<j<k triangle found once, credited to all 3 corners). Completes
    * the graph-structure suite (q142 counts global triangles; this
    * localizes them). All-integer until the single final divide. */
  def q210ClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val ui = Tables.events(s, dir)
      .select(col("user_id").as("u"),
        variant_get(parse_json(col("props")), "$.k", "bigint").as("item"))
      .filter(col("item").isNotNull)
      .distinct()
    val edges = ui.alias("a")
      .join(ui.alias("b"), col("a.u") === col("b.u") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("i"), col("b.item").as("j"))
      .agg(count(lit(1)).as("cu"))
      .filter(col("cu") >= 2)
      .select(col("i"), col("j"))
    val deg = edges.select(col("i").as("v"))
      .unionAll(edges.select(col("j").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
    val tri = edges.alias("e1")
      .join(edges.alias("e2"), col("e1.j") === col("e2.i"))
      .join(edges.alias("e3"),
        col("e1.i") === col("e3.i") && col("e2.j") === col("e3.j"))
      .select(col("e1.i").as("x"), col("e1.j").as("y"), col("e2.j").as("z"))
    val triPerNode = tri.select(col("x").as("v"))
      .unionAll(tri.select(col("y").as("v")))
      .unionAll(tri.select(col("z").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("triangles"))
    deg.join(triPerNode, Seq("v"), "left_outer")
      .na.fill(0L, Seq("triangles"))
      .select(col("v").as("item"), col("degree"), col("triangles"),
        when(col("degree") >= 2,
          (col("triangles") * 2).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("clustering_coeff"))
      .orderBy(col("item"))
  }

  /** Mann-Whitney U rank-sum test on document length between the two
    * largest languages (en vs zh) — the nonparametric two-sample test
    * the A/B suite lacks (q205's z-test assumes proportions; this one
    * ranks). Tie handling is exact via DOUBLED ranks: for a tie group
    * the average rank is (min+max)/2, so twice it — min_rank+max_rank —
    * stays integer, and every statistic below is pure int64 until the
    * single z² divide (tie-corrected variance, Σ(t³−t) term included).
    * One value-level aggregate + a cumulative window over the distinct
    * value axis (bounded by max doc length, not corpus size). */
  def q211MannWhitney(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .filter(col("lang").isin("en", "zh"))
      .groupBy(col("n_chars").as("v"))
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c1"),
        count(lit(1)).as("ct"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = d.select(col("v"), col("c1"), col("ct"),
      sum(col("ct")).over(w).as("cum"))
    // doubled tie-averaged rank of every row in this value group:
    //   2·avg = (cum−ct+1) + cum
    val sums = ranked.agg(
      sum(col("c1")).as("n1"), sum(col("ct") - col("c1")).as("n2"),
      sum(col("c1") * (col("cum") * 2 - col("ct") + 1)).as("r1x2"),
      sum(col("ct") * col("ct") * col("ct") - col("ct")).as("tie_t"))
    sums.select(col("n1"), col("n2"),
        (col("r1x2") - col("n1") * (col("n1") + 1)).as("u1_x2"),
        col("tie_t"))
      .select(col("n1"), col("n2"), col("u1_x2"),
        (col("u1_x2").cast("double") / lit(2.0)).as("u1"),
        // z² = (U1 − n1n2/2)² / Var with
        // Var = n1n2/12 · ((n+1) − ΣT/(n(n−1))), n = n1+n2 — every
        // factor below is an exact int64 cast, identical parens in SQL.
        (((col("u1_x2") - col("n1") * col("n2")).cast("double") / lit(2.0)) *
          ((col("u1_x2") - col("n1") * col("n2")).cast("double") / lit(2.0)) /
          ((col("n1") * col("n2")).cast("double") / lit(12.0) *
            ((col("n1") + col("n2") + 1).cast("double") -
              col("tie_t").cast("double") /
                ((col("n1") + col("n2")) * (col("n1") + col("n2") - 1))
                  .cast("double")))).as("z2"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic on document length between
    * src0 and src1 — the distribution-drift test with an EXACT integer
    * core: D = max over the merged support of |c1·n2 − c2·n1| /
    * (n1·n2), where c1/c2 are cumulative counts, so the max is taken
    * over integers and the one divide happens after. Value-level
    * aggregate + cumulative window over the distinct value axis. */
  def q212KsTest(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .filter(col("source").isin("src0", "src1"))
      .groupBy(col("n_chars").as("v"))
      .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("a"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("b"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = d.select(sum(col("a")).over(w).as("c1"),
      sum(col("b")).over(w).as("c2"))
    val tot = d.agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"))
    cum.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("d_num"))
      .select(col("n1"), col("n2"), col("d_num"),
        (col("d_num").cast("double") / (col("n1") * col("n2")).cast("double"))
          .as("d_stat"))
  }

  /** Zipf's-law fit: OLS of lg(freq) on lg(rank) over the top-1000
    * tokens — the corpus-health diagnostic (natural text slopes ≈ −1;
    * templated/synthetic text departs). Ranks from a TakeOrdered
    * top-1000 (freq DESC, token ASC); x/y in exact-lg bits; the four
    * OLS sums are FIXED-ORDER folds over the rank-sorted list (one
    * `aggregate` per sum, same order both engines), so slope/intercept/
    * r² come out bit-identical. */
  def q213ZipfFit(s: SparkSession, dir: String): DataFrame = {
    val top = Tables.documents(s, dir)
      .select(explode(graft.text.TextOps.tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("t")).limit(1000)
    val pts = top.select(
        row_number().over(Window.orderBy(col("f").desc, col("t"))).as("r"),
        col("f"))
      .select(struct(col("r"), lg(col("r")).as("x"), lg(col("f")).as("y")).as("p"))
      .agg(sort_array(collect_list(col("p"))).as("ps"))
    def fold(f: (Column, Column) => Column): Column =
      aggregate(col("ps"), lit(0.0), (acc, p) => acc + f(p("x"), p("y")))
    pts.select(size(col("ps")).cast("long").as("n_terms"),
        fold((x, _) => x).as("sx"), fold((_, y) => y).as("sy"),
        fold((x, y) => x * y).as("sxy"),
        fold((x, _) => x * x).as("sxx"),
        fold((_, y) => y * y).as("syy"))
      .select(col("n_terms"),
        ((col("n_terms") * col("sxy") - col("sx") * col("sy")) /
          (col("n_terms") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        ((col("sy") - (col("n_terms") * col("sxy") - col("sx") * col("sy")) /
          (col("n_terms") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
          col("n_terms")).as("intercept"),
        ((col("n_terms") * col("sxy") - col("sx") * col("sy")) *
          (col("n_terms") * col("sxy") - col("sx") * col("sy")) /
          ((col("n_terms") * col("sxx") - col("sx") * col("sx")) *
            (col("n_terms") * col("syy") - col("sy") * col("sy")))).as("r2"))
  }

  /** Good-Turing frequency smoothing: the frequency-of-frequencies
    * table N_r and the adjusted count r* = (r+1)·N_{r+1}/N_r (Gale &
    * Sampson's simple GT), for r ≤ 100 — the unseen-mass estimator
    * behind every smoothed LM (q97/q120 use add-k; this is the
    * principled alternative). Two token-keyed aggregates then a lead()
    * over the distinct-count axis, keeping the 100 SMALLEST counts
    * (the low-frequency head is where GT smoothing matters; the cap
    * bounds the output at any corpus size); gt_prob divides r-star by
    * the total token count. All-integer until the two shared divides. */
  def q214GoodTuring(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(explode(graft.text.TextOps.tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("r"))
    val fof = counts.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
    val tot = fof.agg(sum(col("r") * col("n_r")).as("n_tokens"))
    val w = Window.orderBy(col("r"))
    fof.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("r"), col("n_r"), col("n_tokens"),
        lead(col("n_r"), 1).over(w).as("n_r1"),
        lead(col("r"), 1).over(w).as("r_next"))
      .orderBy(col("r")).limit(100)
      .select(col("r"), col("n_r"),
        when(col("r_next") === col("r") + 1,
          (col("r") + 1).cast("double") * col("n_r1").cast("double") /
            col("n_r").cast("double")).as("r_star"),
        when(col("r_next") === col("r") + 1,
          (col("r") + 1).cast("double") * col("n_r1").cast("double") /
            col("n_r").cast("double") / col("n_tokens").cast("double"))
          .as("gt_prob"))
      .orderBy(col("r"))
  }

  /** Lexical-diversity profile per language: token count, type count
    * (distinct tokens), type-token ratio, hapax legomena (types seen
    * exactly once in that language) and their share of the type
    * inventory — the vocabulary-richness panel that complements q21's
    * per-doc stats with corpus-level measures. Two token-keyed
    * aggregates (per-(lang,token) counts, then per-lang rollup); all
    * integers until the two final divides. */
  def q215LexicalDiversity(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("lang"), explode(graft.text.TextOps.tokens(col("text"))).as("t"))
      .groupBy(col("lang"), col("t")).agg(count(lit(1)).as("c"))
    tok.groupBy(col("lang"))
      .agg(sum(col("c")).as("tokens"), count(lit(1)).as("types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("lang"), col("tokens"), col("types"),
        (col("types").cast("double") / col("tokens").cast("double")).as("ttr"),
        col("hapax"),
        (col("hapax").cast("double") / col("types").cast("double"))
          .as("hapax_share"))
      .orderBy(col("lang"))
  }

  /** Spearman rank correlation between document length (n_chars) and
    * token count, tie-averaged — the monotone-association audit
    * (Pearson on ranks, so robust to the heavy length tails that break
    * q204-style moment statistics). Exactness: doubled tie-averaged
    * ranks (2·avg = 2·cum − ct + 1 per value group) keep ranks
    * integral; centering (n·X − ΣX) keeps them integral; the three
    * product sums run in DECIMAL(38,0) (≤ 25 digits at any realistic
    * corpus size — int64 would overflow at ~60k rows) mirrored by
    * DuckDB HUGEINT, so rho's one divide sees bit-identical operands.
    * Rank tables are value-keyed (bounded by distinct lengths, not
    * rows) and broadcast back onto the row stream. */
  def q216Spearman(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").as("vx"),
        size(graft.text.TextOps.tokens(col("text"))).cast("long").as("vy"))
    def ranks(df: DataFrame, v: String): DataFrame = {
      val g = df.groupBy(col(v)).agg(count(lit(1)).as("ct"))
      val w = Window.orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.select(col(v), (sum(col("ct")).over(w) * 2 - col("ct") + 1).as(s"r_$v"))
    }
    val withR = d
      .join(broadcast(ranks(d, "vx")), Seq("vx"))
      .join(broadcast(ranks(d, "vy")), Seq("vy"))
    val tot = withR.agg(count(lit(1)).as("n"),
      sum(col("r_vx")).as("sx"), sum(col("r_vy")).as("sy"))
    val dec = "decimal(38,0)"
    val c = withR.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("n"),
        (col("n") * col("r_vx") - col("sx")).cast(dec).as("cx"),
        (col("n") * col("r_vy") - col("sy")).cast(dec).as("cy"))
    c.groupBy(col("n"))
      .agg(sum(col("cx") * col("cy")).as("sxy"),
        sum(col("cx") * col("cx")).as("sxx"),
        sum(col("cy") * col("cy")).as("syy"))
      .select(col("n"),
        (col("sxy").cast("double") /
          (sqrt(col("sxx").cast("double")) * sqrt(col("syy").cast("double"))))
          .as("spearman_rho"))
  }

  /** Heaps'-law vocabulary growth curve: distinct-type count V and
    * token count T after each decile of the corpus (by doc_id order) —
    * the scaling law that says how much NEW vocabulary another 10 TB of
    * crawl will add. Scale shape: one pass computes each token's
    * first-occurrence doc (min doc_id) and one pass the per-doc token
    * counts; both are then bucketed against the 10 broadcast thresholds
    * — no per-checkpoint rescan of the corpus. */
  def q217Heaps(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val maxId = docs.agg(max(col("doc_id")).as("mx"))
    val thr = maxId.select(explode(sequence(lit(1), lit(10))).as("decile"),
      col("mx")).select(col("decile").cast("long").as("decile"),
        expr("CAST(mx * decile div 10 AS BIGINT)").as("thr"))
    val firstSeen = docs
      .select(col("doc_id"), explode(graft.text.TextOps.tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(min(col("doc_id")).as("fd"))
    val types = firstSeen.join(broadcast(thr), col("fd") <= col("thr"))
      .groupBy(col("decile")).agg(count(lit(1)).as("types"))
    val toks = docs
      .select(col("doc_id"),
        size(graft.text.TextOps.tokens(col("text"))).cast("long").as("nt"))
      .join(broadcast(thr), col("doc_id") <= col("thr"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tokens"))
    toks.join(types, Seq("decile"))
      .select(col("decile"), col("n_docs"), col("tokens"), col("types"))
      .orderBy(col("decile"))
  }

  /** Content-defined chunking dedup (the FastCDC/LBFS idea at word
    * granularity): a chunk boundary falls after any word whose
    * md5-bucket ≡ 0 (mod 8), so chunk edges depend only on CONTENT —
    * an insertion early in a document shifts positions but not
    * downstream boundaries, which is exactly why CDC beats fixed-width
    * shingles for partial-overlap dedup. Emits the 20 most duplicated
    * chunks (≥ 3 words) with occurrence and distinct-doc counts.
    * Scale shape: posexplode → per-doc cumulative window (parallel by
    * doc) → one chunk-keyed aggregate; no pairwise comparison
    * anywhere. */
  def q218CdcChunks(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(graft.text.TextOps.tokens(col("text"))).as(Seq("pos", "t")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("t"),
        (conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long") % 8 === 0)
          .cast("long").as("b"))
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = toks
      .select(col("doc_id"), col("pos"), col("t"),
        coalesce(sum(col("b")).over(wPrev), lit(0L)).as("chunk_id"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("t")))).as("ws"))
      .select(col("doc_id"),
        array_join(transform(col("ws"), w => w("t")), " ").as("chunk"),
        size(col("ws")).cast("long").as("n_words"))
      .filter(col("n_words") >= 3)
    chunks.groupBy(col("chunk"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        max(col("n_words")).as("n_words"))
      .orderBy(col("n_occurrences").desc, col("chunk"))
      .limit(20)
      .select(md5(col("chunk")).as("chunk_hash"), col("n_words"),
        col("n_occurrences"), col("n_docs"))
  }

  /** Mutual information between event type and hour-of-day, in
    * exact-lg bits: MI = Σ_xy (c_xy/N)·(lg c_xy + lg N − lg r_x −
    * lg c_y) — the dependence measure that, unlike q198's χ², is
    * directly comparable across tables (it's the KL between joint and
    * product-of-marginals). Cell counts are one aggregate; the
    * cross-cell sum is a fixed-order fold over the sorted (type, hour)
    * cell list, so both engines emit the identical double. */
  def q219MutualInfo(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy(col("event_type").as("x"), hour(col("ts")).cast("long").as("y"))
      .agg(count(lit(1)).as("c"))
    val rx = cells.groupBy(col("x")).agg(sum(col("c")).as("rx"))
    val cy = cells.groupBy(col("y")).agg(sum(col("c")).as("cy"))
    val tot = cells.agg(sum(col("c")).as("n"))
    cells.join(broadcast(rx), "x").join(broadcast(cy), "y")
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("x"), col("y"), col("n"),
        ((col("c").cast("double") / col("n").cast("double")) *
          (lg(col("c")) + lg(col("n")) - lg(col("rx")) - lg(col("cy"))))
          .as("term"))
      .groupBy(col("n"))
      .agg(sort_array(collect_list(struct(col("x"), col("y"), col("term"))))
        .as("__cells"))
      .select(col("n"),
        size(col("__cells")).cast("long").as("n_cells"),
        aggregate(col("__cells"), lit(0.0), (acc, t) => acc + t("term"))
          .as("mi_lg2"))
  }

  /** Tokenizer fertility by language: pieces-per-word and bytes-per-
    * piece under the corpus's own 8-merge BPE vocabulary (q75/q111's
    * trainer re-composed) — THE statistic that decides whether a
    * tokenizer is fair to a language (high fertility = that language
    * pays more sequence length per word). Corpus is ASCII so n_chars
    * is bytes. Ratios are one divide over integer sums. */
  def q220Fertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val enc = graft.curation.Curation.bpeEncode(docs, "text", "doc_id",
      graft.curation.Curation.bpeMerges(docs, "text", nMerges = 8))
    enc.join(docs.select(col("doc_id"), col("lang"), col("n_chars")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("words"),
        sum(col("n_pieces")).as("pieces"), sum(col("n_chars")).as("bytes"))
      .select(col("lang"), col("n_docs"), col("words"), col("pieces"),
        (col("pieces").cast("double") / col("words").cast("double"))
          .as("fertility"),
        (col("bytes").cast("double") / col("pieces").cast("double"))
          .as("bytes_per_piece"))
      .orderBy(col("lang"))
  }

  /** Token burstiness (Church & Gale): the Fano factor of each token's
    * per-document count — var/mean over ALL docs including zeros,
    * which reduces to the exact integer ratio (N·S₂ − S²)/((N−1)·S)
    * with S=Σc, S₂=Σc² over the docs containing the token and N the
    * corpus size; ≈1 is Poisson background, ≫1 is a topical/bursty
    * token. The repetition-vs-topicality signal q74's rarity misses.
    * Top-25 bursty tokens with support ≥ 100, one token-keyed
    * aggregate. */
  def q221Burstiness(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val n = docs.agg(count(lit(1)).as("n"))
    val per = docs
      .select(col("doc_id"), explode(graft.text.TextOps.tokens(col("text"))).as("t"))
      .groupBy(col("t"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("t"))
      .agg(sum(col("c")).as("s"), sum(col("c") * col("c")).as("s2"),
        count(lit(1)).as("df"))
    per.crossJoin(broadcast(graft.ops.Guards.scalar(n)))
      .filter(col("s") >= 100)
      .select(col("t").as("token"), col("df"), col("s").as("count"),
        (col("s").cast("double") / col("n").cast("double")).as("mean"),
        ((col("n") * col("s2") - col("s") * col("s")).cast("double") /
          ((col("n") - 1) * col("s")).cast("double")).as("fano"))
      .orderBy(col("fano").desc, col("token"))
      .limit(25)
  }

  /** Source-mix diversity per language: Simpson's index D = Σnᵢ(nᵢ−1)
    * / (N(N−1)) (the probability two random docs share a source — one
    * exact divide) and Shannon entropy in exact-lg bits via a sorted
    * fold — the mixing-health panel for a multi-source corpus (q70
    * sets target mixes; this measures what a slice actually is). */
  def q222Diversity(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
    val tot = cells.groupBy(col("lang"))
      .agg(sum(col("c")).as("nn"), count(lit(1)).as("n_sources"),
        sum(col("c") * (col("c") - 1)).as("pairs"))
    val terms = cells.join(broadcast(tot), "lang")
      .select(col("lang"), col("source"), col("nn"), col("n_sources"),
        col("pairs"),
        ((col("c").cast("double") / col("nn").cast("double")) *
          (lg(col("nn")) - lg(col("c")))).as("h"))
    terms.groupBy(col("lang"))
      .agg(max(col("nn")).as("n_docs"), max(col("n_sources")).as("n_sources"),
        (max(col("pairs")).cast("double") /
          (max(col("nn")) * (max(col("nn")) - 1)).cast("double")).as("simpson"),
        sort_array(collect_list(struct(col("source").as("k"), col("h"))))
          .as("__hs"))
      .select(col("lang"), col("n_docs"), col("n_sources"), col("simpson"),
        aggregate(col("__hs"), lit(0.0), (acc, x) => acc + x("h"))
          .as("shannon_lg2"))
      .orderBy(col("lang"))
  }

  /** nDCG@10 for the exact cosine retrieval (q28's knn), binary
    * relevance = same label: DCG = Σ relᵢ/lg(i+1) as a fixed-order fold
    * over the rank list, IDCG over the ideal prefix min(10, corpus
    * relevant), both in exact-lg bits — the position-discounted quality
    * metric q181's MRR/hit-rate suite lacks. Label lookups are two
    * broadcast joins of the id→label projection. */
  def q223Ndcg(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val knn = graft.sim.Similarity.cosineKnn(
      emb.filter(col("vec_id") % 25 === 0), emb, "vec_id", "embedding", k = 10)
    val labels = emb.select(col("vec_id"), col("label"))
    val nRel = labels.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    val rels = knn
      .join(broadcast(labels.select(col("vec_id").as("q_id"),
        col("label").as("q_label"))), "q_id")
      .join(broadcast(labels.select(col("vec_id").as("c_id"),
        col("label").as("c_label"))), "c_id")
      .select(col("q_id"), col("q_label"), col("rnk"),
        (col("c_label") === col("q_label")).cast("long").as("rel"))
    rels.groupBy(col("q_id"), col("q_label").as("label"))
      .agg(sum(col("rel")).as("n_rel_topk"),
        sort_array(collect_list(struct(col("rnk"), col("rel")))).as("rs"))
      .join(broadcast(nRel), "label")
      .select(col("q_id"), col("label"), col("n_rel_topk"),
        aggregate(col("rs"), lit(0.0),
          (acc, x) => acc + x("rel").cast("double") / lg(x("rnk") + 1))
          .as("dcg"),
        aggregate(sequence(lit(1L), least(lit(10L), col("n_label") - 1)),
          lit(0.0), (acc, i) => acc + lit(1.0) / lg(i + 1)).as("idcg"))
      .withColumn("ndcg", col("dcg") / col("idcg"))
      .orderBy(col("q_id"))
  }

  /** Label-noise audit (the confident-learning shape): assign every
    * embedding to its nearest LABEL CENTROID (q73's fixed-point-exact
    * means, the shared cosine contract); vectors whose predicted label
    * differs from their recorded one, ranked by margin (cos_pred −
    * cos_own), are the relabel/review queue. Centroids collapse to one
    * broadcast row — assignment is a narrow pipelined pass, no shuffle
    * on the vector side. Top-50 suspects. */
  def q224LabelNoise(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cents = graft.sim.Similarity
      .labelCentroids(emb, "label", "embedding")
      .groupBy(col("label").as("cl"))
      .agg(sort_array(collect_list(struct(col("pos"), col("centroid"))))
        .as("cs"))
      .select(col("cl"), transform(col("cs"), x => x("centroid")).as("cv"))
    // element-order double folds == DuckDB list_dot_product accumulation
    // (the q28 cosine contract, here over a double centroid array).
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
        (dot(col("v"), col("c.cv")) /
          (sqrt(dot(col("v"), col("v"))) *
            sqrt(dot(col("c.cv"), col("c.cv"))))).as("cos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("cl"))
    val top = scored
      .withColumn("rn", row_number().over(w))
    val pred = top.filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("cl").as("pred_label"),
        col("cos").as("cos_pred"))
    val own = scored.filter(col("cl") === col("label"))
      .select(col("vec_id"), col("cos").as("cos_own"))
    pred.join(own, "vec_id")
      .filter(col("pred_label") =!= col("label"))
      .select(col("vec_id"), col("label"), col("pred_label"),
        col("cos_own"), col("cos_pred"),
        (col("cos_pred") - col("cos_own")).as("margin"))
      .orderBy(col("margin").desc, col("vec_id"))
      .limit(50)
  }

  /** Stratified average treatment effect of q205's A/B split on
    * conversion, strata = user activity buckets (event count div 20) —
    * the confounder-adjusted estimator (inverse-propensity weighting
    * with within-stratum propensities): ATE = Σₛ (nₛ/N)·(c₁ₛ/n₁ₛ −
    * c₀ₛ/n₀ₛ) over strata with both arms present. Per-stratum
    * statistics are exact integers; the cross-stratum sum is a
    * fixed-order fold over the (few) strata. */
  def q225StratifiedAte(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        max(when(col("event_type") === "purchase" && col("value") > 150.0, 1L)
          .otherwise(0L)).as("conv"))
      .select((col("user_id") % 2).as("variant"),
        expr("n_ev div 20").as("stratum"), col("conv"))
    val strata = users.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_s"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("c1"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("c0"))
      .filter(col("n1") > 0 && col("n0") > 0)
    val tot = strata.agg(sum(col("n_s")).as("nn"),
      count(lit(1)).as("n_strata"))
    strata.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("nn"), col("n_strata"), col("stratum"),
        ((col("n_s").cast("double") / col("nn").cast("double")) *
          (col("c1").cast("double") / col("n1").cast("double") -
            col("c0").cast("double") / col("n0").cast("double"))).as("term"))
      .groupBy(col("nn"), col("n_strata"))
      .agg(sort_array(collect_list(struct(col("stratum"), col("term"))))
        .as("ts"))
      .select(col("nn").as("n_users"), col("n_strata"),
        aggregate(col("ts"), lit(0.0), (acc, x) => acc + x("term")).as("ate"))
  }

  /** Wilson 95% confidence intervals for each A/B arm's conversion
    * rate — the small-sample-safe interval (never escapes [0,1], unlike
    * the Wald interval q205's z² implies). One aggregate; the interval
    * arithmetic is a fixed parenthesization over exact integer (n, c),
    * z = 1.959963984540054 as a shared literal. */
  def q226WilsonCi(s: SparkSession, dir: String): DataFrame = {
    val z = 1.959963984540054
    val arms = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150.0, 1L)
        .otherwise(0L)).as("conv"))
      .groupBy((col("user_id") % 2).as("variant"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    arms.select(col("variant"), col("n"), col("c"),
        (col("c").cast("double") / col("n").cast("double")).as("p_hat"),
        ((col("c").cast("double") + lit(z * z / 2)) /
          (col("n").cast("double") + lit(z * z)) -
          lit(z) * sqrt(col("c").cast("double") *
            (col("n") - col("c")).cast("double") / col("n").cast("double") +
            lit(z * z / 4)) / (col("n").cast("double") + lit(z * z)))
          .as("wilson_lo"),
        ((col("c").cast("double") + lit(z * z / 2)) /
          (col("n").cast("double") + lit(z * z)) +
          lit(z) * sqrt(col("c").cast("double") *
            (col("n") - col("c")).cast("double") / col("n").cast("double") +
            lit(z * z / 4)) / (col("n").cast("double") + lit(z * z)))
          .as("wilson_hi"))
      .orderBy(col("variant"))
  }

  /** Kendall's τ-b between the daily event count and the daily purchase
    * count — the rank-correlation twin of q216's Spearman, robust to the
    * monotone-transform family and exact under ties (τ-b's tie
    * correction; Kendall 1945). Pairwise concordance is quadratic by
    * definition, so the pair space is bounded BY CONSTRUCTION to the
    * daily series (calendar days, never raw events — the q207 ACF
    * discipline): concordant/discordant/tie counts are exact integers
    * from a d1 < d2 self-join of the tiny daily aggregate, and the only
    * float is the final divide by √((n0−n1)(n0−n2)). */
  def q227KendallTau(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val a = daily.select(col("d").as("d1"), col("x").as("x1"), col("y").as("y1"))
    val b = daily.select(col("d").as("d2"), col("x").as("x2"), col("y").as("y2"))
    val sgn = (col("x2") - col("x1")) * (col("y2") - col("y1"))
    a.join(b, col("d1") < col("d2"))
      .agg(count(lit(1)).as("n0"),
        sum(when(sgn > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(sgn < 0, 1L).otherwise(0L)).as("discordant"),
        sum(when(col("x1") === col("x2"), 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("y1") === col("y2"), 1L).otherwise(0L)).as("ties_y"))
      .select(col("n0"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"),
        ((col("concordant") - col("discordant")).cast("double") /
          sqrt(((col("n0") - col("ties_x")) * (col("n0") - col("ties_y")))
            .cast("double"))).as("tau_b"))
  }

  /** CUPED variance reduction for q205's A/B split (Deng et al. 2013,
    * WSDM): pre-period covariate X = a user's event count before the
    * corpus midpoint, outcome Y = post-midpoint purchase count,
    * θ = cov(X,Y)/var(X) from the pooled arms. All moments are exact
    * int64 sums (θ and ρ² are single divides of integer-built terms;
    * ρ²'s numerator is squared in double only because (n·Σxy − ΣxΣy)²
    * can exceed int64); the adjusted difference is a fixed
    * parenthesization over per-arm integer sums. ρ² IS the fraction of
    * outcome variance CUPED removes — the experiment-velocity dividend. */
  def q228Cuped(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val span = ev.agg(min(to_date(col("ts"))).as("min_d"),
      max(to_date(col("ts"))).as("max_d"))
      .select(date_add(col("min_d"),
        floor(datediff(col("max_d"), col("min_d")) / 2).cast("int")).as("mid_d"))
    val users = ev.crossJoin(broadcast(graft.ops.Guards.scalar(span)))
      .groupBy(col("user_id"))
      .agg(sum(when(to_date(col("ts")) < col("mid_d"), 1L).otherwise(0L)).as("x"),
        sum(when(to_date(col("ts")) >= col("mid_d") &&
          col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .select((col("user_id") % 2).as("variant"), col("x"), col("y"))
    val m = users.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("variant") === 1, col("x")).otherwise(0L)).as("sx1"),
      sum(when(col("variant") === 1, col("y")).otherwise(0L)).as("sy1"),
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("variant") === 0, col("x")).otherwise(0L)).as("sx0"),
      sum(when(col("variant") === 0, col("y")).otherwise(0L)).as("sy0"))
    def armMean(sc: Column, nc: Column): Column =
      sc.cast("double") / nc.cast("double")
    m.withColumn("theta",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .select(col("n").as("n_users"), col("theta"),
        (armMean(col("sy1"), col("n1")) - armMean(col("sy0"), col("n0")))
          .as("diff_raw"),
        ((armMean(col("sy1"), col("n1")) - col("theta") *
          (armMean(col("sx1"), col("n1")) - armMean(col("sx"), col("n")))) -
          (armMean(col("sy0"), col("n0")) - col("theta") *
            (armMean(col("sx0"), col("n0")) - armMean(col("sx"), col("n")))))
          .as("diff_cuped"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") *
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
          .as("rho2"))
  }

  /** Cohen's kappa between two INDEPENDENT heuristic document raters —
    * the inter-annotator-agreement statistic that tells you whether two
    * quality gates measure the same thing or merely both fire often
    * (Cohen 1960): rater A = length gate (n_chars ∈ [150, 450]), rater
    * B = lexical-diversity gate (distinct tokens ≥ half of total — the
    * q215 TTR at threshold 1/2, integer-compared so no float ratio).
    * κ = (n(a+d) − E) / (n² − E) with E = (a+b)(a+c) + (c+d)(b+d): ONE
    * divide of two exact int64s built from the 2×2 confusion counts. */
  def q229Kappa(s: SparkSession, dir: String): DataFrame = {
    val rated = Tables.documents(s, dir)
      .select(
        (col("n_chars") >= 150 && col("n_chars") <= 450).as("ra"),
        (size(array_distinct(split(col("text"), " "))) * 2 >=
          size(split(col("text"), " "))).as("rb"))
    val c = rated.agg(
      sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("both_pass"),
      sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("only_a"),
      sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("only_b"),
      sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("neither"))
    val n = col("both_pass") + col("only_a") + col("only_b") + col("neither")
    val e = (col("both_pass") + col("only_a")) *
      (col("both_pass") + col("only_b")) +
      (col("only_b") + col("neither")) * (col("only_a") + col("neither"))
    c.select(col("both_pass"), col("only_a"), col("only_b"), col("neither"),
      ((col("both_pass") + col("neither")).cast("double") / n.cast("double"))
        .as("po"),
      ((n * (col("both_pass") + col("neither")) - e).cast("double") /
        (n * n - e).cast("double")).as("kappa"))
  }

  /** Pairwise Jensen-Shannon divergence between source unigram
    * distributions over 64 hashed token buckets (the q115 KL fixture,
    * symmetrized and bounded): JSD(P,Q) = ½Σ p·lg(2·cP·NQ ∕ (cP·NQ +
    * cQ·NP)) + ½Σ q·(mirror) — every lg argument is an exact int64
    * product, so the md5-bucketed distribution AND the divergence are
    * bit-replayable in the oracle. The pair×bucket grid is bounded
    * (sources × 64) regardless of corpus size; per-pair sums are sorted
    * folds over the bucket axis. The source-similarity matrix behind
    * mixing decisions: JSD → 0 ⟺ interchangeable sources, → 1 bit ⟺
    * disjoint vocabularies. (Exact-lg is the chord between adjacent
    * powers of two — ≤ true log₂ by ≤ 0.0861 bits — so values can dip
    * below 0 by at most that chord gap; the [0,1] bound holds to that
    * tolerance.) */
  def q230Jsd(s: SparkSession, dir: String): DataFrame = {
    val buckets = 64
    def bucket(t: Column): Column =
      pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"),
        lit(buckets.toLong))
    val dc = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), bucket(col("tok")).as("b"))
      .agg(count(lit(1)).as("ct"))
    val tot = dc.groupBy(col("source")).agg(sum(col("ct")).as("nt"))
    val srcs = tot.select(col("source"), col("nt"))
    val grid = srcs.select(col("source").as("sa"), col("nt").as("na"))
      .join(srcs.select(col("source").as("sb"), col("nt").as("nb")),
        col("sa") < col("sb"))
      .crossJoin(broadcast(graft.ops.Guards.bounded(
        dc.select(col("b")).distinct(), buckets)))
    val joined = grid
      .join(dc.select(col("source").as("sa"), col("b"), col("ct").as("ca")),
        Seq("sa", "b"), "left")
      .join(dc.select(col("source").as("sb"), col("b"), col("ct").as("cb")),
        Seq("sb", "b"), "left")
      .select(col("sa"), col("sb"), col("b"), col("na"), col("nb"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .filter(col("ca") + col("cb") > 0)
    val mixDen = col("ca") * col("nb") + col("cb") * col("na")
    val termA = when(col("ca") > 0,
      (col("ca").cast("double") / col("na").cast("double")) *
        (lg(lit(2L) * col("ca") * col("nb")) - lg(mixDen))).otherwise(lit(0.0))
    val termB = when(col("cb") > 0,
      (col("cb").cast("double") / col("nb").cast("double")) *
        (lg(lit(2L) * col("cb") * col("na")) - lg(mixDen))).otherwise(lit(0.0))
    joined
      .select(col("sa"), col("sb"), col("b"),
        (lit(0.5) * termA + lit(0.5) * termB).as("contrib"))
      .groupBy(col("sa"), col("sb"))
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("b"), col("contrib")))),
          e => e("contrib")),
        lit(0.0), (acc, x) => acc + x).as("jsd_bits"))
      .orderBy(col("sa"), col("sb"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q207_acf"            -> q207Acf _,
    "q208_survival"       -> q208Survival _,
    "q209_adamic_adar"    -> q209AdamicAdar _,
    "q210_clustering"     -> q210ClusteringCoeff _,
    "q211_mann_whitney"   -> q211MannWhitney _,
    "q212_ks_test"        -> q212KsTest _,
    "q213_zipf_fit"       -> q213ZipfFit _,
    "q214_good_turing"    -> q214GoodTuring _,
    "q215_lexical_diversity" -> q215LexicalDiversity _,
    "q216_spearman"       -> q216Spearman _,
    "q217_heaps"          -> q217Heaps _,
    "q218_cdc_chunks"     -> q218CdcChunks _,
    "q219_mutual_info"    -> q219MutualInfo _,
    "q220_fertility"      -> q220Fertility _,
    "q221_burstiness"     -> q221Burstiness _,
    "q222_diversity"      -> q222Diversity _,
    "q223_ndcg"           -> q223Ndcg _,
    "q224_label_noise"    -> q224LabelNoise _,
    "q225_stratified_ate" -> q225StratifiedAte _,
    "q226_wilson_ci"      -> q226WilsonCi _,
    "q227_kendall_tau"    -> q227KendallTau _,
    "q228_cuped"          -> q228Cuped _,
    "q229_kappa"          -> q229Kappa _,
    "q230_jsd"            -> q230Jsd _)
}
