package graft.queries

import graft.Tables
import graft.ops.IterativeLoop
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Round-11 wave: convergence-driven graph analytics on the new
 * [[graft.ops.IterativeLoop.fixedUntil]] discipline (every loop here
 * genuinely reaches an EXACT integer fixed point, so the round cap is a
 * loud-failure guard, not the workload), plus two corpus-statistics
 * operators that avoid the global-sort / transcendental-function traps:
 *
 *  - q421 single-source shortest paths (Bellman–Ford relaxation under
 *    distinct md5 integer weights),
 *  - q422 critical-path DAG dynamic programming (layered md5 stages,
 *    earliest-completion times — structurally bounded depth),
 *  - q423 batched multi-source BFS closeness/eccentricity (the sampled
 *    centrality estimator: K sources share ONE state frame),
 *  - q424 exact quantiles by distributed histogram refinement (no sort,
 *    no single-partition window: O(log_B range) counting passes with
 *    bounded driver state),
 *  - q425 bigram language-model surprisal scoring in exact integer
 *    arithmetic (bit-length log2 — the perplexity-proxy quality filter
 *    with a bit-identical cross-engine form).
 *
 * Determinism: all arithmetic is BIGINT; md5 weights/levels are total;
 * every loop's early exit is hash-identical to its cap by step(fp)=fp.
 */
object CatalogGp {

  /** The thr≥2 part co-order graph shared with q402/q410/q413/q419/q420. */
  private def edges(s: SparkSession, dir: String): DataFrame =
    CatalogAlg.partEdges(s, dir)

  /** Both-direction relaxation frame with 48-bit md5 edge weights
    * (distinct whp ⇒ unique shortest-path tree, hash-stable output). */
  private def weightedUndirected(s: SparkSession, dir: String): DataFrame = {
    val we = edges(s, dir).select(col("x"), col("y"),
      conv(substring(md5(concat(lit("sp:"), col("x"), lit(","), col("y"))),
        1, 12), 16, 10).cast("long").as("wt"))
    IterativeLoop.cutLazy(
      we.select(col("x").as("a"), col("y").as("b"), col("wt"))
        .unionAll(we.select(col("y").as("a"), col("x").as("b"), col("wt"))))
  }

  /** Monotone-frame convergence probe: (row count, Σ value as
    * DECIMAL(38,0) — overflow-proof at any scale). Sound for the loops
    * here: keys only ever APPEAR (never vanish) and each key's value
    * moves MONOTONICALLY (SSSP dists only decrease — a later round may
    * find a cheaper longer-hop path; DAG ect values only grow), so a
    * stationary (count, sum) means no key appeared and no value moved —
    * i.e. it IS a fixed point. */
  private def countSumProbe(valueCol: String): (DataFrame, DataFrame) => Boolean =
    IterativeLoop.stationaryAgg(df =>
      df.agg(count(lit(1)), sum(col(valueCol).cast("decimal(38,0)")))
        .collect().toSeq.map(_.toSeq))

  // ---------------------------------------------------------------- q421

  private[graft] val SsspRounds = 24

  /** HOP-BOUNDED Bellman–Ford SSSP from the minimum node of the part
    * co-order graph under 48-bit md5 edge weights: dist(v) = the
    * cheapest cost over paths of ≤ [[SsspRounds]] edges — the form every
    * fixed-round distributed Bellman–Ford actually computes, and EXACT
    * SSSP whenever the relaxation converges inside the bound (it does at
    * every verified SF — the spec asserts convergence ≤ half the cap at
    * sf0.001; on the ×10 corpus, whose shared part keys DENSIFY the
    * graph until random-weight shortest paths use >24 hops, the bounded
    * semantics are what both engines compute, by the same 24 rounds).
    * The distance frame is carried SPARSE (only reached nodes — at
    * 100 TB the frontier is what exists, not a zero-filled universe);
    * each round is one edge⋈dist equi-join plus a min aggregate, and the
    * loop exits early at the exact fixed point via the monotone
    * (count, Σ) stationarity probe. */
  def q421Sssp(s: SparkSession, dir: String): DataFrame =
    ssspResult(s, dir).df.orderBy(col("a"))
      .select(col("a").as("node"), col("d").as("dist"))

  private[graft] def ssspResult(s: SparkSession, dir: String): IterativeLoop.FixedResult = {
    val und = weightedUndirected(s, dir)
    val src = und.agg(min(col("a")).as("a")).select(col("a"), lit(0L).as("d"))
    // requireConverged=false: the cap IS the (hop-bound) contract; the
    // oracle unrolls exactly the cap, so capped and converged runs both
    // hash-match by construction
    IterativeLoop.fixedUntil(src, SsspRounds,
        sameAs = countSumProbe("d")) { (dist, _) =>
      val cand = und.join(dist.select(col("a").as("b"), col("d")), "b")
        .select(col("a"), (col("d") + col("wt")).as("d"))
      dist.unionByName(cand).groupBy(col("a")).agg(min(col("d")).as("d"))
    }
  }

  // ---------------------------------------------------------------- q422

  private[graft] val CpLevels = 8

  /** Critical-path DAG dynamic programming: parts are tasks with md5
    * durations, md5-assigned to [[CpLevels]] pipeline stages; co-order
    * edges crossing stages upward are precedence constraints (the
    * layering makes the DAG depth STRUCTURALLY < [[CpLevels]], so the
    * loop provably converges inside its cap). Earliest completion time
    * ect(v) = dur(v) + max(0, max over predecessors ect(u)) — the
    * longest-path relaxation every scheduler runs, in exact integers. */
  def q422CriticalPath(s: SparkSession, dir: String): DataFrame = {
    // round 15: one cut for the co-order edge build — `nodes` and `dag`
    // are separate cuts and each re-ran the lineitem self-join chain when
    // materializing (the only catalog query that paid partEdges twice)
    val e = IterativeLoop.cutLazy(edges(s, dir))
    val nodes = IterativeLoop.cutLazy(
      e.select(col("x").as("n")).unionAll(e.select(col("y").as("n"))).distinct()
        .select(col("n"),
          (conv(substring(md5(concat(lit("lvl:"), col("n"))), 1, 8), 16, 10)
            .cast("long") % CpLevels).as("lvl"),
          (conv(substring(md5(concat(lit("dur:"), col("n"))), 1, 8), 16, 10)
            .cast("long") % 1000L + 1L).as("dur")))
    val dag = IterativeLoop.cutLazy(
      e.unionAll(e.select(col("y").as("x"), col("x").as("y")))
        .join(nodes.select(col("n").as("x"), col("lvl").as("lx")), "x")
        .join(nodes.select(col("n").as("y"), col("lvl").as("ly")), "y")
        .filter(col("lx") < col("ly"))
        .select(col("x").as("u"), col("y").as("v")))
    val fin = IterativeLoop.fixedUntil(
        nodes.select(col("n"), col("dur"), col("dur").as("ect")),
        CpLevels, requireConverged = true,
        sameAs = countSumProbe("ect")) { (st, _) =>
      val best = dag.join(st.select(col("n").as("u"), col("ect").as("eu")), "u")
        .groupBy(col("v").as("n")).agg(max(col("eu")).as("mx"))
      st.join(best, Seq("n"), "left")
        .select(col("n"), col("dur"),
          greatest(col("ect"), col("dur") + coalesce(col("mx"), lit(0L)))
            .as("ect"))
    }
    fin.df.join(nodes.select(col("n"), col("lvl")), "n")
      .select(col("n").as("node"), col("lvl"), col("dur"), col("ect"))
      .orderBy(col("node"))
  }

  // ---------------------------------------------------------------- q423

  private[graft] val BfsRounds = 24
  private[graft] val CentSources = 8

  /** Sampled closeness/eccentricity centrality: the [[CentSources]]
    * smallest nodes run a BATCHED multi-source BFS — one (src, node,
    * dist) state frame, so K sources cost one loop, not K loops (the
    * standard centrality-estimation shape at scale; Brandes-style
    * sampling picks sources, batching amortizes the rounds). Exits at
    * the exact fixed point (the graph's eccentricity from those sources,
    * ≪ the 24-round guard). */
  def q423Closeness(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir)
    val und = IterativeLoop.cutLazy(
      e.select(col("x").as("a"), col("y").as("b"))
        .unionAll(e.select(col("y").as("a"), col("x").as("b"))))
    val srcs = und.select(col("a")).distinct()
      .orderBy(col("a")).limit(CentSources)
    val init = srcs.select(col("a").as("src"), col("a"), lit(0L).as("d"))
    val fin = IterativeLoop.fixedUntil(init, BfsRounds, requireConverged = true,
        sameAs = countSumProbe("d")) { (st, r) =>
      // Round 16: expand only the FRONTIER — the rows discovered last
      // round (BFS is level-order, so a pair's d equals the round that
      // first reached it: d = r−1 IS last round's additions). Expanding
      // older rows only regenerates (src, node, d') with d' strictly
      // above the existing minimum, which the min-merge discards — so
      // dropping them is exact, and the per-round join volume falls from
      // all-reached-sized to frontier-sized (guide §1.2-1; the bfsHops
      // delta-frontier shape, batched across sources).
      val cand = und.join(
          st.filter(col("d") === (r - 1).toLong)
            .select(col("src"), col("a").as("b"), col("d")), "b")
        .select(col("src"), col("a"), (col("d") + 1L).as("d"))
      st.unionByName(cand).groupBy(col("src"), col("a")).agg(min(col("d")).as("d"))
    }
    fin.df.groupBy(col("src"))
      .agg(count(lit(1)).as("n_reached"), max(col("d")).as("ecc"),
        sum(col("d")).as("total_dist"))
      .orderBy(col("src"))
  }

  // ---------------------------------------------------------------- q424

  /** Exact corpus quantiles (p50/p90/p99 of l_extendedprice in cents) by
    * distributed histogram refinement ([[graft.ops.Quantiles]], the
    * no-sort k-th-smallest primitive — q431 composes the same op into
    * MAD outlier detection): O(log₂₅₆ range) counting passes — 3 for
    * 32-bit cents — with O(quantiles × bins) driver state at any corpus
    * size; the textbook alternative (global sort, or a rank window)
    * moves the whole column. */
  def q424ExactQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = IterativeLoop.cutLazy(Tables.lineitem(s, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("c")))
    val n = cents.count()
    require(n > 0, "empty corpus")
    // k-th smallest targets, ceil(p·n) in exact integer arithmetic
    val targets = Seq(("p50", (n + 1L) / 2L), ("p90", (9L * n + 9L) / 10L),
      ("p99", (99L * n + 99L) / 100L))
    graft.ops.Quantiles.kthSmallest(cents, "c", targets)
      .map { case (nm, k, v) => (nm, k, n, v) }
      .toDF("q", "k", "n", "value")
      .orderBy(col("q"))
  }

  // ---------------------------------------------------------------- q425

  /** Bigram language-model surprisal in exact integer arithmetic — the
    * perplexity-proxy quality filter: corpus-wide character-bigram
    * counts give each occurrence the integer surprisal
    * bitlen(total) − bitlen(count) (⌊log₂⌋ via binary-string length —
    * bit-identical across engines, unlike libm logarithms), and a
    * document's score is the sum over its bigrams. Repetitive/templated
    * text (common bigrams) scores low; line noise (rare bigrams) scores
    * high — threshold both tails. One explode + one broadcast join of
    * the (charset²-bounded) bigram dictionary; linear in corpus chars. */
  def q425BigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val docs0 = Tables.documents(s, dir).filter(length(col("text")) >= 2)
    // Round 16: the per-char explode ran on the scan's partition count —
    // ONE task on a single-split local corpus (ProfileTop par ≈ 1.0) —
    // so the whole bigram materialization was serial. Same gated spread
    // as Dedup.shingled: only repartition when the scan yields fewer
    // partitions than cores (a real multi-split 100 TB scan already has
    // enough and must not pay a gratuitous text exchange).
    val par = s.sparkContext.defaultParallelism
    val docs = if (docs0.rdd.getNumPartitions < par) docs0.repartition(par) else docs0
    // ... and the per-position SQL substring was O(position) per call
    // (UTF8String re-walks from the start), i.e. O(L²) per document — the
    // native graft_char_bigrams kernel emits the identical bigram list in
    // ONE byte pass (bit-equal per its doc; guide §1.2-2 per-task work).
    val grams = IterativeLoop.cutLazy(docs
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.charBigrams(col("text"))).as("bg")))
    val dict = grams.groupBy(col("bg")).agg(count(lit(1)).as("c"))
    val tot = dict.agg(sum(col("c")).as("t"))
    val scored = grams
      .join(broadcast(dict.crossJoin(tot)
        .select(col("bg"),
          (length(conv(col("t"), 10, 2)) - length(conv(col("c"), 10, 2)))
            .cast("long").as("srp"))), "bg")
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("srp")).as("srp_sum"))
      .orderBy(col("doc_id"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q421_sssp"            -> q421Sssp _,
    "q422_critical_path"   -> q422CriticalPath _,
    "q423_closeness"       -> q423Closeness _,
    "q424_exact_quantiles" -> q424ExactQuantiles _,
    "q425_bigram_surprisal" -> q425BigramSurprisal _)
}
