package graft.queries

import graft.Tables
import graft.ops.IterativeLoop
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Round-10e wave: parallel-graph primitives and embedding evaluation —
 * Luby's maximal independent set (THE textbook symmetry-breaking
 * algorithm: md5 priorities, O(log n) rounds whp) and Borůvka's minimum
 * spanning tree (each component hooks its minimum outgoing edge, then
 * label-merges by pointer jumping — the componentwise-parallel MST that
 * predates every other), plus Matryoshka-style dimension-truncation
 * recall for the embedding column (how much of full-dim top-1 retrieval
 * survives at 4/8/16/32 dims — the eval behind truncatable-embedding
 * serving). Determinism: distinct md5 weights ⇒ the MST is UNIQUE;
 * priorities pack (hash, node) so comparisons are total; cosine sums
 * accumulate in element order in both engines.
 */
object CatalogGr {

  /** The thr≥2 part co-order graph shared with q402/q410/q413. */
  private def edges(s: SparkSession, dir: String): DataFrame =
    CatalogAlg.partEdges(s, dir)

  // ---------------------------------------------------------------- q418

  /** Matryoshka/dim-truncation retrieval eval: for every query vector
    * (vec_id % 25 = 0, the q28 convention) find the top-1 neighbor by
    * cosine over the first d dims, d ∈ {4, 8, 16, 32, 64}, and score
    * each budget's recall against the full-dim (64) answer. Brute-force
    * scan by design — this is the offline evaluation harness, same
    * contract as q28/q192; sums accumulate in element order so both
    * engines agree bit-for-bit. */
  def q418DimRecall(s: SparkSession, dir: String): DataFrame = {
    val dims = Seq(4, 8, 16, 32, 64)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("v"))
    val q = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // brute-force by DESIGN (offline eval harness, q28 contract) — but the
    // design only holds for a bounded query batch: guard it so a corpus
    // where the % 25 convention stops being small fails loudly instead of
    // silently running an all-pairs scan (the scale path is q30/q35 ANN)
    val nq = q.count()
    require(nq <= 1000,
      s"dim-recall is an offline eval over a bounded query batch; got $nq queries")
    val pairs = q.crossJoin(e.filter(col("vec_id") % 25 =!= 0)
        .select(col("vec_id").as("c_id"), col("v").as("cv")))
    val byDim = dims.map { d =>
      pairs.select(lit(d.toLong).as("d"), col("q_id"), col("c_id"),
        graft.functions.GraftFunctions.cosine(
          slice(col("qv"), 1, d), slice(col("cv"), 1, d)).as("cos"))
    }.reduce(_ unionAll _)
    val w = Window.partitionBy(col("d"), col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    val top1 = IterativeLoop.cutLazy(
      byDim.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("d"), col("q_id"), col("c_id")))
    val truth = top1.filter(col("d") === 64)
      .select(col("q_id"), col("c_id").as("true_id"))
    top1.join(truth, "q_id")
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("c_id") === col("true_id"), 1L).otherwise(0L))
          .as("n_match"))
      .select(col("d"), col("n_queries"), col("n_match"),
        (col("n_match").cast("double") / col("n_queries").cast("double"))
          .as("recall1"))
      .orderBy(col("d"))
  }

  // ---------------------------------------------------------------- q419

  private[graft] val MisRounds = 6

  /** Luby's maximal independent set on the part co-order graph: every
    * node draws a total-order priority (40-bit md5 ∥ node id); each
    * round, every undecided node smaller than ALL undecided neighbors
    * joins the MIS and its neighbors drop out — O(log n) rounds whp,
    * 6 fixed rounds replayed by the oracle (the all-decided law guards
    * the margin). Each round is one neighbor-min aggregate + two
    * semi/anti joins — the canonical distributed symmetry-breaker. */
  def q419LubyMis(s: SparkSession, dir: String): DataFrame =
    lubyOf(edges(s, dir), MisRounds)

  /** MIS core on an oriented (x, y) edge frame. */
  private[graft] def lubyOf(edges0: DataFrame, rounds: Int): DataFrame = {
    val nbr = IterativeLoop.cutLazy(
      edges0.select(col("x").as("a"), col("y").as("b"))
        .unionAll(edges0.select(col("y").as("a"), col("x").as("b"))))
    val pr0 = nbr.select(col("a")).distinct()
      .select(col("a"), (conv(substring(md5(concat(lit("mis:"), col("a"))),
        1, 10), 16, 10).cast("long") * 1048576L + col("a")).as("pr"))
    // state: (a, pr, st) with st 0=undecided 1=MIS(+round) 2=removed
    val init = pr0.select(col("a"), col("pr"), lit(0L).as("st"))
    val fin = IterativeLoop.fixed(init, rounds) { (st, r) =>
      val und = st.filter(col("st") === 0L).select(col("a"), col("pr"))
      val nbrMin = nbr.join(und.select(col("a").as("b"), col("pr").as("pb")), "b")
        .groupBy(col("a")).agg(min(col("pb")).as("mn"))
      // round 15: measured and deliberately NOT cut — `sel` feeds five
      // consumers, but exchange reuse already dedups its subtree across
      // them; adding cutLazy here was tried and made the query WORSE
      // (40 → 72 stage jobs, +60% task time: the persisted-RDD boundaries
      // split one adaptive execution into more stage materializations
      // than the reuse they replaced)
      val sel = und.join(nbrMin, Seq("a"), "left")
        .filter(col("mn").isNull || col("pr") < col("mn"))
        .select(col("a"))
      val dropped = nbr.join(sel.select(col("a").as("b")), Seq("b"), "left_semi")
        .select(col("a")).distinct()
        .join(sel, Seq("a"), "left_anti")
      st.filter(col("st") =!= 0L)
        .unionByName(st.filter(col("st") === 0L)
          .join(sel, Seq("a"), "left_semi")
          .select(col("a"), col("pr"), lit(r.toLong).as("st")))
        .unionByName(st.filter(col("st") === 0L)
          .join(dropped, Seq("a"), "left_semi")
          .join(sel, Seq("a"), "left_anti")
          .select(col("a"), col("pr"), lit(-1L).as("st")))
        .unionByName(st.filter(col("st") === 0L)
          .join(sel, Seq("a"), "left_anti")
          .join(dropped, Seq("a"), "left_anti")
          .select(col("a"), col("pr"), lit(0L).as("st")))
    }
    // pr = md5₄₀·2²⁰ + a is a total order ONLY while all ids sit inside
    // the 2²⁰ packing window (same caveat as CatalogGx.q440JpColoring —
    // a collision between undecided neighbors stalls both); loud guard
    val idCap = nbr.agg(coalesce(max(col("a")), lit(0L)).as("maxid"))
    fin.filter(col("st") > 0L)
      .select(col("a").as("node"), col("st").as("sel_round"))
      .crossJoin(idCap)
      .filter(coalesce(assert_true(col("maxid") < lit(1048576L),
        lit("MIS priority packing overflow: node ids must be < 2^20; " +
          "widen the priority encoding")), lit(true)))
      .select(col("node"), col("sel_round"))
      .orderBy(col("node"))
  }

  // ---------------------------------------------------------------- q420

  private[graft] val BoruvkaRounds = 6
  private[graft] val HookRounds = 6

  /** Borůvka's MST of the part co-order graph under distinct md5 edge
    * weights (distinct weights ⇒ the MST is UNIQUE, so the output is
    * hash-comparable with no tiebreak ambiguity): each round every
    * component selects its minimum outgoing edge (one union + min_by
    * aggregate), components hook along the chosen edges (2-cycles
    * resolved toward the smaller label) and flatten by pointer jumping —
    * ⌈lg n⌉ outer rounds, the componentwise-parallel MST. Chosen edges
    * accumulate; the forest/weight law replays Kruskal driver-side. */
  def q420BoruvkaMst(s: SparkSession, dir: String): DataFrame = {
    val we = IterativeLoop.cutLazy(edges(s, dir).select(col("x"), col("y"),
      (conv(substring(md5(concat(lit("mst:"), col("x"), lit(","), col("y"))),
        1, 12), 16, 10).cast("long")).as("wt")))
    val nodes = we.select(col("x").as("n")).unionAll(we.select(col("y").as("n")))
      .distinct()
    // state rows: kind 'l' = (node, label); kind 'e' = chosen MST edge
    val init = nodes.select(lit("l").as("kind"), col("n"), col("n").as("lbl"),
      lit(0L).as("ex"), lit(0L).as("ey"), lit(0L).as("ewt"))
    val fin = IterativeLoop.fixedEager(init, BoruvkaRounds) { (st, _) =>
      val lbls = st.filter(col("kind") === "l").select(col("n"), col("lbl"))
      // round 15: cut — `el` feeds BOTH arms of the `mo` union below, and
      // exchange reuse only dedups its exchanges, not the re-executed
      // two-join chain above them (one edge-sized join replay per round
      // saved; guide §2.4)
      val el = IterativeLoop.cutLazy(we
        .join(lbls.select(col("n").as("x"), col("lbl").as("lx")), "x")
        .join(lbls.select(col("n").as("y"), col("lbl").as("ly")), "y")
        .filter(col("lx") =!= col("ly")))
      val mo = el.select(col("lx").as("l"), col("x"), col("y"), col("wt"),
          col("lx"), col("ly"))
        .unionAll(el.select(col("ly").as("l"), col("x"), col("y"), col("wt"),
          col("lx"), col("ly")))
      val wMin = Window.partitionBy(col("l")).orderBy(col("wt").asc)
      val chosen = IterativeLoop.cutLazy(mo
        .withColumn("rn", row_number().over(wMin)).filter(col("rn") === 1)
        .select(col("l"), col("x"), col("y"), col("wt"),
          col("lx"), col("ly")))
      // hook: every choosing label points to the other endpoint's label;
      // 2-cycles (mutual minimum edges) resolve toward the smaller label
      val hook0 = chosen.select(col("l"),
        when(col("l") === col("lx"), col("ly")).otherwise(col("lx")).as("p"))
      val hook = hook0.alias("h1")
        .join(hook0.select(col("l").as("p"), col("p").as("pp")), Seq("p"), "left")
        .select(col("l"),
          when(col("pp").isNotNull && col("pp") === col("l") &&
            col("l") < col("p"), col("l")).otherwise(col("p")).as("p"))
      // flatten by pointer jumping (labels without a hook point to self)
      val allL = lbls.select(col("lbl")).distinct()
        .join(hook.select(col("l").as("lbl"), col("p")), Seq("lbl"), "left")
        .select(col("lbl").as("l"), coalesce(col("p"), col("lbl")).as("p"))
      // round 15: the flatten usually reaches its fixed point in
      // ⌈log₂ depth⌉ ≪ [[HookRounds]] rounds — exit EXACTLY there
      // (fixedUntilNoChange: zero moved pointers ⟺ step is the identity,
      // so the skipped tail rounds the oracle unrolls are no-ops and the
      // result is bit-identical; each skipped round is a label-frame
      // self-join that never runs). Stats-fresh cuts as before (squaring
      // loop).
      val flat = IterativeLoop.fixedUntilNoChange(allL, HookRounds,
          "__moved", fresh = true) { (f, _) =>
        f.join(f.select(col("l").as("p"), col("p").as("p2")), "p")
          .select(col("l"), col("p2").as("p"),
            when(col("p2") =!= col("p"), 1L).otherwise(0L).as("__moved"))
      }
      val newLbls = lbls.join(flat.select(col("l").as("__old"), col("p")),
          col("lbl") === col("__old"))
        .select(lit("l").as("kind"), col("n"), col("p").as("lbl"),
          lit(0L).as("ex"), lit(0L).as("ey"), lit(0L).as("ewt"))
      val newEdges = chosen.select(col("x"), col("y"), col("wt")).distinct()
        .select(lit("e").as("kind"), lit(0L).as("n"), lit(0L).as("lbl"),
          col("x").as("ex"), col("y").as("ey"), col("wt").as("ewt"))
      st.filter(col("kind") === "e").unionByName(newEdges)
        .unionByName(newLbls)
    }
    fin.filter(col("kind") === "e")
      .select(col("ex").as("x"), col("ey").as("y"), col("ewt").as("wt"))
      .distinct()
      .orderBy(col("x"), col("y"))
  }

  // ---------------------------------------------------------------- q436

  private[graft] val CcSegLen = 4096L

  /** High-diameter connected components via
    * [[graft.graph.Graph.hookComponents]] — the oracle-graded catalog row
    * for the Borůvka hook+flatten CC (SURVEY X422c; until round 12 it was
    * spec/probe-graded only). Graph construction: documents ranked by
    * md5 ([[graft.ops.DistributedRank]] — no single-partition window),
    * consecutive ranks joined into PATH segments of [[CcSegLen]] (the
    * rank-i—i+1 edge is dropped where i mod CcSegLen = 0), node ids =
    * the original doc_ids — so every segment is a scrambled-id path of
    * diameter CcSegLen−1 (499 at sf0.01's 500 docs; 4095 from sf0.1 up),
    * the exact regime where round-capped min-label propagation stalls at
    * local-minimum basins (the round-11 percolation finding) and the
    * hook CC's live-label contraction converges in a handful of rounds
    * regardless of diameter.
    *
    * Oracle: GROUND TRUTH by construction — the components ARE the rank
    * segments, and the component label is the segment's min doc_id (the
    * hookComponents output contract). No round replay is needed, unlike
    * q83/q113: a CC's fixpoint is canonical (round-count independent),
    * and `requireConverged` turns any cap overrun into a loud failure,
    * never a wrong answer — which is precisely the principled cross-scale
    * margin whose absence withdrew the round-11 percolation query. */
  def q436HookComponents(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    // cutLazy: the ranked frame feeds BOTH sides of the consecutive-rank
    // self-join (the DistributedRank double-reference lesson)
    val r = IterativeLoop.cutLazy(graft.ops.DistributedRank.withRowNumber(
      docs, "rnk",
      md5(concat(lit("cc:"), col("doc_id").cast("string"))), col("doc_id")))
    val edges = r.select(col("doc_id").as("x"), col("rnk"))
      .join(r.select(col("doc_id").as("y"), (col("rnk") - 1).as("rnk")), "rnk")
      .filter(col("rnk") % CcSegLen =!= 0)
      .select(col("x"), col("y"))
    graft.graph.Graph.hookComponents(edges, "x", "y")
      .select(col("id"), col("component"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q418_dim_recall"      -> q418DimRecall _,
    "q419_luby_mis"        -> q419LubyMis _,
    "q420_boruvka_mst"     -> q420BoruvkaMst _,
    "q436_hook_components" -> q436HookComponents _)
}
