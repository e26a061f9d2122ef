package graft.graph

import graft.ops.IterativeLoop
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Iterative graph analytics over edge DataFrames.
 *
 * PageRank (Brin & Page, WWW 1998) in FIXED-POINT arithmetic: ranks are
 * BIGINT multiples of 1/2⁴⁰, every per-iteration step is integer division
 * and integer summation — both associative/commutative — so the result is
 * a pure function of the edge SET, independent of partitioning and merge
 * order, and an external SQL engine replays the identical iterations (the
 * same mirror-the-training discipline as the k-means/BPE oracles).
 *
 * Scale posture: each iteration is two equi-joins keyed on `src` (ranks
 * and out-degrees co-partition with edges after the first exchange) plus
 * one `dst`-keyed sum whose partials combine map-side. Per-iteration
 * lineage is cut the same way connectedComponents does it (reliable
 * checkpoint when a dir is configured, else eager localCheckpoint), so
 * iteration k never replays k−1 predecessors. Iteration count is a small
 * fixed constant — wall-clock is O(iterations) shuffles regardless of
 * graph size. Dangling nodes (out-degree 0) simply leak their mass, the
 * standard drain formulation; the spec pins total-mass monotonicity.
 */
object Graph {

  /** Fixed-point damped PageRank. Output: (node, rank) with rank a BIGINT
    * in units of scale⁻¹; rank ≈ scale × pagerank. Damping 85/100; the
    * teleport term ((15·scale)/100)/N uses the in-plan one-row node count
    * (no driver collect). */
  def pageRankFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 8, scale: Long = 1L << 40): DataFrame = {
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    // Loop invariants, each cut once: edges pre-joined with out-degrees
    // and hash-partitioned on src (the contrib join's distribution — every
    // iteration exchanges only the node-sized ranks frame, never edges);
    // the teleport base pre-joined with the one-row node count. Without
    // the cuts iteration k re-runs the upstream edge-building joins k
    // times over (measured on the q83 trade graph: 20.6 s → 2.9 s for 8
    // iterations at sf0.1).
    // Round 15, measured and kept AS-IS: switching these two lineage-cut
    // loop invariants to repartitioned persist() (to keep HashPartitioning
    // visible and skip the per-iteration edge exchange) was tried and
    // REGRESSED — the cached 32-partition scans traded one coalesced
    // exchange per round for 32 per-task overheads per reference (summed
    // task time 35 s → 120–200 s at sf0.1, worse at low core counts).
    val e = IterativeLoop.cutLazy(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src")))
    val nodes = IterativeLoop.cutLazy(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val eWithDeg = IterativeLoop.cutLazy(e.join(outdeg, "src"))
    val nTotal = nodes.agg(count(lit(1)).as("n_nodes"))
    val base = IterativeLoop.cutLazy(nodes.crossJoin(broadcast(graft.ops.Guards.scalar(nTotal))))
    val ranks0 = base
      .select(col("node"), expr(s"CAST($scale AS BIGINT) div n_nodes").as("rank"))
    // NOT fixedUntil: damped deltas shrink like scale·0.85^k, so hitting
    // an EXACT integer fixed point needs ~log(scale)/log(1/0.85) ≈ 170
    // rounds — an 8-round contract can never exit early and the per-round
    // convergence probes are pure overhead (measured: +25% on q83 when
    // this loop briefly ran through fixedUntil in round 11).
    IterativeLoop.fixed(ranks0, iterations) { (ranks, _) =>
      val contrib = eWithDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"))
        .agg(sum(expr("rank div outdeg")).as("contrib"))
      base
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (expr(s"((15 * CAST($scale AS BIGINT)) div 100) div n_nodes") +
            expr("(85 * coalesce(contrib, CAST(0 AS BIGINT))) div 100")).as("rank"))
    }
  }

  /**
   * HITS hubs & authorities (Kleinberg, JACM 1999 — the other classic
   * link-analysis fixed point; reference analogue: ranking entities of a
   * bipartite interaction graph) in the same fixed-point discipline as
   * [[pageRankFixedPoint]]: scores are BIGINT multiples of scale⁻¹ and
   * every update is an integer sum plus integer division, so the result
   * is a pure function of the edge set — partition-order independent —
   * and an external SQL engine replays the identical iterations (q113
   * hash-matches the chained-CTE mirror).
   *
   * Per round: auth ← Σ_{j→i} hub(j), hub ← Σ_{i→j} auth(j), each
   * L1-normalized back to column-sum ≈ scale (the textbook normalization
   * swapped from L2 to L1 so it stays in integer arithmetic — same
   * eigenvector directions at convergence, different constant).
   *
   * Overflow ceiling, by construction: scores start at `scale div n` (so
   * the column sum starts ≤ scale) and every normalization re-caps it at
   * ≤ scale, hence any raw score ≤ scale and the normalize multiply is
   * ≤ scale² = 2⁶⁰ < 2⁶³ at the default 2³⁰ scale, for ANY graph shape;
   * the raw-total sum needs max-degree ≤ 2³³. n ≤ scale nodes (a billion)
   * keeps the start nonzero.
   *
   * Scale posture: per round two equi-joins of edges against node-sized
   * score frames and two map-side-combinable sums; the one-row totals
   * broadcast; per-round lineage cut exactly like PageRank.
   */
  def hitsFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 8, scale: Long = 1L << 30): DataFrame = {
    require(iterations >= 1, s"need at least one iteration, got $iterations")
    // Round 15, measured and kept AS-IS: per-key cached edge copies
    // (eSrc/eDst persist) were tried and regressed like pageRank's — see
    // the note there.
    val e = IterativeLoop.cutLazy(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src")))
    val nodes = IterativeLoop.cutLazy(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    val nTotal = nodes.agg(count(lit(1)).as("n_nodes"))
    // raw score -> L1-normalized fixed-point score. Carried SPARSE: nodes
    // with no in-(resp. out-)links would score a hard 0 and contribute
    // nothing to the next round's sums, so the full-node zero-fill is
    // deferred to the final output — saves two node-sized left joins per
    // round (measured ~25% of q113's runtime at sf0.1).
    // Round 15: cut `raw` before the normalization — its L1 total runs as
    // a broadcast scalar subquery, a SEPARATE job from the main projection,
    // so the uncut edge-join+aggregate executed twice per half-round (the
    // subquery tree and the main tree cannot share it; guide §2.4 "remove
    // shuffles outright" — here the whole duplicated pass). The cut makes
    // the total's job materialize the aggregate once and the projection
    // re-read the persisted blocks. Values are untouched.
    def normalized(raw0: DataFrame, joinKey: String, outCol: String): DataFrame = {
      val raw = IterativeLoop.cutLazy(raw0)
      val tot = raw.agg(greatest(sum(col("raw")), lit(1L)).as("tot"))
      IterativeLoop.cutLazy(raw.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
        .select(col(joinKey).as("node"),
          expr(s"(raw * CAST($scale AS BIGINT)) div tot").as(outCol)))
    }
    var hubs = IterativeLoop.cutLazy(nodes.crossJoin(broadcast(graft.ops.Guards.scalar(nTotal)))
      .select(col("node"), expr(s"CAST($scale AS BIGINT) div n_nodes").as("hub")))
    var auths: DataFrame = hubs.select(col("node"), col("hub").as("auth"))
    // No early-exit probe here for the same reason as PageRank: the
    // L1-renormalized integer scores keep moving by ±1 quanta for far
    // longer than any contracted round count, so a bit-exact fixed point
    // is unreachable inside the oracle-replayed 8 rounds.
    val lid = graft.ops.PlanProbe.loopId()
    for (r <- 1 to iterations) {
      // the half-round's edge-join + map-side-combined sum is the shape
      // that matters at 100× (the normalize tail is a one-row broadcast);
      // offer it UNCUT to the plan audit before `normalized` cuts it
      val authsRaw = e.join(hubs.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst")).agg(sum(col("hub")).as("raw"))
      graft.ops.PlanProbe.offer(lid, r, authsRaw)
      auths = normalized(authsRaw, "dst", "auth")
      hubs = normalized(
        e.join(auths.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src")).agg(sum(col("auth")).as("raw")),
        "src", "hub")
    }
    nodes
      .join(hubs, Seq("node"), "left")
      .join(auths, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("auth"), lit(0L)).as("auth"))
  }

  /**
   * Community label propagation (Raghavan et al. 2007, Phys. Rev. E,
   * synchronous variant with clamped seeds — the semi-supervised
   * label-spreading shape of Zhu & Ghahramani 2002): seeded nodes keep
   * their label forever; every round, each unseeded node adopts the
   * MAJORITY label among its labeled neighbors (count DESC, label ASC on
   * ties — a total order, so rounds are deterministic and the oracle
   * replays them as chained CTEs). Unlabeled nodes with no labeled
   * neighbor stay unlabeled.
   *
   * Exactness: votes are integer counts (order-free); the argmax is
   * max(struct(count, −label)); updates are SYNCHRONOUS (round t reads
   * only round t−1), which is what makes the fixed round count
   * replayable.
   *
   * Scale shape: per round, one join of the undirected edge list against
   * the current labels (both keyed by node — co-partitioned after the
   * first shuffle) + one map-side-combinable (node, label) count + one
   * argmax aggregate; lineage cut per round. Wall-clock is
   * O(rounds) edge-sized shuffles like the PageRank loop.
   *
   * @param nodes (id, seed) — seed NULL for unlabeled nodes
   * @param edges undirected pair list (a_id, b_id), each pair once
   * @return (id, seeded, label) after `rounds` synchronous rounds
   */
  /**
   * Exact triangle counting per node over an undirected edge list — the
   * clustering-coefficient numerator (community density, spam-farm
   * detection). Canonical-order formulation: edges normalized to u < v,
   * triangles enumerated ONCE as the three-way join E(a,b) ⋈ E(b,c) ⋈
   * E(a,c) with a < b < c, then each triangle credits its three corners.
   *
   * Scale shape: two shuffle joins keyed on node ids over the deduped
   * edge list; the classic skew refinement (orient by ascending degree so
   * wedge fan-out is bounded by √m per node — Schank & Wagner 2005) drops
   * in by replacing the (u,v) comparator with a (degree,id) one; the
   * id order keeps the plan oracle-identical here.
   *
   * @param edges undirected pairs (a_id, b_id), any orientation, dups ok
   * @return (id, n_triangles) for every node appearing in `edges`
   */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("a_id"), col("b_id")).as("u"),
        greatest(col("a_id"), col("b_id")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val tri = e.select(col("u").as("a"), col("v").as("b"))
      .join(e.select(col("u").as("b"), col("v").as("c")), "b")
      .join(e.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"))
    val corners = tri.select(col("a").as("id"))
      .union(tri.select(col("b").as("id")))
      .union(tri.select(col("c").as("id")))
    val nodes = e.select(col("u").as("id")).union(e.select(col("v").as("id"))).distinct()
    nodes.join(corners.groupBy(col("id")).agg(count(lit(1)).as("n_triangles")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /**
   * Connected components by Borůvka-style hook + flatten contraction —
   * the STRUCTURALLY O(log n)-round CC for high-diameter graphs (the
   * round-11 percolation finding: min-label + label-jump propagation
   * spreads the component minimum one hop per round at local-minimum
   * basin boundaries, so near-critical sparse graphs — polynomial
   * diameter — defeat any small round cap; `Dedup.connectedComponents`
   * stays the cheaper choice on the shallow graphs dedup actually
   * produces, and fails loudly past its cap).
   *
   * Per outer round: (1) contract — every label with a smaller adjacent
   * label HOOKS to its minimum adjacent label (the hook forest points
   * strictly downward, so it is acyclic by construction). Round bound,
   * stated honestly as the AMORTIZED argument (the naive "labels halve
   * every round" is false — in a star whose hub is the label maximum
   * only the hub hooks, k → k−1): every label that is not a LOCAL
   * MINIMUM of the label graph hooks, so a round's survivors form an
   * independent set of the pre-contraction label graph, and pathologies
   * like the max-hub star collapse on the following round (its
   * contraction is a MIN-hub star, which resolves in one). Convergence
   * is therefore fast because it depends on live-LABEL structure, never
   * on graph diameter — the scrambled-path probes (SCALE.md's ProbeHookCc
   * rows, code at 7ee0217: 500k-hop diameter) resolve in a handful of
   * outer rounds where any min-label-propagation scheme needs
   * O(diameter) — but the default
   * maxOuter=20 cap is an EMPIRICAL margin, not a proven ⌈log₂ n⌉
   * theorem; `requireConverged` keeps a cap overrun a loud failure,
   * never a wrong answer; (2) flatten —
   * pointer-square the hook forest to its roots (inner squaring doubles
   * depth coverage per step; descending chains bound depth by live
   * labels, so the inner cap shares the outer's log₂ bound). Both loops
   * run on [[graft.ops.IterativeLoop.fixedUntil]] monotone stationarity
   * probes with requireConverged — the caps are loud guards, not
   * semantics.
   *
   * Scale shape: every step is an equi-join/aggregate on label-sized
   * frames; contraction shrinks the live label set geometrically, so
   * late rounds are near-free. Output: (id, component) with component =
   * the component MINIMUM (same contract as Dedup.connectedComponents).
   */
  def hookComponents(edges: DataFrame, aCol: String = "x",
      bCol: String = "y", maxOuter: Int = 20): DataFrame = {
    // self-loops kept: they mention a node, which therefore appears as a
    // singleton — the Dedup.connectedComponents contract
    val und = IterativeLoop.cutLazy(edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .unionAll(edges.select(col(bCol).cast("long").as("u"),
        col(aCol).cast("long").as("v")))
      .distinct())
    val init = und.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    val probe = IterativeLoop.stationaryAgg(df =>
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).collect().toSeq.map(_.toSeq))
    IterativeLoop.fixedUntil(init, maxOuter, requireConverged = true,
        sameAs = probe) { (labs, _) =>
      // hook: each label's minimum adjacent label, kept only when smaller.
      // Round 15: computed via a per-NODE minimum first — min over u's
      // neighbors of lbl(v), then min over each label's nodes — instead of
      // materializing the (lu, lv) label-graph edge list. Same hooks: for
      // a label l, min over all adjacent labels < l ⟺ min over adjacent
      // labels ≠ l < l (a minimum below l is never l itself), and the min
      // distributes over the node grouping. Replaces one EDGE-sized
      // shuffle+join per round (the second labs join ran on the edge-sized
      // join output) with a NODE-sized one — the shuffle-fewer-bytes move
      // of guide §2.3 applied to the contraction's inner pass.
      val mu = und
        .join(labs.select(col("id").as("v"), col("lbl").as("lv")), "v")
        .groupBy(col("u")).agg(min(col("lv")).as("mv"))
      val hooks = mu
        .join(labs.select(col("id").as("u"), col("lbl").as("lu")), "u")
        .groupBy(col("lu").as("l")).agg(min(col("mv")).as("p"))
        .filter(col("p") < col("l"))
      // flatten the (acyclic, strictly descending) hook forest to roots
      // by pointer squaring; stats-fresh cuts (repeated-squaring loop)
      val f0 = labs.select(col("lbl")).distinct()
        .join(hooks.select(col("l").as("lbl"), col("p")), Seq("lbl"), "left")
        .select(col("lbl").as("l"), coalesce(col("p"), col("lbl")).as("p"))
      val flat = IterativeLoop.fixedUntil(f0, maxOuter,
          requireConverged = true, sameAs = IterativeLoop.stationaryAgg(df =>
            df.agg(sum(col("p").cast("decimal(38,0)"))).collect().toSeq.map(_.toSeq))) {
        (f, _) =>
          IterativeLoop.cutFresh(
            f.join(f.select(col("l").as("p"), col("p").as("p2")), "p")
              .select(col("l"), col("p2").as("p")))
      }.df
      labs.join(flat.select(col("l").as("lbl"), col("p")), "lbl")
        .select(col("id"), col("p").as("lbl"))
    }.df.select(col("id"), col("lbl").as("component"))
  }

  /**
   * Auto-selecting connected components — removes the one remaining way
   * to hit a loud CC cap in production. Try the cheap min-label +
   * pointer-jump CC ([[graft.dedup.Dedup.connectedComponents]] — the
   * right default on the shallow, cluster-shaped graphs dedup actually
   * produces) for up to `stallRounds`; if its labels are still moving at
   * the cap (the label-stall signature of the high-diameter /
   * local-minimum-basin regime, where the pointer jump only shortcuts
   * along monotone label chains), RESTART on [[hookComponents]], whose
   * live-label contraction does not depend on diameter.
   *
   * Switching is SAFE because both algorithms compute the same canonical
   * function — component = component MINIMUM, the unique fixpoint — so
   * the selector changes cost, never the answer (CcAutoSpec holds all
   * three equal on the shallow regime, and ccAuto equal to hookComponents
   * plus ground truth on a scrambled path where min-label CC throws at
   * this same cap). Fallback waste is bounded: `stallRounds` label-frame
   * rounds, each one edges⋈labels join — the probe cost of learning the
   * graph is deep, paid only on graphs that ARE deep.
   */
  def ccAuto(edges: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
      stallRounds: Int = 10, hookMaxOuter: Int = 20): DataFrame = {
    val (labels, _, changed) = graft.dedup.Dedup.connectedComponentsAttempt(
      edges, aCol, bCol, stallRounds, None)
    if (changed == 0L) labels
    else hookComponents(edges, aCol, bCol, hookMaxOuter)
  }

  /**
   * Insert-only incremental CC merge — the per-micro-batch verb of a
   * streaming dedup store (the streaming face of q446's batch
   * maintenance). Given the STORED canonical labeling `labels0`
   * ((id, component), component = group minimum — [[hookComponents]]'s
   * contract) and a DELTA edge batch, returns new labels for EXACTLY the
   * rows whose label may change: members of components touched by the
   * delta plus brand-new delta nodes. Untouched components are never
   * read past the touched-set semi-join and never rewritten — the caller
   * upserts the returned rows into its keyed store
   * ([[graft.streaming.StreamingCc]]), so per-batch write cost tracks
   * the delta's blast radius, not the 100 TB label store.
   *
   * Correctness: edge INSERTS only merge components, so connectivity of
   * (stored ∪ delta) is fully captured by the STAR graph of the touched
   * components' stored labels (id—component edges; a canonical labeling
   * already encodes intra-component connectivity) plus the delta itself
   * — no stored EDGES are needed, unlike deletion-capable maintenance.
   * [[hookComponents]] over stars ∪ delta yields the canonical min-label
   * fixpoint, which is path-independent — hence N successive batch
   * merges equal a one-shot CC over the union of all edges
   * (StreamingCcSpec's law; q446 proves the batch analog with full base
   * edges). A touched-singleton star has no edge, but a singleton's
   * component can only be touched by a delta edge naming the node
   * itself, so the delta covers it.
   */
  def incrementalMerge(labels0: DataFrame, delta: DataFrame,
      aCol: String = "x", bCol: String = "y"): DataFrame = {
    val d = IterativeLoop.cutLazy(delta
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y")))
    val dnodes = d.select(col("x").as("id"))
      .unionAll(d.select(col("y").as("id"))).distinct()
    val touched = dnodes.join(labels0, Seq("id"))
      .select(col("component")).distinct()
    val members = labels0.join(touched, Seq("component"), "left_semi")
    val stars = members.filter(col("id") =!= col("component"))
      .select(col("id").as("x"), col("component").as("y"))
    hookComponents(stars.unionAll(d), "x", "y")
  }

  /**
   * k-core peeling (Seidman 1983; the standard iterative reduction): drop
   * every node with degree < k, recompute degrees, repeat `rounds` times —
   * the surviving subgraph approaches the k-core (it IS the k-core once a
   * round removes nothing; fixed rounds keep the oracle replay exact,
   * like the PageRank/HITS loops). The density filter of graph curation:
   * spam cliques and tightly-coupled communities survive, tendrils fall
   * away.
   *
   * Scale shape: per round, one map-combinable degree count + one
   * broadcastable semi-join of edges against surviving nodes; lineage cut
   * per round. Output: surviving (id, degree) after `rounds` peels.
   */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 32,
      s"need k >= 1 and rounds in [1, 32], got k=$k rounds=$rounds")
    val e0 = edges
      .select(least(col("a_id"), col("b_id")).as("u"),
        greatest(col("a_id"), col("b_id")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    def degrees(ed: DataFrame) = ed.select(col("u").as("id"))
      .union(ed.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    // Round 15: early exit at the exact fixed point instead of always
    // unrolling `rounds` peels. The live-edge COUNT is monotone
    // non-increasing (peeling only removes), so a stationary count means
    // no edge was removed — the surviving set already IS the k-core and
    // every remaining round is the identity (step(fp) = fp), keeping the
    // result bit-identical to the oracle's fixed unroll while skipping
    // the no-op degree-count + double-semi-join passes of the tail
    // rounds. requireConverged stays false: the round cap is the
    // CONTRACT (the oracle replays exactly `rounds` peels), so a
    // still-moving capped run is the defined semantics, not an error.
    val e = IterativeLoop.fixedUntil(e0, rounds,
        sameAs = IterativeLoop.stationaryAgg(
          _.agg(count(lit(1))).collect().toSeq.map(_.getLong(0)))) { (ed, _) =>
      val keep = degrees(ed).filter(col("degree") >= k).select(col("id"))
      ed.join(keep.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("id").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
    }.df
    degrees(e)
  }

  /**
   * Multi-source BFS shortest-path hop counts, bounded at `rounds` hops —
   * the reachability/radius primitive (influence spheres, broken-link
   * blast radius, "how far is every node from the seed set").
   *
   * Delta-frontier formulation: round r joins only the NEWLY discovered
   * frontier against the (pre-partitioned, lineage-cut) edge list, then
   * anti-joins the visited set, so each round's shuffle is frontier-sized
   * — never node- or edge-sized rework. Because expansion is level-order,
   * the first round that reaches a node IS its shortest distance; nodes
   * beyond `rounds` hops are absent (the oracle's `WHERE hops < rounds`
   * recursive CTE mirrors that cutoff exactly, with min() collapsing its
   * non-shortest walks).
   *
   * @param edges directed (srcCol, dstCol); pass both orientations for an
   *              undirected graph
   * @param seeds one column `id` — the distance-0 node set
   * @return (id, hops) for every node within `rounds` hops of a seed
   */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 32, s"rounds must be in [1, 32], got $rounds")
    val e = IterativeLoop.cutLazy(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src")))
    var dist = IterativeLoop.cutLazy(
      seeds.select(col("id").cast("long").as("id")).distinct()
        .select(col("id"), lit(0L).as("hops")))
    var frontier = dist
    val lid = graft.ops.PlanProbe.loopId()
    for (r <- 1 to rounds) {
      // the frontier-sized join + anti-join is the shape that matters at
      // 100×; offer it UNCUT to the plan audit before cutLazy hides it
      val stepped = frontier
        .join(e, frontier("id") === e("src"))
        .select(col("dst").as("id"), lit(r.toLong).as("hops"))
        .distinct()
        .join(dist, Seq("id"), "left_anti")
      graft.ops.PlanProbe.offer(lid, r, stepped)
      val next = IterativeLoop.cutLazy(stepped)
      dist = IterativeLoop.cutLazy(dist.union(next))
      frontier = next
    }
    dist
  }

  def labelPropagation(nodes: DataFrame, edges: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 32, s"rounds must be in [1, 32], got $rounds")
    // Round 15: the undirected edge frame is the loop invariant, but it was
    // never materialized — every round's vote join re-derived it from the
    // source frame (scan + union per round). Cut once like every other
    // loop invariant (the PageRank discipline; measured 4.2 → 2.6 s at
    // sf0.1 for q132).
    val und = IterativeLoop.cutLazy(
      edges.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(edges.select(col("b_id").as("src"), col("a_id").as("dst"))))
    val labels0 = nodes.select(col("id"), col("seed").as("lab"),
      col("seed").isNotNull.as("seeded"))
    val labels = IterativeLoop.fixed(labels0, rounds) { (labs, _) =>
      val votes = und
        .join(labs.filter(col("lab").isNotNull)
          .select(col("id").as("src"), col("lab")), "src")
        .groupBy(col("dst"), col("lab"))
        .agg(count(lit(1)).as("c"))
      val winner = votes
        .groupBy(col("dst"))
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("w"))
        .select(col("dst"), (-col("w.nl")).as("wlab"))
      labs.join(winner, col("id") === col("dst"), "left")
        .select(col("id"),
          when(col("seeded"), col("lab"))
            .otherwise(coalesce(col("wlab"), col("lab"))).as("lab"),
          col("seeded"))
    }
    labels.select(col("id"), col("seeded"), col("lab").as("label"))
  }
}
