package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Round-9 wave 10: behavioral-analytics, graph-structure, and temporal-
 * modeling verbs — the ClickHouse-style event-sequence functions
 * (windowFunnel, sequenceMatch) re-expressed as order-preserving array
 * folds, sampling/sketching with md5-deterministic priorities, closed-form
 * ridge regression, fixed-point k-core peeling, integer-arithmetic
 * point-in-polygon, bitemporal as-of, and the interval-overlap join with
 * the count-once-at-max-start-bucket dedup trick. Determinism contract
 * unchanged.
 */
object CatalogBeh {

  // Round 16: the ordered fold runs as ONE codegen'd kernel
  // (graft_ordered_sum) instead of the interpreted transform+aggregate
  // HOF pair — bit-compatible per OrderedStructSum's doc (same adds in
  // the same sorted order, same int->double cast per element).
  private def foldSorted(k: Column, v: Column): Column =
    graft.functions.GraftFunctions.orderedSum(
      sort_array(collect_list(struct(k.as("k"), v.as("v")))))

  private def u32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  private def lg(x: Column): Column = graft.curation.Curation.lg(x)

  /** Quantile estimation from an md5 bottom-k uniform sample (k=256),
    * with the error AUDITED in the same query: each estimated quantile is
    * joined back against the full table to get its exact achieved rank,
    * so the output carries |achieved − target| per quantile. The
    * one-pass, shuffle-light scale path for quantiles (the sample is a
    * TakeOrdered, no global sort of the data), with its accuracy
    * measured rather than assumed. */
  def q371SampleQuantiles(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val sample = d
      .withColumn("pri", u32(concat(lit("sq:"), col("doc_id"))))
      .orderBy(col("pri"), col("doc_id")).limit(256)
    val n = d.agg(count(lit(1)).as("n"))
    val ks = sample.agg(count(lit(1)).as("k"))
    val ests = (1 to 3).map { i =>
      val q = i * 25
      sample.crossJoin(broadcast(graft.ops.Guards.scalar(ks)))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("n_chars"), col("doc_id"))).cast("long"))
        .filter(col("rn") === expr(s"(k * $q + 99) div 100"))
        .select(lit(q.toLong).as("pct"), col("n_chars").as("est"))
    }.reduce(_ unionByName _)
    ests.join(d.alias("full"), col("full.n_chars") <= col("est"))
      .groupBy(col("pct"), col("est"))
      .agg(count(lit(1)).as("achieved_rank"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(n)))
      .select(col("pct"), col("est"), col("achieved_rank"), col("n"),
        abs(col("achieved_rank").cast("double") / col("n").cast("double")
          - col("pct").cast("double") / lit(100.0)).as("rank_error"))
      .orderBy(col("pct"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * priority = ln(u)∕w replayed as (lg(u32)−32)∕w in exact-lg bits —
    * order-equivalent to u^{1∕w}, fully deterministic, top-32 by
    * (priority DESC, doc_id). Heavier docs are proportionally likelier;
    * the audit row compares sample vs population mean weight. */
  def q372WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").as("w"))
      .withColumn("pri",
        (lg(u32(concat(lit("ws:"), col("doc_id"))) + 1) - lit(32.0))
          / col("w").cast("double"))
    val top = d.orderBy(col("pri").desc, col("doc_id")).limit(32)
    val pop = d.agg(sum(col("w")).as("sw"), count(lit(1)).as("n"))
    top.agg(count(lit(1)).as("k"), sum(col("w")).as("sample_w"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(pop)))
      .select(col("k"), col("n"),
        (col("sample_w").cast("double") / col("k").cast("double"))
          .as("mean_w_sample"),
        (col("sw").cast("double") / col("n").cast("double"))
          .as("mean_w_pop"))
  }

  /** Ridge regression (λ=1000) of distinct-token count on
    * (n_chars, n_words), closed form through the 2×2 normal equations —
    * all Gram/moment sums exact int64, the inverse is the adj∕det
    * formula, three divides total. The regularized sibling of the
    * catalog's OLS family, with the normal-equation residual pinned to
    * ~0 by the spec. */
  def q373Ridge(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("n_chars").as("x1"),
        size(split(col("text"), " ")).cast("long").as("x2"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("y"))
    val g = d.agg(count(lit(1)).as("n"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("x1") * col("y")).as("b1"),
      sum(col("x2") * col("y")).as("b2"))
    g.select(col("n"),
        ((col("s11") + 1000L).cast("double") * (col("s22") + 1000L).cast("double")
          - col("s12").cast("double") * col("s12").cast("double")).as("det"),
        col("s11"), col("s12"), col("s22"), col("b1"), col("b2"))
      .select(col("n").as("n_docs"),
        (((col("s22") + 1000L).cast("double") * col("b1").cast("double")
          - col("s12").cast("double") * col("b2").cast("double"))
          / col("det")).as("beta1"),
        (((col("s11") + 1000L).cast("double") * col("b2").cast("double")
          - col("s12").cast("double") * col("b1").cast("double"))
          / col("det")).as("beta2"))
  }

  /** 3-core of the item co-occurrence graph by fixed-point peeling, with
    * INCREMENTAL degree maintenance (round 10; was the catalog's worst
    * measured scale exponent at α 0.75): instead of recomputing the
    * degree aggregate over all surviving edges every round, each round
    * subtracts from every survivor the count of its neighbors removed
    * THAT round — synchronous-peel-equivalent because prior rounds'
    * removals were already subtracted, so the running degree always
    * counts exactly the still-alive neighbors. Per-round work is then
    * proportional to the edges incident to the removed frontier (plus a
    * node-sized filter), not the surviving edge set; the incident-list
    * is partitioned by the removed-endpoint side once so the delta join
    * co-partitions. 12 synchronous rounds, replayed exactly by the
    * oracle; the closure law (every surviving node has ≥ 3 surviving
    * neighbors) certifies the fixed point was reached. */
  def q374ThreeCore(s: SparkSession, dir: String): DataFrame = {
    val ui = Tables.events(s, dir)
      .select(col("user_id").as("u"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .filter(col("item").isNotNull).distinct()
    val edges = ui.alias("a").join(ui.alias("b"),
        col("a.u") === col("b.u") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("x"), col("b.item").as("y"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
      .select(col("x"), col("y"))
    threeCoreOf(edges)
  }

  /** q374's peel on an explicit (x, y) edge frame (the entry SCALE.md's
    * heavies table timed; probe code at feb0fc4). */
  private[graft] def threeCoreOf(edges: DataFrame): DataFrame = {
    // loop invariant, cut once and partitioned by the b side: the
    // per-round delta join (which removed neighbors did each survivor
    // lose?) is keyed on b, so rounds exchange only removed- and
    // node-sized frames, never the edge list
    val nbr = graft.ops.IterativeLoop.cutLazy(
      edges.select(col("x").as("a"), col("y").as("b"))
        .unionAll(edges.select(col("y").as("a"), col("x").as("b")))
        .repartition(col("b")))
    val deg0 = nbr.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val deg = graft.ops.IterativeLoop.fixed(deg0, 12) { (deg, _) =>
      // synchronous round: remove deg<3 nodes, survivors lose exactly
      // their edges into the removed set (all earlier removals were
      // already subtracted, so `deg` counts still-alive neighbors only)
      val removed = deg.filter(col("deg") < 3).select(col("a").as("b"))
      val lost = nbr.join(removed, Seq("b"))
        .groupBy(col("a")).agg(count(lit(1)).as("lost"))
      deg.filter(col("deg") >= 3)
        .join(lost, Seq("a"), "left")
        .select(col("a"), (col("deg") - coalesce(col("lost"), lit(0L))).as("deg"))
    }
    // deg = 0 survivors lost every neighbor in the final round: the
    // edge-set formulation has no row for them, so neither do we
    deg.filter(col("deg") > 0)
      .select(col("a").as("item"), col("deg").as("core_degree"))
      .orderBy(col("item"))
  }

  /** Integer-arithmetic point-in-polygon (ray casting with cross-product
    * half-plane tests — zero divisions): md5-lattice customer points
    * against a fixed non-convex polygon in micro-degree coordinates.
    * A horizontal ray crosses edge (x₁,y₁)→(x₂,y₂) iff the y-interval
    * straddles py (half-open, so vertices count once) and the signed
    * cross product puts the point strictly left — all int64. The
    * geofencing verb beside q316's radius join. */
  def q375PointInPolygon(s: SparkSession, dir: String): DataFrame = {
    // non-convex "arrowhead" hexagon, micro-degree integer coordinates
    val verts = Seq((0L, 0L), (1000000L, 400000L), (2000000L, 0L),
      (2000000L, 1200000L), (1000000L, 800000L), (0L, 1200000L))
    val edges = verts.indices.map { i =>
      val (x1, y1) = verts(i); val (x2, y2) = verts((i + 1) % verts.size)
      (x1, y1, x2, y2)
    }
    import s.implicits._
    val edf = broadcast(edges.toDF("x1", "y1", "x2", "y2"))
    val pts = Tables.customer(s, dir)
      .select(col("c_custkey").as("k"),
        (u32(concat(lit("px:"), col("c_custkey"))) % 2000001L).as("px"),
        (u32(concat(lit("py:"), col("c_custkey"))) % 1200001L).as("py"))
    val crossings = pts.crossJoin(edf)
      .filter((col("y1") <= col("py") && col("py") < col("y2"))
        || (col("y2") <= col("py") && col("py") < col("y1")))
      // strictly left of the edge at height py:
      // (x2-x1)*(py-y1) - (px-x1)*(y2-y1) has the sign of (xcross - px)
      // times sign(y2-y1); require px < xcross
      .filter(
        ((col("x2") - col("x1")) * (col("py") - col("y1"))
          - (col("px") - col("x1")) * (col("y2") - col("y1")))
          * signum((col("y2") - col("y1")).cast("double")).cast("long") > 0)
      .groupBy(col("k")).agg(count(lit(1)).as("nc"))
    val marked = pts.join(crossings, Seq("k"), "left")
      .na.fill(0L, Seq("nc"))
      .select(col("k"), (col("nc") % 2 === 1).cast("long").as("inside"))
    marked.agg(count(lit(1)).as("n_points"),
        sum(col("inside")).as("n_inside"))
      .select(col("n_points"), col("n_inside"),
        (col("n_inside").cast("double") / col("n_points").cast("double"))
          .as("share_inside"))
  }

  /** Bitemporal as-of snapshot: every customer carries two valid-time
    * balance versions (change at an md5 valid day); every 5th customer's
    * v2 was corrected later (second transaction-time record, +$2).
    * The query answers "what did we BELIEVE on tx-day T the balance was
    * on valid-day V": filter tx_from ≤ T, pick the valid version
    * covering V, latest transaction wins — one window, exact cents. */
  def q376Bitemporal(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100).cast("long").as("bal"),
        (u32(concat(lit("vd:"), col("c_custkey"))) % 200L + 100L).as("vday"),
        (u32(concat(lit("td:"), col("c_custkey"))) % 100L).as("tday"))
    val v1 = base.select(col("k"), lit(0L).as("vfrom"), col("vday").as("vto"),
      lit(0L).as("tfrom"), col("bal"))
    val v2 = base.select(col("k"), col("vday").as("vfrom"),
      lit(10000L).as("vto"), col("tday").as("tfrom"),
      (col("bal") + 1000L).as("bal"))
    val corr = base.filter(col("k") % 5 === 0)
      .select(col("k"), col("vday").as("vfrom"), lit(10000L).as("vto"),
        (col("tday") + 50L).as("tfrom"), (col("bal") + 1200L).as("bal"))
    val versions = v1.unionByName(v2).unionByName(corr)
    val V = 250L; val T = 120L
    val snap = versions
      .filter(col("tfrom") <= T && col("vfrom") <= V && col("vto") > V)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("tfrom").desc)))
      .filter(col("rk") === 1)
    snap.agg(count(lit(1)).as("n_cust"),
      sum(col("bal")).as("sum_bal_cents"),
      sum((col("tfrom") > 0).cast("long")).as("n_from_v2"))
  }

  /** Interval-overlap join without a cartesian product OR a dedup pass:
    * user activity spans (per user-day first→last event) × md5
    * maintenance windows. Both sides emit week buckets; a candidate pair
    * is kept only in the bucket containing max(start₁, start₂), so each
    * overlapping pair appears EXACTLY once — the classic trick that
    * turns interval joins into plain hash joins (q93's point-in-interval
    * generalized to interval×interval). */
  def q377IntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val bucket = 604800L
    val spans = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(unix_seconds(min(col("ts"))).as("s1"),
        (unix_seconds(max(col("ts"))) + 1L).as("e1"))
    val wins = s.range(40).select(col("id").as("w"),
        (u32(concat(lit("mw:"), col("id"))) % 2592000L
          + 1704067200L).as("s2"))
      .withColumn("e2", col("s2") + 21600L)
    overlapOf(spans, wins)
  }

  /** q377's bucketed overlap join on explicit span/window frames
    * (the entry SCALE.md's heavies table timed; probe code at feb0fc4). */
  private[graft] def overlapOf(spans: DataFrame, wins: DataFrame): DataFrame = {
    val bucket = 604800L
    val sb = spans.withColumn("bk", explode(sequence(
      expr(s"s1 div $bucket"), expr(s"(e1 - 1) div $bucket"))))
    val wb = wins.withColumn("bk", explode(sequence(
      expr(s"s2 div $bucket"), expr(s"(e2 - 1) div $bucket"))))
    val pairs = sb.join(wb, Seq("bk"))
      .filter(col("s1") < col("e2") && col("s2") < col("e1"))
      .filter(col("bk") === expr(s"greatest(s1, s2) div $bucket"))
      .select(col("user_id"), col("d"), col("w"),
        (least(col("e1"), col("e2")) - greatest(col("s1"), col("s2")))
          .as("overlap_s"))
    pairs.agg(count(lit(1)).as("n_pairs"),
      countDistinct(col("w")).as("n_windows_hit"),
      sum(col("overlap_s")).as("total_overlap_s"))
  }

  /** ClickHouse-style windowFunnel(24 h): per user, the longest ordered
    * prefix of signup → view → click → purchase completed within 24 h of
    * the chain's start, evaluated as ONE fold over the ts-ordered event
    * array (deterministic state machine: level + chain-start micros) —
    * no self-joins, no windows over raw events. Output: users per
    * reached level. */
  def q378WindowFunnel(s: SparkSession, dir: String): DataFrame = {
    // fold element: ts_seconds * 8 + step; fold state: lvl * 2^44 + t0s —
    // a single BIGINT each, so the state machine is pure integer
    // arithmetic and DuckDB's list_reduce replays it verbatim
    val steps = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 1000000").as("tms"),
        col("event_id"),
        when(col("event_type") === "signup", 1L)
          .when(col("event_type") === "view", 2L)
          .when(col("event_type") === "click", 3L)
          .when(col("event_type") === "purchase", 4L).as("step"))
      .filter(col("step").isNotNull)
    // sort the ENCODED VALUES, not (ts, event_id) structs: DuckDB 1.0's
    // parallel grouped list(x ORDER BY ...) can return segment-unsorted
    // lists (reproduced: 1 of 1500 groups at sf0.1), while
    // list_sort(list(x)) — a value sort applied after aggregation — is
    // immune; sort_array here is its exact Spark mirror
    val B = 17592186044416L // 2^44
    val perUser = steps.groupBy(col("user_id"))
      .agg(aggregate(
        sort_array(collect_list(col("tms") * 8L + col("step"))),
        lit(0L),
        (acc, x) => {
          val lvl = shiftright(acc, 44)
          val t0 = acc.bitwiseAND(lit(B - 1))
          val tms = shiftright(x, 3)
          val st = x.bitwiseAND(lit(7L))
          when(lvl === 0 && st === 1, lit(B) + tms)
            .when(st === lvl + 1 && tms - t0 <= 86400L,
              (lvl + 1) * B + t0)
            .otherwise(acc)
        }).as("st"))
      .select(shiftright(col("st"), 44).as("lvl"))
    perUser.groupBy(col("lvl")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("lvl"))
  }

  /** sequenceMatch('error → purchase with no intervening signup'): the
    * same fold discipline as q378 — state 0 (searching), 1 (error seen,
    * armed), 2 (matched); signup disarms, purchase while armed matches.
    * Counts matched users and total completed matches (re-arming after
    * each match). The event-pattern verb behind alerting rules. */
  def q379SequenceMatch(s: SparkSession, dir: String): DataFrame = {
    // fold element: event code (1=error arms, 2=signup disarms,
    // 3=purchase fires while armed); fold state: matches * 2 + armed —
    // single BIGINTs, integer-only state machine (see q378)
    // element = tm_us * 4 + code — (user, ts) is µs-unique, so the value
    // sort IS the time order (see q378's DuckDB grouped-ORDER-BY note)
    val ev = Tables.events(s, dir)
      .select(col("user_id"),
        (unix_micros(col("ts")) * 4L
          + when(col("event_type") === "error", 1L)
            .when(col("event_type") === "signup", 2L)
            .when(col("event_type") === "purchase", 3L)).as("el"))
      .filter(col("el").isNotNull)
    val perUser = ev.groupBy(col("user_id"))
      .agg(aggregate(
        sort_array(collect_list(col("el"))),
        lit(0L),
        (acc, x0) => {
          val x = x0.bitwiseAND(lit(3L))
          when(x === 1, shiftleft(shiftright(acc, 1), 1) + 1L)
            .when(x === 2, shiftleft(shiftright(acc, 1), 1))
            .when(x === 3 && acc.bitwiseAND(lit(1L)) === 1,
              shiftleft(shiftright(acc, 1) + 1L, 1))
            .otherwise(acc)
        }).as("st"))
      .select(shiftright(col("st"), 1).as("m"))
    perUser.agg(count(lit(1)).as("n_users"),
      sum((col("m") > 0).cast("long")).as("n_matched_users"),
      sum(col("m")).as("total_matches"))
  }

  /** Local clustering coefficient from the exact triangle counts
    * (Graph.triangleCounts, q180-family machinery): cᵢ = 2Tᵢ∕(dᵢ(dᵢ−1)),
    * one divide per node, plus the item-ascending global mean fold. The
    * per-node density read of the graph the centrality/community queries
    * analyze globally. */
  def q380ClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val ui = Tables.events(s, dir)
      .select(col("user_id").as("u"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .filter(col("item").isNotNull).distinct()
    val edges = ui.alias("a").join(ui.alias("b"),
        col("a.u") === col("b.u") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("x"), col("b.item").as("y"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
      .select(col("x").as("a_id"), col("y").as("b_id"))
    val tri = graft.graph.Graph.triangleCounts(edges)
    val deg = edges.select(col("a_id").as("id"))
      .unionAll(edges.select(col("b_id").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val cc = tri.join(deg, Seq("id"))
      .select(col("id"), col("deg"), col("n_triangles"),
        when(col("deg") >= 2,
          lit(2.0) * col("n_triangles").cast("double")
            / (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("cc"))
    val mean = cc.agg(count(lit(1)).as("n_nodes"),
      foldSorted(col("id"), col("cc")).as("sum_cc"))
    cc.orderBy(col("cc").desc, col("id")).limit(20)
      .crossJoin(broadcast(graft.ops.Guards.scalar(mean.select(
        (col("sum_cc") / col("n_nodes").cast("double")).as("mean_cc")))))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q371_sample_quantiles" -> q371SampleQuantiles _,
    "q372_weighted_sample"  -> q372WeightedSample _,
    "q373_ridge"            -> q373Ridge _,
    "q374_three_core"       -> q374ThreeCore _,
    "q375_point_in_polygon" -> q375PointInPolygon _,
    "q376_bitemporal"       -> q376Bitemporal _,
    "q377_interval_overlap" -> q377IntervalOverlap _,
    "q378_window_funnel"    -> q378WindowFunnel _,
    "q379_sequence_match"   -> q379SequenceMatch _,
    "q380_clustering_coeff" -> q380ClusteringCoeff _)
}
