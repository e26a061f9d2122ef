package graft.tools
import graft.{GraftSession, SparkEntry}
/** Dev tool: condensed physical-plan audit of every catalog query, written
  * to PLANS.md. Flags the scale-relevant facts: join strategies, exchange
  * counts, pushed filters, codegen coverage. */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of the query catalog\n\n")
    sb.append("Generated by `sbt \"runMain graft.tools.PlanCheck\"` (local[4], AQE on,\n")
    sb.append(s"sf dir `$dir`). Per query: operator histogram of the executed plan\n")
    sb.append("plus the scale-relevant signals (join strategy, exchanges, scan pushdown).\n\n")
    sb.append("""Design-intent notes (what SHOULD be in these plans):
- narrow text/scalar queries (q07/q15/q17/q21-q23/q31/q39): zero exchanges,
  one FileScan with pruned ReadSchema - pure codegen'd projections;
- enrichment joins (q03-q05/q09/q10/q19): BroadcastHashJoin only, the fact
  side never shuffles; q20 is SortMergeJoin because FULL OUTER cannot build
  a broadcast hash side;
- top-k (q08/q19): TakeOrderedAndProject; per-group top-k (q28/q30/q35):
  Spark's WindowGroupLimit rank pushdown; q38 instead bounds the shuffle via
  the TopKAgg partial aggregation (ObjectHashAggregate pair);
- brute-force similarity baselines (q28/q29): BroadcastNestedLoopJoin by
  design - the broadcast side is the small query/near-dup set, and the
  LSH/IVF variants (q30/q35/q49) are the scale paths;
- IVF assignment (q35): the BroadcastNestedLoopJoins are SINGLE-ROW
  broadcasts of the collapsed centroid array (scalar-subquery shape, not
  all-pairs); nearest-centroid assignment is a narrow in-row argmax, so the
  fact side pays zero exchange to be assigned;
- embedding near-dup scale path (q49): shuffles on (chunk, chunk-key) and
  candidate ids only - BroadcastHashJoin at test scale, shuffle hash join at
  100 TB; no BNLJ/cartesian anywhere (q29 stays as the brute-force law-test
  baseline);
- as-of join (q34): exactly ONE exchange (union + keyed sort + window);
- multimodal (q31/q39): MapPartitions between Serialize/Deserialize pairs -
  the deliberate typed batch-decode boundary;
- session windows (q32): MergingSessions exec, single exchange;
- round-6 widening: q76 z-order stats = narrow interleave projection + one
  grouping exchange (bounds via broadcast one-row agg); q77 CMS = vocab
  aggregate + tiny (row,bucket) grid + BroadcastHashJoin back; q79/q82 =
  zero-exchange generators/projections on the scan; q80 salted agg = two
  exchanges BY DESIGN (salt spread + re-merge); q85 histogram windows over
  the DISTINCT-VALUE frame, not the table; q87 runtime filter = the only
  join is the ONE-ROW broadcast of the key array (scalar-subquery shape) -
  membership itself is a codegen'd Filter, no per-key join build; q93
  range join = BroadcastHashJoin on the bucket key, never BNLJ.
- iterative queries (q83/q96/q113/q436/...): the OUTER plan records as
  '1xScan ExistingRDD' because each round ends in a localCheckpoint cut;
  since round 13 the audit sees through the boundary - every IterativeLoop
  offers a representative per-round frame (round 2: the steady-state shape
  whose inputs are the cut leaves every later round sees) via
  graft.ops.PlanProbe, recorded as 'inner loopN rK' rows below the outer
  histogram. One row per loop; a query composing several loops (rank build
  + fixpoint) gets several rows.
- round-9 waves (q301-q380): every BroadcastNestedLoopJoin in these plans
  is a BOUNDED shape by construction - either a one-row scalar-subquery
  broadcast (totals / ranges / order-statistic cuts / Newton state, e.g.
  q342/q353/q361), a grain-bounded pair join (q354 = 120-day window,
  q359 = month grain, q370 = 32-bin grid), or a constant broadcast table
  (q375's 6 polygon edges, q344/q345's collected top-k). None is an
  n x n data join; the data-sized paths all go through hash joins on
  equi-keys (q377's interval buckets, q316's grid cells). Iterative
  queries (q321/q348/q361/q374) carry their per-round shapes as 'inner'
  rows like q83 since round 13.

""")
    def summarize(plan: String): (Int, String, String) = {
      val ops = plan.linesIterator.toSeq
        .map(_.replaceAll("^[-+:* ()0-9]*", "").takeWhile(c => c != ' ' && c != '('))
        .filter(op => op.nonEmpty && op.head.isUpper)
        .groupBy(identity).view.mapValues(_.size).toSeq.sortBy(-_._2)
      val exchanges = ops.filter(_._1.contains("Exchange")).map(_._2).sum
      val joins = ops.filter(_._1.contains("Join")).map(o => s"${o._2}x${o._1}").mkString(", ")
      (exchanges, joins, ops.map(o => s"${o._2}x${o._1}").mkString(", "))
    }
    // Probe-independence (round 14): "iterative" classification must rest
    // on loop INVOCATION, not on the probe's own success — a loop that
    // issues an id but never offers a frame is collected here and fails
    // the run AFTER the full sweep (so one miss doesn't hide others).
    val probeMisses = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val (df, rec) = graft.ops.PlanProbe.recordFull(fn(spark, dir))
        val inner = rec.captured
        if (rec.captured.size != rec.issuedLoops)
          probeMisses += s"$name (issued=${rec.issuedLoops}, captured=${rec.captured.size})"
        val (exchanges, joins, opsStr) = summarize(df.queryExecution.executedPlan.toString)
        sb.append(s"## $name\n")
        sb.append(s"- exchanges: $exchanges${if (joins.nonEmpty) s"; joins: $joins" else ""}\n")
        sb.append(s"- ops: $opsStr\n")
        // inner-round audit (round 13): the representative per-round plan
        // of each IterativeLoop inside this query — the shape the outer
        // plan hides behind its localCheckpoint leaves. Multiple loops
        // (e.g. a rank build feeding a fixpoint) each get a row.
        inner.foreach { case (lid, round, idf) =>
          val (iex, ij, iops) =
            summarize(idf.queryExecution.executedPlan.toString)
          sb.append(s"- inner loop$lid r$round: exchanges: $iex" +
            s"${if (ij.nonEmpty) s"; joins: $ij" else ""}; ops: $iops\n")
        }
        sb.append("\n")
      } catch { case e: Throwable => sb.append(s"## $name\nFAILED: ${e.getMessage}\n\n") }
    }
    // Staleness is now impossible to miss twice over (round 12, after
    // PLANS.md went 6 queries stale in round 11): the generator iterates
    // SparkEntry.queries so it CANNOT drop a key, and this check makes a
    // future format drift loud; PlansCoverageSpec holds the COMMITTED
    // artifact to the same every-query contract the catalog has.
    val written = "(?m)^## (q\\w+)$".r.findAllMatchIn(sb.toString).map(_.group(1)).toSet
    val missing = SparkEntry.queries.keySet -- written
    require(missing.isEmpty, s"PLANS.md generator dropped queries: $missing")
    require(probeMisses.isEmpty,
      "loops running UNAUDITED (invoked a PlanProbe loop id without " +
        s"offering an inner-round frame): ${probeMisses.mkString("; ")} — " +
        "these would silently demote to linear-by-plan in X10GATE.md")
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"[plancheck] wrote PLANS.md (${written.size} queries)")
    spark.stop()
  }
}
