package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Data profiling: the ANALYZE-style per-column statistics a catalog keeps
 * for cost-based optimization and a pipeline keeps for data-quality gates
 * (row counts, null rates, exact NDV, value bounds).
 *
 * Single pass over the table: all columns' statistics are computed in ONE
 * aggregate (the multi-count-distinct EXPAND strategy — Catalyst multiplies
 * rows by the column count but scans the table once), then unpivoted into
 * the (col_name, stats...) report shape. At 100 TB prefer this one-pass
 * shape over a per-column loop: the scan dominates, and it is paid once.
 */
object Profile {

  /** Per-numeric-column profile: (col_name, n, n_null, ndv, min_v, max_v)
    * with bounds cast to double (exact for data values — no aggregation
    * arithmetic happens on them). */
  def numericStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        countDistinct(col(c)).as(s"__ndv_$c"),
        min(col(c)).cast("double").as(s"__min_$c"),
        max(col(c)).cast("double").as(s"__max_$c"))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    // unpivot: one struct per column, then explode to report rows
    val entries = cols.map { c =>
      struct(lit(c).as("col_name"),
        col("__n").as("n"),
        (col("__n") - col(s"__cnt_$c")).as("n_null"),
        col(s"__ndv_$c").as("ndv"),
        col(s"__min_$c").as("min_v"),
        col(s"__max_$c").as("max_v"))
    }
    one.select(explode(array(entries: _*)).as("e")).select(col("e.*"))
  }

  /**
   * Distributed cumulative count over the value distribution: `cb` = rows
   * strictly below `v`. TWO-LEVEL, so no single-partition global window
   * ever sees the whole distribution: values range-bucket against their
   * global bounds (one broadcast one-row aggregate), a per-bucket window
   * computes the within-bucket running count, and a second window over
   * the TINY per-bucket-totals frame (`parts` rows) supplies each
   * bucket's starting offset. Identical output to the textbook single
   * global window — the range bucketing is invisible in `cb` — which is
   * why q85/q91's oracles stay the simple one-window SQL.
   */
  private def withCumBefore(vc: DataFrame, parts: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = vc.agg(min(col("v")).cast("double").as("__vmin"),
      max(col("v")).cast("double").as("__vmax"))
    // Bucket assignment must be MONOTONE in the window's sort order or the
    // offsets are wrong — hence the explicit rails for the two values that
    // break the arithmetic bucket formula: NULL sorts FIRST under Spark's
    // ascending order (reserved bucket -1) and NaN sorts LAST among
    // doubles (reserved bucket `parts`; min/max ignore NaN inputs only
    // when none exist — the NaN rail keeps the formula's inputs clean).
    // Callers restrict the operator to NUMERIC columns, where the
    // double cast used for bucketing is order-preserving.
    val raw = floor((col("v").cast("double") - col("__vmin")) * parts /
      greatest(col("__vmax") - col("__vmin"), lit(java.lang.Double.MIN_NORMAL)))
      .cast("long")
    val bucketed = graft.ops.IterativeLoop.cutLazy(vc.crossJoin(broadcast(graft.ops.Guards.scalar(b)))
      .withColumn("__rb",
        when(col("v").isNull, lit(-1L))
          .when(col("v").cast("double").isNaN, lit(parts.toLong))
          .otherwise(greatest(lit(0L), least(lit(parts - 1L), raw))))
      .drop("__vmin", "__vmax"))
    val within = Window.partitionBy(col("__rb")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("__rb")).agg(sum(col("c")).as("__bt"))
      .withColumn("__off", coalesce(sum(col("__bt"))
        .over(Window.orderBy(col("__rb")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__rb"), col("__off"))
    bucketed
      .withColumn("__within", coalesce(sum(col("c")).over(within), lit(0L)))
      .join(broadcast(offsets), "__rb")
      .withColumn("cb", col("__off") + col("__within"))
      .drop("__rb", "__off", "__within")
  }

  /**
   * Exact equi-depth histogram (the CBO selectivity structure): bucket k
   * holds the rows whose cumulative rank lands in [k·n/B, (k+1)·n/B).
   *
   * Scale shape: NOT a global sort of the table. Rows first collapse to
   * the (value, count) distribution (one value-keyed shuffle with map-side
   * combine); the cumulative count then comes from the two-level
   * [[withCumBefore]] — no single-partition window even when the
   * distribution itself is huge. Ties never split: a distinct value
   * belongs to exactly one bucket (the compressed-histogram convention),
   * so bucket depths are equal up to tie granularity. Fully deterministic
   * ⇒ oracle-mirrorable.
   */
  def equiDepthHistogram(df: DataFrame, valueCol: String,
      buckets: Int = 8): DataFrame = {
    require(buckets >= 1, s"need at least one bucket, got $buckets")
    require(df.schema(valueCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"equiDepthHistogram needs a numeric column, got ${df.schema(valueCol).dataType}")
    // NULLs are excluded from the distribution (the ANALYZE convention:
    // null_frac is a separate statistic, histograms describe the non-null
    // values). This also pins the cross-engine contract: Spark sorts NULL
    // first ascending, DuckDB's default is NULLS LAST — with NULLs out of
    // the frame the q85 oracle's plain ORDER BY v agrees exactly.
    // cut the distribution once: tot, the bounds aggregate, the bucketing,
    // and the offsets frame all consume it — without the cut each pays a
    // full base-table scan + shuffle (PLANS.md showed q85 at 5 FileScans)
    val vc = graft.ops.IterativeLoop.cutLazy(
      df.filter(col(valueCol).isNotNull)
        .groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("c")))
    val tot = vc.agg(sum(col("c")).as("n"))
    withCumBefore(vc)
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .withColumn("bucket", expr(s"(cb * $buckets) div n"))
      .groupBy(col("bucket"))
      .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("ndv"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
  }

  /**
   * Winsorization: clamp a value column to its [pLo, pHi] element-rank
   * percentiles — the outlier-trimming step before feature scaling or
   * training-metric aggregation. Bounds are dataset ELEMENTS (smallest
   * value whose cumulative count reaches ⌈p·n⌉), computed with the same
   * distribution-first shape as [[equiDepthHistogram]] — no global sort of
   * the raw table, no interpolation (interpolated percentiles differ by
   * ULPs across engines; element ranks are exact). The clamp itself is a
   * narrow broadcast-bounds projection. Appends `<valueCol>_wins`.
   */
  def winsorize(df: DataFrame, valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 1, s"bad percentile band [$pLo, $pHi]")
    require(df.schema(valueCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"winsorize needs a numeric column, got ${df.schema(valueCol).dataType}")
    // percentile ranks are over the NON-NULL population (NULL is not an
    // ordered value, and `n` counting NULLs would shift every rank)
    val vc = graft.ops.IterativeLoop.cutLazy(
      df.filter(col(valueCol).isNotNull)
        .groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("c")))
    val cum = withCumBefore(vc).withColumn("ct", col("cb") + col("c"))
    val tot = vc.agg(sum(col("c")).as("n"))
    val bounds = cum.crossJoin(broadcast(graft.ops.Guards.scalar(tot))).agg(
      min(when(col("ct") >= ceil(lit(pLo) * col("n")), col("v"))).as("__lo"),
      min(when(col("ct") >= ceil(lit(pHi) * col("n")), col("v"))).as("__hi"))
    // NULL and NaN pass through unclamped: least/greatest SKIP nulls, so a
    // bare clamp would fabricate __lo for NULL inputs and __hi for NaN —
    // corruption, not winsorization, on nullable columns
    val v = col(valueCol).cast("double")
    df.crossJoin(broadcast(graft.ops.Guards.scalar(bounds)))
      .withColumn(s"${valueCol}_wins",
        when(col(valueCol).isNull.or(isnan(v)), col(valueCol))
          .otherwise(least(greatest(col(valueCol), col("__lo")), col("__hi"))))
      .drop("__lo", "__hi")
  }

  /**
   * Robust per-group outlier flags via the modified z-score (Iglewicz &
   * Hoaglin 1993): M = 0.6745·(x − median)/MAD with MAD = median(|x −
   * median|); |M| > 3.5 flags. Median/MAD resist the very outliers they
   * hunt (unlike q98's mean/variance scores — 50% breakdown point vs 0),
   * which is why ANALYZE-style profiling uses them on dirty columns.
   *
   * Exactness: the two medians are Spark `percentile` ≡ DuckDB
   * `quantile_cont` (the q40 contract), the score is one multiply + one
   * divide in fixed parenthesization; MAD = 0 groups yield NULL score and
   * NULL flag on both engines.
   *
   * Scale shape: two grouped aggregates and two dimension-sized broadcast
   * joins — the fact table is scanned, never reshuffled by value.
   */
  def robustOutliers(df: DataFrame, idCol: String, groupCol: String,
      valueCol: String): DataFrame = {
    val x = col(valueCol).cast("double")
    val med = df.groupBy(col(groupCol))
      .agg(percentile(x, lit(0.5)).as("med"))
    val j = df.select(col(idCol), col(groupCol), col(valueCol))
      .join(broadcast(med), groupCol)
    val mad = j.groupBy(col(groupCol))
      .agg(percentile(abs(x - col("med")), lit(0.5)).as("mad"))
    val z = (lit(0.6745) * (x - col("med"))) / col("mad")
    j.join(broadcast(mad), groupCol)
      .select(col(idCol), col(groupCol), col(valueCol), col("med"), col("mad"),
        when(col("mad") =!= 0.0, z).as("robust_z"),
        when(col("mad") =!= 0.0, abs(z) > 3.5).as("outlier"))
  }
}
