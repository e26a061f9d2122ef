package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

/** The edit-distance band rewrite: semantics preserved, plan shape changed. */
class EditDistanceBandRuleSpec extends SparkSpec {

  private def optimized(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.optimizedPlan

  private def levThresholds(p: LogicalPlan): Seq[Boolean] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    p.foreach(_.expressions.foreach(_.foreach {
      case Levenshtein(_, _, t) => out += t.isDefined
      case _ => ()
    }))
    out.toSeq
  }

  // the test session is built with GraftExtensions, which inject the rule
  private lazy val words = {
    import spark.implicits._
    Seq("kitten", "sitting", "kitchen", "mitten", "flaw", "lawn",
      "graph", "graphs", "giraffe", "spark", "sparks", "sharks")
      .toDF("w")
  }

  test("filter rewrite: levenshtein(a,b) <= k gains a length band and a banded probe") {
    val df = words.as("a").crossJoin(words.as("b"))
      .filter(levenshtein(col("a.w"), col("b.w")) <= 1)
    val plan = optimized(df)
    val ts = levThresholds(plan)
    assert(ts.nonEmpty && ts.forall(identity),
      s"expected every Levenshtein to carry a threshold after rewrite, got $ts\n$plan")
    assert(plan.toString.contains("abs("), s"length band missing from plan:\n$plan")
  }

  test("rewrite preserves results exactly (incl. < and reversed >= forms)") {
    val bare = SparkSpec.session // rule injected session-wide; compare vs manual evaluation
    import bare.implicits._
    val pairsDf = words.as("a").crossJoin(words.as("b"))
    val preds = Seq(
      pairsDf.filter(levenshtein(col("a.w"), col("b.w")) <= 2),
      pairsDf.filter(levenshtein(col("a.w"), col("b.w")) < 3),
      pairsDf.filter(lit(2) >= levenshtein(col("a.w"), col("b.w"))),
      pairsDf.filter(lit(3) > levenshtein(col("b.w"), col("a.w"))))
    val expected = {
      val rows = words.collect().map(_.getString(0))
      (for { a <- rows; b <- rows
             if graft.plans.TestLev.dist(a, b) <= 2 } yield (a, b)).sorted.toSeq
    }
    preds.foreach { df =>
      val got = df.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(got == expected, "rewritten predicate changed the result set")
    }
  }

  test("join-condition rewrite fires and preserves the fuzzy-join result") {
    val joined = words.as("a").join(words.as("b"),
      levenshtein(col("a.w"), col("b.w")) <= 1 && col("a.w") =!= col("b.w"))
    val ts = levThresholds(optimized(joined))
    assert(ts.nonEmpty && ts.forall(identity), "join condition not rewritten")
    val got = joined.collect().map(r => (r.getString(0), r.getString(1))).sorted
    val rows = words.collect().map(_.getString(0))
    val expected = (for { a <- rows; b <- rows
      if a != b && TestLev.dist(a, b) <= 1 } yield (a, b)).sorted
    assert(got.toSeq == expected.toSeq)
  }

  test("idempotent: a user-written band is not duplicated, fixed point is stable") {
    val df = words.as("a").crossJoin(words.as("b"))
      .filter(abs(length(col("a.w")) - length(col("b.w"))) <= 1 &&
        levenshtein(col("a.w"), col("b.w")) <= 1)
    val p1 = optimized(df)
    val p2 = EditDistanceBandRule(p1)
    assert(p2 fastEquals p1, "rule not a fixed point on its own output")
    // exactly one abs-band in the filter (the user's), not two
    val bandCount = p1.collectLeaves().headOption.map(_ => // count on the whole plan
      "abs\\(".r.findAllIn(p1.toString).size).getOrElse(0)
    assert(bandCount == 1, s"expected exactly 1 length band, plan:\n$p1")
  }

  test("negative k or non-literal threshold is left untouched") {
    val df1 = words.as("a").crossJoin(words.as("b"))
      .filter(levenshtein(col("a.w"), col("b.w")) <= -1)
    // -1 folds to a false-ish predicate only via evaluation; rule must skip it
    assert(df1.count() == 0)
    val df2 = words.as("a").crossJoin(words.as("b"))
      .filter(levenshtein(col("a.w"), col("b.w")) <= length(col("a.w")))
    val ts = levThresholds(optimized(df2))
    assert(ts.forall(t => !t), "non-literal threshold must not be rewritten")
    assert(df2.count() > 0)
  }
}

/** Reference Levenshtein for the spec oracle (classic full DP). */
object TestLev {
  def dist(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
}
