package graft.ops

import graft.io.SourceLint
import org.scalatest.funsuite.AnyFunSuite

/** Source lint that makes the loop-audit convention STRUCTURAL (the
  * round-14 verdict's last silent-demotion hole): every hand-rolled
  * DataFrame loop in the main tree — a `var` reassigned to a frame
  * expression inside a `for`/`while` body — must sit in a method that
  * requests a [[PlanProbe]] loop id (or calls an `IterativeLoop.fixed*`
  * combinator, which requests one itself).
  * Without the id, PlanCheck's probe-independence gate
  * ([[PlanProbe.requireAllLoopsCaptured]]) cannot see the loop at all,
  * and the query silently records as `linear-by-plan` in the ×10
  * registry — exactly how `Graph.bfsHops` hid q413_diameter's 2×16-round
  * BFS for two rounds.
  *
  * Heuristic, deliberately conservative: a frame reassignment is a
  * statement `name = <expr>` where `name` was `var`-declared in the same
  * method and `<expr>` calls a frame combinator (`.join(`/`.union`/
  * `.groupBy(`/`IterativeLoop.cut`). Only a `PlanProbe.loopId(` or an
  * `IterativeLoop.fixed*(` call counts as the probe; a bare lineage cut
  * requests no id. Comments are blanked first, so they neither trigger
  * the lint nor satisfy it. Driver-side Scala-state loops (Quantiles'
  * interval refinement, BPE's merge list) reassign plain collections and
  * are not flagged. `graft/tools` is excluded — dev tools (BuildX10's
  * replica union) are not catalog plans.
  */
class ProbeLintSpec extends AnyFunSuite {

  private val frameRhs = Seq(".join(", ".union", ".groupBy(", "IterativeLoop.cut")
  private val probeCall = """PlanProbe\.loopId\s*\(|IterativeLoop\.fixed\w*\s*\(""".r

  /** (1-based line of the loop head, probed?) for every hand-rolled
    * DataFrame loop in `source`. */
  def frameLoops(source: String): Seq[(Int, Boolean)] = {
    val lines = SourceLint.code(source).linesIterator.toVector
    // method boundaries: lines starting a `def` at any indent, modifiers
    // (`private[graft]`, `override`, ...) included
    val defStarts = lines.zipWithIndex
      .collect { case (l, i) if l.matches("\\s*((private|protected)(\\[\\w+\\])?\\s+|final\\s+|override\\s+)*def .*") => i }
    def methodOf(i: Int): (Int, Int) = {
      val start = defStarts.filter(_ <= i).lastOption.getOrElse(0)
      val end = defStarts.find(_ > i).getOrElse(lines.length)
      (start, end)
    }
    val loopHeads = lines.zipWithIndex.collect {
      case (l, i) if l.matches(".*\\b(for|while)\\s*\\(.*") => i
    }
    loopHeads.flatMap { lh =>
      val (mStart, mEnd) = methodOf(lh)
      val method = lines.slice(mStart, mEnd)
      val varNames = method.flatMap(
        "\\bvar\\s+([A-Za-z_]\\w*)".r.findAllMatchIn(_).map(_.group(1)))
      // scan the ~40 lines after the loop head (bounded loop bodies)
      val body = lines.slice(lh + 1, math.min(mEnd, lh + 41))
      val reassignsFrame = body.zipWithIndex.exists { case (l, off) =>
        varNames.exists { v =>
          l.matches(s"\\s*$v\\s*=[^=].*") && {
            // RHS may continue over following lines: take 4
            val rhs = body.slice(off, math.min(body.length, off + 4)).mkString("\n")
            frameRhs.exists(rhs.contains)
          }
        }
      }
      if (reassignsFrame) Some(lh + 1 -> probeCall.findFirstIn(method.mkString("\n")).isDefined)
      else None
    }
  }

  private def unprobed(source: String): Seq[Int] = frameLoops(source).collect { case (l, false) => l }

  private val loop =
    """  def step(df: DataFrame): DataFrame = {
      |    var cur = df
      |    for (_ <- 0 until 3) {
      |      cur = IterativeLoop.cut(cur.join(df, "k"))
      |    }
      |    cur
      |  }""".stripMargin

  test("the lint flags an unprobed frame loop, also when only a comment or a bare cut names the probe") {
    assert(unprobed(loop) === Seq(3))
    assert(unprobed(loop.replace("var cur = df",
      "var cur = df // val lid = PlanProbe.loopId()\n    /* IterativeLoop.fixed(df, 3) */")) === Seq(4))
    assert(unprobed(loop.replace("var cur = df",
      "var cur = IterativeLoop.cutLazy(df)")) === Seq(3))
    assert(unprobed(loop.replace("cur = IterativeLoop.cut(cur.join(df, \"k\"))",
      "cur = IterativeLoop.cutLazy(cur)")) === Seq(3))
    // a qualified-private method is a method of its own: its neighbour's
    // probe does not cover it
    assert(unprobed("  private[graft] def a(df: DataFrame) = IterativeLoop.fixed(df, 2)((d, _) => d)\n" +
      loop.replace("  def step", "  private[graft] def step")) === Seq(4))
  }

  test("the lint passes a probed frame loop and ignores commented-out and driver-side loops") {
    assert(frameLoops(loop.replace("var cur = df",
      "val lid = graft.ops.PlanProbe.loopId()\n    var cur = df")) === Seq(4 -> true))
    assert(frameLoops(loop.replace("    cur\n",
      "    IterativeLoop.fixed(cur, 2)((d, _) => d)\n")) === Seq(3 -> true))
    assert(frameLoops(loop.linesIterator.map("// " + _).mkString("\n")).isEmpty)
    assert(frameLoops(
      """  def bounds(xs: Seq[Long]): Seq[Long] = {
        |    var lo = xs
        |    while (lo.size > 1) {
        |      lo = lo.tail
        |    }
        |    lo
        |  }""".stripMargin).isEmpty)
  }

  test("every hand-rolled DataFrame loop in src/main requests a PlanProbe loop id") {
    val loops = SourceLint.mainSources("src/main/scala/graft")
      .filter { case (p, _) =>
        val name = p.getFileName.toString
        !p.toString.contains("/tools/") &&
          name != "IterativeLoop.scala" && name != "PlanProbe.scala"
      }
      .flatMap { case (p, source) => frameLoops(source).map { case (l, ok) => (s"$p:$l", ok) } }
    assert(loops.nonEmpty, "the detector no longer sees any hand-rolled loop")
    val bad = loops.collect { case (at, false) => at }
    assert(bad.isEmpty,
      "hand-rolled DataFrame loop(s) without PlanProbe.loopId() — the plan " +
        "audit cannot see them and the x10 registry records their queries " +
        s"as linear-by-plan: ${bad.mkString(", ")}")
  }
}
