package graft.io

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the engine's one parquet-read rule: every
  * `.read ... .parquet(` chain under `src/main/scala/graft` gives Spark its
  * schema with `.schema(` before `.parquet(`, normally
  * `ParquetSchema.of(spark, path)` (or goes through `graft.Tables`). A bare
  * read runs a schema-inference job each time it is built, the per-read
  * fixed cost [[ParquetSchema]] exists to remove. Comments are skipped, so
  * docs may still quote a bare read. */
class ParquetReadLintSpec extends AnyFunSuite {

  private val call = """\A\s*\.\s*(\w+)\s*\(""".r

  /** Index just past the parenthesis that closes the one at `open`. */
  private def closing(code: String, open: Int): Int = {
    var depth = 0
    var i = open
    var inString = false
    while (i < code.length) {
      val c = code.charAt(i)
      if (inString) { if (c == '\\') i += 1 else if (c == '"') inString = false }
      else if (c == '"') inString = true
      else if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth == 0) return i + 1 }
      i += 1
    }
    code.length
  }

  /** The method names of the call chain that starts at `from`. */
  private def chain(code: String, from: Int): Seq[String] = {
    val names = ArrayBuffer.empty[String]
    var i = from
    var next = call.findPrefixMatchOf(code.subSequence(i, code.length))
    while (next.isDefined) {
      names += next.get.group(1)
      i = closing(code, i + next.get.end - 1)
      next = call.findPrefixMatchOf(code.subSequence(i, code.length))
    }
    names.toSeq
  }

  /** Line numbers of reader chains in `source` that reach `.parquet(` with
    * no `.schema(` call before it. */
  def bareReads(source: String): Seq[Int] = {
    val code = SourceLint.code(source)
    "\\.read\\b".r.findAllMatchIn(code).toSeq.flatMap { m =>
      val names = chain(code, m.end)
      if (names.contains("parquet") && !names.takeWhile(_ != "parquet").contains("schema"))
        Some(code.substring(0, m.start).count(_ == '\n') + 1)
      else None
    }
  }

  test("the lint flags a bare read and passes a read given its schema") {
    assert(bareReads("""val a = spark.read.parquet(p)""") === Seq(1))
    assert(bareReads("val a = 1\nval b = spark.read\n  .option(\"x\", f(1))\n  .parquet(p)") === Seq(2))
    assert(bareReads("""spark.read.schema(ParquetSchema.of(spark, p)).parquet(p)""").isEmpty)
    assert(bareReads("""s.read.format("graft-synth").load(); sink.read(spark).map(_.count())""").isEmpty)
    assert(bareReads("/** e.g. `spark.read.parquet(p)` */\n// spark.read.parquet(p)\nx").isEmpty)
  }

  test("every parquet read under src/main/scala/graft gives Spark its schema") {
    val bad = SourceLint.mainSources("src/main/scala/graft")
      .filter(_._1.getFileName.toString != "ParquetSchema.scala")
      .flatMap { case (p, source) => bareReads(source).map(line => s"$p:$line") }
    assert(bad.isEmpty,
      "parquet read(s) without .schema(...): each runs a schema-inference job; " +
        s"use spark.read.schema(ParquetSchema.of(spark, path)).parquet(path): ${bad.mkString(", ")}")
  }
}
