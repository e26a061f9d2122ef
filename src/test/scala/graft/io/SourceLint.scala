package graft.io

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Shared pieces of the engine's source lints. */
object SourceLint {
  /** `source` with its comments blanked and its line numbering kept, so docs
    * may quote what a lint forbids in code. */
  def code(source: String): String = {
    val uncommented = "(?s)/\\*.*?\\*/".r.replaceAllIn(source, m => "\n" * m.matched.count(_ == '\n'))
    "(?m)(^|\\s)//.*$".r.replaceAllIn(uncommented, _.group(1))
  }

  /** Every `.scala` file under `root`, with its text. */
  def mainSources(root: String): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }
}
