package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Golden row counts and digests of the catalog queries, per scale factor,
  * recorded from the engine at the commit that defined the benchmark (the
  * commit whose outputs matched the DuckDB oracle 459/459). */
object Golden {
  /** (scale factor, query) -> expected result. */
  type Table = Map[(String, String), Digest.Value]

  def load(file: File): Table = {
    val root = new ObjectMapper().readTree(file)
    root.properties().asScala.toSeq.flatMap { sf =>
      sf.getValue.properties().asScala.map { q =>
        (sf.getKey, q.getKey) -> Digest.Value(q.getValue.get("rows").asLong, q.getValue.get("digest").asText)
      }
    }.toMap
  }

  def write(file: File, bySf: Seq[(String, Seq[(String, Digest.Value)])]): Unit = {
    val body = bySf.map { case (sf, qs) =>
      qs.sortBy(_._1).map { case (q, v) =>
        s"""    "$q": {"rows": ${v.rows}, "digest": "${v.digest}"}"""
      }.mkString(s"""  "$sf": {\n""", ",\n", "\n  }")
    }.mkString("{\n", ",\n", "\n}\n")
    Files.write(file.toPath, body.getBytes(UTF_8))
  }
}
