package graft.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/**
 * The schema Spark's parquet inference picks for a path, read on the driver
 * from one file's footer, with no Spark job.
 *
 * A bare `spark.read.parquet(p)` runs a job (`mergeSchemasInParallel`) to
 * learn the schema before any action; at the catalog's scale that job is a
 * large share of a short query's fixed cost. Engine reads therefore give
 * Spark the schema: `spark.read.schema(ParquetSchema.of(spark, p)).parquet(p)`.
 *
 * The answer is the one inference gives without `mergeSchema`: the first
 * data file in name order (names starting `_` or `.` skipped, as Spark's file
 * index skips them; `_`-names holding `=` are partition dirs and kept), whose
 * footer yields Spark's own row-schema key when the file carries one, and
 * otherwise the parquet schema converted under `spark`'s SQL conf, so
 * `nanosAsLong`, `inferTimestampNTZ` and `binaryAsString` apply as they do
 * to inference. Summary files (`_metadata`, `_common_metadata`) are not
 * consulted; Spark does not write them by default. Nothing is cached: each
 * call reads the footer, so a rewritten file is never served a stale schema.
 */
object ParquetSchema {

  def of(spark: SparkSession, path: String): StructType =
    ParquetFileFormat.readSchemaFromFooter(footer(spark, path),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** The parquet schema stored in the footer [[of]] reads, unconverted, so
    * it does not depend on the session's conf. */
  def stored(spark: SparkSession, path: String): MessageType =
    footer(spark, path).getParquetMetadata.getFileMetaData.getSchema

  private def footer(spark: SparkSession, path: String): Footer = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException =>
        throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> fs.makeQualified(p).toString))
      }
    val file = firstDataFile(fs, root).getOrElse(throw new AnalysisException(
      "UNABLE_TO_INFER_SCHEMA", Map("format" -> s"Parquet (no data file under ${root.getPath})")))
    new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
  }

  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (!st.isDirectory) Some(st)
    else fs.listStatus(st.getPath).filterNot(c => hidden(c.getPath.getName))
      .sortBy(_.getPath.getName).iterator.flatMap(firstDataFile(fs, _)).nextOption()

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")
}
