package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageType

/** Writes a parquet file with parquet-mr's example writer, so its footer
  * holds only the parquet schema: no Spark row-schema key, as in files that
  * pyarrow, DuckDB or any non-Spark writer produce. */
object PlainParquet {
  def write(file: String, schema: MessageType, rows: Seq[Seq[(String, Any)]]): Unit = {
    val writer = ExampleParquetWriter.builder(new Path(file))
      .withType(schema).withConf(new Configuration()).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { row =>
      val g = groups.newGroup()
      row.foreach {
        case (k, v: Int) => g.append(k, v)
        case (k, v: Long) => g.append(k, v)
        case (k, v: String) => g.append(k, v)
        case (k, v) => throw new IllegalArgumentException(s"unsupported value $k=$v")
      }
      writer.write(g)
    } finally writer.close()
  }
}
