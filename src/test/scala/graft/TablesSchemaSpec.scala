package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import graft.io.{ParquetSchema, PlainParquet}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.{ListenerBusDrain, SparkThrowable}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MetadataBuilder, TimestampType}

/** `Tables` reads give Spark the schema from the table file's footer
  * ([[graft.io.ParquetSchema]]): it must be the schema inference picks, for
  * every testdata table and for both footer branches (Spark's row-schema key
  * and the conf-driven converter), and building the frame must start no
  * Spark job. A missing table still fails as Spark's reader fails. */
class TablesSchemaSpec extends SparkSpec {

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { val out = body; ListenerBusDrain(sc); (out, jobs.get) }
    finally sc.removeSparkListener(l)
  }

  /** Runs `body` with the key set to `value` or unset (`getAll` holds only
    * keys that are set; `getOption` would read an unset key's default). */
  private def withNanosAsLong[T](value: Option[String])(body: => T): T = {
    val prev = spark.conf.getAll.get(nanosKey)
    value.fold(spark.conf.unset(nanosKey))(spark.conf.set(nanosKey, _))
    try body
    finally prev.fold(spark.conf.unset(nanosKey))(spark.conf.set(nanosKey, _))
  }

  private def inferred(path: String) = spark.read.parquet(path).schema

  private def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  for (dir <- Seq("/root/testdata/sf0.001", "perfbench/data/sf0.01"))
    test(s"every table in $dir: footer schema = inferred schema, and the read starts no job") {
      val tables = new File(dir).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted.toSeq
      assert(tables.size >= 9, s"expected the testdata tables in $dir, got $tables")
      tables.foreach { t =>
        val (df, jobs) = jobsDuring(Tables(spark, dir, t))
        assert(jobs === 0, s"$t: building the frame started $jobs job(s)")
        assert(df.schema === inferred(s"$dir/$t.parquet"), s"$t: footer schema drifted")
      }
    }

  test("Tables.events: same frame schema whether nanosAsLong was unset or set before the read") {
    val dir = "/root/testdata/sf0.001"
    for (before <- Seq(None, Some("true"))) withNanosAsLong(before) {
      val (ev, jobs) = jobsDuring(Tables.events(spark, dir))
      assert(jobs === 0)
      assert(ev.schema("ts").dataType === TimestampType)
      val old = spark.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts").cast(TimestampType))
      assert(ev.schema === old.schema, s"nanosAsLong before = $before")
    }
  }

  test("Tables.events on TIMESTAMP(us) data leaves nanosAsLong as it found it, unset or set") {
    for (before <- Seq(None, Some("true"), Some("false"))) withNanosAsLong(before) {
      Tables.events(spark, "perfbench/data/sf0.01").limit(5).collect()
      assert(spark.conf.getAll.get(nanosKey) === before, s"nanosAsLong before = $before")
    }
  }

  test("a TIMESTAMP(NANOS) file converts under nanosAsLong as inference does") {
    val root = tmpDir("tables-nanos")
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .required(PrimitiveTypeName.INT32).named("event_id")
      .named("events")
    PlainParquet.write(s"$root/events.parquet", schema,
      Seq(Seq("ts" -> 1700000000123456789L, "event_id" -> 1),
        Seq("ts" -> 1700000001999999999L, "event_id" -> 2)))
    val path = s"$root/events.parquet"
    withNanosAsLong(Some("false")) {
      // inference converts on an executor, so its error may arrive wrapped
      def chain(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      val viaFooter = intercept[AnalysisException](ParquetSchema.of(spark, path))
      assert(viaFooter.getCondition === "PARQUET_TYPE_ILLEGAL")
      assert(chain(intercept[Exception](inferred(path))).contains("PARQUET_TYPE_ILLEGAL"))
    }
    withNanosAsLong(Some("true")) {
      val (raw, jobs) = jobsDuring(Tables(spark, root, "events"))
      assert(jobs === 0)
      assert(raw.schema === inferred(path))
      assert(raw.schema("ts").dataType === LongType)
    }
    withNanosAsLong(None) {
      val ev = Tables.events(spark, root)
      assert(ev.schema("ts").dataType === TimestampType)
      assert(ev.orderBy("event_id").select(expr("unix_micros(ts)")).collect().map(_.getLong(0)).toSeq
        === Seq(1700000000123456L, 1700000001999999L))
    }
  }

  test("a Spark-written multi-file directory reads its schema from Spark's footer key") {
    val root = tmpDir("tables-multi")
    val meta = new MetadataBuilder().putString("origin", "footer-key").build()
    spark.range(0, 200, 1, 4)
      .select(col("id"), col("id").cast("string").as("s", meta),
        struct(col("id").as("a"), lit(1).as("b")).as("st"), array(col("id")).as("arr"))
      .write.parquet(s"$root/multi.parquet")
    val files = new File(s"$root/multi.parquet").list().toSeq
    assert(files.contains("_SUCCESS"))
    assert(files.count(_.endsWith(".parquet")) >= 2)
    val first = files.filter(_.startsWith("part-")).min
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(s"$root/multi.parquet/$first"), spark.sparkContext.hadoopConfiguration))
    try assert(reader.getFooter.getFileMetaData.getKeyValueMetaData
      .containsKey(ParquetReadSupport.SPARK_METADATA_KEY))
    finally reader.close()

    val (df, jobs) = jobsDuring(Tables(spark, root, "multi"))
    assert(jobs === 0)
    assert(df.schema === inferred(s"$root/multi.parquet"))
    // field metadata survives only through Spark's key, never the converter
    assert(df.schema("s").metadata.getString("origin") === "footer-key")
    assert(sorted(df) === sorted(spark.read.parquet(s"$root/multi.parquet")))
  }

  test("two reads of one table are the same plan, so a frame cached over one serves both") {
    val dir = "/root/testdata/sf0.001"
    assert(Tables.nation(spark, dir).queryExecution.analyzed
      .sameResult(Tables.nation(spark, dir).queryExecution.analyzed))
  }

  test("a missing table fails as Spark's reader does, naming the path") {
    val root = tmpDir("tables-missing")
    val e = intercept[AnalysisException](Tables(spark, root, "no_such_table"))
    assert(e.isInstanceOf[SparkThrowable])
    assert(e.getCondition === "PATH_NOT_FOUND")
    assert(e.getMessage.contains(s"$root/no_such_table.parquet"))
  }

  test("a table directory without a data file fails naming the directory") {
    val root = tmpDir("tables-empty")
    val dir = new File(s"$root/empty.parquet")
    assert(dir.mkdirs() && new File(dir, "_SUCCESS").createNewFile())
    val e = intercept[AnalysisException](Tables(spark, root, "empty"))
    assert(e.getCondition === "UNABLE_TO_INFER_SCHEMA")
    assert(e.getMessage.contains(dir.getPath))
  }
}
