package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Builds the ×K disjoint-replica testdata directory used for the
 * at-scale correctness gate (round-10 item: hash-match proof above
 * sf0.1, not just timing probes). Replication follows SCALE.md's
 * discipline (first used by the in-memory ScaleProbe, code at feb0fc4):
 * every copy gets a disjoint key range (+i·10⁷ on all id /
 * FK columns, consistently, so intra-copy joins are isomorphic to the
 * base corpus), and document TOKENS are suffixed per copy (copy 0
 * untouched) so near-dup families never fuse across copies — pair and
 * component structure grows linearly, keeping both the engine AND the
 * DuckDB oracle tractable at ×10. Dimension tables (region, nation,
 * part) are copied verbatim: at 100 TB the dims stay fixed while facts
 * grow, which is exactly the shape this gate should prove.
 *
 * Output: one PLAIN parquet file per table (DuckDB's reader takes a
 * file path, not a Spark part-directory), same names as the driver's
 * testdata layout, so Verify/check_oracle run against it unchanged.
 */
object BuildX10 {

  private val Off = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/testdata_x10")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(out))

    def replicate(table: String, keyCols: Seq[String],
        suffixTokensIn: Option[String] = None): Unit = {
      val base = graft.Tables(spark, src, table)
      val df = (0 until copies).map { i =>
        var d: DataFrame = base
        keyCols.foreach { c =>
          val dt = base.schema(c).dataType
          d = d.withColumn(c, (col(c) + lit(i * Off)).cast(dt))
        }
        suffixTokensIn.foreach { tc =>
          if (i > 0)
            d = d.withColumn(tc, regexp_replace(col(tc), "(\\S+)", s"$$1z$i"))
        }
        d.select(base.columns.map(col).toSeq: _*)
      }.reduce(_ unionByName _)
      writeOne(df, table)
    }

    def copyVerbatim(table: String): Unit = {
      Files.copy(Paths.get(s"$src/$table.parquet"),
        Paths.get(s"$out/$table.parquet"), StandardCopyOption.REPLACE_EXISTING)
      println(s"[x10] $table: copied verbatim (dimension)")
    }

    def writeOne(df: DataFrame, table: String): Unit = {
      val tmp = s"$out/_tmp_$table"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file for $table"))
      Files.move(part, Paths.get(s"$out/$table.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      deleteRec(Paths.get(tmp))
      println(s"[x10] $table: ${graft.Tables(spark, out, table).count()} rows")
    }

    def deleteRec(p: Path): Unit = {
      if (Files.isDirectory(p))
        Files.list(p).iterator().asScala.toSeq.foreach(deleteRec)
      Files.deleteIfExists(p)
    }

    copyVerbatim("region")
    copyVerbatim("nation")
    copyVerbatim("part")
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"), suffixTokensIn = Some("text"))
    replicateEmbeddings(spark, src, out, copies)
    spark.stop()
  }

  /** Embeddings get the disjointness treatment vectors need: copy i > 0
    * is multiplied element-wise by a deterministic ±1 mask. The SAME mask
    * on both vectors of a pair preserves every within-copy dot product
    * and norm EXACTLY ((v⊙s)·(w⊙s) = Σ vᵢwᵢsᵢ² = v·w, and ±1 multiplies
    * are exact in float), so each copy's similarity/LSH/clustering
    * structure is bit-identical to the base corpus — while cross-copy
    * cosines scramble to ~0 and cross-copy LSH signatures decorrelate.
    * Verbatim copies instead made every vector a 10-way exact duplicate:
    * LSH buckets grew ×10, bucket pairs ×100 at cosine 1.0, and the
    * q132 oracle spilled >79 GB (the planted-duplication blowup, which
    * is a workload choice — this gate measures the algorithms). */
  private def replicateEmbeddings(spark: SparkSession, src: String,
      out: String, copies: Int): Unit = {
    val base = graft.Tables(spark, src, "embeddings")
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    def mask(i: Int): Array[Float] =
      Array.tabulate(dim) { j =>
        // splitmix-style bit mix; deterministic per (copy, position)
        var z = i.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L
        z ^= z >>> 31; z *= 0x94D049BB133111EBL; z ^= z >>> 27
        if ((z & 1L) == 0L) 1.0f else -1.0f
      }
    val df = (0 until copies).map { i =>
      val d = base.withColumn("vec_id",
        (col("vec_id") + lit(i * Off)).cast("long"))
      if (i == 0) d
      else {
        val m = typedlit(mask(i))
        d.withColumn("embedding",
          zip_with(col("embedding"), m, (x, s) => x * s))
      }
    }.reduce(_ unionByName _)
    val tmp = s"$out/_tmp_embeddings"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(s"$out/embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.list(Paths.get(tmp)).iterator().asScala.toSeq
      .foreach(Files.deleteIfExists(_))
    Files.deleteIfExists(Paths.get(tmp))
    println(s"[x10] embeddings: ${graft.Tables(spark, out, "embeddings").count()} rows (sign-masked copies)")
  }
}
