package graft.functions

import graft.SparkSpec
import graft.dedup.Dedup
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The SQL-text surface of the native expressions, injected by
  * [[GraftExtensions]] into the test session, and the registry-free
  * Column API that works without it. */
class SqlSurfaceSpec extends SparkSpec {

  private def one(sql: String) = spark.sql(sql).head()

  test("every builder is listed by SHOW FUNCTIONS") {
    val listed = spark.sql("SHOW FUNCTIONS LIKE 'graft*'").collect().map(_.getString(0)).toSet
    assert(listed === GraftFunctions.builders.map(_._1).toSet)
    assert(listed.size === 18)
  }

  test("native expressions are callable from SQL text") {
    val cos = one("SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
      "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)))").getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12, s"cosine self = $cos")

    val sh = one("SELECT graft_simhash64(array('key','agg','row'))").getLong(0)
    assert(sh === one("SELECT graft_simhash64(array('key','agg','row'))").getLong(0))
    assert(sh !== 0L)

    assert(one("SELECT graft_minhash_sig(array('a b c','b c d'), 8)")
      .getSeq[Long](0).length === 8)

    val bucket = one("SELECT graft_sign_bucket(" +
      "array(CAST(0.5 AS FLOAT), CAST(-0.5 AS FLOAT)), 6)").getInt(0)
    assert(bucket >= 0 && bucket < 64)

    assert(one("SELECT graft_word_shingles(array('a','b','c','d'), 3)")
      .getSeq[String](0) === Seq("a b c", "b c d"))

    // 'b c d' xxhash64-ed is in the sorted array, 'x y z' is not
    val probe = VectorMath.xxhash(UTF8String.fromString("b c d"))
    assert(one(s"SELECT graft_shingle_hash_overlap(array('a','b','c','d'), " +
      s"array(${probe}L), 3)").getBoolean(0))
    assert(!one(s"SELECT graft_shingle_hash_overlap(array('x','y','z'), " +
      s"array(${probe}L), 3)").getBoolean(0))

    assert(one("SELECT graft_strip_accents('café naïve')").getString(0) === "cafe naive")
    // multiset law: 'aaaa' has three 'aa' bigrams, 'aa' one
    assert(one("SELECT graft_bigram_overlap('aaaa', 'aa')").getLong(0) === 1L)
  }

  test("the Column API needs no registered function") {
    val bare = spark.newSession()
    Seq("graft_word_shingles", "graft_cosine", "graft_minhash_sig").foreach { name =>
      bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name))
    }
    val e = intercept[org.apache.spark.sql.AnalysisException](
      bare.sql("SELECT graft_cosine(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)))"))
    assert(e.getCondition === "UNRESOLVED_ROUTINE")

    def results(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      Seq((Seq("a", "b", "c", "d"), Seq(1.0f, 2.0f), Seq(2.0f, 1.0f)))
        .toDF("toks", "u", "v")
        .select(Dedup.shingles(col("toks"), 3), GraftFunctions.cosine(col("u"), col("v")),
          GraftFunctions.minhashSig(col("toks"), 8))
        .head()
    }
    val got = results(bare)
    assert(got.getSeq[String](0) === Seq("a b c", "b c d"))
    assert(got === results(spark))
  }
}
