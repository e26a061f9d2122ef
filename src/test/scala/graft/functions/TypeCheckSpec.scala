package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** Negative paths: the native expressions reject wrong input types at
  * ANALYSIS time (checkInputDataTypes), not at runtime. */
class TypeCheckSpec extends SparkSpec {

  private def df = {
    val s = spark
    import s.implicits._
    Seq((Seq(1.0, 2.0), Seq("a", "b"), "plain")).toDF("dvec", "toks", "str")
  }

  test("graft_cosine rejects array<double> (wants array<float>) at analysis time") {
    val e = intercept[AnalysisException] {
      df.select(GraftFunctions.cosine(col("dvec"), col("dvec"))).collect()
    }
    assert(e.getMessage.contains("graft_cosine"))
  }

  test("graft_simhash64 rejects a plain string at analysis time") {
    val e = intercept[AnalysisException] {
      df.select(GraftFunctions.simhash64(col("str"))).collect()
    }
    assert(e.getMessage.contains("graft_simhash64"))
  }

  test("graft_word_shingles rejects non-string arrays and non-positive widths") {
    val e = intercept[AnalysisException] {
      df.select(GraftFunctions.wordShingles(col("dvec"), 3)).collect()
    }
    assert(e.getMessage.contains("graft_word_shingles"))
    val bad = intercept[Exception] {
      df.select(GraftFunctions.wordShingles(col("toks"), 0)).collect()
    }
    assert(bad.getMessage.contains("positive"))
  }

  test("graft_minhash_sig requires a literal k") {
    val e = intercept[Exception] {
      df.select(call_function("graft_minhash_sig", col("toks"), col("dvec"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("literal"))
  }
}
