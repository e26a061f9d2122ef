package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Laws for the native bigram kernel and blocked fuzzy linkage (q119
  * hash-proves the full replay). */
class FuzzySpec extends SparkSpec {

  private def overlap(a: String, b: String): Long = {
    spark.sql(s"SELECT graft_bigram_overlap('$a', '$b')").head().getLong(0)
  }

  test("bigram kernel: identity, disjoint, multiset counting, symmetry") {
    assert(overlap("hello", "hello") === 4L)
    assert(overlap("abcd", "wxyz") === 0L)
    // 'aaaa' = {aa,aa,aa}; 'aa' = {aa} -> multiset min = 1, not 3
    assert(overlap("aaaa", "aa") === 1L)
    assert(overlap("aa", "aaaa") === 1L)
    // shorter than 2 chars has no bigrams
    assert(overlap("a", "abc") === 0L)
  }

  test("kernel ≡ explode/groupBy reference on random-ish strings") {
    val s = spark
    import s.implicits._
    val strs = Seq("the quick brown fox", "the quick brown dog",
      "lorem ipsum dolor", "lorem ipsum dolor sit", "zzz", "z")
    val pairs = for (a <- strs; b <- strs) yield (a, b)
    def ref(a: String, b: String): Long = {
      def bags(x: String) = x.sliding(2).filter(_.length == 2).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      val (ba, bb) = (bags(a), bags(b))
      ba.map { case (g, c) => math.min(c, bb.getOrElse(g, 0)) }.sum.toLong
    }
    pairs.foreach { case (a, b) =>
      assert(overlap(a, b) === ref(a, b), s"mismatch on ($a, $b)")
    }
  }

  test("blocked linkage finds the planted near-twin, only within blocks") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "en", "the cat sat on the mat and purred softly today"),
      (2L, "en", "the cat sat on the mat and purred loudly today"), // near-twin of 1
      (3L, "en", "completely different text with no common part!!"),
      (4L, "de", "the cat sat on the mat and purred softly today") // same as 1, other block
    ).toDF("doc_id", "lang", "text")
    val got = Dedup.fuzzyBlockedPairs(docs, "doc_id", "text", "lang",
      prefixLen = 40, thresholdNum = 3, thresholdDen = 4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)),
      s"only the in-block near-twin pair must survive, got $got")
  }

  test("exact-rational threshold: boundary pair kept at exactly num/den") {
    val s = spark
    import s.implicits._
    // "abcd" vs "abxy": bigrams {ab,bc,cd} vs {ab,bx,xy} -> inter=1,
    // na=nb=3, dice=1/3 — kept at threshold 1/3, dropped just above
    val docs = Seq((1L, "b", "abcd"), (2L, "b", "abxy")).toDF("doc_id", "lang", "text")
    val at = Dedup.fuzzyBlockedPairs(docs, "doc_id", "text", "lang",
      prefixLen = 10, thresholdNum = 1, thresholdDen = 3).count()
    val above = Dedup.fuzzyBlockedPairs(docs, "doc_id", "text", "lang",
      prefixLen = 10, thresholdNum = 34, thresholdDen = 100).count()
    assert(at === 1L && above === 0L, s"at=$at above=$above")
  }
}
