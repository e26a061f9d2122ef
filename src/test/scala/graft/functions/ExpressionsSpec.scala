package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit tests for the native Catalyst expressions (codegen + interpreted
  * paths agree, hash compatibility with Spark built-ins, algebraic laws). */
class ExpressionsSpec extends SparkSpec {

  private def df = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Seq("key", "agg", "row"), Seq(1.0f, 2.0f, 3.0f)),
      (2L, Seq("key", "agg", "row"), Seq(1.0f, 2.0f, 3.0f)),
      (3L, Seq("batch", "window"), Seq(-1.0f, 0.5f, 2.0f)),
      (4L, Seq.empty[String], Seq(2.0f, 4.0f, 6.0f))
    ).toDF("id", "toks", "vec")
  }

  test("VectorMath.xxhash matches Spark's xxhash64 builtin on strings") {
    val s = spark
    import s.implicits._
    val words = Seq("key", "agg", "row scan", "", "ünïcode").toDF("w")
    val rows = words.select(col("w"), xxhash64(col("w")).as("builtin")).collect()
    rows.foreach { r =>
      val ours = VectorMath.xxhash(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)))
      assert(ours === r.getLong(1), s"mismatch for '${r.getString(0)}'")
    }
  }

  test("graft_cosine: identical vectors -> 1.0; scale-invariant; symmetric") {
    val out = df.select(col("id"),
      GraftFunctions.cosine(col("vec"), col("vec")).as("self")).collect()
    out.filter(_.getLong(0) != 4L).foreach { r =>
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    }
    // vec(1) = [1,2,3], vec(4) = [2,4,6] = 2*vec(1) -> cosine 1
    val cross = df.filter(col("id") === 1).alias("a")
      .crossJoin(df.filter(col("id") === 4).alias("b"))
      .select(GraftFunctions.cosine(col("a.vec"), col("b.vec"))).head().getDouble(0)
    assert(math.abs(cross - 1.0) < 1e-12)
  }

  test("graft_simhash64: deterministic, equal inputs collide, empty -> all-ones-vote") {
    val out = df.select(col("id"), GraftFunctions.simhash64(col("toks")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === out(2L)) // identical token bags
    assert(out(1L) !== out(3L)) // different bags (overwhelmingly likely)
    assert(out(4L) === 0L) // empty bag: no evidence -> zero fingerprint
  }

  test("simhash hamming distance is small for near-identical bags, large for disjoint") {
    val s = spark
    import s.implicits._
    val base = (1 to 60).map(i => s"tok$i")
    val near = base.updated(5, "CHANGED")
    val far = (1 to 60).map(i => s"other$i")
    val d = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "toks")
      .select(col("id"), GraftFunctions.simhash64(col("toks")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(d(1L), d(2L)) < ham(d(1L), d(3L)))
    assert(ham(d(1L), d(2L)) <= 12)
    assert(ham(d(1L), d(3L)) >= 20)
  }

  test("graft_minhash_sig: k minima, deterministic, matching-rate ~ jaccard") {
    val s = spark
    import s.implicits._
    val a = (1 to 100).map(i => s"sh$i")
    val b = (1 to 80).map(i => s"sh$i") ++ (101 to 120).map(i => s"sh$i") // J = 80/120
    val d = Seq((1L, a), (2L, a), (3L, b)).toDF("id", "toks")
      .select(col("id"), GraftFunctions.minhashSig(col("toks"), 512).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(d(1L) === d(2L))
    val agree = d(1L).zip(d(3L)).count { case (x, y) => x == y }.toDouble / 512
    assert(math.abs(agree - 80.0 / 120.0) < 0.08, s"minhash agreement $agree vs expected 0.667")
  }

  test("graft_word_shingles: equals the HOF composition it replaces (law)") {
    val s = spark
    import s.implicits._
    // real corpus text + handcrafted edges: repeats (distinct-ness), exact
    // n-length input, order of first occurrence
    val texts = Seq(
      "a b c d e", "x y z", "a b a b a b a b", "one two three",
      "the the the the") ++
      graft.Tables.documents(s, "/root/testdata/sf0.001")
        .select("text").limit(50).collect().map(_.getString(0))
    val toks = texts.toDF("text")
      .select(graft.text.TextOps.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
    val native = toks.select(graft.dedup.Dedup.shingles(col("w"), 3).as("s")).collect()
      .map(_.getSeq[String](0))
    val hof = toks.select(graft.dedup.Dedup.shinglesHof(col("w"), 3).as("s")).collect()
      .map(_.getSeq[String](0))
    assert(native.length === hof.length)
    native.zip(hof).foreach { case (n, h) => assert(n === h) } // order included
  }

  test("expressions evaluate identically with codegen disabled (interpreted path)") {
    val s = spark
    val withCodegen = df.select(
      GraftFunctions.simhash64(col("toks")).as("fp"),
      GraftFunctions.minhashSig(col("toks"), 8).as("sig"),
      GraftFunctions.wordShingles(col("toks"), 2).as("sh"),
      GraftFunctions.cosine(col("vec"), col("vec")).as("cos")).collect()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = df.select(
        GraftFunctions.simhash64(col("toks")).as("fp"),
        GraftFunctions.minhashSig(col("toks"), 8).as("sig"),
        GraftFunctions.wordShingles(col("toks"), 2).as("sh"),
        GraftFunctions.cosine(col("vec"), col("vec")).as("cos")).collect()
      assert(withCodegen.map(_.toString).toSeq === interpreted.map(_.toString).toSeq)
    } finally {
      s.conf.set("spark.sql.codegen.wholeStage", "true")
      s.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("sign_bucket: deterministic and within [0, 2^planes)") {
    val out = df.select(GraftFunctions.signBucket(col("vec"), 8).as("b")).collect()
    out.foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) < 256)
    }
    val again = df.select(GraftFunctions.signBucket(col("vec"), 8).as("b")).collect()
    assert(out.map(_.getInt(0)).toSeq === again.map(_.getInt(0)).toSeq)
  }

  test("strip_accents: precomposed, decomposed, non-mark unicode, ASCII, null") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      "café",                 // precomposed é
      "café",                // decomposed e + combining acute (Mn)
      "áéöüñç", // accent alphabet
      "naïve ☃ snow",    // ï folds; the snowman (So) survives
      "plain ascii stays put",
      "a𝅧b", // U+1D167 (supplementary-plane Mn): surrogate pair
      null.asInstanceOf[String])
      .toDF("t")
    val got = rows.select(GraftFunctions.stripAccents(col("t"))).collect()
      .map(r => Option(r.getString(0)))
    assert(got(0) === Some("cafe"))
    assert(got(1) === Some("cafe")) // NFD canonicalizes both spellings
    assert(got(2) === Some("aeounc")) // áéöüñç -> aeounc
    assert(got(3) === Some("naive ☃ snow"))
    assert(got(4) === Some("plain ascii stays put"))
    assert(got(5) === Some("ab")) // astral combining mark dropped too
    assert(got(6) === None)
  }
}
