package graft

import graft.model.{BasketItem, OrderEvent}
import graft.ops.{AsofJoin, Derive, Flatten, JsonDecode}
import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Property-based laws (SURVEY.md §5): each property generates a batch of
 * random cases with ScalaCheck Gens (fixed seed — deterministic CI) and
 * checks the law over the whole batch in ONE Spark job.
 */
class PropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], n: Int, seed: Long = 42L): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val genBasket: Gen[BasketItem] = for {
    q <- Gen.option(Gen.chooseNum(0, 999))
    p <- Gen.option(Gen.chooseNum(1, 100000))
    d <- Gen.option(Gen.oneOf(true, false))
  } yield BasketItem(q, p, d)

  private val genOrder: Gen[OrderEvent] = for {
    id <- Gen.option(Gen.chooseNum(1, Int.MaxValue))
    total <- Gen.option(Gen.chooseNum(0.0, 1e6))
    city <- Gen.option(Gen.chooseNum(0, 300))
    freight <- Gen.option(Gen.chooseNum(0.0, 1e4))
    cust <- Gen.option(Gen.chooseNum(1, 1000000))
    method <- Gen.option(Gen.oneOf("GROUND", "AIR", "2-DAY", "with \"quotes\"", "uni→code"))
    onum <- Gen.option(Gen.stringOfN(8, Gen.alphaNumChar))
    disc <- Gen.option(Gen.chooseNum(0.0, 100.0))
    date <- Gen.option(Gen.const("2024-03-04 05:06:07"))
    basket <- Gen.listOfN(3, genBasket).flatMap(b => Gen.oneOf(Seq.empty[BasketItem], b))
  } yield OrderEvent(id, total, city, freight, cust, method, onum, disc, date, basket)

  test("law: from_json ∘ to_json = id over generated orders (PERMISSIVE round-trip)") {
    val s = spark
    import s.implicits._
    val orders = sample(genOrder, 60)
    val ds = orders.toDS()
    val roundTripped = JsonDecode.decode(
      ds.select(to_json(struct(col("*"))).as("value")))
      .as[OrderEvent].collect()
    // to_json omits null fields; from_json restores them as null — identity
    // holds except Seq-vs-null for an absent basket, which Spark reads as null
    val norm = (o: OrderEvent) =>
      if (o.order_basket == null) o.copy(order_basket = Seq.empty) else o
    assert(roundTripped.map(norm).toSeq === orders.map(norm))
  }

  test("law: explode row count = Σ size(order_basket)") {
    val s = spark
    import s.implicits._
    val orders = sample(genOrder, 80)
    val df = orders.toDS().toDF()
    val exploded = Flatten.explodeBasket(df).count()
    assert(exploded === orders.map(_.order_basket.size).sum.toLong)
  }

  test("law: discounted_total ∈ [0, order_total] for discount ∈ [0,100]") {
    val s = spark
    import s.implicits._
    val cases = sample(
      for {
        t <- Gen.chooseNum(0.0, 1e7)
        d <- Gen.chooseNum(0.0, 100.0)
      } yield (t, d), 200)
    val viol = cases.toDF("total", "disc")
      .select(col("total"), Derive.discountedTotal(col("total"), col("disc")).as("dt"))
      .filter(col("dt") < 0 || col("dt") > col("total"))
      .count()
    assert(viol === 0L)
  }

  test("law: AsofJoin equals the naive per-row maximum-earlier-right lookup") {
    val s = spark
    import s.implicits._
    val n = 120
    val gen = for {
      key <- Gen.chooseNum(1, 6)
      t <- Gen.chooseNum(0L, 500L)
    } yield (key, t)
    val lefts = sample(gen, n, seed = 1L).zipWithIndex
      .map { case ((k, t), i) => (i.toLong, k, new java.sql.Timestamp(t * 1000)) }
    val rights = sample(gen, n, seed = 2L).zipWithIndex
      .map { case ((k, t), i) => (k, new java.sql.Timestamp(t * 1000), i.toLong, i * 1.5) }
    val out = AsofJoin.asof(
      lefts.toDF("lid", "k", "t"), rights.toDF("k", "t", "rid", "v"),
      ("k", "k"), ("t", "t"), "rid", Seq("v"))
      .collect().map(r => r.getAs[Long]("lid") ->
        Option(r.getAs[Any]("v")).map(_.asInstanceOf[Double])).toMap
    lefts.foreach { case (lid, k, t) =>
      val expected = rights.filter(r => r._1 == k && !r._2.after(t))
        .sortBy(r => (r._2.getTime, r._3)).lastOption.map(_._4)
      assert(out(lid) === expected, s"lid=$lid key=$k t=$t")
    }
  }

  test("law: WordShingles(kernel) = array_distinct∘transform(HOF) on random token arrays") {
    val s = spark
    import s.implicits._
    // small vocab forces repeats (distinct-ness matters); lengths straddle n
    val genToks = for {
      len <- Gen.chooseNum(0, 24)
      toks <- Gen.listOfN(len, Gen.oneOf("a", "bb", "ccc", "d", "", "ée"))
    } yield toks
    val cases = sample(genToks, 150)
    Seq(1, 2, 3, 5).foreach { n =>
      val df = cases.toDF("w")
      // the HOF form is only defined for size >= n (sequence(0, negative)
      // descends and element_at(_, 0) throws under ANSI) — shingled()
      // guards it with the same filter in production
      val valid = df.filter(size(col("w")) >= n).select(
        graft.dedup.Dedup.shingles(col("w"), n).as("native"),
        graft.dedup.Dedup.shinglesHof(col("w"), n).as("hof")).collect()
      assert(valid.nonEmpty)
      valid.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1), s"n=$n"))
      // the kernel itself totalizes: empty output for too-short inputs
      val short = df.filter(size(col("w")) < n)
        .select(graft.dedup.Dedup.shingles(col("w"), n).as("native")).collect()
      short.foreach(r => assert(r.getSeq[String](0) === Seq.empty, s"n=$n short"))
    }
  }

  test("law: connectedComponents equals in-memory union-find on random graphs") {
    val s = spark
    import s.implicits._
    // random sparse graphs over a small id space: chains, cliques, isolated
    // pairs, self-dup edges all arise; union-find is the trusted reference
    val genEdges = for {
      n <- Gen.chooseNum(2, 40)
      edges <- Gen.listOfN(n,
        Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 30L)))
    } yield edges.filter { case (a, b) => a != b }.map { case (a, b) =>
      (math.min(a, b), math.max(a, b))
    }
    sample(genEdges, 6, seed = 7L).zipWithIndex.foreach { case (edges, i) =>
      if (edges.nonEmpty) {
        val got = graft.dedup.Dedup.connectedComponents(
          edges.toDF("a_id", "b_id")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        // reference: classic union-find with path compression
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = parent.keys.map(x => x -> find(x)).toMap
        assert(got === expected, s"graph #$i: $edges")
      }
    }
  }

  test("law: quantizeInt8 error bound and sign preservation on random vectors") {
    val s = spark
    import s.implicits._
    val genVec = for {
      dim <- Gen.chooseNum(1, 16)
      v <- Gen.listOfN(dim, Gen.chooseNum(-1e3f, 1e3f))
    } yield v
    val cases = sample(genVec, 120, seed = 11L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val out = graft.sim.Similarity.quantizeInt8(
      cases.toDF("vec_id", "embedding"), "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Double]("scale"), r.getSeq[Byte](2))).toMap
    cases.foreach { case (id, v) =>
      val (scale, codes) = out(id)
      assert(codes.length === v.length)
      val mx = v.map(x => math.abs(x.toDouble)).max
      assert(scale === mx / 127.0)
      v.zip(codes).foreach { case (x, c) =>
        assert(c >= -127 && c <= 127)
        if (scale > 0) {
          assert(math.abs(x.toDouble - c.toDouble * scale) <= scale / 2 + 1e-9)
          // rounding never flips a decisively-signed component
          if (math.abs(x) > scale) assert(math.signum(c.toDouble) === math.signum(x.toDouble))
        } else assert(c === 0)
      }
    }
  }

  test("law: md5Prefix64 = first 16 hex digits of Spark's own md5 (the q27 oracle premise)") {
    val s = spark
    import s.implicits._
    val genStr = Gen.oneOf(
      Gen.stringOfN(12, Gen.alphaNumChar),
      Gen.stringOfN(3, Gen.alphaChar),
      Gen.const(""),
      Gen.stringOfN(8, Gen.oneOf('Ω', 'ß', '中', 'a', ' ')))
    val cases = sample(genStr, 80).distinct
    val sparkHex = cases.toDF("t")
      .select(col("t"), md5(col("t")).as("hex"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { t =>
      val kernel = graft.functions.VectorMath.md5Prefix64(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
      val viaHex = java.lang.Long.parseUnsignedLong(sparkHex(t).substring(0, 16), 16)
      assert(kernel === viaHex, s"md5Prefix64 mismatch for ${t.take(20)}")
    }
  }

  test("law: shingleHashOverlap = arrays_overlap of xxhash64-ed word shingles") {
    val s = spark
    import s.implicits._
    val word = Gen.oneOf("the", "a", "data", "key", "row", "merge", "scan", "x1", "y2")
    val genToks = Gen.chooseNum(0, 9).flatMap(k => Gen.listOfN(k, word))
    val cases = sample(genToks, 120).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val n = 3
    // bench set: real shingles from half the docs (hits) + noise (misses)
    val benchStrings = cases.filter(_._1 % 2 == 0)
      .flatMap { case (_, toks) => toks.sliding(n).filter(_.size == n).map(_.mkString(" ")) }
      .distinct.take(30) ++ Seq("never gonna match", "zz zz zz")
    val benchHashes = benchStrings.map(x => graft.functions.VectorMath.xxhash(
      org.apache.spark.unsafe.types.UTF8String.fromString(x))).toArray
    val sorted = benchHashes.clone(); java.util.Arrays.sort(sorted)
    val rows = cases.toDF("id", "toks")
      .select(
        graft.functions.GraftFunctions.shingleHashOverlap(
          col("toks"), typedLit(sorted), n).as("kernel"),
        coalesce(arrays_overlap(
          transform(
            graft.functions.GraftFunctions.wordShingles(col("toks"), n),
            sh => xxhash64(sh)),
          typedLit(benchHashes)), lit(false)).as("composed"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(0) === r.getBoolean(1)))
    // and both polarities actually occur in the generated batch
    assert(rows.exists(_.getBoolean(0)) && rows.exists(!_.getBoolean(0)))
  }

  test("law: rolling fingerprint is a homomorphism: h(a++b) = (h(a)*31^|b| + h(b)) mod p") {
    val s = spark
    import s.implicits._
    val p = BigInt(1000000007L)
    val genStr = Gen.stringOfN(20, Gen.alphaNumChar)
    val cases = sample(Gen.zip(genStr, genStr), 60)
    val rows = cases.toDF("a", "b")
      .select(
        TextOps.rollingFingerprint(col("a")).as("ha"),
        TextOps.rollingFingerprint(col("b")).as("hb"),
        TextOps.rollingFingerprint(concat(col("a"), col("b"))).as("hab"),
        length(col("b")).as("lb"))
      .collect()
    rows.foreach { r =>
      val expected = (BigInt(r.getAs[Long]("ha")) * BigInt(31).modPow(r.getAs[Int]("lb"), p)
        + r.getAs[Long]("hb")).mod(p)
      assert(BigInt(r.getAs[Long]("hab")) === expected)
    }
  }

  test("law: approx-quantile tolerance band (q71) holds and is nearly a point, not a blanket") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    // q71's slack: 2eps of rank error plus the 0.1% element-gap cushion
    val slack = 2.0 / 10000 + 1e-3
    val price = col("l_extendedprice")
    val r = li.agg(
      percentile_approx(price, lit(0.5), lit(10000)).as("approx"),
      percentile(price, lit(0.5 - slack)).as("lo"),
      percentile(price, lit(0.5 + slack)).as("hi"),
      min(price).as("mn"), max(price).as("mx"),
      count(lit(1)).as("n")).head()
    val (approx, lo, hi) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    // the law itself: the sketch's rank-error contract puts it inside the band
    assert(approx >= lo && approx <= hi, s"approx $approx outside [$lo, $hi]")
    // non-vacuity: the band must be nearly a point — a tiny sliver of the
    // value range covering ~0.24% of rows, so an off-spec sketch value
    // would break the q71 boolean rather than hide inside it
    assert((hi - lo) < (r.getDouble(4) - r.getDouble(3)) * 0.01,
      s"band [$lo, $hi] too wide to be a meaningful law")
    val inBand = li.filter(price >= lo && price <= hi).count()
    assert(inBand <= math.max(3L, r.getLong(5) / 200),
      s"$inBand rows inside the tolerance band — the law is too loose")
  }

  test("law: sortedContains = linear scan membership on random sorted long arrays") {
    val s = spark
    import s.implicits._
    val genCase: Gen[(Seq[Long], Long)] = for {
      xs <- Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
      probe <- Gen.oneOf(
        Gen.chooseNum(Long.MinValue, Long.MaxValue),
        if (xs.nonEmpty) Gen.oneOf(xs) else Gen.const(0L))
    } yield (xs.distinct.sorted, probe)
    val cases = sample(genCase, 200)
    val got = cases.toDF("arr", "probe")
      .select(col("probe"), col("arr"),
        graft.functions.GraftFunctions.sortedContains(col("probe"), col("arr")).as("hit"))
      .collect().map(r => r.getBoolean(2))
    cases.zip(got).foreach { case ((xs, p), hit) =>
      assert(hit === xs.contains(p), s"probe $p in ${xs.take(8)}...")
    }
  }

  test("law: stripAccents is idempotent and a no-op on its own output") {
    val s = spark
    import s.implicits._
    val genText: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('á', 'é', 'ö', 'ü', 'ñ', 'ç', 'à', 'ï', ' ', '☃')))
      .map(_.mkString)
    val texts = sample(genText, 150)
    val once = texts.toDF("t")
      .select(graft.functions.GraftFunctions.stripAccents(col("t")).as("o")).collect()
      .map(_.getString(0))
    val twice = once.toSeq.toDF("t")
      .select(graft.functions.GraftFunctions.stripAccents(col("t")).as("o")).collect()
      .map(_.getString(0))
    assert(once.toSeq === twice.toSeq)
    // folded output carries no combining marks
    once.foreach(o => assert(!o.exists(c => Character.getType(c) == Character.NON_SPACING_MARK)))
  }

  test("law: zOrder16 is a bijection — deinterleaving recovers both inputs") {
    val s = spark
    import s.implicits._
    val genXY: Gen[(Long, Long)] = for {
      x <- Gen.chooseNum(0L, 65535L)
      y <- Gen.chooseNum(0L, 65535L)
    } yield (x, y)
    val cases = sample(genXY, 300)
    val got = cases.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.layout.Layout.zOrder16(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def deinterleave(z: Long): (Long, Long) = {
      var (x, y) = (0L, 0L)
      for (i <- 0 until 16) {
        x |= ((z >> (2 * i)) & 1L) << i
        y |= ((z >> (2 * i + 1)) & 1L) << i
      }
      (x, y)
    }
    got.foreach { case (x, y, z) => assert(deinterleave(z) === ((x, y)), s"z=$z") }
    // distinct inputs -> distinct keys over the sample (injectivity witness)
    assert(got.map(_._3).distinct.length === cases.distinct.length)
  }
}
