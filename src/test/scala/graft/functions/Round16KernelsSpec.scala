package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Round-16 native kernels: each must be BIT-equal to the interpreted HOF
  * composition it replaced (the optimization contract — same fp operations
  * in the same order, so every declared query's oracle hash is unchanged).
  * Inputs include negatives, zeros, denormal-ish magnitudes and >2^53 longs
  * to exercise the cast paths.
  */
class Round16KernelsSpec extends SparkSpec {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("graft_dot_d is bit-equal to the aggregate(zip_with) fold it replaced") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (1 to 64).map { i =>
      val n = 1 + rnd.nextInt(65)
      (i.toLong, Seq.fill(n)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)),
        Seq.fill(n)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)))
    }
    val out = rows.toDF("id", "a", "b")
      .select(
        GraftFunctions.dotD(col("a"), col("b")).as("native"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0), (acc, t) => acc + t).as("hof"))
      .collect()
    out.foreach(r => assert(bits(r.getDouble(0)) === bits(r.getDouble(1))))
  }

  test("graft_center_dot_l is bit-equal to the zip_with centering + fold") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 64).map { i =>
      val n = 1 + rnd.nextInt(65)
      (i.toLong, Seq.fill(n)(rnd.nextLong() % (1L << 22)),
        Seq.fill(n)(rnd.nextLong() % (1L << 22)),
        Seq.fill(n)(rnd.nextGaussian()))
    }
    val out = rows.toDF("id", "q", "m", "v")
      .select(
        GraftFunctions.centerDotL(col("q"), col("m"), col("v")).as("native"),
        aggregate(
          zip_with(
            zip_with(col("q"), col("m"), (q, m) => (q - m).cast("double")),
            col("v"), (x, y) => x * y),
          lit(0.0), (acc, t) => acc + t).as("hof"))
      .collect()
    out.foreach(r => assert(bits(r.getDouble(0)) === bits(r.getDouble(1))))
  }

  test("graft_ordered_sum is bit-equal to the foldSorted HOF (double, long and null)") {
    val s = spark
    import s.implicits._
    def hofFold(k: Column, v: Column): Column =
      aggregate(
        transform(sort_array(collect_list(struct(k.as("k"), v.as("v")))),
          e => e("v")),
        lit(0.0), (acc, x) => acc + x)
    def nativeFold(k: Column, v: Column): Column =
      GraftFunctions.orderedSum(
        sort_array(collect_list(struct(k.as("k"), v.as("v")))))
    val rnd = new scala.util.Random(13)
    val dData = (1 to 500).map(i =>
      (i % 7, i.toLong, rnd.nextGaussian() * math.pow(10, rnd.nextInt(9) - 4)))
      .toDF("g", "k", "v")
    val d = dData.groupBy(col("g"))
      .agg(nativeFold(col("k"), col("v")).as("native"),
        hofFold(col("k"), col("v")).as("hof")).collect()
    assert(d.length === 7)
    d.foreach(r => assert(bits(r.getDouble(1)) === bits(r.getDouble(2))))
    // long values (including > 2^53 where the double cast loses bits: the
    // kernel must cast per-element exactly like the HOF's acc + x)
    val lData = (1 to 200).map(i =>
      (i % 5, i.toLong, rnd.nextLong() / (if (i % 3 == 0) 1L else 1L << 40)))
      .toDF("g", "k", "v")
    val l = lData.groupBy(col("g"))
      .agg(nativeFold(col("k"), col("v")).as("native"),
        hofFold(col("k"), col("v")).as("hof")).collect()
    l.foreach(r => assert(bits(r.getDouble(1)) === bits(r.getDouble(2))))
    // a null value poisons the sum in both forms
    val nData = Seq((1, 1L, Some(1.5)), (1, 2L, None), (2, 3L, Some(2.5)))
      .toDF("g", "k", "v")
    val n = nData.groupBy(col("g"))
      .agg(nativeFold(col("k"), col("v")).as("native"),
        hofFold(col("k"), col("v")).as("hof"))
      .orderBy(col("g")).collect()
    assert(n(0).isNullAt(1) && n(0).isNullAt(2))
    assert(bits(n(1).getDouble(1)) === bits(n(1).getDouble(2)))
  }

  test("PQ kernels are bit-equal to the HOF encode/table/scan they replaced") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(99)
    val m = 4
    val dim = 16 // subDim = 4
    val vecs = (1 to 40).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 4 - 2)))
      .toDF("id", "v")
    val cb = vecs.filter(col("id") % 5 === 0)
      .select(col("id").as("cent_id"), col("v").as("cent_v"))
      .agg(sort_array(collect_list(struct(col("cent_id"), col("cent_v"))))
        .as("__cb"))
    def subDist(x: Column, cbArr: Column, j: Column, sCol: Column,
        subDim: Column): Column =
      aggregate(
        zip_with(
          slice(x, sCol * subDim + 1, subDim),
          slice(element_at(cbArr, j)("cent_v"), sCol * subDim + 1, subDim),
          (a, b) => (a.cast("double") - b.cast("double")) *
            (a.cast("double") - b.cast("double"))),
        lit(0.0), (acc, d) => acc + d)
    val subDimC = (size(element_at(col("__cb"), 1)("cent_v")) / lit(m)).cast("int")
    val both = vecs.crossJoin(broadcast(cb))
      .select(col("id"),
        transform(sequence(lit(0), lit(m - 1)), sCol =>
          GraftFunctions.pqArgmin(col("v"), col("__cb"), sCol, subDimC))
          .as("code_native"),
        transform(sequence(lit(0), lit(m - 1)), sCol =>
          element_at(
            array_sort(transform(sequence(lit(1), size(col("__cb"))), j =>
              struct(subDist(col("v"), col("__cb"), j, sCol, subDimC).as("d"),
                j.as("j")))), 1)("j")).as("code_hof"),
        transform(sequence(lit(0), lit(m - 1)), sCol =>
          GraftFunctions.pqDists(col("v"), col("__cb"), sCol, subDimC))
          .as("dt_native"),
        transform(sequence(lit(0), lit(m - 1)), sCol =>
          transform(sequence(lit(1), size(col("__cb"))), j =>
            subDist(col("v"), col("__cb"), j, sCol, subDimC))).as("dt_hof"))
      .select(col("id"), col("code_native"), col("code_hof"),
        col("dt_native"), col("dt_hof"),
        GraftFunctions.adcSum(col("dt_native"), col("code_native")).as("adc_native"),
        aggregate(sequence(lit(1), lit(m)), lit(0.0), (acc, sCol) =>
          acc + element_at(element_at(col("dt_hof"), sCol),
            element_at(col("code_hof"), sCol))).as("adc_hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Int](1) === r.getSeq[Int](2), s"code mismatch id=${r.getLong(0)}")
      val dtN = r.getSeq[scala.collection.Seq[Double]](3)
      val dtH = r.getSeq[scala.collection.Seq[Double]](4)
      dtN.zip(dtH).foreach { case (a, b) =>
        a.toSeq.zip(b.toSeq).foreach { case (x, y) => assert(bits(x) === bits(y)) }
      }
      assert(bits(r.getDouble(5)) === bits(r.getDouble(6)))
    }
  }

  test("graft_word_shingle_hashes == xxhash64 of each graft_word_shingles " +
      "element (same windows, same distinct set, same order)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog the quick brown fox",
      "a b a b a b a b",
      "one two",           // too short for n=3 -> empty
      "x y z x y z x y z"  // repeated shingles -> distinct keeps first
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val out = docs
      .select(col("id"), split(col("text"), " ").as("w"))
      .select(col("id"),
        GraftFunctions.wordShingleHashes(col("w"), 3).as("fused"),
        transform(GraftFunctions.wordShingles(col("w"), 3),
          sh => xxhash64(sh)).as("twoStep"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"id=${r.getLong(0)}")
    }
  }

  test("graft_char_bigrams equals the per-position substring transform " +
      "(incl. unicode and short strings)") {
    val s = spark
    import s.implicits._
    val rows = Seq("hello world", "ab", "a", "", "héllo wörld ünïcode",
      "xx yy zz xx yy", "日本語テキスト").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val out = rows.toDF("id", "text")
      .select(col("id"),
        GraftFunctions.charBigrams(col("text")).as("native"),
        when(length(col("text")) >= 2,
          transform(sequence(lit(1), length(col("text")) - 1),
            i => expr("text").substr(i, lit(2))))
          .otherwise(array().cast("array<string>")).as("hof"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2), s"id=${r.getLong(0)}")
    }
  }

  test("hashed-shingle jaccard pairs equal the string-shingle pairs on a " +
      "corpus with planted near-dups (collision-free regime)") {
    val s = spark
    import s.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val near = (1 to 30).map(i => if (i == 7) "CHANGED" else s"tok$i").mkString(" ")
    val far = (100 to 130).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, far), (4L, base)).toDF("doc_id", "text")
    val hashed = graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text")
      .orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // string reference: the same inverted-index count on string shingles
    val t = graft.dedup.Dedup.shingled(docs, "doc_id", "text", 3)
    val inv = t.select(col("id"), col("sz"), explode(col("s")).as("sh"))
    val ref = inv.alias("a").join(inv.alias("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.sz").as("a_sz"), col("b.sz").as("b_sz"))
      .agg(count(lit(1)).as("c"))
      .withColumn("jaccard", col("c").cast("double")
        / (col("a_sz") + col("b_sz") - col("c")).cast("double"))
      .filter(col("jaccard") >= 0.6)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hashed.toSeq === ref.toSeq)
  }

  test("pqArgmin breaks exact-distance ties to the smaller codeword position") {
    val s = spark
    import s.implicits._
    // two identical codewords -> every distance ties -> position 1 must win
    val vecs = Seq((1L, Seq(1.0f, 2.0f, 3.0f, 4.0f))).toDF("id", "v")
    val cb = Seq((10L, Seq(0.0f, 0.0f, 0.0f, 0.0f)), (20L, Seq(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("cent_id", "cent_v")
      .agg(sort_array(collect_list(struct(col("cent_id"), col("cent_v")))).as("__cb"))
    val code = vecs.crossJoin(broadcast(cb))
      .select(GraftFunctions.pqArgmin(col("v"), col("__cb"), lit(0), lit(4)))
      .head().getInt(0)
    assert(code === 1)
  }

  test("graft_dot_d and graft_center_dot_l are null on a null element, like their folds") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(Some(1.0), None), Seq(Some(2.0), Some(3.0)),
        Seq(Some(1L), None), Seq(Some(0L), Some(0L))))
      .toDF("a", "b", "q", "m")
      .select(
        GraftFunctions.dotD(col("a"), col("b")),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0), (acc, t) => acc + t),
        GraftFunctions.centerDotL(col("q"), col("m"), col("b")),
        aggregate(
          zip_with(
            zip_with(col("q"), col("m"), (q, m) => (q - m).cast("double")),
            col("b"), (x, y) => x * y),
          lit(0.0), (acc, t) => acc + t))
    // as-is the projection is folded into the local relation (interpreted
    // eval); the repartition keeps it in a codegen'd stage
    Seq(df, df.repartition(1)).foreach { d =>
      val r = d.head()
      assert((0 until 4).forall(r.isNullAt), s"expected all null, got $r")
    }
  }

  test("pqArgmin fails on an empty codebook instead of returning position 1") {
    val s = spark
    import s.implicits._
    val e = intercept[Exception] {
      Seq((Seq(1.0f, 2.0f), Seq.empty[(Long, Seq[Float])])).toDF("v", "cb")
        .select(GraftFunctions.pqArgmin(col("v"), col("cb"), lit(0), lit(2)))
        .head()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("graft_pq_argmin: empty codebook")), e.toString)
  }
}
