package graft.sim

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Contracts for exact and approximate similarity search. */
class SimilaritySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("cosineKnn: exact neighbors on handcrafted vectors with deterministic tiebreak") {
    val s = spark
    import s.implicits._
    val vs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.5f, 0.5f)),
      (3L, Seq(0.0f, 1.0f)),
      (4L, Seq(0.9f, 0.1f))) // exact tie with id 1 -> id order decides
      .toDF("vec_id", "embedding")
    val out = Similarity.cosineKnn(vs.filter(col("vec_id") === 0), vs, "vec_id", "embedding", 3)
      .orderBy("rnk").collect()
    assert(out.map(_.getAs[Long]("c_id")).toSeq === Seq(1L, 4L, 2L))
    assert(out.map(_.getAs[Long]("rnk")).toSeq === Seq(1L, 2L, 3L))
  }

  test("cosineKnnAgg (bounded-heap Aggregator) equals the window-rank cosineKnn") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val viaWindow = Similarity.cosineKnn(queries, emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val viaAgg = Similarity.cosineKnnAgg(queries, emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(viaAgg === viaWindow)
  }

  test("ivfKnn recall@10 vs exact, and reported cosines are exact pair cosines") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.cosineKnn(queries, emb, "vec_id", "embedding", 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfKnn(queries, emb, "vec_id", "embedding", 10,
      centroidStride = 50, nProbe = 3).collect()
    val approx = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // nProbe=3 of ~10 cells scans ~30% of the corpus; on uniform random
    // vectors cell membership correlates with query proximity only weakly,
    // so assert a floor comfortably above the random-scan baseline.
    assert(recall >= 0.3, s"ivf recall@10 = $recall")
    val exactCos = Similarity.cosineKnn(queries, emb, "vec_id", "embedding", 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    ivf.foreach { r =>
      exactCos.get((r.getLong(0), r.getLong(1))).foreach(c => assert(c === r.getDouble(3)))
    }
  }

  test("kmeansCentroids: spherical Lloyd improves inertia monotonically; trained IVF works") {
    import graft.functions.GraftFunctions
    val emb = Tables.embeddings(spark, sfDir)
    // spherical inertia = mean (1 - max cosine to any centroid): must not
    // degrade as Lloyd iterates (standard monotonicity, small FP slack)
    def inertia(cents: org.apache.spark.sql.DataFrame): Double = {
      val centArr = cents.agg(sort_array(collect_list(struct(col("cent_id"), col("cent_v"))))
        .as("__cents"))
      emb.select(col("embedding").as("v")).crossJoin(broadcast(centArr))
        .select(array_max(transform(col("__cents"),
          c => GraftFunctions.cosine(col("v"), c("cent_v")))).as("best"))
        .agg(avg(lit(1.0) - col("best"))).head().getDouble(0)
    }
    val i0 = inertia(Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 10, iters = 0))
    val i2 = inertia(Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 10, iters = 2))
    val i5 = inertia(Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 10, iters = 5))
    assert(i2 <= i0 + 1e-9, s"inertia rose after 2 iters: $i0 -> $i2")
    assert(i5 <= i2 + 1e-9, s"inertia rose from 2 to 5 iters: $i2 -> $i5")
    assert(i5 < i0, s"training never improved inertia: $i0 -> $i5")
    // trained centroids drive the same IVF contract: k rows per query with
    // exact pair cosines
    val trained = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 10, iters = 3)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val out = Similarity.ivfKnnWith(queries, emb, trained, "vec_id", "embedding",
      k = 10, nProbe = 3).collect()
    assert(out.nonEmpty, "trained IVF returned no neighbors")
    val perQuery = out.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perQuery.values.forall(_ === 10))
    val exactCos = Similarity.cosineKnn(queries, emb, "vec_id", "embedding", 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    out.foreach { r =>
      exactCos.get((r.getLong(0), r.getLong(1))).foreach(c => assert(c === r.getDouble(3)))
    }
  }

  test("kmeansCentroids: fixed-point update is partition-order independent (bit-equal)") {
    val emb = Tables.embeddings(spark, sfDir)
    def train(input: org.apache.spark.sql.DataFrame) =
      Similarity.kmeansCentroids(input, "vec_id", "embedding", k = 8, iters = 2)
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
    val base = train(emb)
    // radically different partitionings: one partition vs many hash splits —
    // a float avg would drift in the last bits; the scaled-long sums cannot
    val one = train(emb.coalesce(1))
    val many = train(emb.repartition(13, col("vec_id")))
    assert(base.nonEmpty)
    assert(one === base)
    assert(many === base)
  }

  test("quantizeInt8: codes bounded, per-element error <= scale/2, dequantize law") {
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val joined = q.join(emb.select(col("vec_id").as("id"), col("embedding")), "id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val codes = r.getSeq[Byte](r.fieldIndex("qv"))
      val v = r.getSeq[Float](r.fieldIndex("embedding"))
      assert(codes.length === v.length)
      assert(codes.forall(c => c >= -127 && c <= 127))
      // round-to-nearest: reconstruction error is at most half a step
      v.zip(codes).foreach { case (x, c) =>
        assert(math.abs(x.toDouble - c.toDouble * scale) <= scale / 2 + 1e-12)
      }
    }
    // dequantized view matches code * scale elementwise
    val vh = Similarity.dequantizeInt8(q).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val qm = joined.map(r => r.getLong(r.fieldIndex("id")) ->
      (r.getAs[Double]("scale"), r.getSeq[Byte](r.fieldIndex("qv")))).toMap
    vh.foreach { case (id, hat) =>
      val (scale, codes) = qm(id)
      hat.zip(codes).foreach { case (h, c) =>
        assert(h === (c.toDouble * scale).toFloat)
      }
    }
    // the zero vector stays representable: scale 0, all-zero code
    val z = Similarity.quantizeInt8(
      Seq((1L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding"), "vec_id", "embedding").head()
    assert(z.getAs[Double]("scale") === 0.0)
    assert(z.getSeq[Byte](2).forall(_ === 0))
  }

  test("quantizeInt8: KNN over dequantized vectors preserves exact-KNN neighbors") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.cosineKnn(queries, emb, "vec_id", "embedding", 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // search the int8-compressed corpus with the ORIGINAL float queries
    // (asymmetric search, the standard quantized-ANN setup); cosine is
    // scale-invariant so only code rounding perturbs ranks
    val deq = Similarity.dequantizeInt8(
      Similarity.quantizeInt8(emb, "vec_id", "embedding"))
      .select(col("id").as("vec_id"), col("v_hat").as("embedding"))
    val quant = Similarity.cosineKnn(queries, deq, "vec_id", "embedding", 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val exactSets = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val quantSets = quant.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(exactSets.nonEmpty)
    val recall = exactSets.map { case (q, s) =>
      quantSets.getOrElse(q, Set.empty).intersect(s).size.toDouble / s.size
    }.sum / exactSets.size
    // int8 distortion is ~0.4% per element; top-10 must survive nearly whole
    assert(recall >= 0.9, s"quantized recall@10 was $recall")
  }

  test("lshKnn recall@10 vs exact on the fixture embeddings (uniform vectors: floor only)") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.cosineKnn(queries, emb, "vec_id", "embedding", 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshKnn(queries, emb, "vec_id", "embedding", 10,
      planes = 8, probeHamming = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // ~23/256 of the code space is probed; on uniformly random 64-dim vectors
    // sign-LSH concentrates true neighbors into nearby buckets only weakly,
    // so assert a floor well above the random-probe baseline (~0.09).
    assert(recall >= 0.2, s"lsh recall@10 = $recall")
    // and the approximate result must never invent cosines: every reported
    // (q,c,cosine) must equal the exact pair cosine
    val exactCos = Similarity.cosineKnn(queries, emb, "vec_id", "embedding", 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    Similarity.lshKnn(queries, emb, "vec_id", "embedding", 10).collect().foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      exactCos.get(k).foreach(c => assert(c === r.getDouble(3)))
    }
  }

  test("labelCentroids: exact handcrafted means, partition-order independent (bit-equal)") {
    val s = spark
    import s.implicits._
    // two labels, 2-dim: means are exactly representable so the fixed-point
    // path must reproduce them without drift
    val d = Seq(
      ("a", Array(1.0f, 0.0f)), ("a", Array(3.0f, 2.0f)),
      ("b", Array(0.5f, 0.5f))
    ).toDF("label", "embedding")
    val got = Similarity.labelCentroids(d, "label", "embedding").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got(("a", 0L)) === ((2L, 2.0)))
    assert(got(("a", 1L)) === ((2L, 1.0)))
    assert(got(("b", 0L)) === ((1L, 0.5)))
    assert(got(("b", 1L)) === ((1L, 0.5)))
    // fixture corpus: repartitioning must not change a single bit (the
    // long-sum accumulator is associative/commutative; a double avg is not)
    val emb = Tables.embeddings(spark, sfDir)
    val base = Similarity.labelCentroids(emb, "label", "embedding").collect()
      .map(r => (r.get(0).toString, r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val shuffled = Similarity.labelCentroids(emb.repartition(11), "label", "embedding")
      .collect()
      .map(r => (r.get(0).toString, r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(base.toSeq === shuffled.toSeq)
    // shape: one row per (label, dim); counts add back to the corpus size
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    val labels = emb.select("label").distinct().count()
    assert(base.length.toLong === labels * dims)
    assert(base.filter(_._1._2 == 0L).map(_._2._1).sum === emb.count())
  }

  test("rrfFuse: both-list docs outrank single-list docs at equal ranks; nulls kept") {
    val s = spark
    import s.implicits._
    // a: docs 1,2,3 ranked; b: docs 2,3,4 ranked
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "r")
    val b = Seq((2L, 1L), (3L, 2L), (4L, 3L)).toDF("id", "r")
    val got = Similarity.rrfFuse(a, b, "id", "r", kRrf = 60, topN = 10)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), r.getDouble(3)))
    assert(got.map(_._1).toSeq === Seq(2L, 3L, 1L, 4L))
    // doc 2: 1/62 + 1/61; doc 1 (a-only): 1/61 + 0
    val d2 = got.find(_._1 == 2L).get
    assert(math.abs(d2._4 - (1.0 / 62 + 1.0 / 61)) < 1e-15)
    val d1 = got.find(_._1 == 1L).get
    assert(d1._3.isEmpty && math.abs(d1._4 - 1.0 / 61) < 1e-15)
    // every input id survives the outer join (topN larger than the union)
    assert(got.map(_._1).toSet === Set(1L, 2L, 3L, 4L))
  }

  test("rerankKnn with a full shortlist equals exact cosineKnn (law)") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val n = emb.count().toInt
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val exact = Similarity.cosineKnn(queries, emb, "vec_id", "embedding", 10)
      .collect().map(key).toSet
    // k1 = n-1 shortlists every candidate, so stage 2 IS the exact scan
    val rr = Similarity.rerankKnn(queries, emb, "vec_id", "embedding",
      k1 = n - 1, k2 = 10).collect().map(key).toSet
    assert(rr === exact)
  }

  test("rerankKnn: int8 shortlist at k1 = 4*k2 keeps high recall vs exact") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.cosineKnn(queries, emb, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rr = Similarity.rerankKnn(queries, emb, "vec_id", "embedding",
      k1 = 40, k2 = 10).collect()
    // per-query output shape: exactly k2 rows, ranks 1..k2
    rr.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq === (1L to 10L))
    }
    val recall = exact.intersect(rr.map(r => (r.getLong(0), r.getLong(1))).toSet)
      .size.toDouble / exact.size
    // int8 codes rank nearly as well as float32: a 4x shortlist recovers
    // the exact top-10 almost always
    assert(recall >= 0.9, s"rerank recall@10 = $recall")
  }

  test("hardNegatives: only foreign cells, exact cosines, per-query shape") {
    import graft.functions.GraftFunctions
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 4, iters = 1)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val out = Similarity.hardNegatives(queries, emb, cents,
      "vec_id", "embedding", j = 5, nProbe = 2).collect()
    assert(out.nonEmpty)
    // cell of every id under the same trained quantizer
    val cell = Similarity.assignToCentroids(emb, cents, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    out.foreach { r =>
      val (q, neg) = (r.getLong(0), r.getLong(1))
      assert(cell(neg) !== cell(q), s"negative $neg shares query $q's cell")
    }
    // reported cosines are the exact pair cosines
    val exactCos = Similarity.cosineKnn(queries, emb, "vec_id", "embedding", 500)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    out.foreach { r =>
      exactCos.get((r.getLong(0), r.getLong(1)))
        .foreach(c => assert(c === r.getDouble(3)))
    }
    // shape: at most j rows per query, ranks contiguous from 1
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val rnks = rows.map(_.getLong(2)).sorted.toSeq
      assert(rnks === (1L to rnks.size))
      assert(rnks.size <= 5)
    }
  }
}
