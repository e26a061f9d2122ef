package graft.dedup

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Contracts for the dedup operator family, including the law that the
  * sub-quadratic paths (LSH) agree with their exact counterparts on the
  * fixture corpus. */
class DedupSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def docs = Tables.documents(spark, sfDir)

  test("exactGroups: partitions the corpus (sum of copies = row count) and keys by content") {
    val s = spark
    import s.implicits._
    val withDups = docs.select(col("doc_id"), col("text"))
      .unionByName( // clone 3 docs with new ids and noisy-but-normalizable text
        docs.filter(col("doc_id") < 3)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(col("text"), lit("  ")).as("text")))
    val g = Dedup.exactGroups(withDups, "doc_id", "text").collect()
    assert(g.map(_.getAs[Long]("n_copies")).sum === withDups.count())
    val dups = g.filter(_.getAs[Long]("n_copies") > 1)
    assert(dups.length === 3) // the three clones collapse onto their originals
    assert(dups.forall(_.getAs[Long]("canonical_id") < 3)) // min-id canonical
  }

  test("shingled: repartition gate fires for narrow inputs, adds nothing for wide ones") {
    val par = spark.sparkContext.defaultParallelism
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "RoundRobinPartitioning".r.findAllIn(
        df.queryExecution.executedPlan.toString).length
    // single-split fixture: the gate inserts the spreading repartition
    val raw = Dedup.shingled(docs, "doc_id", "text", 3)
    assert(raw.rdd.getNumPartitions === par)
    assert(exchanges(raw) === 1)
    // already-parallel input: exactly the input's own exchange, none added
    val wide = Dedup.shingled(docs.repartition(par), "doc_id", "text", 3)
    assert(exchanges(wide) === 1)
  }

  test("jaccardPairs: handcrafted known-similarity pairs") {
    val s = spark
    import s.implicits._
    val t1 = (1 to 12).map(i => s"w$i").mkString(" ") // shingles 1..10
    val t2 = (1 to 11).map(i => s"w$i").mkString(" ") // shingles 1..9: J = 9/10
    val t3 = (20 to 30).map(i => s"w$i").mkString(" ") // disjoint
    val d = Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "text")
    val out = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.5).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("a_id") === 1L)
    assert(out.head.getAs[Long]("b_id") === 2L)
    assert(math.abs(out.head.getAs[Double]("jaccard") - 0.9) < 1e-12)
  }

  test("df-ordered prefix-filtered variant equals the full inverted index (law)") {
    val full = Dedup.jaccardPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pref = Dedup.jaccardPairsPrefix(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full.nonEmpty)
    assert(pref === full)
  }

  test("jaccardPairsDelta law: delta-scoped pairs are exactly the union " +
      "pairs touching the delta, and N delta passes rebuild the full pair set") {
    val all = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.jaccardPairs(df, "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val s = spark
    import s.implicits._
    val stored = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val got = Dedup.jaccardPairsDelta(stored, delta, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val unionPairs = pairsOf(docs)
    val deltaIds = delta.collect().map(_.getLong(0)).toSet
    val want = unionPairs.filter(p => deltaIds(p._1) || deltaIds(p._2))
    assert(got === want,
      "delta pairs must be exactly the union pairs with a delta side")
    assert(got.nonEmpty && got != unionPairs,
      "fixture must have both delta-touching and stored-only pairs")
    // induction step made explicit: stored-only pairs + delta pairs = all
    assert(pairsOf(stored) ++ got === unionPairs)
  }

  test("jaccardPairsAuto: df-tail probe picks the right plan, result is law-identical") {
    val s = spark
    import s.implicits._
    // fixture corpus: light-tailed df (max df ~25) -> full index preferred
    assert(!Dedup.prefixPathPreferred(docs, "doc_id", "text", n = 3))
    val auto = Dedup.jaccardPairsAuto(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.jaccardPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(auto === full)
    // heavy tail: append the SAME 40-token boilerplate run to EVERY doc
    // (38 distinct shingles of df = corpus size — shingles are
    // array_distinct'd per doc, so the tokens must differ) -> blowup
    // explodes and the probe flips to the prefix plan; both stay exact
    val boiler = (1 to 40).map(i => s"h$i").mkString(" ", " ", "")
    val hot = docs.select(col("doc_id"),
      concat(col("text"), lit(boiler)).as("text"))
    assert(Dedup.prefixPathPreferred(hot, "doc_id", "text", n = 3))
    val autoHot = Dedup.jaccardPairsAuto(hot, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fullHot = Dedup.jaccardPairs(hot, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(autoHot === fullHot)
  }

  test("minhashLshPairs equals exact jaccardPairs on the fixture corpus (full recall)") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dup pairs")
    assert(lsh === exact)
  }

  test("simhashPairs: selective, deterministic, and recovers planted near-dups") {
    val planted = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).collect()
    val sim = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.nonEmpty)
    assert(rows.forall(_.getAs[Long]("hamming") <= 3))
    // selective: a tiny fraction of the ~125k possible pairs. (On this
    // 31-word vocabulary simhash measures unigram-bag similarity, so a few
    // non-shingle-duplicate pairs with matching frequency profiles also
    // land under the bound — that is simhash semantics, not noise.)
    assert(sim.size < 100, s"simhash emitted ${sim.size} pairs — not selective")
    // recovers a solid share of the tightest planted dups
    val recall = planted.intersect(sim).size.toDouble / planted.size
    assert(recall >= 0.5, s"simhash recall over jaccard>=0.9 pairs was $recall")
    // deterministic across runs
    val again = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === sim)
  }

  test("connectedComponents: min-label fixpoint on handcrafted graphs + fixture pairs") {
    val s = spark
    import s.implicits._
    // chain 1-2-3, isolated pair 10-11, chain 20-21-22-23 (3 hops)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 23L))
      .toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    // fixture: every doc in a pair gets a component; components are closed
    // under the pair relation and led by their smallest member
    val fp = Dedup.jaccardPairs(docs, "doc_id", "text")
    val comp = Dedup.connectedComponents(fp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fpPairs = fp.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fpPairs.nonEmpty)
    fpPairs.foreach { case (a, b) =>
      assert(comp(a) === comp(b), s"pair ($a,$b) split across components")
    }
    comp.groupBy(_._2).foreach { case (label, members) =>
      assert(label === members.keys.min, s"component $label not led by min id")
    }
  }

  test("sharedSpans: planted boilerplate paragraph detected between dissimilar docs") {
    val s = spark
    import s.implicits._
    val boiler = (1 to 25).map(i => s"bp$i").mkString(" ") // 25-token shared run
    val d = Seq(
      1L -> s"${(1 to 40).map(i => s"a$i").mkString(" ")} $boiler",
      2L -> s"$boiler ${(1 to 40).map(i => s"z$i").mkString(" ")}",
      3L -> (1 to 60).map(i => s"c$i").mkString(" ") // no shared span
    ).toDF("doc_id", "text")
    val out = Dedup.sharedSpans(d, "doc_id", "text", n = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // docs 1 and 2 are overall dissimilar (Jaccard far below any threshold)
    // but share the 25-token run -> 6 distinct 20-gram spans inside it
    assert(out.keySet === Set((1L, 2L)))
    assert(out((1L, 2L)) === 6L)
    assert(Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.6).count() === 0L,
      "planted pair must NOT be a whole-doc near-dup — that is the point")
    // law on the fixture corpus: reported count == |intersection of the
    // two docs' distinct span sets|, computed independently here
    val spanSets = Dedup.shingled(docs, "doc_id", "text", 20).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val fx = Dedup.sharedSpans(docs, "doc_id", "text", n = 20).collect()
    assert(fx.nonEmpty, "fixture corpus should contain shared long spans")
    fx.foreach { r =>
      val expected = spanSets(r.getLong(0)).intersect(spanSets(r.getLong(1))).size
      assert(r.getLong(2) === expected.toLong,
        s"pair (${r.getLong(0)},${r.getLong(1)})")
    }
    // hot-span cap: a template shared by MANY docs is excluded from pair
    // generation at maxDf, so template spam cannot go quadratic
    val spam = (1L to 10L).map(i => i -> s"head$i $boiler tail$i").toDF("doc_id", "text")
    assert(Dedup.sharedSpans(spam, "doc_id", "text", n = 20).count() === 45L) // C(10,2)
    assert(Dedup.sharedSpans(spam, "doc_id", "text", n = 20, maxDf = 5L).count() === 0L)
  }

  test("connectedComponents: pointer jumping converges in O(log diameter) rounds") {
    val s = spark
    import s.implicits._
    // worst case for plain min-label propagation: a single path graph.
    // 64 nodes / diameter 63 would need ~63 plain rounds; the pointer-jump
    // step doubles label travel per round, so ceil(log2(63)) + a small
    // constant (one propagate head start, one no-change detection round).
    val n = 64
    val path = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("a_id", "b_id")
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(path, maxIter = 12)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0 until n).map(_.toLong -> 0L).toMap)
    val bound = math.ceil(math.log(n - 1.0) / math.log(2.0)).toInt + 2
    assert(rounds <= bound, s"path-$n converged in $rounds rounds, bound was $bound")
  }

  test("connectedComponents: hot-label broadcast path equals default on a giant component (law)") {
    val s = spark
    import s.implicits._
    // degenerate corpus: one giant star (every node paired with node 0) plus
    // a bystander pair — after round 1 nearly every row's mid_component is
    // the same label, the exact shape that hot-keys the pointer-jump join
    val n = 2000
    val star = (1 until n).map(i => (0L, i.toLong)) :+ (50000L, 50001L)
    val pairs = star.toDF("a_id", "b_id")
    val expected = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (salted, rounds) = Dedup.connectedComponentsWithRounds(
      pairs, maxIter = 20, hotLabelThreshold = Some(100))
    val got = salted.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected, "hot-label path diverged from the default labeling")
    assert(got.count(_._2 == 0L) === n, "giant star did not collapse to component 0")
    assert(got(50001L) === 50000L, "cold rows must still take the normal join")
    // a threshold nothing exceeds must behave exactly like the default too
    val cold = Dedup.connectedComponents(pairs, hotLabelThreshold = Some(n * 10L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cold === expected)
    assert(rounds <= 5, s"star graph (diameter 2) took $rounds rounds")
  }

  test("duplicatedSpans: planted cross-doc substring recovered as ONE maximal span; " +
      "within-doc repeats count; unique text yields nothing") {
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val planted = words("dup", 25) // 25 shared tokens -> spans of >= 25
    val docs = Seq(
      (1L, words("a", 30) + " " + planted + " " + words("b", 30)),
      (2L, words("c", 10) + " " + planted + " " + words("d", 40)),
      (3L, words("e", 60)),                             // unique: no spans
      (4L, planted + " " + words("f", 22) + " " + planted) // self-repeat
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", minLen = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    // doc 1: tokens 31..55 hold the planted run -> exactly one maximal span
    assert(got(1L).toSeq === Seq((1L, 31L, 55L, 25L)))
    // doc 2: tokens 11..35
    assert(got(2L).toSeq === Seq((2L, 11L, 35L, 25L)))
    // doc 3 has no duplicated 20-gram anywhere
    assert(!got.contains(3L))
    // doc 4 repeats the run WITHIN itself at tokens 1..25 and 48..72 —
    // the suffix-array criterion counts same-doc occurrences too, and the
    // two islands are far enough apart to stay separate maximal spans
    assert(got(4L).toSeq.sortBy(_._2) ===
      Seq((4L, 1L, 25L, 25L), (4L, 48L, 72L, 25L)))
    // law vs q64's pair view: every doc carrying a span shares its grams
    // with SOME other occurrence, so sharedSpans on docs 1/2 finds the pair
    val pairs = Dedup.sharedSpans(docs, "doc_id", "text", n = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("exciseDuplicatedSpans: first occurrence survives verbatim, every other is cut; " +
      "re-running the detector on the excised corpus finds nothing") {
    val s = spark
    import s.implicits._
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val planted = words("dup", 25)
    val d1 = words("a", 30) + " " + planted + " " + words("b", 30)
    val d3 = words("e", 60)
    val docs = Seq(
      (1L, d1),
      (2L, words("c", 10) + " " + planted + " " + words("d", 40)),
      (3L, d3),
      (4L, planted + " " + words("f", 22) + " " + planted)
    ).toDF("doc_id", "text")
    val got = Dedup.exciseDuplicatedSpans(docs, "doc_id", "text", minLen = 20)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // doc 1 holds the globally-first occurrence (smallest (id, pos)): kept whole
    assert(got(1L) === ((d1, 0L)))
    // doc 2's copy is excised: 25 tokens gone, surroundings rejoined in order
    assert(got(2L) === ((words("c", 10) + " " + words("d", 40), 25L)))
    // doc 3 never duplicated anything
    assert(got(3L) === ((d3, 0L)))
    // doc 4 repeats the run twice, both later than doc 1's: both cut
    assert(got(4L) === ((words("f", 22), 50L)))
    // fixpoint law: the excised corpus has no duplicated >=20-token span left
    val clean = got.toSeq.map { case (id, (t, _)) => (id, t) }.toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(clean, "doc_id", "text", minLen = 20).count() === 0L)
  }

  test("containmentPairs: quoted-inside detection that Jaccard misses (asymmetric)") {
    val s = spark
    import s.implicits._
    val short = (1 to 10).map(i => s"q$i").mkString(" ")         // 8 distinct 3-grams
    val long = (1 to 60).map(i => s"x$i").mkString(" ") + " " + short +
      " " + (61 to 120).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long), (3L, (1 to 50).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    // Jaccard misses the inclusion: the union is dominated by the long doc
    assert(Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.6).count() === 0L)
    val got = Dedup.containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every one of the short doc's 3-grams appears in the long doc -> C = 1.0
    // from the short side ONLY (the reverse ratio is tiny); doc 3 unrelated
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("hot-label collect guard: cap trips loudly, in-bound sizes pass (law)") {
    // boundary law on the factored-out guard (tripping the real cap would
    // need >131k distinct hot labels — the guard's arithmetic is what's
    // under test, and connectedComponents routes every hot collect here)
    Dedup.requireHotLabelBound(0, 100)
    Dedup.requireHotLabelBound(Dedup.HotLabelCollectCap, 100) // == cap: allowed
    Dedup.requireHotLabelBound(7, 3, cap = 7)
    val ex = intercept[IllegalArgumentException] {
      Dedup.requireHotLabelBound(8, 3, cap = 7)
    }
    assert(ex.getMessage.contains("raise hotLabelThreshold"),
      "guard must tell the caller the fix, not just fail")
    intercept[IllegalArgumentException] {
      Dedup.requireHotLabelBound(Dedup.HotLabelCollectCap + 1, 1)
    }
    // and the live path still works with the guard in place: a threshold
    // that collects a nonzero (but tiny) hot set converges to the default
    val s = spark
    import s.implicits._
    val pairs = ((1 to 50).map(i => (0L, i.toLong)) :+ (900L, 901L)).toDF("a_id", "b_id")
    val expected = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hot = Dedup.connectedComponents(pairs, hotLabelThreshold = Some(5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hot === expected)
  }

  test("connectedComponents: reliable-checkpoint path (checkpoint dir configured)") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "precondition: no checkpoint dir leaked in")
    val dir = tmpDir("graft-cc-ckpt")
    sc.setCheckpointDir(dir)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
      val got = Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // the labels really went through RELIABLE checkpoints: files on disk
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "reliable checkpoint wrote no files")
    } finally sc.setCheckpointDir(null) // restore the local fast path
    assert(sc.getCheckpointDir.isEmpty)
  }

  test("dropNearDups: output is a subset, canonical-only, and pair-free (laws)") {
    val curated = Dedup.dropNearDups(docs, "doc_id", "text")
    val inIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val outIds = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(outIds.subsetOf(inIds))
    assert(outIds.size < inIds.size, "fixture has planted near-dups; some must drop")
    // exactly the non-canonical members of each component are gone
    val comp = Dedup.connectedComponents(Dedup.jaccardPairs(docs, "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val losers = comp.collect { case (id, c) if id != c => id }.toSet
    assert(outIds === inIds -- losers)
    // no surviving pair at or above the threshold
    val leftover = Dedup.jaccardPairs(curated, "doc_id", "text").count()
    assert(leftover === 0L, s"$leftover near-dup pairs survived dropNearDups")
  }

  test("dropNearDupsByEmbedding: subset + no surviving pair above threshold") {
    val emb = Tables.embeddings(spark, sfDir)
    val curated = Dedup.dropNearDupsByEmbedding(emb, "vec_id", "embedding", 0.45)
    val inIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val outIds = curated.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(outIds.subsetOf(inIds))
    assert(outIds.size < inIds.size)
    // the LSH pair generator is sound (spec above), so re-running it on the
    // curated set must find nothing — and neither may brute force for any
    // pair the LSH path is guaranteed to see (same-chunk codes)
    assert(Dedup.embeddingNearDupPairsLsh(curated, "vec_id", "embedding", 0.45).count() === 0L)
  }

  test("embeddingNearDupPairsLsh: sound + pigeonhole-complete vs brute force (law)") {
    val emb = Tables.embeddings(spark, sfDir)
    val brute = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.embeddingNearDupPairsLsh(emb, "vec_id", "embedding", 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(brute.nonEmpty)
    assert(lsh.nonEmpty, "LSH path should find pairs on the fixture corpus")
    // soundness: every LSH pair is a true pair with the bit-identical cosine
    lsh.foreach { case (pair, cos) =>
      assert(brute.get(pair).contains(cos), s"$pair not in brute-force result")
    }
    // pigeonhole completeness: every true pair whose 16-bit sign codes
    // differ in <= 3 bits MUST be found (the operator's deterministic
    // guarantee; pairs further apart in code space may be missed)
    import graft.functions.GraftFunctions
    val codes = emb.select(col("vec_id"),
      GraftFunctions.signBucket(col("embedding"), 16).as("code")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    brute.keys.foreach { case (a, b) =>
      val hd = java.lang.Integer.bitCount(codes(a) ^ codes(b))
      if (hd <= 3)
        assert(lsh.contains((a, b)), s"pair ($a,$b) at code-hamming $hd was missed")
    }
    // deterministic across runs
    val again = Dedup.embeddingNearDupPairsLsh(emb, "vec_id", "embedding", 0.45).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(again === lsh)
  }

  test("decontaminateByEmbedding: sound vs brute force, drops planted paraphrase (laws)") {
    val s = spark
    import s.implicits._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val corpus = emb.filter(col("vec_id") % 7 =!= 0)
    val bench = emb.filter(col("vec_id") % 7 === 0)
    // soundness: every emitted cross pair really clears the threshold, and
    // the candidate rule is a SUBSET of brute force (LSH only prunes)
    val cross = Dedup.embeddingCrossPairsLsh(corpus, bench, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cross.forall(_._3 >= 0.3))
    val brute = corpus.select(col("vec_id").as("l_id"), col("embedding").as("l_v"))
      .crossJoin(bench.select(col("vec_id").as("r_id"), col("embedding").as("r_v")))
      .select(col("l_id"), col("r_id"),
        graft.functions.GraftFunctions.cosine(col("l_v"), col("r_v")).as("cosine"))
      .filter(col("cosine") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cross.map(p => (p._1, p._2)).toSet.subsetOf(brute), "LSH emitted a non-pair")
    // a corpus vector IDENTICAL to a benchmark vector shares every chunk
    // (pigeonhole at hamming 0) => guaranteed candidate => guaranteed drop
    val planted = bench.limit(1)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val seeded = corpus.unionByName(planted)
    val kept = Dedup.decontaminateByEmbedding(seeded, bench, "vec_id", "embedding", 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(planted.head().getLong(0)), "planted duplicate survived")
    // output is a subset of the corpus and never contains benchmark rows
    val corpusIds = seeded.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(corpusIds))
    val benchIds = bench.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.intersect(benchIds).isEmpty)
  }

  test("embeddingNearDupPairs: symmetric threshold behavior on unit test vectors") {
    val s = spark
    import s.implicits._
    val e = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.999f, 0.04f)), (3L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", 0.9).collect()
    assert(out.length === 1)
    assert((out.head.getLong(0), out.head.getLong(1)) === (1L, 2L))
  }

  test("semDedup: exact copies collapse to the min-id witness; kept set pairwise below tau") {
    val s = spark
    import s.implicits._
    // orthogonal basis directions + exact copies with higher ids: the only
    // >= tau pairs are the copy families, whatever the trained cells are
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (10L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), // copy of 0
      (11L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), // copy of 0
      (12L, Seq(0.0f, 1.0f, 0.0f, 0.0f))) // copy of 1
      .toDF("vec_id", "embedding")
    val out = Dedup.semDedup(e, "vec_id", "embedding", k = 2, iters = 1, tau = 0.9)
      .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    // one row per input
    assert(out.keySet === Set(0L, 1L, 2L, 10L, 11L, 12L))
    // copies always share their original's cell (identical vectors ->
    // identical argmax), so the min-id witness is the original
    assert(out(10L) === Some(0L) && out(11L) === Some(0L) && out(12L) === Some(1L))
    assert(out(0L).isEmpty && out(1L).isEmpty && out(2L).isEmpty)
  }

  test("semDedup on the fixture corpus: kept representatives are pairwise below tau within each cell") {
    val emb = Tables.embeddings(spark, sfDir)
    val tau = 0.3
    val out = Dedup.semDedup(emb, "vec_id", "embedding", k = 4, iters = 1, tau = tau)
    val kept = out.filter(col("dup_of").isNull)
      .select(col("id"), col("cent_id"))
    // brute-force check: no same-cell kept pair at >= tau (the greedy
    // min-id policy guarantees it: if cos(a,b) >= tau and a < b then b
    // carries a witness)
    val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byCell = kept.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).values
    byCell.foreach { members =>
      val ids = members.map(_._1).sorted
      for (i <- ids.indices; jj <- i + 1 until ids.size)
        assert(!pairs.contains((ids(i), ids(jj))),
          s"kept pair ${ids(i)},${ids(jj)} above tau in one cell")
    }
    // dup_of is always a lower id
    out.filter(col("dup_of").isNotNull).collect()
      .foreach(r => assert(r.getLong(2) < r.getLong(0)))
  }
}
