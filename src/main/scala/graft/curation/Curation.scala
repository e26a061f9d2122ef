package graft.curation

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus-curation operators for training-data assembly: deterministic
 * stratified sampling (dataset mixing rates), vocabulary building, and
 * sequence packing. All three are single-shuffle-or-less dataflows chosen
 * for the 100 TB regime — sampling is a narrow filter, vocabulary is one
 * map-side-combinable aggregate, packing windows inside bounded shards
 * (never a global sort).
 */
object Curation {

  /** Deterministic [0,100) percent bucket of an id: first 8 hex digits of
    * md5 — reproducible across runs/engines (the oracle recomputes it in
    * SQL), uncorrelated with id order, unlike `rand()`-based `sampleBy`
    * which cannot be replayed or audited. */
  def hashPct(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long") % 100

  /**
   * Stratified sampling by deterministic hash: keep a row of stratum s iff
   * hashPct(id) < 100*fraction(s). The production shape for dataset mixing
   * (e.g. downsample web crawl, keep all books): a NARROW filter — no
   * shuffle, no state, trivially reproducible, and exact-per-row auditable
   * (a row's fate never depends on partitioning or visit order, the flaws
   * of `DataFrame.sampleBy` for curation pipelines).
   */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
      fractions: Map[String, Double], defaultFraction: Double): DataFrame = {
    // compare against the fraction as a DOUBLE percent: an int conversion
    // would truncate FP error (0.57*100 = 56.999... -> 56) and floor
    // sub-percent rates to zero, silently emptying a stratum
    val pctCap = fractions.foldLeft(lit(defaultFraction * 100.0)) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, lit(f * 100.0)).otherwise(acc)
    }
    df.filter(hashPct(col(idCol)) < pctCap)
  }

  /**
   * Deterministic train/validation/test split assignment by hash range:
   * row → split s iff hashPct(id) lands in s's cumulative [lo, hi) band,
   * bands laid out in the order given (e.g. train [0,90), val [90,95),
   * test [95,100)). The standard reproducible splitter for training
   * corpora: a NARROW projection (no shuffle, no RNG state), a document's
   * split never changes when the corpus grows or repartitions, and any
   * engine can recompute the assignment from the id alone (the oracle
   * does, in SQL). Fractions must sum to 1.
   */
  def assignSplits(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)] = Seq("train" -> 0.90, "val" -> 0.05, "test" -> 0.05))
      : DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got $splits")
    val pct = hashPct(col(idCol))
    // cumulative upper bounds as DOUBLE percents (same FP-honest comparison
    // as stratifiedSample); the last split takes the remainder, so FP drift
    // in the final bound can never orphan a row
    val his = splits.scanLeft(0.0) { case (cum, (_, f)) => cum + f * 100.0 }.tail
    val assign = splits.zip(his).init.foldRight(lit(splits.last._1): Column) {
      case (((name, _), hi), rest) => when(pct < hi, name).otherwise(rest)
    }
    df.withColumn("split", assign)
  }

  /**
   * Square-root-tempered domain mixing weights — the multilingual/multi-
   * source balancing rule (sampling ∝ n^α with α = 1/2, the exponent used
   * for low-resource upsampling in multilingual pretraining, e.g. XLM-R,
   * Conneau et al. 2020, ACL §3): weight(d) = √n_d / Σ_d √n_d.
   *
   * Determinism across engines: √n is IEEE-exactly-rounded in both engines,
   * but a DOUBLE sum over domains would depend on aggregation order — so
   * the denominator accumulates floor(√n · 2²⁴) LONGS (the kmeans
   * fixed-point idiom), summed exactly in any order, and the final weight
   * is one double division. Plan shape: ONE corpus scan into a
   * map-side-combinable count per domain; the denominator is a global
   * window over the already-aggregated domain table (rows = |domains|, so
   * the single-partition window exchange moves a handful of rows — a
   * crossJoin against a separate total would re-scan the corpus instead).
   */
  def mixtureWeights(df: DataFrame, domainCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fpScale = 1L << 24
    df.groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("__fp",
        floor(sqrt(col("n_docs").cast("double")) * fpScale).cast("long"))
      .withColumn("weight",
        col("__fp").cast("double") / sum(col("__fp")).over(Window.partitionBy()).cast("double"))
      .select(col(domainCol), col("n_docs"), col("weight"))
  }

  /**
   * Rule-based document gate with per-rule audit columns — the
   * Gopher-style filter set (Rae et al. 2021, "Scaling language models",
   * §A.1.1: word-count bounds, mean-word-length band, stopword floor,
   * repetition ceiling), each rule surfaced as its own boolean so corpus
   * reports can attribute WHY a document was dropped, not just that it
   * was. A narrow codegen'd projection (token stats + the native shingle
   * kernel): zero shuffles at any scale. Thresholds are parameters;
   * defaults are tuned to this corpus' token range so both outcomes occur.
   */
  def ruleGate(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Long = 20L, maxTokens: Long = 90L,
      minAvgTokLen: Double = 3.0, maxAvgTokLen: Double = 8.0,
      minStopwords: Long = 2L, maxRepRatio: Double = 0.2): DataFrame = {
    import graft.dedup.Dedup
    val toks = TextOps.tokens(col(textCol))
    docs
      .select(col(idCol),
        size(toks).cast("long").as("__n_tokens"),
        (TextOps.totalTokenLen(toks).cast("double") / size(toks).cast("double"))
          .as("__avg_tok"),
        TextOps.stopwordCount(toks).cast("long").as("__n_stop"),
        greatest(size(toks) - 2, lit(0)).cast("long").as("__n_ngrams"),
        size(Dedup.shingles(toks, 3)).cast("long").as("__n_distinct"))
      .withColumn("__rep",
        when(col("__n_ngrams") > 0,
          lit(1.0) - col("__n_distinct").cast("double") / col("__n_ngrams").cast("double"))
          .otherwise(lit(0.0)))
      .select(col(idCol),
        col("__n_tokens").between(minTokens, maxTokens).as("r_len"),
        (col("__avg_tok") >= minAvgTokLen && col("__avg_tok") <= maxAvgTokLen).as("r_tok_len"),
        (col("__n_stop") >= minStopwords).as("r_stop"),
        (col("__rep") <= maxRepRatio).as("r_rep"))
      .withColumn("pass",
        col("r_len") && col("r_tok_len") && col("r_stop") && col("r_rep"))
  }

  /** Vocabulary building: global token frequencies, top `k` by (count desc,
    * token asc — total order, so top-k is deterministic). One explode + one
    * map-side-combinable aggregate + a TakeOrdered of k rows: the classic
    * word-count plan, shuffle carries only partial counts. */
  def tokenFrequency(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs
      .select(explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /**
   * Benchmark decontamination flags: mark every document sharing at least
   * one word n-gram with the benchmark corpus (the standard eval-leakage
   * guard for pretraining data — n-gram collision, not exact match, so
   * embedded/excerpted eval items are caught too).
   *
   * Scale shape: the benchmark side is SMALL by definition (eval sets), so
   * its distinct shingle set broadcasts; each corpus document's shingles
   * stream through the broadcast semi-join and only the matched doc ids
   * (distinct — tiny) come back to flag the full table. The corpus is
   * never shuffled. Documents too short to shingle are trivially clean.
   */
  def contaminationFlags(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    import graft.dedup.Dedup
    // round 16: hashed shingles on BOTH sides — the broadcast benchmark set
    // carries 8 bytes per shingle and the probe joins on long equality
    // (the streaming gate's shingleHashOverlap precedent, in join form)
    val docSh = Dedup.shingledHashed(docs, idCol, textCol, n)
      .select(col("id"), explode(col("s")).as("sh"))
    val benchSh = Dedup.shingledHashed(benchmark, idCol, textCol, n)
      .select(explode(col("s")).as("sh")).distinct()
    // hit ids live under a reserved name: joining back on col(idCol) ===
    // col("id") would be ambiguous whenever the caller's idCol is itself
    // "id" (the shingled frame's canonical output name)
    val hit = docSh.join(broadcast(benchSh), "sh")
      .select(col("id").as("__hit_id")).distinct()
      .withColumn("__hit", lit(true))
    docs.select(col(idCol))
      .join(broadcast(hit), col(idCol) === col("__hit_id"), "left")
      .select(col(idCol), coalesce(col("__hit"), lit(false)).as("contaminated"))
  }

  /**
   * Graded decontamination: per-document n-gram OVERLAP RATIO against the
   * benchmark corpus (n_hits / n_ngrams — the GPT-3/PaLM-style contamination
   * measure), generalizing [[contaminationFlags]]' any-collision boolean so
   * pipelines can threshold at, say, 10% overlap instead of dropping every
   * doc sharing a single n-gram. Same scale shape: the benchmark's distinct
   * shingle set broadcasts, the corpus streams through it (one broadcast
   * join + one map-side-combinable count), the corpus never shuffles. Docs
   * too short to shingle score 0 over 0 ngrams.
   */
  def contaminationScores(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    import graft.dedup.Dedup
    // round 16: hashed shingles (see contaminationFlags)
    val docSh = Dedup.shingledHashed(docs, idCol, textCol, n)
    val benchSh = Dedup.shingledHashed(benchmark, idCol, textCol, n)
      .select(explode(col("s")).as("sh")).distinct()
    // ONE pass over the corpus shingles: a left join against the broadcast
    // (distinct — no fanout) benchmark set marks hits, and a single
    // aggregate carries both the hit count and the doc's shingle total (sz
    // is constant per id). Shingling is the dominant cost of this family
    // (ProfileDedup), so it must not be evaluated once per consumer.
    val stats = docSh.select(col("id"), col("sz"), explode(col("s")).as("sh"))
      .join(broadcast(benchSh.withColumn("__hit", lit(1))), Seq("sh"), "left")
      .groupBy(col("id"))
      .agg(first(col("sz")).as("sz"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("__hits"))
    // stats is corpus-sized — joined, never broadcast; the join carries
    // only ids and two counts, not text. Reserved-name alias: idCol may
    // itself be "id" (same ambiguity trap as contaminationFlags' __hit_id)
    docs.select(col(idCol))
      .join(stats.withColumnRenamed("id", "__sh_id"),
        col(idCol) === col("__sh_id"), "left")
      .select(col(idCol),
        coalesce(col("sz"), lit(0)).cast("long").as("n_ngrams"),
        coalesce(col("__hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("sz"), lit(0)) > 0,
          coalesce(col("__hits"), lit(0L)).cast("double") / col("sz").cast("double"))
          .otherwise(lit(0.0)).as("overlap"))
  }

  /**
   * Token-rarity quality signal: each document's mean corpus-frequency of
   * its tokens — the LM-free stand-in for the CCNet perplexity filter
   * (Wenzek et al. 2020, LREC: docs are bucketed by a language-model score;
   * here the unigram corpus statistics play the model). LOW mean frequency
   * = rare-token-dense (gibberish/OCR noise candidates), HIGH = stopword
   * soup; pipelines threshold both tails. Deliberately rational arithmetic
   * (integer counts + one double division) instead of log-probabilities:
   * ln() differs by ULPs across engines, exact integer sums do not, so the
   * score hash-checks.
   *
   * Scale shape: pass 1 builds the token frequency table (one explode +
   * map-side-combinable count); pass 2 re-joins it to the corpus tokens —
   * vocabulary joins are hash joins on the (bounded, Zipf-capped)
   * vocabulary, and Catalyst broadcasts it when small. The per-doc
   * aggregate carries two longs per document.
   */
  def rarityScores(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
      explode(TextOps.tokens(col(textCol))).as("token"))
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("tf"))
    tok.join(vocab, "token")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("tf")).as("tf_sum"))
      .select(col("id"), col("n_tokens"), col("tf_sum"),
        (col("tf_sum").cast("double") / col("n_tokens").cast("double")).as("mean_tf"))
  }

  /**
   * Byte-pair-encoding merge training (Sennrich et al. 2016, ACL, "Neural
   * machine translation of rare words with subword units" — the tokenizer-
   * training step of a data pipeline), word-level form: start from the
   * corpus VOCABULARY (distinct words + occurrence counts — the one
   * corpus-scale stage, a single map-side-combinable aggregate), segment
   * each word into characters, then `nMerges` rounds of: count adjacent
   * symbol pairs weighted by word count → merge the most frequent pair
   * everywhere (ties broken by pair lexicographic order, so training is
   * DETERMINISTIC and the DuckDB oracle replays the identical loop).
   * Returns the learned merge table (rank, left, right, merged, count) —
   * exactly what a tokenizer consumes.
   *
   * Representation: a segmented word is the string `|s1||s2||...||sk|`
   * (each symbol wrapped in bars). Merging pair (a,b) is then ONE literal
   * `replace(repr, "|a||b|", "|ab|")` — left-to-right non-overlapping in
   * both engines, which IS BPE's greedy merge order; the double-bar
   * wrapping makes consecutive occurrences independent matches and makes
   * "symbol suffix + symbol prefix" false matches impossible. Tokens must
   * not contain '|' (guaranteed by the corpus tokenizer).
   *
   * Scale shape: after the vocabulary aggregate, every round works on the
   * vocabulary table (rows = |vocab|, symbols ≤ word length) — pair
   * counting is an explode + combinable sum, and only top-`batchK`
   * candidate rows ever reach the driver per round, mirroring how
   * production BPE trainers operate on word-count tables, not the corpus.
   *
   * Batched rounds (round 7, exactness-preserving): one merge per driver
   * round trip made q75 pay 2 Spark jobs per merge, so each round now
   * collects the top-`batchK` pairs plus a per-candidate bound on the
   * count of any pair that merging it could CREATE (from the adjacent
   * TRIPLE counts of the same snapshot: a created pair (x,ab)'s count is
   * ≤ the count of triple (x,a,b)), and applies the longest prefix of
   * candidates that provably replays the sequential loop:
   *
   *  - candidate j's symbols are disjoint from every earlier accepted
   *    candidate's {left, right, merged} — so no accepted count changes;
   *  - cnt(j) is STRICTLY above every earlier accepted candidate's
   *    created-pair bound — so no created pair can outrank (or lex-tie) j;
   *  - no earlier accepted candidate's merged symbol pre-exists in the
   *    alphabet — so no EXISTING pair's count can grow invisibly. The
   *    alphabet only ever gains symbols through merges, so it is tracked
   *    on the driver from one upfront distinct-symbols job (symbols that
   *    die out only make this guard conservative).
   *
   *  The first rejection ends the batch (skipping would reorder), and the
   *  next round recounts — identical merge table, ~batch-size× fewer
   *  driver round trips (law: CurationSpec holds batchK=16 equal to the
   *  batchK=1 sequential path; the q75 oracle replays the loop in SQL).
   */
  def bpeMerges(docs: DataFrame, textCol: String, nMerges: Int,
      batchK: Int = 16): DataFrame = {
    require(batchK >= 1, s"batchK must be >= 1, got $batchK")
    val s = docs.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val chars = filter(split(col("word"), ""), c => length(c) > 0)
    var vocab = docs
      .select(explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .select(concat(lit("|"), array_join(chars, "||"), lit("|")).as("repr"), col("n"))
    // per-round lineage cut: each round's repr derives from the last —
    // without it round k replays all k-1 predecessors
    vocab = graft.ops.IterativeLoop.cut(vocab)
    def symsCol = split(trim(col("repr"), "|"), "\\|\\|")
    // driver-tracked alphabet for the no-invisible-growth guard (merged
    // symbols are appended as they are accepted below)
    val alphabet = scala.collection.mutable.Set[String]()
    if (batchK > 1)
      alphabet ++= vocab.select(explode(symsCol).as("sym"))
        .distinct().collect().map(_.getString(0))
    val merges = Seq.newBuilder[Row]
    var rank = 1
    var done = false
    val lid = graft.ops.PlanProbe.loopId()
    var probeRound = 0
    while (rank <= nMerges && !done) {
      probeRound += 1
      val symFrame = vocab
        .select(col("n"), symsCol.as("s"))
        // single-symbol words contribute no pairs (guard: Spark's
        // sequence(1, 0) DESCENDS instead of being empty)
        .filter(size(col("s")) >= 2)
      val k = math.min(batchK, nMerges - rank + 1)
      val top = symFrame
        .select(col("n"), explode(
          transform(sequence(lit(1), size(col("s")) - 1),
            i => struct(element_at(col("s"), i).as("l"),
              element_at(col("s"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(k)
      graft.ops.PlanProbe.offer(lid, probeRound, top)
      val topRows = top.collect()
        .map(b => (b.getString(0), b.getString(1), b.getLong(2)))
      if (topRows.isEmpty) done = true // every word is a single symbol
      else {
        // accept the provably-sequential prefix. bounds = None is the
        // OPTIMISTIC pre-scan (symbol/growth guards only, created-pair
        // bound assumed passing) used to decide whether the triple job is
        // worth running at all — early BPE rounds on natural text rarely
        // have disjoint top pairs (every candidate shares a common letter),
        // and there the batch machinery must cost zero extra jobs.
        def acceptPrefix(bounds: Option[Map[(String, String), Long]]): Seq[(String, String, Long)] = {
          val accepted = Seq.newBuilder[(String, String, Long)]
          var nAccepted = 0
          var conflictSyms = Set.empty[String]
          var createdBound = 0L // counts are >= 1, so 0 = "creates nothing"
          var growthPossible = false
          var stop = false
          topRows.foreach { case (l, r, cnt) =>
            if (!stop) {
              val ok = nAccepted == 0 ||
                (!growthPossible && !conflictSyms(l) && !conflictSyms(r) &&
                  bounds.forall(_ => cnt > createdBound))
              if (!ok) stop = true
              else {
                accepted += ((l, r, cnt))
                nAccepted += 1
                // growth guard: the merged symbol must not pre-exist — in
                // the round-start alphabet OR as a symbol/output of an
                // earlier accepted candidate in this same batch
                // (conflictSyms holds both) — else existing (x,merged)
                // pairs could grow invisibly
                growthPossible = growthPossible ||
                  alphabet.contains(l + r) || conflictSyms(l + r)
                conflictSyms = conflictSyms + l + r + (l + r)
                bounds.foreach(bm =>
                  createdBound = math.max(createdBound, bm.getOrElse((l, r), 0L)))
              }
            }
          }
          accepted.result()
        }
        val optimistic = acceptPrefix(None)
        val accepted =
          if (optimistic.length <= 1) optimistic.take(1)
          else {
            // a batch is symbol-possible: pay one triple-count job for the
            // created-pair bounds, then re-scan with them enforced
            val sess = s
            import sess.implicits._
            val cand = broadcast(
              topRows.map { case (l, r, _) => (l, r) }.toSeq.toDF("bl", "br"))
            val t3 = symFrame.filter(size(col("s")) >= 3)
              .select(col("n"), explode(
                transform(sequence(lit(1), size(col("s")) - 2),
                  i => struct(element_at(col("s"), i).as("t1"),
                    element_at(col("s"), i + 1).as("t2"),
                    element_at(col("s"), i + 2).as("t3")))).as("t"))
              .groupBy(col("t.t1").as("t1"), col("t.t2").as("t2"), col("t.t3").as("t3"))
              .agg(sum(col("n")).as("tcnt"))
            val bounds = t3
              .select(col("tcnt"), col("t1").as("bl"), col("t2").as("br"))
              .unionByName(t3.select(col("tcnt"), col("t2").as("bl"), col("t3").as("br")))
              .join(cand, Seq("bl", "br"))
              .groupBy(col("bl"), col("br")).agg(max(col("tcnt")).as("bound"))
              .collect()
              .map(b => (b.getString(0), b.getString(1)) -> b.getLong(2)).toMap
            acceptPrefix(Some(bounds))
          }
        var repr = col("repr")
        accepted.foreach { case (l, r, cnt) =>
          merges += Row(rank.toLong, l, r, l + r, cnt)
          rank += 1
          alphabet += (l + r)
          repr = replace(repr, lit(s"|$l||$r|"), lit(s"|$l$r|"))
        }
        vocab = graft.ops.IterativeLoop.cut(
          vocab.select(repr.as("repr"), col("n")))
      }
    }
    val schema = StructType(Seq(
      StructField("merge_rank", LongType, nullable = false),
      StructField("l_sym", StringType, nullable = false),
      StructField("r_sym", StringType, nullable = false),
      StructField("merged", StringType, nullable = false),
      StructField("pair_count", LongType, nullable = false)))
    s.createDataFrame(s.sparkContext.parallelize(merges.result(), 1), schema)
  }

  /**
   * BPE ENCODE — the apply side of [[bpeMerges]]: segment every document
   * with a trained merge table, exactly as a tokenizer would before id
   * lookup. Same word-internal representation as training (`|s1||s2|…`),
   * and the same greedy semantics: merges applied in rank order, each one
   * a literal left-to-right non-overlapping `replace` per word — which is
   * BPE inference by merge priority.
   *
   * The merge table is collected to the driver (it is VOCABULARY-sized by
   * construction — `nMerges` rows, the same object a production tokenizer
   * ships as a file) and folded into ONE per-row column expression: k
   * chained codegen'd string replaces inside a `transform` over the token
   * array. No shuffle, no join, no UDF — encoding is a map over the scan,
   * which is what lets it run on 100 TB as a single pass.
   *
   * Output per document: the encoded piece sequence (space-joined), raw
   * token count, piece count, and pieces-per-token (one IEEE division) —
   * the length statistic packing and cost estimation consume.
   */
  def bpeEncode(docs: DataFrame, textCol: String, idCol: String,
      mergeTable: DataFrame): DataFrame = {
    val merges = mergeTable
      .select(col("merge_rank"), col("l_sym"), col("r_sym"))
      .collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2)))
    val bars = (t: Column) => concat(lit("|"),
      array_join(filter(split(t, ""), c => length(c) > 0), "||"), lit("|"))
    val encodeWord = (t: Column) =>
      merges.foldLeft(bars(t)) { case (repr, (l, r)) =>
        replace(repr, lit(s"|$l||$r|"), lit(s"|$l$r|"))
      }
    val pieces = flatten(transform(TextOps.tokens(col(textCol)),
      t => split(trim(encodeWord(t), "|"), "\\|\\|")))
    docs.select(
      col(idCol),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"),
      size(pieces).cast("long").as("n_pieces"),
      array_join(pieces, " ").as("encoded"))
      .withColumn("pieces_per_token",
        col("n_pieces").cast("double") / col("n_tokens").cast("double"))
  }

  /**
   * DSIR importance weights (Xie et al. 2023, "Data Selection for Language
   * Models via Importance Resampling"): score every document by how much
   * more likely its hashed-unigram features are under the TARGET
   * distribution (here: the [[ruleGate]]-passing subset) than under the
   * RAW corpus distribution — the data-selection statistic that resamples
   * a raw crawl toward a quality domain. Laplace-smoothed bucket models:
   * weight(doc) = Σ_tokens [lg(ct+1) - lg(tot_t+B) - lg(cr+1) + lg(tot_r+B)].
   *
   * Exactness stance (the engine's no-transcendentals discipline): true
   * DSIR sums natural logs, but cross-engine `ln` is not bit-reproducible,
   * so `lg` here is the EXACT-ARITHMETIC piecewise-linear log2 —
   * lg(x) = (L-1) + (x - 2^(L-1)) / 2^(L-1), L = bitlength(x) via
   * `length(bin(x))` — every term an integer op, one IEEE divide, one IEEE
   * add, all exactly specified, so the weight is bit-identical in any
   * IEEE-754 engine and the DuckDB oracle replays it to the hash. Within
   * an octave lg is linear and at octave boundaries continuous, so it is
   * strictly monotone with max |lg - log2| = 0.0861 bits: probability
   * ORDER is exact, magnitudes are within 9% of true log2 — the trade a
   * deterministic pipeline makes, with the `ln` variant one expression
   * swap away.
   *
   * Scale shape (DSIR's own): training = two geometry-bounded aggregates
   * (B hashed-bucket counts over target tokens and raw tokens); the B
   * per-bucket contribution doubles are collected — bounded by FILTER
   * GEOMETRY like the Bloom builder's bit array, never by data size — and
   * embedded as one array literal. Scoring = a pure map over the scan:
   * per document, a FIXED-ORDER fold (Spark `aggregate` ≡ DuckDB
   * `list_reduce`) of per-token array lookups. No join, no shuffle on the
   * apply side — selection runs as a single pass over 100 TB.
   */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int = 64): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20] (the contribution table is collected), got $buckets")
    def bucket(t: Column): Column =
      pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), lit(buckets.toLong))
    // piecewise-linear log2 of a positive integral column, exact arithmetic
    def lg(x: Column): Column = {
      val len = length(bin(x))
      val p = call_function("shiftleft", lit(1L), len - 1)
      (len - 1).cast("double") + (x - p).cast("double") / p.cast("double")
    }
    val tgtIds = ruleGate(docs, idCol, textCol).filter(col("pass")).select(col(idCol))
    def bucketCounts(d: DataFrame, name: String): DataFrame = d
      .select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(bucket(col("tok")).as("b")).agg(count(lit(1)).as(name))
    val dom = docs.sparkSession.range(buckets).select(col("id").as("b"))
    val c = dom
      .join(bucketCounts(docs.join(tgtIds, Seq(idCol), "left_semi"), "ct"),
        Seq("b"), "left_outer")
      .join(bucketCounts(docs, "cr"), Seq("b"), "left_outer")
      .na.fill(0L, Seq("ct", "cr"))
    val tot = c.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val contribs = c.crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("b"),
        (((lg(col("ct") + 1) - lg(col("tt") + buckets))
          - lg(col("cr") + 1)) + lg(col("tr") + buckets)).as("w"))
      .orderBy(col("b")).collect().map(_.getDouble(1))
    require(contribs.length == buckets, s"bucket domain must be total")
    val ws = typedLit(contribs.toSeq)
    docs.select(col(idCol),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"),
      aggregate(TextOps.tokens(col(textCol)), lit(0.0),
        (acc, t) => acc + element_at(ws, (bucket(t) + 1).cast("int")))
        .as("dsir_weight"))
  }

  /**
   * Sequence packing for pretraining batches: the PER-DOCUMENT bin
   * assignment `(id, shard, bin_in_shard, n_tokens)` a batch assembler
   * actually consumes. Documents are sharded by id range (`shardSize` docs
   * per shard) and packed contiguously within each shard by running token
   * count — bin = (shard, floor(exclusive-prefix-sum / budget)).
   *
   * Boundary contract (explicit, not hidden by aggregation): a document
   * whose exclusive prefix sum lands under the budget line joins that bin
   * even if it crosses the line, so each bin can overflow by AT MOST its
   * last document (and a single document longer than `budgetTokens` owns
   * its bin plus the overflow). This is the standard greedy contiguous
   * packer; assemblers that must hard-cap truncate/split that final doc
   * downstream, where tokenization is in hand.
   *
   * Deliberately NOT a single global cumulative sum: a global unpartitioned
   * window forces every row through one task, the textbook scale cliff;
   * per-shard packing is embarrassingly parallel, and packing quality only
   * needs locality, not a global order (each shard wastes at most one
   * partial bin). Deterministic: ordering inside a shard is by id.
   */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long, shardSize: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(idCol),
        expr(s"$idCol div $shardSize").as("shard"),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("prior", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol), col("shard"),
        expr(s"prior div $budgetTokens").as("bin_in_shard"), col("n_tokens"))
  }

  /** Bin occupancy statistics over a [[packSequences]] assignment — the
    * audit view (docs and token mass per bin); one map-side-combinable
    * aggregate on top of the mapping. */
  def packStats(assignment: DataFrame): DataFrame =
    assignment
      .groupBy(col("shard"), col("bin_in_shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))

  /**
   * The whole corpus-curation pipeline in one call — the verb a
   * training-data team actually runs, staged in the standard order
   * (each stage shrinks the input of the next, so the expensive near-dedup
   * sees only quality survivors and the sample rates apply to the FINAL
   * pool):
   *
   *  1. quality gate — [[graft.text.TextOps.qualityScoreOf]] >= minQuality
   *     (narrow filter, no shuffle);
   *  2. exact dedup — keep each content group's min-id copy
   *     ([[graft.dedup.Dedup.exactGroups]] + semi-join);
   *  3. near-dedup — [[graft.dedup.Dedup.dropNearDups]] (pairs → connected
   *     components → keep-canonical);
   *  4. decontamination — drop docs sharing any `contamN`-gram with the
   *     benchmark corpus ([[contaminationFlags]], broadcast eval index);
   *  5. dataset mixing — [[stratifiedSample]] at per-stratum rates.
   *
   * Every stage is deterministic, so the composed pipeline is end-to-end
   * hash-checkable against a SQL oracle (q61).
   */
  def curateCorpus(docs: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      strataCol: String, fractions: Map[String, Double], defaultFraction: Double,
      minQuality: Double = 0.5,
      dedupN: Int = 3, dedupThreshold: Double = 0.6,
      contamN: Int = 8): DataFrame = {
    import graft.dedup.Dedup
    val quality = docs.filter(TextOps.qualityScoreOf(col(textCol)) >= minQuality)
    val exactCanon = Dedup.exactGroups(quality, idCol, textCol)
      .select(col("canonical_id").as("__keep_id"))
    // exactKept feeds three consumers (near-dup pair generation inside
    // dropNearDups, its keep-canonical anti-join, and transitively
    // everything after) and nearKept feeds two (contamination + the final
    // sample) — without materialization every stage re-runs the whole
    // prefix (measured 9.8s -> 5.8s at sf0.1). nearKept goes through the
    // same lineage cut as connectedComponents (reliable checkpoint when a
    // dir is set, else eager localCheckpoint — blocks release when the
    // frame GCs, unlike a never-unpersisted cache), after which the
    // transient exactKept cache can drop. On a real cluster these are
    // exactly the stage boundaries a pipeline would write to storage.
    val exactKept = quality.join(exactCanon,
      col(idCol) === col("__keep_id"), "left_semi").persist()
    val nearKept = graft.ops.IterativeLoop.cut(
      Dedup.dropNearDups(exactKept, idCol, textCol, dedupN, dedupThreshold))
    exactKept.unpersist()
    val dirty = contaminationFlags(nearKept, benchmark, idCol, textCol, contamN)
      .filter(col("contaminated"))
      .select(col(idCol).as("__dirty_id"))
    val clean = nearKept.join(dirty, col(idCol) === col("__dirty_id"), "left_anti")
    stratifiedSample(clean, strataCol, idCol, fractions, defaultFraction)
  }

  /**
   * Bigram language model training: conditional next-token probabilities
   * P(w₂|w₁) = c(w₁w₂)/c(w₁·) — the n-gram LM step (and the distribution a
   * corpus-quality report inspects for templated text). In-row adjacent
   * pairs (the q75 pair generator), one (w₁,w₂)-keyed count, a vocab-sized
   * re-aggregation for the conditional denominator, ONE exact double
   * division — hash-mirrorable, no log-probs (ln differs by ULPs across
   * engines; callers can log locally). Output: (w1, w2, c12, c1, p_next).
   */
  /**
   * TF-IDF keyword extraction, rational form: score = tf · n_docs / df
   * (LINEAR inverse document frequency — the log variant differs by ULPs
   * across engines' `ln`, the ranking it induces per document is the same
   * monotone order for fixed tf). Integer tf/df/n plus ONE exact double
   * division ⇒ hash-mirrorable. Top-`k` tokens per document by
   * (score, token) — the per-doc keyword view corpus summaries read.
   * Shapes: token-keyed df aggregate (map-side combinable), broadcastable
   * vocab join back, per-doc rank window (WindowGroupLimit pushdown).
   */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("token")).agg(count(lit(1)).as("dfreq"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token").asc)
    tf.join(df_, "token").crossJoin(broadcast(graft.ops.Guards.scalar(n)))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("dfreq").cast("double"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("token"), col("tf"), col("dfreq"), col("score"), col("rnk"))
  }

  /**
   * LM-based quality gate (the CCNet recipe, Wenzek et al. 2020, made
   * exact): a document is low-quality when too much of its text is
   * IMPROBABLE under a language model trained on the corpus itself. The
   * perplexity proxy here is the rare-bigram ratio — the fraction of a
   * document's bigram occurrences whose CORPUS frequency (the [[bigramModel]]
   * `c12` statistic) falls below `minCount`. Templated/boilerplate text
   * scores near 0 (all bigrams common); gibberish, OCR noise and
   * wrong-language fragments score near 1. Keeping the score as the exact
   * integer pair (n_rare, n_bigrams) and gating by the rational comparison
   * n_rare·den <= n_bigrams·num makes the whole gate hash-checkable —
   * no float perplexity whose log-sum order could diverge across engines.
   *
   * One corpus scan: per-(doc, bigram) counts roll up to corpus counts via
   * a window over the bigram key (one shuffle on the bigram), then back to
   * per-doc totals (one shuffle on the doc id). Documents with fewer than
   * two tokens carry zero bigrams and pass the gate (0 <= 0).
   */
  def rareBigramGate(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long, maxRareNum: Int = 1, maxRareDen: Int = 10): DataFrame = {
    require(minCount >= 1 && maxRareDen > 0 && maxRareNum >= 0,
      s"need minCount >= 1, den > 0, num >= 0; got $minCount $maxRareNum/$maxRareDen")
    val toks = TextOps.tokens(col(textCol))
    val perDoc = docs
      .select(col(idCol).as("id"), toks.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("id"), explode(
        transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2")))).as("p"))
      .groupBy(col("id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
    val wBigram = Window.partitionBy(col("w1"), col("w2"))
    val scored = perDoc
      .withColumn("gcnt", sum(col("cnt")).over(wBigram))
      .groupBy(col("id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(when(col("gcnt") < minCount, col("cnt")).otherwise(lit(0L))).as("n_rare"))
    docs.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"))
      .withColumn("kept",
        col("n_rare") * maxRareDen <= col("n_bigrams") * maxRareNum)
  }

  def bigramModel(docs: DataFrame, textCol: String): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val c2 = docs
      .select(toks.as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(
        transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2")))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    c2.join(c1, "w1")
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        (col("c12").cast("double") / col("c1").cast("double")).as("p_next"))
  }

  /**
   * Per-domain document cap (the "no domain dominates" curation rule —
   * web-crawl assembly caps any single host's contribution before mixing):
   * keep at most `cap` documents per domain, selected by the deterministic
   * md5 order of [[hashPct]]'s idiom (uncorrelated with id order,
   * replayable by the oracle), ties on id.
   *
   * Scale shape — deliberately NOT a per-domain row_number window (one
   * task per domain: a mega-host at crawl scale serializes through a
   * single reducer): the bounded-heap [[graft.functions.TopKAgg]] typed
   * Aggregator instead, so partial aggregation caps every map partition
   * at `cap` rows per domain BEFORE the exchange — the shuffle carries
   * O(cap × partitions) rows per domain, never the domain's row count.
   * Output: (domain, doc_id, rk) for kept docs, rk 1-based in hash order.
   */
  def domainCap(docs: DataFrame, idCol: String, domainCol: String,
      cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(col(domainCol).as("domain"), col(idCol).cast("long").as("id"),
        conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
          .cast("long").as("h"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      // TopKAgg keeps (score DESC, id ASC); negate the 32-bit hash (exact
      // in double) so "top" = smallest hash first — the sample order
      .mapValues(r => (-r._3.toDouble, r._2))
      .agg(graft.functions.TopKAgg.topK(cap).toColumn.name("top"))
      .toDF("domain", "top")
      .select(col("domain"), posexplode(col("top")))
      .select(col("domain"), col("col._2").as("doc_id"),
        (col("pos") + 1).cast("long").as("rk"))
  }

  /**
   * Length-bucket batching audit: group documents into token-length bands
   * of `bucketWidth` and report, per band, the batch count at `batchSize`
   * and the padding waste of batching within the band (every sequence in
   * a batch pads to the band maximum) — the planning statistic behind
   * length-bucketed training batches (pad-to-longest batching wastes
   * tokens proportional to in-batch length spread; bucketing bounds the
   * spread by `bucketWidth`). All integer arithmetic except the final
   * one-divide ratio.
   *
   * Scale shape: ONE map-side-combinable aggregate keyed by bucket —
   * at most (max_len / bucketWidth) groups ever shuffle.
   */
  def lengthBucketAudit(docs: DataFrame, textCol: String,
      bucketWidth: Int = 16, batchSize: Int = 32): DataFrame = {
    require(bucketWidth >= 1 && batchSize >= 1,
      s"bucketWidth/batchSize must be >= 1, got $bucketWidth/$batchSize")
    val waste = col("n_docs") * col("max_tokens") - col("sum_tokens")
    val padded = col("n_docs") * col("max_tokens")
    docs
      .select(size(TextOps.tokens(col(textCol))).cast("long").as("nt"))
      .select(expr(s"nt DIV $bucketWidth").as("bucket"), col("nt"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("nt")).as("min_tokens"),
        max(col("nt")).as("max_tokens"),
        sum(col("nt")).as("sum_tokens"))
      .select(col("bucket"), col("n_docs"), col("min_tokens"),
        col("max_tokens"), col("sum_tokens"),
        expr(s"(n_docs + ${batchSize - 1}) DIV $batchSize").as("batches"),
        waste.as("pad_waste"),
        when(padded > 0, waste.cast("double") / padded.cast("double"))
          .otherwise(lit(0.0)).as("waste_ratio"))
  }

  /**
   * PMI collocation mining: the top-`k` adjacent token pairs by pointwise
   * mutual information in exact-lg bits — PMI(w1,w2) = lg c12 − lg B −
   * lg c1 − lg c2 + lg N + lg N (B = corpus bigram count, N = corpus
   * token count; every lg argument is an exact integer, every subtraction
   * in fixed textual order, so q129 hash-matches). The collocation
   * extractor of the text-analysis family (multi-word expressions,
   * tokenizer-merge candidates).
   *
   * Scale shape: bigram and unigram counts are map-side-combinable
   * word-count aggregates; `minCount` prunes the long tail BEFORE the two
   * vocab-keyed joins; the final top-k is a TakeOrdered (never a global
   * sort materialization) with the (pmi DESC, w1, w2) total order.
   */
  def pmiCollocations(docs: DataFrame, textCol: String,
      minCount: Long = 5L, k: Int = 100): DataFrame = {
    require(minCount >= 1 && k >= 1, s"minCount/k must be >= 1, got $minCount/$k")
    val toks = docs.select(TextOps.tokens(col(textCol)).as("w"))
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val bi = toks
      .select(posexplode(slice(col("w"), lit(1), greatest(size(col("w")) - 1, lit(0)))),
        col("w"))
      .select(col("col").as("w1"), element_at(col("w"), col("pos") + 2).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val stats = uni.agg(sum(col("c")).as("n"))
      .crossJoin(bi.agg(sum(col("c12")).as("b")))
    val pmi = ((((lg(col("c12")) - lg(col("b"))) - lg(col("c1"))) - lg(col("c2"))) +
      lg(col("n"))) + lg(col("n"))
    bi.filter(col("c12") >= minCount)
      .join(uni.select(col("t").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(graft.ops.Guards.scalar(stats)))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        pmi.as("pmi_bits"))
      .orderBy(col("pmi_bits").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /**
   * Group-integrity split (the GroupShuffleSplit of data curation): the
   * train/val/test assignment is a pure function of the GROUP key
   * (md5-hash of the domain), so every document of a source lands in the
   * same split and cross-split near-dup/contamination leakage through
   * sibling pages of one site is impossible by construction (the failure
   * mode q104's cross-split audit measures). Cuts: 80/10/10 over the
   * hash's first 32 bits mod 100. Stateless, deterministic, one narrow
   * projection.
   */
  def groupSplit(docs: DataFrame, idCol: String, domainCol: String): DataFrame = {
    val u = conv(substring(md5(col(domainCol)), 1, 8), 16, 10).cast("long") % 100
    docs.select(col(idCol), col(domainCol).as("domain"),
      when(u < 80, "train").when(u < 90, "val").otherwise("test").as("split"))
  }

  /**
   * Population stability index between two cohorts of a numeric column —
   * the distribution-drift statistic of model monitoring (PSI > 0.25 =
   * "the population changed, recalibrate"), here in exact-`lg` BITS:
   * PSI = Σ_bins (p_i − q_i)·(lg cnt_a − lg n_a − lg cnt_b + lg n_b),
   * equal-width bins over the pooled min/max (the q121 binning
   * arithmetic), zero-count bins dropped on either side (the q115
   * convention — no smoothing constants to disagree about). Four exact
   * divides per bin, fold over bins ascending. Output is ONE row:
   * (n_a, n_b, n_bins_used, psi_bits).
   *
   * Scale shape: one broadcast min/max row, one (bin, cohort)
   * map-combinable count (≤ 2·bins rows shuffle), one bounded fold.
   */
  def psiDrift(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String, bins: Int = 16): DataFrame = {
    require(bins >= 2 && bins <= 4096, s"bins must be in [2, 4096], got $bins")
    val v = col(valueCol).cast("double")
    val base = df.filter(col(groupCol).isin(groupA, groupB))
      .select(v.as("v"), (col(groupCol) === groupA).as("is_a"))
    val mm = base.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val b = when(col("hi") === col("lo"), lit(bins - 1))
      .otherwise(least(greatest(
        floor((col("v") - col("lo")) / (col("hi") - col("lo")) * bins)
          .cast("long"), lit(0L)), lit(bins - 1L)))
    val counts = base.crossJoin(broadcast(graft.ops.Guards.scalar(mm)))
      .groupBy(b.as("b"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("cb"))
    val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val contrib =
      (col("ca").cast("double") / col("na").cast("double") -
        col("cb").cast("double") / col("nb").cast("double")) *
        (((lg(col("ca")) - lg(col("na"))) - lg(col("cb"))) + lg(col("nb")))
    counts.filter(col("ca") > 0 && col("cb") > 0)
      .crossJoin(broadcast(graft.ops.Guards.scalar(tot)))
      .select(col("b"), col("na"), col("nb"), contrib.as("contrib"))
      .groupBy(col("na"), col("nb"))
      .agg(count(lit(1)).as("n_bins_used"),
        aggregate(
          transform(sort_array(collect_list(struct(col("b"), col("contrib")))),
            e => e("contrib")),
          lit(0.0), (acc: Column, x: Column) => acc + x).as("psi_bits"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("n_bins_used"), col("psi_bits"))
  }

  /**
   * One-call corpus report card: the health metrics an ingest run is
   * accepted or rejected on, as (metric, value) rows — corpus size,
   * source count, exact-duplicate rate, mean tokens, mean quality score,
   * rule-gate pass share, and the language-distribution entropy in
   * exact-`lg` bits. Composition discipline: every metric reuses an
   * existing operator's arithmetic (q21 quality, q72 gate, q128-style
   * entropy); the one floating mean (quality) accumulates as
   * FLOOR-truncated integer micro-units — floor is unambiguous where
   * double→DECIMAL rounding is not (Spark HALF_UP vs DuckDB's banker's
   * rounding diverged on ~10 of 5000 docs at sf0.1), and integer sums
   * are order-free.
   *
   * Scale shape: ~two corpus scans (one tokenized, one distinct-hash),
   * all aggregates map-side combinable, result is a handful of rows.
   */
  def corpusReport(docs: DataFrame, idCol: String, textCol: String,
      domainCol: String, langCol: String): DataFrame = {
    import graft.text.TextOps
    val toks = TextOps.tokens(col(textCol))
    val gate = ruleGate(docs, idCol, textCol).select(col("pass"))
    val main = docs.select(
      col(domainCol).as("src"), col(langCol).as("lang"),
      size(toks).cast("long").as("nt"),
      floor(TextOps.qualityScoreOf(col(textCol)) * lit(1000000.0))
        .cast("long").as("q"),
      md5(col(textCol)).as("h"))
    val agg = main.agg(
      count(lit(1)).as("n"),
      countDistinct(col("src")).as("n_src"),
      countDistinct(col("h")).as("n_distinct"),
      sum(col("nt")).as("tok_total"),
      sum(col("q")).as("q_total"))
    val gateAgg = gate.agg(
      sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
    val langEnt = docs.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(docs.agg(count(lit(1)).as("n")))))
      .select(col("lang"),
        ((col("c").cast("double") / col("n").cast("double")) *
          (lg(col("n")) - lg(col("c")))).as("contrib"))
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("lang"), col("contrib")))),
          e => e("contrib")),
        lit(0.0), (acc: Column, x: Column) => acc + x).as("lang_entropy_bits"))
    val one = agg.crossJoin(broadcast(graft.ops.Guards.scalar(gateAgg))).crossJoin(broadcast(graft.ops.Guards.scalar(langEnt)))
    def row(name: String, v: Column) =
      one.select(lit(name).as("metric"), v.cast("double").as("value"))
    row("n_docs", col("n"))
      .unionByName(row("n_sources", col("n_src")))
      .unionByName(row("exact_dup_rate",
        lit(1.0) - col("n_distinct").cast("double") / col("n").cast("double")))
      .unionByName(row("mean_tokens",
        col("tok_total").cast("double") / col("n").cast("double")))
      .unionByName(row("mean_quality",
        (col("q_total").cast("double") / lit(1000000.0)) /
          col("n").cast("double")))
      .unionByName(row("gate_pass_share",
        col("n_pass").cast("double") / col("n").cast("double")))
      .unionByName(row("lang_entropy_bits", col("lang_entropy_bits")))
  }

  /** Piecewise-linear log2 of a positive integral column — the engine's
    * exact-arithmetic `lg` (see [[dsirWeights]] for the error analysis:
    * strictly monotone, max 0.0861 bits off true log2, bit-identical in
    * any IEEE-754 engine). Shared by DSIR, [[domainDivergence]] and
    * [[weightedSample]]. */
  private[graft] def lg(x: Column): Column = {
    val len = length(bin(x))
    val p = call_function("shiftleft", lit(1L), len - 1)
    (len - 1).cast("double") + (x - p).cast("double") / p.cast("double")
  }

  /**
   * Per-domain distribution drift: KL(domain ‖ corpus) in bits over
   * hashed-unigram buckets — the monitoring statistic that flags a source
   * whose token distribution diverges from the corpus (templated spam, a
   * language mix-up, a scraper gone wrong) without materializing
   * vocabularies. KL_d = Σ_b (ct_db/tot_d)·(lg ct_db − lg tot_d − lg cr_b
   * + lg tot), summed over the domain's NON-EMPTY buckets (p_b = 0 terms
   * vanish; q_b ≥ p_b > 0 there, so no smoothing is needed).
   *
   * Exactness: `lg` is the piecewise-linear log2 of [[dsirWeights]]; the
   * p-weight is one exact IEEE divide; and the per-domain sum is a
   * FIXED-ORDER fold over buckets ascending (collect → sort → aggregate ≡
   * DuckDB list_reduce), so q115 hash-matches. lg's strict monotonicity
   * keeps the divergence ORDER of domains faithful; magnitudes sit within
   * 9% of true bits. Gibbs' inequality survives piecewise-lg only
   * approximately, so tiny true-KL values can dip a hair below zero —
   * exactly-identical distributions give exactly 0 (lg(2x) = lg(x)+1 is
   * an identity of the scheme).
   *
   * Scale shape: one (domain, bucket) map-side-combinable count — at most
   * |domains|×B rows ever shuffle — a B-row broadcast for the corpus
   * margins, and a per-domain fold. The 100 TB corpus is read once.
   */
  def domainDivergence(docs: DataFrame, textCol: String, domainCol: String,
      buckets: Int = 64): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20] (corpus margins broadcast), got $buckets")
    def bucket(t: Column): Column =
      pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), lit(buckets.toLong))
    val dc = docs
      .select(col(domainCol).as("domain"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(col("domain"), bucket(col("tok")).as("b"))
      .agg(count(lit(1)).as("ct"))
    val cc = dc.groupBy(col("b")).agg(sum(col("ct")).as("cr"))
    val td = dc.groupBy(col("domain")).agg(sum(col("ct")).as("totd"))
    val tr = cc.agg(sum(col("cr")).as("totr"))
    dc.join(broadcast(cc), "b")
      .join(td, "domain")
      .crossJoin(broadcast(graft.ops.Guards.scalar(tr)))
      .select(col("domain"), col("b"), col("totd"),
        ((col("ct").cast("double") / col("totd").cast("double")) *
          (((lg(col("ct")) - lg(col("totd"))) - lg(col("cr"))) + lg(col("totr"))))
          .as("contrib"))
      .groupBy(col("domain"))
      .agg(first(col("totd")).as("n_tokens"),
        aggregate(
          transform(sort_array(collect_list(struct(col("b"), col("contrib")))),
            e => e("contrib")),
          lit(0.0), (acc, x) => acc + x).as("kl_bits"))
      .select(col("domain"), col("n_tokens"), col("kl_bits"))
  }

  /**
   * Weighted sampling without replacement, top-N form (Efraimidis &
   * Spirakis 2006, IPL: rank by u^(1/w) ⟺ by log(u)/w) — the curation
   * move that samples a corpus proportional to a quality weight in ONE
   * pass with no state. Randomness is the deterministic md5-prefix
   * integer u ∈ [1, 2³²] (replayable, auditable), the log is the
   * exact-arithmetic [[lg]], so key = (lg(u) − 32)/w is bit-identical
   * across engines and q117 hash-matches.
   *
   * Scale shape: a narrow map computes keys; `orderBy(...).limit(n)`
   * plans as TakeOrdered — per-partition bounded top-N then a single
   * n-row merge, never a global sort shuffle. Rows with weight ≤ 0 are
   * excluded (they cannot be sampled).
   */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String,
      n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val u = conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
      .cast("long") + 1
    docs
      .select(col(idCol).as("id"), col(weightCol).cast("long").as("w"))
      .filter(col("w") > 0)
      .withColumn("skey", (lg(u) - 32.0) / col("w").cast("double"))
      .orderBy(col("skey").desc, col("id").asc)
      .limit(n)
  }

  /**
   * Bigram-LM log-probability scoring — the APPLY side of [[bigramModel]]
   * (X90), closing the train/apply pair the way [[bpeEncode]] closes X68:
   * each document's log₂-likelihood under the corpus-trained conditional
   * model, ll = Σ_(w1,w2)∈doc (lg c(w1,w2) − lg c(w1·)), plus the
   * per-bigram average (the negated cross-entropy a perplexity filter
   * thresholds on). Self-trained on the corpus, so every document bigram
   * has c ≥ 1 and no smoothing is needed.
   *
   * Exactness: `lg` is the engine's piecewise-linear log2 ([[lg]]); the
   * per-document sum folds the doc's bigrams in POSITION order (collect →
   * sort by position → aggregate ≡ DuckDB list_reduce), so q120
   * hash-matches. Docs with < 2 tokens carry no bigrams and are absent.
   *
   * Scale shape: one (w1,w2)-keyed join of doc bigrams against the model
   * (both sides shuffle once on the bigram; the model side is the X90
   * aggregate, Σdf-bounded), one doc-keyed fold. No window, no driver
   * state.
   */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val model = bigramModel(docs, textCol)
      .select(col("w1"), col("w2"), col("c12"), col("c1"))
    val toks = TextOps.tokens(col(textCol))
    val perDoc = docs
      .select(col(idCol).as("id"), toks.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("id"), posexplode(
        transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2")))))
      .select(col("id"), col("pos").cast("long").as("pos"),
        col("col.w1").as("w1"), col("col.w2").as("w2"))
    perDoc
      .join(model, Seq("w1", "w2"))
      .select(col("id"), col("pos"),
        (lg(col("c12")) - lg(col("c1"))).as("contrib"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(
          transform(sort_array(collect_list(struct(col("pos"), col("contrib")))),
            e => e("contrib")),
          lit(0.0), (acc, x) => acc + x).as("ll_bits"))
      .select(col("id"), col("n_bigrams"), col("ll_bits"),
        (col("ll_bits") / col("n_bigrams").cast("double")).as("avg_bits"))
  }

  /**
   * Classifier-calibration sweep: confusion counts and rates for a score
   * column against a boolean label at `bins` equal-width thresholds — the
   * audit a quality-filter threshold is actually chosen from (here: is
   * the DSIR weight a good predictor of the rule gate?). Emits one row
   * per threshold: (thr, tp, fp, fn, tn, tpr, fpr, prec).
   *
   * Scale posture — the bounded-geometry discipline of the q85 histogram:
   * a global score-ordered cumulative window would serialize n rows
   * through one task (the textbook cliff), so instead the score range
   * [min, max] splits into `bins` equal-width thresholds (one broadcast
   * min/max row), per-(bin, label) counts aggregate map-side — at most
   * 2·bins rows ever shuffle — and the cumulation runs inside ONE
   * collected struct array of `bins` cells. Exactness: bin indexing and
   * rates are single IEEE ops on exact inputs; ties and the max-score
   * row land in the top bin by the same floor/clamp in both engines.
   */
  def thresholdSweep(scored: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 32): DataFrame = {
    require(bins >= 1 && bins <= (1 << 16),
      s"bins must be in [1, 65536] (the sweep table is collected), got $bins")
    val mm = scored.agg(min(col(scoreCol).cast("double")).as("lo"),
      max(col(scoreCol).cast("double")).as("hi"))
    val binned = scored
      .select(col(scoreCol).cast("double").as("s"),
        col(labelCol).cast("boolean").as("y"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(mm)))
      .select(
        when(col("hi") === col("lo"), lit(bins - 1L))
          .otherwise(least(greatest(
            floor((col("s") - col("lo")) / (col("hi") - col("lo")) * bins)
              .cast("long"), lit(0L)), lit(bins - 1L))).as("b"),
        col("y"))
      .groupBy(col("b"), col("y")).agg(count(lit(1)).as("n"))
    // bins cells -> one row; cumulate from the top bin down: predicted
    // positive at threshold t(b) = everything in bins >= b
    val arr = binned
      .agg(sort_array(collect_list(struct(col("b"), col("y"), col("n")))).as("cells"))
      .crossJoin(broadcast(graft.ops.Guards.scalar(mm)))
    arr.select(col("lo"), col("hi"), explode(
      transform(sequence(lit(0), lit(bins - 1)), b => struct(
        b.cast("long").as("bin"),
        aggregate(filter(col("cells"), c => c("b") >= b && c("y")),
          lit(0L), (acc, c) => acc + c("n")).as("tp"),
        aggregate(filter(col("cells"), c => c("b") >= b && !c("y")),
          lit(0L), (acc, c) => acc + c("n")).as("fp"),
        aggregate(filter(col("cells"), c => c("b") < b && c("y")),
          lit(0L), (acc, c) => acc + c("n")).as("fn"),
        aggregate(filter(col("cells"), c => c("b") < b && !c("y")),
          lit(0L), (acc, c) => acc + c("n")).as("tn")))).as("r"))
      .select(
        col("r.bin").as("bin"),
        (col("lo") + col("r.bin").cast("double") *
          ((col("hi") - col("lo")) / bins)).as("thr"),
        col("r.tp").as("tp"), col("r.fp").as("fp"),
        col("r.fn").as("fn"), col("r.tn").as("tn"),
        when(col("r.tp") + col("r.fn") > 0,
          col("r.tp").cast("double") / (col("r.tp") + col("r.fn")).cast("double"))
          .otherwise(lit(0.0)).as("tpr"),
        when(col("r.fp") + col("r.tn") > 0,
          col("r.fp").cast("double") / (col("r.fp") + col("r.tn")).cast("double"))
          .otherwise(lit(0.0)).as("fpr"),
        when(col("r.tp") + col("r.fp") > 0,
          col("r.tp").cast("double") / (col("r.tp") + col("r.fp")).cast("double"))
          .otherwise(lit(0.0)).as("prec"))
  }
}
