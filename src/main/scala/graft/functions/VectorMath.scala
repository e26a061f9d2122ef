package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/**
 * Static kernels for the vector/fingerprint expressions. Kept as plain
 * static-shaped methods so generated code (doGenCode) can call them with a
 * single static-dispatch call per row — no boxing, no closures, no
 * per-row allocation beyond the result.
 *
 * Hashing: engine-internal hashing (minhash permutations, the gate probe)
 * is xxHash64 with Spark's own seed (42), bit-compatible with
 * `org.apache.spark.sql.functions.xxhash64` on STRING input so test suites
 * can cross-check against the built-in. The exception is [[simhash64]],
 * whose per-token weight is [[md5Prefix64]] — md5-derived precisely so an
 * external SQL engine can reproduce the fingerprint (the q27 oracle).
 */
object VectorMath {

  final val XxSeed = 42L

  /** xxhash64 of a UTF8String's bytes, identical to Spark's xxhash64(col). */
  def xxhash(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, XxSeed)

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 bytes of md5(s) as a big-endian long — bit-equal to the SQL
    * form `('0x'||substr(md5(s),1,8))::BIGINT << 32 | ('0x'||substr(md5(s),
    * 9,8))::BIGINT`, i.e. two 32-bit hex-prefix words. Used where a per-token
    * 64-bit weight must be reproducible by an external SQL engine (the
    * simhash oracle); ~5-10× slower per token than [[xxhash]], which remains
    * the choice for engine-internal hashing (minhash permutations). */
  def md5Prefix64(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  // ------------------------------------------------------------- cosine ----

  /** Cosine similarity of two float vectors, accumulated in double in element
    * order (bit-compatible with a naive sequential fold — the exact semantics
    * the DuckDB oracle reproduces with list_dot_product on DOUBLE[]).
    * Returns Double.NaN when either norm is zero. */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n, s"vector length mismatch: $n vs ${b.numElements()}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Raw dot product of two float vectors, accumulated in double in element
    * order — the shared numerator of [[cosineF]], exposed for queries that
    * need the un-normalized score next to the cosine (q240's RBO compares
    * the two rankings). Bit-compatible with the HOF form
    * `aggregate(zip_with(a, b, (x, y) -> x*y), 0.0d, (acc, t) -> acc + t)`
    * on the double-cast arrays: float→double casts are exact and the adds
    * run in the same element order. */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n, s"vector length mismatch: $n vs ${b.numElements()}")
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  /** Raw dot product of two DOUBLE vectors, accumulated in element order —
    * bit-compatible with the HOF fold
    * `aggregate(zip_with(a, b, (x, y) -> x*y), 0.0d, (acc, t) -> acc + t)`
    * (same multiplies, same adds, same order; round 16 — the array<double>
    * twin of [[dotF]] for the PCA / silhouette / geo-median family, whose
    * folds are the oracle's accumulation contract). A null element makes the
    * result null, exactly like the fold's `acc + null`. */
  def dotD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    require(b.numElements() == n, s"vector length mismatch: $n vs ${b.numElements()}")
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    dot
  }

  /** Centered-quantized projection Σ (q_i − m_i)·v_i with the subtraction in
    * exact long arithmetic, the cast and multiply-add per element in order —
    * bit-compatible with
    * `aggregate(zip_with(zip_with(q, m, (q,m) -> cast(q-m as double)), v,
    * (x,y) -> x*y), 0.0d, (acc,t) -> acc+t)` (long subtraction is exact,
    * long→double cast exact for |q−m| < 2⁵³). The per-row scoring kernel of
    * the PCA outlier projection (q98). A null element makes the result
    * null, like [[dotD]]. */
  def centerDotL(q: ArrayData, m: ArrayData, v: ArrayData): java.lang.Double = {
    val n = q.numElements()
    require(m.numElements() == n && v.numElements() == n,
      s"vector length mismatch: $n vs ${m.numElements()} vs ${v.numElements()}")
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (q.isNullAt(i) || m.isNullAt(i) || v.isNullAt(i)) return null
      dot += (q.getLong(i) - m.getLong(i)).toDouble * v.getDouble(i)
      i += 1
    }
    dot
  }

  /** Ordered sum of field 1 of a two-field struct array, seeded 0.0, adds
    * in array order, each long/int value cast to double at its add — the
    * kernel behind every catalog's `foldSorted` helper: bit-compatible with
    * `aggregate(transform(arr, e -> e.v), 0.0d, (acc, x) -> acc + x)`
    * (transform extracts in order; the fold adds in order with the same
    * exact integer→double cast per element). A null value element makes the
    * whole sum null, exactly like the HOF's `acc + null`. Returns a boxed
    * Double (null propagation); the caller's expression declares nullable. */
  def orderedStructSum(arr: ArrayData, vIsLong: Boolean, vIsInt: Boolean): java.lang.Double = {
    val n = arr.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val st = arr.getStruct(i, 2)
      if (st.isNullAt(1)) return null
      acc += (if (vIsLong) st.getLong(1).toDouble
              else if (vIsInt) st.getInt(1).toDouble
              else st.getDouble(1))
      i += 1
    }
    acc
  }

  // ------------------------------------------------------ product quant ----

  /** Squared L2 between the `len`-wide slices of two FLOAT vectors starting
    * at 0-based `start` — one IEEE (a−b)·(a−b) product+add per element in
    * slice order, exact float→double casts: bit-compatible with the HOF form
    * `aggregate(zip_with(slice(x, start+1, len), slice(y, start+1, len),
    * (a,b) -> (cast a - cast b)²), 0.0d, (acc,d) -> acc+d)`. */
  def subL2F(x: ArrayData, y: ArrayData, start: Int, len: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < len) {
      val d = x.getFloat(start + i).toDouble - y.getFloat(start + i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** PQ encode, one subspace: 1-based position of the codeword (field 1 =
    * `cent_v` of each struct in the SORTED codebook array) minimizing
    * [[subL2F]] over subspace `s`, ties to the SMALLER position — exactly
    * `element_at(array_sort(transform(sequence(1, |cb|), j ->
    * struct(subDist(...) as d, j))), 1)("j")`: array_sort orders by (d, j)
    * ascending, so the strict `<` update keeps the earliest minimum. An
    * empty codebook has no position to return and fails, as the HOF's
    * `element_at(..., 1)` does. */
  def pqArgmin(x: ArrayData, cb: ArrayData, s: Int, subDim: Int): Int = {
    val ncb = cb.numElements()
    require(ncb > 0, "graft_pq_argmin: empty codebook")
    var best = Double.PositiveInfinity
    var bestJ = 1
    var j = 0
    while (j < ncb) {
      val cv = cb.getStruct(j, 2).getArray(1)
      val d = subL2F(x, cv, s * subDim, subDim)
      if (d < best) { best = d; bestJ = j + 1 }
      j += 1
    }
    bestJ
  }

  /** PQ distance table, one subspace: [[subL2F]] to every codeword in
    * codebook order — bit-identical elements to the per-`j` transform it
    * replaces (`transform(sequence(1, |cb|), j -> subDist(...))`). */
  def pqDists(x: ArrayData, cb: ArrayData, s: Int, subDim: Int): ArrayData = {
    val ncb = cb.numElements()
    val out = new Array[Any](ncb)
    var j = 0
    while (j < ncb) {
      out(j) = subL2F(x, cb.getStruct(j, 2).getArray(1), s * subDim, subDim)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** ADC lookup sum Σ_s dt[s][code[s]] with the adds in subspace order,
    * seeded 0.0 — bit-compatible with
    * `aggregate(sequence(1, m), 0.0d, (acc, s) ->
    * acc + element_at(element_at(dt, s), element_at(code, s)))`. */
  def adcSum(dt: ArrayData, code: ArrayData): Double = {
    val m = dt.numElements()
    var acc = 0.0
    var s = 0
    while (s < m) {
      acc += dt.getArray(s).getDouble(code.getInt(s) - 1)
      s += 1
    }
    acc
  }

  /** Double-vector variant with identical accumulation order. */
  def cosineD(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n, s"vector length mismatch: $n vs ${b.numElements()}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // ----------------------------------------------------------- shingles ----

  /** Distinct word n-gram shingles of a token array, first-occurrence order
    * — semantics identical to
    * `array_distinct(transform(sequence(0, size-n), i -> concat_ws(" ", ...)))`
    * (the HOF composition it replaces: higher-order functions run
    * interpreted with a per-element lambda dispatch, which profiled as the
    * dominant cost of the Jaccard dedup family — this kernel is one static
    * call per row inside whole-stage codegen). Null tokens are skipped by
    * the joiner exactly like `concat_ws`. Returns empty for arrays shorter
    * than n. */
  def wordShingles(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements() - n + 1
    if (cnt <= 0) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](tokens.numElements())
    var i = 0
    while (i < toks.length) {
      toks(i) = if (tokens.isNullAt(i)) null else tokens.getUTF8String(i)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[UTF8String](cnt * 2)
    val window = new Array[UTF8String](n)
    i = 0
    while (i < cnt) {
      var j = 0
      while (j < n) { window(j) = toks(i + j); j += 1 }
      seen.add(UTF8String.concatWs(UTF8String.SPACE_UTF8, window: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  /** Distinct xxhash64 values of the word n-gram shingles of a token array,
    * first-occurrence order — the fused shingle+hash kernel (round 16):
    * builds each window exactly like [[wordShingles]] (concatWs, null
    * tokens skipped by the joiner) but hashes it immediately instead of
    * retaining the string, so the per-row output is 8 bytes per distinct
    * shingle and the intermediate string set never exists. Two distinct
    * shingles collide with probability ~2⁻⁶⁴ per pair (the
    * [[shingleHashOverlap]] / minhash precedent — negligible against any
    * tested corpus; the dedup operators that consume this only test
    * shingle EQUALITY, never order or content). */
  def wordShingleHashes(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements() - n + 1
    if (cnt <= 0) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](tokens.numElements())
    var i = 0
    while (i < toks.length) {
      toks(i) = if (tokens.isNullAt(i)) null else tokens.getUTF8String(i)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long](cnt * 2)
    val window = new Array[UTF8String](n)
    i = 0
    while (i < cnt) {
      var j = 0
      while (j < n) { window(j) = toks(i + j); j += 1 }
      seen.add(xxhash(UTF8String.concatWs(UTF8String.SPACE_UTF8, window: _*)))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  /** True iff any word n-gram of `tokens` hashes (xxhash64) into the SORTED
    * long array `sorted` — the decontamination-gate probe. Binary search per
    * window: a clean doc (the common case) pays shingleCount × log2(|bench|)
    * long compares instead of the |bench|-sized scan an `arrays_overlap`
    * against the inlined benchmark would cost, and the plan carries 8 bytes
    * per benchmark shingle instead of the string. Windows are built exactly
    * like [[wordShingles]] (concatWs, null tokens skipped by the joiner), so
    * hash equality mirrors the batch path's string equality up to xxhash64
    * collisions (~2^-64 per probe — negligible against any eval set). */
  def shingleHashOverlap(tokens: ArrayData, n: Int, sorted: ArrayData): Boolean = {
    val cnt = tokens.numElements() - n + 1
    val m = sorted.numElements()
    if (cnt <= 0 || m == 0) return false
    val toks = new Array[UTF8String](tokens.numElements())
    var i = 0
    while (i < toks.length) {
      toks(i) = if (tokens.isNullAt(i)) null else tokens.getUTF8String(i)
      i += 1
    }
    val window = new Array[UTF8String](n)
    i = 0
    while (i < cnt) {
      var j = 0
      while (j < n) { window(j) = toks(i + j); j += 1 }
      val h = xxhash(UTF8String.concatWs(UTF8String.SPACE_UTF8, window: _*))
      var lo = 0; var hi = m - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val v = sorted.getLong(mid)
        if (v == h) return true
        else if (v < h) lo = mid + 1
        else hi = mid - 1
      }
      i += 1
    }
    false
  }

  /** All adjacent character bigrams of a string, in position order (length
    * numChars−1, duplicates kept) — bit-equal to
    * `transform(sequence(1, length(s) - 1), i -> substring(s, i, 2))`, but
    * ONE pass over the bytes: SQL `substring` re-walks the string from the
    * start to find the char offset (O(i) per call, O(L²) per document —
    * profiled as q425's whole runtime); this kernel records each char's
    * byte offset once and slices bytes directly. Round 16, guide §1.2-2. */
  def charBigrams(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = s.numChars()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](n + 1)
    var b = 0
    var c = 0
    while (b < bytes.length) {
      starts(c) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      c += 1
    }
    starts(n) = bytes.length
    val out = new Array[Any](n - 1)
    var k = 0
    while (k < n - 1) {
      out(k) = UTF8String.fromBytes(bytes, starts(k), starts(k + 2) - starts(k))
      k += 1
    }
    new GenericArrayData(out)
  }

  // ------------------------------------------------------------ simhash ----

  /** 64-bit SimHash over an array of string tokens (Charikar 2002, STOC —
    * "Similarity estimation techniques from rounding algorithms"): each
    * token's [[md5Prefix64]] votes ±1 on every bit position; bit b of the
    * result is set iff the aggregate vote is >= 0. Hamming distance between
    * simhashes estimates the angular distance between token multisets. The
    * md5-derived weight (not xxhash64) makes the fingerprint reproducible in
    * any SQL engine with an md5 builtin, so the q27 dedup oracle hash-checks
    * the full pair set; md5's per-token cost is acceptable because simhash
    * is computed once per document, not per permutation. Null tokens are
    * skipped; an empty/all-null array yields 0 (all votes tie at 0 with no
    * evidence — callers should treat 0-token docs separately). */
  def simhash64(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val votes = new Array[Int](64)
    var seen = 0
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        seen += 1
        val h = md5Prefix64(tokens.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    if (seen == 0) return 0L
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  // ------------------------------------------------------------ minhash ----

  /** Affine-permutation MinHash (Broder 1997, SEQUENCES — "On the resemblance
    * and containment of documents"): one base xxhash64 per token, then k
    * pseudo-permutations h_i(x) = a_i*x + b_i over Z/2^64 (a_i odd), taking
    * the minimum under unsigned comparison per permutation. The coefficient
    * schedule derives from splitmix64 of the permutation index, so signatures
    * are deterministic across runs/JVMs. Null tokens skipped; empty arrays
    * give Long.MaxValue sentinels (never collide with real minima in a band).
    */
  def minhashSig(tokens: ArrayData, k: Int): Array[Long] = {
    val n = tokens.numElements()
    val base = new Array[Long](n)
    var valid = 0
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) { base(valid) = xxhash(tokens.getUTF8String(i)); valid += 1 }
      i += 1
    }
    val sig = new Array[Long](k)
    var p = 0
    while (p < k) {
      val a = splitmix64(2L * p + 1) | 1L // odd => bijection mod 2^64
      val b = splitmix64(2L * p + 2)
      var m = -1L // unsigned max
      var j = 0
      while (j < valid) {
        val h = a * base(j) + b
        if (java.lang.Long.compareUnsigned(h, m) < 0) m = h
        j += 1
      }
      sig(p) = if (valid == 0) Long.MaxValue else m
      p += 1
    }
    sig
  }

  /** splitmix64 (Steele et al., "Fast splittable pseudorandom number
    * generators", OOPSLA'14) — the standard seed-expansion mixer. */
  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Rademacher (±1) sign-random-projection bucket (Charikar 2002): bit p of
    * the result is the sign of <v, r_p> where r_p's components are ±1 derived
    * from splitmix64(p*dim + j). Used by the ANN scale path to bucket
    * vectors; hamming-adjacent buckets are multi-probed at query time. */
  def signBucket(v: ArrayData, planes: Int): Int = {
    val dim = v.numElements()
    var bucket = 0
    var p = 0
    while (p < planes) {
      var acc = 0.0
      var j = 0
      while (j < dim) {
        val sgn = if ((splitmix64(p.toLong * dim + j) & 1L) == 1L) 1.0 else -1.0
        acc += sgn * v.getFloat(j)
        j += 1
      }
      if (acc >= 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  /** Binary search for one long in a sorted long array — the probe kernel
    * behind the runtime-filter semi-join (log₂|keys| compares per row,
    * 8 bytes per key in the broadcast). Nulls inside the array are not
    * expected (builder uses collect_set of a non-null cast). */
  def sortedContains(v: Long, arr: ArrayData): Boolean = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val x = arr.getLong(mid)
      if (x == v) return true
      if (x < v) lo = mid + 1 else hi = mid - 1
    }
    false
  }

  /** Unicode accent fold: NFD-decompose, drop every combining mark
    * (categories Mn/Mc/Me = `\p{M}`), NFC-recompose. Verified bit-equal to
    * DuckDB's `strip_accents` on the Latin accent range (both reduce to the
    * base letter), which is what lets the q82 oracle replay normalization.
    * ASCII input short-circuits without allocating — the common case in a
    * mostly-ASCII corpus pays one byte scan. */
  def stripAccents(s: UTF8String): UTF8String = {
    val n = s.numBytes
    var i = 0
    var ascii = true
    while (ascii && i < n) {
      if ((s.getByte(i) & 0x80) != 0) ascii = false
      i += 1
    }
    if (ascii) return s
    val nfd = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    // iterate CODE POINTS, not chars: supplementary-plane combining marks
    // (e.g. U+1D167, category Mn) are surrogate pairs whose halves report
    // type SURROGATE — a char-wise loop would keep them
    var j = 0
    while (j < nfd.length) {
      val cp = nfd.codePointAt(j)
      val t = Character.getType(cp)
      if (t != Character.NON_SPACING_MARK && t != Character.COMBINING_SPACING_MARK &&
        t != Character.ENCLOSING_MARK) sb.appendCodePoint(cp)
      j += Character.charCount(cp)
    }
    UTF8String.fromString(
      java.text.Normalizer.normalize(sb.toString, java.text.Normalizer.Form.NFC))
  }

  /** Multiset character-bigram intersection count of two strings —
    * Σ_g min(count_a(g), count_b(g)) over UTF-16 bigrams (= code-point
    * bigrams for all BMP text, matching SQL substr semantics). Sort +
    * two-pointer; O((|a|+|b|) log) per row, zero allocation beyond the
    * two int arrays. The Sørensen–Dice numerator of the fuzzy-linkage
    * family. */
  def bigramOverlap(a: UTF8String, b: UTF8String): Long = {
    val s = a.toString; val t = b.toString
    if (s.length < 2 || t.length < 2) return 0L
    val x = new Array[Int](s.length - 1)
    var i = 0
    while (i < x.length) { x(i) = (s.charAt(i) << 16) | s.charAt(i + 1); i += 1 }
    val y = new Array[Int](t.length - 1)
    i = 0
    while (i < y.length) { y(i) = (t.charAt(i) << 16) | t.charAt(i + 1); i += 1 }
    java.util.Arrays.sort(x); java.util.Arrays.sort(y)
    var j = 0; var k = 0; var cnt = 0L
    while (j < x.length && k < y.length) {
      if (x(j) == y(k)) { cnt += 1L; j += 1; k += 1 }
      else if (x(j) < y(k)) j += 1
      else k += 1
    }
    cnt
  }
}
