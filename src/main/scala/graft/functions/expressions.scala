package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for the training-data-pipeline operators.
 *
 * Preference order followed here (SURVEY.md §7.2 / build brief): these ops
 * are per-row scalar kernels on array columns — too hot for a Scala UDF
 * (boxing + encoder round-trip per row) and not expressible as compositions
 * of built-ins without quadratic blowup (e.g. 126 minhash permutations as
 * 126 separate aggregate() HOF columns). Each expression ships `doGenCode`
 * that emits a single static call into [[VectorMath]], so the operator stays
 * inside whole-stage codegen with no interpretation overhead.
 */

/** cosine(array<float>, array<float>) -> double. Null-safe; NaN on zero norm. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match { case ArrayType(FloatType, _) => true; case _ => false })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<float>), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorMath.cosineF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** dot(array<float>, array<float>) -> double — element-order accumulation,
  * the un-normalized companion of [[CosineSim]] (round 15: replaces the
  * interpreted `aggregate(zip_with(...))` HOF pair in q240's brute-force
  * scoring — HOFs are CodegenFallback, so every candidate pair paid a
  * per-element lambda dispatch; this stays inside whole-stage codegen). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match { case ArrayType(FloatType, _) => true; case _ => false })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<float>), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.dotF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorMath.dotF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** dot(array<double>, array<double>) -> double — element-order accumulation,
  * the array<double> twin of [[DotProduct]] (round 16: replaces the
  * interpreted `aggregate(zip_with(...))` HOF folds in the PCA / silhouette /
  * geo-median family — bit-compatible per [[VectorMath.dotD]]'s doc). */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match { case ArrayType(DoubleType, _) => true; case _ => false })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<double>), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot_d"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.dotD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      BoxedDouble.assign(ctx, ev, s"graft.functions.VectorMath.dotD($a, $b)"))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductD =
    copy(left = l, right = r)
}

/** center_dot_l(array<long> q, array<long> m, array<double> v) -> double —
  * Σ (q−m)·v with exact long centering, element order ([[VectorMath.centerDotL]];
  * the PCA outlier projection kernel). */
case class CenterDotL(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>, array<double>), got " +
          children.map(_.dataType.simpleString).mkString(", "))
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_center_dot_l"
  override protected def nullSafeEval(q: Any, m: Any, v: Any): Any =
    VectorMath.centerDotL(q.asInstanceOf[ArrayData], m.asInstanceOf[ArrayData],
      v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, m, v) => BoxedDouble.assign(ctx, ev,
      s"graft.functions.VectorMath.centerDotL($q, $m, $v)"))
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): CenterDotL =
    copy(first = f, second = s, third = t)
}

/** ordered_sum(array<struct<k, v>>) -> double — sum of the struct's SECOND
  * field in array order, seeded 0.0, integer values cast to double at each
  * add: bit-compatible with the `foldSorted` HOF composition
  * `aggregate(transform(arr, e -> e.v), 0.0d, (acc, x) -> acc + x)` it
  * replaces across the catalogs (round 16 — HOFs are CodegenFallback, so a
  * corpus-sized sorted fold paid a lambda dispatch per element plus a full
  * intermediate array; this is one codegen'd kernel call, and the sort it
  * consumes is unchanged). Null elements / null values yield null, exactly
  * like the HOF's `acc + null`. */
case class OrderedStructSum(child: Expression)
    extends UnaryExpression {
  private def valueType: Option[DataType] = child.dataType match {
    case ArrayType(StructType(fs), _) if fs.length == 2 => Some(fs(1).dataType)
    case _ => None
  }
  override def checkInputDataTypes(): TypeCheckResult = valueType match {
    case Some(DoubleType) | Some(LongType) | Some(IntegerType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<k, v>> with v double/bigint/int, got " +
        child.dataType.simpleString)
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ordered_sum"
  private lazy val vIsLong = valueType.contains(LongType)
  private lazy val vIsInt = valueType.contains(IntegerType)
  override protected def nullSafeEval(arr: Any): Any =
    VectorMath.orderedStructSum(arr.asInstanceOf[ArrayData], vIsLong, vIsInt)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => BoxedDouble.assign(ctx, ev,
      s"graft.functions.VectorMath.orderedStructSum($a, $vIsLong, $vIsInt)"))
  override protected def withNewChildInternal(c: Expression): OrderedStructSum =
    copy(child = c)
}

/** Generated code that stores a kernel's boxed `java.lang.Double` result,
  * a null return meaning SQL null (the HOF folds' `acc + null`). */
private[functions] object BoxedDouble {
  def assign(ctx: CodegenContext, ev: ExprCode, call: String): String = {
    val boxed = ctx.freshName("boxed")
    s"""
       |java.lang.Double $boxed = $call;
       |if ($boxed == null) { ${ev.isNull} = true; }
       |else { ${ev.value} = $boxed.doubleValue(); }
     """.stripMargin
  }
}

/** The shared type check of the PQ kernels: (array<float> vector,
  * array<struct<_, array<float>>> codebook, int subspace, int subDim). */
private[functions] object PqTypes {
  def check(prettyName: String, children: Seq[Expression]): TypeCheckResult = {
    val ok = (children(0).dataType match {
      case ArrayType(FloatType, _) => true; case _ => false
    }) && (children(1).dataType match {
      case ArrayType(StructType(fs), _) if fs.length == 2 =>
        fs(1).dataType match { case ArrayType(FloatType, _) => true; case _ => false }
      case _ => false
    }) && children(2).dataType == IntegerType && children(3).dataType == IntegerType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<struct<id, array<float>>>, int, int), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }
}

/** pq_argmin(vec, codebook, s, subDim) -> int — 1-based nearest-sub-codeword
  * position for subspace `s`, ties to the smaller position
  * ([[VectorMath.pqArgmin]]: replaces the per-codeword `transform` +
  * `array_sort` HOF pyramid of the PQ encoder with one kernel call). */
case class PqArgmin(first: Expression, second: Expression, third: Expression,
    fourth: Expression) extends QuaternaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = PqTypes.check(prettyName, children)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_pq_argmin"
  override protected def nullSafeEval(x: Any, cb: Any, s: Any, d: Any): Any =
    VectorMath.pqArgmin(x.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData],
      s.asInstanceOf[Int], d.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, cb, s, d) => s"graft.functions.VectorMath.pqArgmin($x, $cb, $s, $d)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): PqArgmin = copy(a, b, c, d)
}

/** pq_dists(vec, codebook, s, subDim) -> array<double> — squared-L2 distance
  * table of subspace `s` to every codeword in codebook order
  * ([[VectorMath.pqDists]]; the query-side ADC table builder). */
case class PqDists(first: Expression, second: Expression, third: Expression,
    fourth: Expression) extends QuaternaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = PqTypes.check(prettyName, children)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_dists"
  override protected def nullSafeEval(x: Any, cb: Any, s: Any, d: Any): Any =
    VectorMath.pqDists(x.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData],
      s.asInstanceOf[Int], d.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, cb, s, d) => s"graft.functions.VectorMath.pqDists($x, $cb, $s, $d)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): PqDists = copy(a, b, c, d)
}

/** adc_sum(array<array<double>> dt, array<int> code) -> double — Σ_s
  * dt[s][code[s]] in subspace order ([[VectorMath.adcSum]]; the per-pair ADC
  * scan kernel — one codegen call instead of an interpreted `aggregate`). */
case class AdcSum(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<array<double>>, array<int>), got " +
          children.map(_.dataType.simpleString).mkString(", "))
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_adc_sum"
  override protected def nullSafeEval(dt: Any, code: Any): Any =
    VectorMath.adcSum(dt.asInstanceOf[ArrayData], code.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (dt, code) => s"graft.functions.VectorMath.adcSum($dt, $code)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcSum =
    copy(left = l, right = r)
}

/** simhash64(array<string>) -> long — Charikar sign-fingerprint of a token bag. */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType match { case ArrayType(StringType, _) => true; case _ => false }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"
  override protected def nullSafeEval(tokens: Any): Any =
    VectorMath.simhash64(tokens.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorMath.simhash64($a)")
  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

/** minhash_sig(array<string>, k) -> array<long> — k affine-permutation minima. */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression {
  require(k > 0, s"minhash signature length must be positive, got $k")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType match { case ArrayType(StringType, _) => true; case _ => false }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"
  override protected def nullSafeEval(tokens: Any): Any =
    new GenericArrayData(VectorMath.minhashSig(tokens.asInstanceOf[ArrayData], k))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.VectorMath.minhashSig($a, $k))")
  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** word_shingles(array<string>, n) -> array<string> — distinct word n-gram
  * shingles, first-occurrence order (the Jaccard dedup family's hot path:
  * the equivalent transform/concat_ws HOF composition runs interpreted and
  * profiled as ~3/4 of q25's runtime). */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, s"shingle width must be positive, got $n")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType match { case ArrayType(StringType, _) => true; case _ => false }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"
  override protected def nullSafeEval(tokens: Any): Any =
    VectorMath.wordShingles(tokens.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorMath.wordShingles($a, $n)")
  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)
}

/** word_shingle_hashes(array<string>, n) -> array<long> — distinct xxhash64
  * of the word n-gram shingles, first-occurrence order (the fused
  * shingle+hash kernel: [[VectorMath.wordShingleHashes]] — round 16, for
  * the equality-only dedup family: 8 bytes per shingle in every downstream
  * exchange instead of the n-word string). */
case class WordShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, s"shingle width must be positive, got $n")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType match { case ArrayType(StringType, _) => true; case _ => false }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_word_shingle_hashes"
  override protected def nullSafeEval(tokens: Any): Any =
    VectorMath.wordShingleHashes(tokens.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorMath.wordShingleHashes($a, $n)")
  override protected def withNewChildInternal(c: Expression): WordShingleHashes =
    copy(child = c)
}

/** sorted_contains(long, array<long>) -> boolean — binary-search membership
  * against a SORTED key array (the runtime-filter probe: log₂|keys|
  * compares inside whole-stage codegen, no join operator, no hash map). */
case class SortedContains(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType &&
      (right.dataType match { case ArrayType(LongType, _) => true; case _ => false }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (bigint, array<bigint>), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_sorted_contains"
  override protected def nullSafeEval(v: Any, arr: Any): Any =
    VectorMath.sortedContains(v.asInstanceOf[Long], arr.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, a) => s"graft.functions.VectorMath.sortedContains($v, $a)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedContains =
    copy(left = l, right = r)
}

/** strip_accents(string) -> string — NFD + drop `\p{M}` + NFC (bit-equal to
  * DuckDB's strip_accents on the Latin range; ASCII short-circuits). */
case class StripAccents(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType.simpleString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_strip_accents"
  override protected def nullSafeEval(s: Any): Any =
    VectorMath.stripAccents(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorMath.stripAccents($a)")
  override protected def withNewChildInternal(c: Expression): StripAccents =
    copy(child = c)
}

/** shingle_hash_overlap(array<string> tokens, array<long> sortedHashes, n)
  * -> boolean — true iff any word n-gram of the tokens xxhash64-es into the
  * sorted hash array (binary search per window; the streaming
  * decontamination gate's probe kernel). */
case class ShingleHashOverlap(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  require(n > 0, s"shingle width must be positive, got $n")
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<long>), got " +
          children.map(_.dataType.simpleString).mkString(", "))
    }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_shingle_hash_overlap"
  override protected def nullSafeEval(tokens: Any, hashes: Any): Any =
    VectorMath.shingleHashOverlap(
      tokens.asInstanceOf[ArrayData], n, hashes.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorMath.shingleHashOverlap($a, $n, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ShingleHashOverlap =
    copy(left = l, right = r)
}

/** char_bigrams(string) -> array<string> — adjacent character bigrams in
  * position order ([[VectorMath.charBigrams]]: one byte pass instead of the
  * O(L²) per-position SQL substring walk). */
case class CharBigrams(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType.simpleString}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_bigrams"
  override protected def nullSafeEval(s: Any): Any =
    VectorMath.charBigrams(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorMath.charBigrams($a)")
  override protected def withNewChildInternal(c: Expression): CharBigrams =
    copy(child = c)
}

/** sign_bucket(array<float>, planes) -> int — random-hyperplane LSH bucket. */
case class SignBucket(child: Expression, planes: Int)
    extends UnaryExpression {
  require(planes > 0 && planes <= 30, s"planes must be in [1,30], got $planes")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType match { case ArrayType(FloatType, _) => true; case _ => false }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sign_bucket"
  override protected def nullSafeEval(v: Any): Any =
    VectorMath.signBucket(v.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorMath.signBucket($a, $planes)")
  override protected def withNewChildInternal(c: Expression): SignBucket =
    copy(child = c)
}

/** bigram_overlap(string, string) -> bigint — multiset character-bigram
  * intersection (the Sørensen–Dice numerator; fuzzy record-linkage's hot
  * kernel: sort + two-pointer inside whole-stage codegen, where the
  * equivalent explode/groupBy/join composition would shuffle per gram). */
case class BigramOverlap(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bigram_overlap"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.bigramOverlap(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorMath.bigramOverlap($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BigramOverlap =
    copy(left = l, right = r)
}

/**
 * Column API and SQL name table for the native expressions.
 *
 * The Column helpers build their expression nodes directly, so they work on
 * any session, including one built without the graft functions registered.
 * `builders` is the name table [[GraftExtensions]] injects for SQL text
 * (`spark.sql.extensions`, or a session built by [[graft.GraftSession]]).
 */
object GraftFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.GraftSqlShim.{column, expression => e}

  private def intArg(arg: Expression, what: String): Int = arg match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine"      -> { args => CosineSim(args(0), args(1)) },
    "graft_dot"         -> { args => DotProduct(args(0), args(1)) },
    "graft_dot_d"       -> { args => DotProductD(args(0), args(1)) },
    "graft_center_dot_l" -> { args => CenterDotL(args(0), args(1), args(2)) },
    "graft_pq_argmin"   -> { args => PqArgmin(args(0), args(1), args(2), args(3)) },
    "graft_pq_dists"    -> { args => PqDists(args(0), args(1), args(2), args(3)) },
    "graft_adc_sum"     -> { args => AdcSum(args(0), args(1)) },
    "graft_ordered_sum" -> { args => OrderedStructSum(args(0)) },
    "graft_simhash64"   -> { args => SimHash64(args(0)) },
    "graft_minhash_sig" -> { args => MinHashSig(args(0), intArg(args(1), "k")) },
    "graft_sign_bucket" -> { args => SignBucket(args(0), intArg(args(1), "planes")) },
    "graft_word_shingles" -> { args => WordShingles(args(0), intArg(args(1), "n")) },
    "graft_word_shingle_hashes" -> { args =>
      WordShingleHashes(args(0), intArg(args(1), "n")) },
    "graft_char_bigrams" -> { args => CharBigrams(args(0)) },
    "graft_strip_accents" -> { args => StripAccents(args(0)) },
    "graft_sorted_contains" -> { args => SortedContains(args(0), args(1)) },
    "graft_shingle_hash_overlap" -> { args =>
      ShingleHashOverlap(args(0), args(1), intArg(args(2), "n")) },
    "graft_bigram_overlap" -> { args => BigramOverlap(args(0), args(1)) })

  def cosine(a: Column, b: Column): Column = column(CosineSim(e(a), e(b)))
  def dot(a: Column, b: Column): Column = column(DotProduct(e(a), e(b)))
  def dotD(a: Column, b: Column): Column = column(DotProductD(e(a), e(b)))
  def centerDotL(q: Column, m: Column, v: Column): Column =
    column(CenterDotL(e(q), e(m), e(v)))
  def pqArgmin(vec: Column, cb: Column, s: Column, subDim: Column): Column =
    column(PqArgmin(e(vec), e(cb), e(s), e(subDim)))
  def pqDists(vec: Column, cb: Column, s: Column, subDim: Column): Column =
    column(PqDists(e(vec), e(cb), e(s), e(subDim)))
  def adcSum(dt: Column, code: Column): Column = column(AdcSum(e(dt), e(code)))
  def orderedSum(arr: Column): Column = column(OrderedStructSum(e(arr)))
  def simhash64(tokens: Column): Column = column(SimHash64(e(tokens)))
  def minhashSig(tokens: Column, k: Int): Column = column(MinHashSig(e(tokens), k))
  def signBucket(vec: Column, planes: Int): Column = column(SignBucket(e(vec), planes))
  def wordShingles(tokens: Column, n: Int): Column = column(WordShingles(e(tokens), n))
  def wordShingleHashes(tokens: Column, n: Int): Column =
    column(WordShingleHashes(e(tokens), n))
  def stripAccents(text: Column): Column = column(StripAccents(e(text)))
  def charBigrams(text: Column): Column = column(CharBigrams(e(text)))
  def sortedContains(v: Column, sortedArr: Column): Column =
    column(SortedContains(e(v), e(sortedArr)))
  def bigramOverlap(a: Column, b: Column): Column = column(BigramOverlap(e(a), e(b)))
  def shingleHashOverlap(tokens: Column, sortedHashes: Column, n: Int): Column =
    column(ShingleHashOverlap(e(tokens), e(sortedHashes), n))
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` injection point. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.expressions", name),
        b))
    }
    ext.injectOptimizerRule(_ => graft.plans.EditDistanceBandRule)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}
