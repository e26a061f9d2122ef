package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content digest of a result: the row count plus the sum
  * of xxhash64 over canonicalized rows.
  *
  * Canonical form: columns in name order; every double or float (also inside
  * arrays, structs and maps) rounded to 6 decimals and then printed with 7
  * significant digits, so summation order and cancellation residues do not
  * change the digest; maps become key-sorted entry arrays; and a null mask
  * leads the hash, because xxhash64 skips nulls and would otherwise hash
  * (null, x) and (x, null) alike. */
object Digest {
  final case class Value(rows: Long, digest: String)

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      format_string("%.6e", round(c.cast(DoubleType), 6) + lit(0.0))
    case ArrayType(et, _) if needsCanon(et) => transform(c, x => canon(x, et))
    case StructType(fields) if fields.exists(f => needsCanon(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fields.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  private def needsCanon(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsCanon(et)
    case StructType(fields) => fields.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  private def rowHash(df: DataFrame): Column = {
    val fields = df.schema.fields.sortBy(_.name).toIndexedSeq
    val mask = concat_ws("", fields.map(f => when(df(f.name).isNull, "1").otherwise("0")): _*)
    xxhash64(mask +: fields.map(f => canon(df(f.name), f.dataType)): _*)
  }

  private def aggs(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    coalesce(sum(rowHash(df).cast(DecimalType(38, 0))), lit(BigDecimal(0)).cast(DecimalType(38, 0)))
      .as("digest"))

  private def value(rows: Any, digest: Any): Value =
    Value(rows.asInstanceOf[Number].longValue, String.valueOf(digest))

  /** Digest computed by the same execution that materializes `df`: the
    * aggregates ride an observation, so checking costs no second run. */
  def observed(df: DataFrame): (DataFrame, () => Value) = {
    val obs = Observation()
    val a = aggs(df)
    val out = df.observe(obs, a.head, a.tail: _*)
    (out, () => { val m = obs.get; value(m("rows"), m("digest")) })
  }

  /** The row count alone, observed on the execution that materializes
    * `df`. It costs about 1% of a catalog pass, where the full digest
    * costs 8–11%, so it is the check that rides timed executions. */
  def observedRows(df: DataFrame): (DataFrame, () => Long) = {
    val obs = Observation()
    val out = df.observe(obs, count(lit(1)).as("rows"))
    (out, () => obs.get("rows").asInstanceOf[Number].longValue)
  }

  /** Digest of `df` by a dedicated aggregation. */
  def of(df: DataFrame): Value = {
    val a = aggs(df)
    val r = df.agg(a.head, a.tail: _*).head()
    value(r.get(0), r.get(1))
  }
}
