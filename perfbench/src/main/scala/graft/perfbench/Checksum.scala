package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result checksum, computed in the same job that
  * materializes the result.
  *
  * Every output column feeds one 64-bit row hash; the checksum is the
  * row count plus the decimal sum of the row hashes, so it is a
  * multiset digest that ignores row order and partitioning. Floating
  * values are narrowed to float precision before hashing, which keeps
  * the digest stable under summation-order noise in the last bits of a
  * double. Columns are hashed in name order.
  */
object Checksum {

  /** Canonical form of one value for hashing. */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      // -0.0 and 0.0 compare equal; hash them equal too
      when(c === 0, lit(0f)).otherwise(c.cast(FloatType))
    case ArrayType(et, _) if needsNorm(et) =>
      transform(c, x => norm(x, et))
    case st: StructType if st.fields.exists(f => needsNorm(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    case MapType(kt, vt, _) =>
      // maps are unordered and not hashable: sort their entries
      val et = StructType(Seq(StructField("key", kt), StructField("value", vt)))
      norm(array_sort(map_entries(c)), ArrayType(et))
    case _ => c
  }

  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case st: StructType => st.fields.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  /** `df` with an observation attached that yields (rows, digest) once
    * the returned frame has been fully consumed.
    */
  def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val fields = df.schema.fields.sortBy(_.name)
    val h =
      if (fields.isEmpty) lit(0L)
      else xxhash64(fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
        .toIndexedSeq: _*)
    val obs = Observation(name)
    val out = df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(h.cast(DecimalType(38, 0))), lit(BigDecimal(0)))
        .cast(DecimalType(38, 0)).as("digest"))
    (out, obs)
  }

  /** Run `df` to completion through the no-op sink (every column of
    * every row is produced, sorts included) and return its digest as
    * `rows:hashsum`.
    */
  def materialize(df: DataFrame, name: String): String = {
    val (out, obs) = observed(df, name)
    out.write.format("noop").mode("overwrite").save()
    val m = obs.get
    s"${m("rows")}:${m("digest")}"
  }
}
