package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent checksum of a result: row count plus the sum of a
  * per-row 64-bit hash over every output column, split in two 32-bit halves
  * so the sums cannot overflow. Computing it is the op's one action, and it
  * reads every column, so Catalyst cannot prune any output expression away
  * (a timed `.count()` could).
  *
  * Floating-point values are hashed at float precision, with -0.0 folded
  * into 0.0, so a last-bit difference from a different merge order of a
  * partial sum does not read as a wrong result. */
final case class Checksum(rows: Long, hi: Long, lo: Long) {
  def hex: String = f"$rows%d:$hi%x:$lo%x"
}

object Checksum {

  private def normalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => (c.cast(DoubleType) + lit(0.0)).cast(FloatType)
    case ArrayType(et, _)       => transform(c, x => normalize(x, et))
    case st: StructType =>
      struct(st.fields.toIndexedSeq.map(f =>
        normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      // map iteration order is not part of a map's value
      array_sort(transform(map_entries(c), e =>
        struct(normalize(e.getField("key"), kt).as("k"),
          normalize(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** The aggregate as a DataFrame; `of` runs it. */
  def plan(df: DataFrame): DataFrame = {
    // positional names: a join can leave two output columns with one name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = df.schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      normalize(col(s"c$i"), f.dataType) }
    // a zero-column result still has rows to count
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.select(h.as("h")).agg(
      count(lit(1)).as("rows"),
      coalesce(sum(shiftright(col("h"), 32)), lit(0L)).as("hi"),
      coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"))
  }

  def of(df: DataFrame): Checksum = {
    val r = plan(df).head()
    Checksum(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
