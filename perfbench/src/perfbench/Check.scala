package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent content hash of a result. */
final case class Digest(rows: Long, hash: String)

object Check {

  /** Doubles are rounded to 6 decimals before hashing, so a
    * floating-point sum folded in another partition order still hashes
    * the same; maps are hashed through their JSON rendering (Spark refuses
    * to hash MapType directly). */
  def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case _: DecimalType => round(c, 6)
    case ArrayType(e, _) => transform(c, normalize(_, e))
    case StructType(fs) if fs.nonEmpty =>
      struct(fs.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: MapType => to_json(map_entries(c))
    case _ => c
  }

  /** The aggregate columns of a digest; evaluated by one job. The 64-bit
    * row hashes are summed as two 32-bit halves, which cannot overflow. */
  def digestColumns(df: DataFrame): Seq[Column] = {
    val fields = df.schema.fields.toSeq
    val h =
      if (fields.isEmpty) lit(0L)
      else xxhash64(fields.zipWithIndex.map { case (f, i) =>
        normalize(col(s"c$i"), f.dataType) }: _*)
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  /** Columns renamed c0, c1, …, so duplicate or odd names hash too. */
  def positional(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"c$i"): _*)

  def digest(df: DataFrame): Digest = {
    val r = positional(df).select(digestColumns(df): _*).head()
    Digest(r.getLong(0), f"${r.getLong(2)}%x-${r.getLong(1)}%x")
  }
}
