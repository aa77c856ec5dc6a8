package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result fingerprint: row count plus the sum of a
  * per-row xxhash64. Floating-point values are rounded to 6 decimals and
  * -0.0 is folded into 0.0 first, so summation order inside an aggregate
  * cannot change the fingerprint.
  */
object Fingerprint {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) if hasFloat(et) => transform(c, x => norm(x, et))
    case StructType(fs) if fs.exists(f => hasFloat(f.dataType)) =>
      struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) if hasFloat(kt) || hasFloat(vt) =>
      map_from_entries(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("key"), norm(e.getField("value"), vt).as("value"))))
    case _ => c
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _)       => hasFloat(et)
    case StructType(fs)         => fs.exists(f => hasFloat(f.dataType))
    case MapType(kt, vt, _)     => hasFloat(kt) || hasFloat(vt)
    case _                      => false
  }

  /** "rows:hashsum" of a result; column order does not matter either. */
  def of(df: DataFrame): String = {
    val fields = df.schema.fields.sortBy(_.name)
    val h = xxhash64(fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType)): _*)
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast(DecimalType(38, 0))))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }
}
