package e2ebench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a relation: its row count plus the
  * sum and xor of a 64-bit hash per row. Columns enter in name order;
  * floating values are printed with 9 significant digits first, so a
  * different summation order in an aggregate does not change the
  * fingerprint.
  */
object Fingerprint {
  final case class Fp(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      // -0.0 and 0.0 print differently; NaN stays NaN
      format_string("%.8e", when(d === 0.0, lit(0.0)).otherwise(d))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType =>
      struct(st.fields.map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(kt, vt, _) =>
      array_sort(canon(map_entries(c),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt))))))
    case _: DecimalType => c.cast(StringType)
    case _ => c
  }

  def of(df: DataFrame): Fp = {
    val fields = df.schema.fields.sortBy(_.name)
    val names = fields.map(_.name).mkString(",")
    val h = xxhash64(lit(names) +: fields.map(f => canon(col(s"`${f.name}`"), f.dataType)).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h")))
      .head()
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toString
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    Fp(r.getLong(0), s"$s/${java.lang.Long.toHexString(x)}")
  }
}
