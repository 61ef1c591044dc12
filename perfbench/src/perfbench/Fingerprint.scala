package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a query result: the row count and the
  * exact sum of one 64-bit hash per row. Floating values are first printed
  * with 10 significant digits, so a last-bit difference from a different
  * summation order (another core count) does not read as a wrong answer;
  * maps are hashed as their key-sorted entry arrays. */
object Fingerprint {
  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      // adding 0.0 folds -0.0 into 0.0
      format_string("%.9e", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType =>
      struct(st.fields.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      val et = StructType(Seq(StructField("key", kt), StructField("value", vt)))
      array_sort(canon(map_entries(c), ArrayType(et)))
    case _ => c
  }

  /** (rows, fingerprint) of `df`. Column names are replaced by position
    * first, so results with duplicate names hash too. */
  def of(df: DataFrame): (Long, String) = {
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = pos.schema.fields.toIndexedSeq.map(f => canon(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = pos.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }
}
