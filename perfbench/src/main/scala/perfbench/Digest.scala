package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content digest of a query's output: the row count
  * plus the sum of a 64-bit hash of each canonical row. Canonical form
  * follows `tools/check_local.py`: columns sorted by name, floating
  * values rounded to 6 places (so a 1e-7 wobble does not change the
  * digest), applied inside arrays, structs and maps too; map entries
  * are sorted so their order does not count either. */
object Digest {

  final case class Value(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val r = round(c.cast(DoubleType), 6)
      when(r === 0.0, lit(0.0)).otherwise(r) // -0.0 and 0.0 read the same
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      when(c.isNotNull, struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def of(df: DataFrame): Value = {
    val fields = df.schema.fields.toIndexedSeq.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    // positional renames: outputs may carry duplicate or dotted names
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val names = lit(fields.map(_._1.name).mkString(","))
    val cols = fields.map { case (f, i) => canon(col(s"c$i"), f.dataType) }
    val row = renamed.select(xxhash64(names +: cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    Value(row.getLong(0), Option(row.getDecimal(1)).fold("0")(_.toPlainString))
  }
}
