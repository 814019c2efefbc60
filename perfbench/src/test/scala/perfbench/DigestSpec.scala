package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("x", DoubleType),
    StructField("v", ArrayType(DoubleType)),
    StructField("m", MapType(StringType, DoubleType)),
    StructField("s", StructType(Seq(StructField("a", StringType), StructField("b", FloatType))))))

  private val rows = Seq(
    Row(1L, 0.5, Seq(1.25, 2.0), Map("a" -> 1.0, "b" -> 2.0), Row("p", 1.5f)),
    Row(2L, -3.125, Seq(), Map("c" -> 3.0), Row("q", 2.5f)),
    Row(3L, 1e6 + 0.123456, null, null, null))

  private def digest(rs: Seq[Row], sch: StructType = schema) =
    Digest.of(spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), sch))

  test("reordered rows give the same digest") {
    assert(digest(rows) == digest(rows.reverse))
    assert(digest(rows).rows == 3)
  }

  test("reordered columns give the same digest") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    assert(Digest.of(df) == Digest.of(df.select("s", "x", "m", "k", "v")))
  }

  test("a 1e-7 change to a double gives the same digest") {
    def nudge(r: Row) = Row(r.getLong(0), r.getDouble(1) + 1e-7, r.get(2), r.get(3), r.get(4))
    assert(digest(rows) == digest(rows.map(nudge)))
    val inArray = rows.updated(0, Row(1L, 0.5, Seq(1.25 + 1e-7, 2.0), Map("a" -> 1.0, "b" -> 2.0), Row("p", 1.5f)))
    assert(digest(rows) == digest(inArray))
  }

  test("a changed row gives a different digest") {
    assert(digest(rows) != digest(rows.updated(1, Row(2L, -3.125, Seq(), Map("c" -> 3.5), Row("q", 2.5f)))))
    assert(digest(rows) != digest(rows.updated(0, Row(1L, 0.5001, Seq(1.25, 2.0), Map("a" -> 1.0, "b" -> 2.0), Row("p", 1.5f)))))
    assert(digest(rows) != digest(rows.updated(2, Row(4L, 1e6 + 0.123456, null, null, null))))
  }

  test("a duplicated or dropped row gives a different digest") {
    assert(digest(rows) != digest(rows :+ rows.head))
    assert(digest(rows) != digest(rows.tail))
  }

  test("map entry order and the sign of zero do not count") {
    val sch = StructType(Seq(StructField("m", MapType(StringType, DoubleType)), StructField("z", DoubleType)))
    assert(digest(Seq(Row(Map("a" -> 1.0, "b" -> 2.0), 0.0)), sch) ==
      digest(Seq(Row(Map("b" -> 2.0, "a" -> 1.0), -0.0)), sch))
  }
}
