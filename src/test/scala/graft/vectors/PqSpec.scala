package graft.vectors

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {
  import spark.implicits._

  // deterministic 8-dim cloud with two planted modes per half-space, so
  // a k=4 codebook has obvious structure to find
  private val cloud = (0 until 300).map { i =>
    val mode = i % 2
    (i.toLong, (0 until 8).map { d =>
      val base = if (d < 4) mode * 4.0 else (1 - mode) * 4.0
      (base + 0.3 * math.sin(i * 0.917 + d)).toFloat
    })
  }
  private lazy val df = cloud.toDF("id", "vec")

  private def mse(m: Pq.PqModel): Double =
    df.select(VectorOps.toDouble(col("vec")).as("v"))
      .withColumn("r", m.decode(m.encode(col("v"))))
      .select(avg(aggregate(zip_with(col("v"), col("r"),
        (a, b) => (a - b) * (a - b)), lit(0.0), _ + _)))
      .head().getDouble(0)

  test("encode emits m codes in range; decode reconstructs subspace-wise") {
    val m = Pq.train(df, "id", "vec", dim = 8, m = 2, kCodes = 4, rounds = 2)
    val codes = df.select(m.encode(col("vec")).as("c"))
      .select(col("c")).as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 2 && c.forall(x => x >= 0 && x < 4)))
    // reconstruction lands near the input for a well-clustered cloud
    assert(mse(m) < 0.5, s"mse=${mse(m)}")
  }

  test("Lloyd rounds never worsen the quantization error") {
    val m0 = Pq.train(df, "id", "vec", dim = 8, m = 2, kCodes = 4, rounds = 0)
    val m1 = Pq.train(df, "id", "vec", dim = 8, m = 2, kCodes = 4, rounds = 1)
    val m3 = Pq.train(df, "id", "vec", dim = 8, m = 2, kCodes = 4, rounds = 3)
    assert(mse(m1) <= mse(m0) + 1e-9)
    assert(mse(m3) <= mse(m1) + 1e-9)
  }

  test("ADC distance equals the exact distance to the decoded vector") {
    val m = Pq.train(df, "id", "vec", dim = 8, m = 2, kCodes = 4, rounds = 2)
    val query = (0 until 8).map(d => 1.0 + 0.1 * d).toArray
    val qLit = typedLit(query.toSeq)
    val rows = df.select(VectorOps.toDouble(col("vec")).as("v"))
      .withColumn("codes", m.encode(col("v")))
      .withColumn("adc", m.adcDistance(col("codes"), query))
      .withColumn("exact", aggregate(zip_with(m.decode(col("codes")), qLit,
        (a, b) => (a - b) * (a - b)), lit(0.0), _ + _))
      .select("adc", "exact").as[(Double, Double)].collect()
    rows.foreach { case (adc, exact) =>
      assert(math.abs(adc - exact) < 1e-9, s"$adc vs $exact") }
  }

  test("training is deterministic (md5 init, no RNG)") {
    val a = Pq.train(df, "id", "vec", dim = 8, m = 4, kCodes = 4, rounds = 2)
    val b = Pq.train(df, "id", "vec", dim = 8, m = 4, kCodes = 4, rounds = 2)
    assert(a.codebooks.flatten.flatten.toSeq == b.codebooks.flatten.flatten.toSeq)
  }

  test("contracts: m must divide dim; enough seed vectors required") {
    intercept[IllegalArgumentException] {
      Pq.train(df, "id", "vec", dim = 8, m = 3, kCodes = 4)
    }
    intercept[IllegalArgumentException] {
      Pq.train(df.limit(2), "id", "vec", dim = 8, m = 2, kCodes = 4)
    }
  }

  test("two expressions from one model are semantically equal (one shared codebook)") {
    val m = Pq.PqModel(dim = 4, m = 2, kCodes = 2,
      Array.fill(2)(Array(Array(0.0, 1.0), Array(1.0, 0.0))))
    // analysed, so the lambda variable of the double cast is resolved
    // and canonicalisation can compare the two trees
    def pair(c: => org.apache.spark.sql.Column) =
      Seq((Seq(1.0, 0.0, 0.0, 1.0), Seq(0, 1))).toDF("vec", "codes")
        .select(c.as("a"), c.as("b")).queryExecution.analyzed.expressions
        .map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias].child)
    Seq(pair(m.quantErr(col("vec"))), pair(m.encode(col("vec"))),
        pair(m.adcL2(col("vec"), col("codes")))).foreach { case Seq(a, b) =>
      assert(a semanticEquals b, s"$a vs $b")
    }
  }
}
