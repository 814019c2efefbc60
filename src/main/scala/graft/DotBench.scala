package graft

import graft.vectors.VectorOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Micro-benchmark for the three dot-product formulations the library
  * chose between (see [[graft.vectors.VectorOps.dot]] and
  * [[graft.expressions.VectorExpressions]]):
  *
  *  - `fold`     — interpreted `aggregate(zip_with(a,b,*), 0, +)` HOF
  *  - `unrolled` — `a[1]*b[1] + … + a[64]*b[64]` via `element_at`
  *  - `native`   — the codegen'd [[graft.expressions.DotProduct]]
  *
  * 1M vector pairs × 64 dims, materialized to parquet first so every
  * variant times the same scan + one dot per row through the noop sink
  * (not vector generation). Five timed runs per variant after two
  * warm-up passes, median reported; one JSON line out. The committed artifact is DOTBENCH.json —
  * the evidence behind the "native beats fold beats unrolled" claims in
  * VectorOps/VectorExpressions docstrings.
  */
object DotBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_DOT_N", "1000000").toLong
    val dims = 64
    val spark = Harness.session()
    import graft.expressions.VectorExpressions.dotNative

    val dir = graft.sources.Tmp.dir("graft-dotbench").resolve("pairs").toString
    // deterministic pseudo-random doubles in [-1, 1] — no RNG state
    def vec(seed: Int) = transform(sequence(lit(0), lit(dims - 1)),
      d => (pmod(col("id") * (37 + seed) + d * 101, lit(97)) - 48).cast("double") / 48.0)
    spark.range(n).select(col("id"), vec(0).as("a"), vec(5).as("b"))
      .write.mode("overwrite").parquet(dir)
    val pairs = spark.read.parquet(dir)

    val variants: Seq[(String, DataFrame)] = Seq(
      "fold" -> pairs.select(VectorOps.dot(col("a"), col("b")).as("d")),
      "unrolled" -> pairs.select(
        (1 to dims).map(i => element_at(col("a"), i) * element_at(col("b"), i))
          .reduce(_ + _).as("d")),
      "native" -> pairs.select(dotNative(col("a"), col("b")).as("d")))

    def time(df: DataFrame): Double = {
      val (t, err) = Harness.timeNoop(df)
      err.foreach(throw _)
      t
    }
    val runs = variants.map { case (name, df) =>
      time(df); time(df) // warm-up: codegen compile + JIT, untimed
      name -> (1 to 5).map(_ => time(df))
    }
    // median: the interpreted fold's run-to-run variance (allocation/GC)
    // makes min misleadingly flattering and max misleadingly damning
    def median(ts: Seq[Double]): Double = ts.sorted.apply(ts.size / 2)
    val fields = runs.map { case (name, ts) =>
      s""""$name":${median(ts)},"${name}_runs":[${ts.mkString(",")}]"""
    }.mkString(",")
    println(s"""{"metric":"dot_${n}x$dims","unit":"sec","n":$n,"dims":$dims,$fields}""")
    spark.stop()
  }
}
