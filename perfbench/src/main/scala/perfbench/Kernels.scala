package perfbench

import graft.expressions.{CdcExpressions, PqExpressions, SpanExpressions, TextExpressions, VectorExpressions}
import graft.vectors.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Times each native Catalyst kernel of `graft.expressions` on its own,
  * at fixed input sizes: the input is generated deterministically and
  * cached in memory first, each kernel runs once untimed (codegen and
  * JIT), then `Reps` times through the noop sink; the median over the
  * row count is `ns_per_row` (the cached scan is included, as for every
  * kernel alike). `VectorOps.dot`, the interpreted higher-order-function
  * fold, is timed beside `dotNative` as its baseline. */
object Kernels {

  val VecRows = 40000
  val TextRows = 20000
  val Reps = 3
  private val Dims = 64
  private val PqM = 8
  private val PqK = 16
  private val PqSub = Dims / PqM

  val Names: Seq[String] = Seq("dot_native", "dot_fold", "hyperplane_sigs", "pq_encode",
    "pq_adc_l2", "span_mask", "gear_chunks", "c4_line_clean", "flesch_counts", "text_normalize")

  private def vec(seed: Int): Column = transform(sequence(lit(0), lit(Dims - 1)),
    d => (pmod(col("id") * (37 + seed) + d * 101, lit(97)) - 48).cast("double") / 48.0)

  private val Words = Array("spark", "query", "the", "stream", "vector", "table", "a",
    "window", "join", "filter", "value", "merge", "data", "row", "key")

  /** Multi-line text: 4-12 lines of 2-14 words, a pure function of id. */
  private def text: Column = {
    val w = typedLit(Words)
    array_join(transform(sequence(lit(1), pmod(col("id"), lit(9)) + 4), ln =>
      array_join(transform(sequence(lit(1), pmod(col("id") * 7 + ln * 3, lit(13)) + 2), i =>
        element_at(w, (pmod(col("id") * 31 + ln * 17 + i * 5, lit(Words.length)) + 1).cast("int"))),
        " ")), "\n")
  }

  def run(spark: SparkSession): Map[String, Double] = {
    val books = Array.tabulate(PqM * PqK * PqSub)(i => ((i * 7919) % 97 - 48) / 48.0)
    val vecs = spark.range(VecRows).select(vec(0).as("a"), vec(5).as("b"))
      .withColumn("codes", PqExpressions.pqEncode(col("b"), PqM, PqK, PqSub, books))
      .persist(StorageLevel.MEMORY_ONLY)
    val docs = spark.range(TextRows).select(text.as("text"))
      .withColumn("tokens", split(lower(col("text")), "\\s+"))
      .withColumn("starts", filter(sequence(lit(0), size(col("tokens")) - 1), i => pmod(i, lit(7)) === 0))
      .persist(StorageLevel.MEMORY_ONLY)
    vecs.count(); docs.count()

    val cases: Seq[(String, DataFrame, Long)] = Seq(
      ("dot_native", vecs.select(VectorExpressions.dotNative(col("a"), col("b"))), VecRows.toLong),
      ("dot_fold", vecs.select(VectorOps.dot(col("a"), col("b"))), VecRows.toLong),
      ("hyperplane_sigs", vecs.select(VectorExpressions.hyperplaneSigsNative(col("a"), 4, 16, Dims)),
        VecRows.toLong),
      ("pq_encode", vecs.select(PqExpressions.pqEncode(col("a"), PqM, PqK, PqSub, books)), VecRows.toLong),
      ("pq_adc_l2", vecs.select(PqExpressions.pqAdcL2(col("a"), col("codes"), PqM, PqK, PqSub, books)),
        VecRows.toLong),
      ("span_mask", docs.select(SpanExpressions.spanMask(col("tokens"), col("starts"), 3)), TextRows.toLong),
      ("gear_chunks", docs.select(CdcExpressions.gearChunks(col("text"))), TextRows.toLong),
      ("c4_line_clean", docs.select(TextExpressions.c4LineClean(col("text"), 3)), TextRows.toLong),
      ("flesch_counts", docs.select(TextExpressions.fleschCounts(col("tokens"))), TextRows.toLong),
      ("text_normalize", docs.select(TextExpressions.textNormalize(col("text"))), TextRows.toLong))

    def time(df: DataFrame): Long = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      System.nanoTime() - t0
    }
    val out = cases.map { case (name, df, rows) =>
      time(df)
      name -> Stats.median((1 to Reps).map(_ => time(df).toDouble)) / rows
    }.toMap
    vecs.unpersist(blocking = true); docs.unpersist(blocking = true)
    out
  }
}
