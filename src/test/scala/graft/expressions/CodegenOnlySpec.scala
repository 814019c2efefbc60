package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every native expression with a hand-written `doGenCode` must really
  * compile. By default a Janino compile error in a whole-stage or
  * projection codegen path silently drops to interpreted eval; here
  * `spark.sql.codegen.fallback=false` and
  * `spark.sql.codegen.factoryMode=CODEGEN_ONLY` turn it into a failed
  * query. Each compiled result must equal the interpreted one
  * (`NO_CODEGEN`, whole-stage codegen off) on the same rows, a null
  * row included. */
class CodegenOnlySpec extends SparkSpec {

  /** Set `kvs` for the duration of `body`, then restore each key's
    * previous value (or unset it). */
  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // read back from parquet, so the projection runs in a codegen stage
  // instead of being folded into a local relation on the driver
  private lazy val input: DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("text", StringType),
      StructField("word", StringType),
      StructField("toks", ArrayType(StringType, containsNull = false)),
      StructField("starts", ArrayType(IntegerType, containsNull = false)),
      StructField("vec", ArrayType(DoubleType)),
      StructField("vec2", ArrayType(DoubleType)),
      StructField("codes", ArrayType(IntegerType))))
    val rows = java.util.List.of(
      Row(1L, "the cat sat on the mat today.\nthe cat sat again on a mat.\nshort",
        "thecatsat", Seq("the", "cat", "sat", "on", "the", "mat", "the", "cat", "sat"),
        Seq(0, 4), Seq(1.0, 0.5, -2.0, 3.0), Seq(0.5, 0.5, 0.5, 0.5), Seq(0, 1)),
      Row(2L, "cafÃ© naÃ¯ve    déjà   vu.", "catmat",
        Seq("café", "a", "a", "a", "naïve"), Seq(1),
        Seq(0.0, -1.0, 2.5, 0.25), Seq(1.0, 2.0, 3.0, 4.0), Seq(1, 0)),
      Row(3L, null, null, null, null, null, null, null))
    val dir = java.nio.file.Files.createTempDirectory("graft-codegen").resolve("in").toString
    spark.createDataFrame(rows, schema).write.parquet(dir)
    spark.read.parquet(dir)
  }

  // m = 2 subspaces × kCodes = 2 × subDim = 2
  private val books = Array(0.0, 0.0, 1.0, 1.0, -1.0, 2.0, 3.0, 3.0)

  private lazy val bloomBytes = BloomSketch.build(input, col("text"), 100L, 0.01)
  private lazy val cmBytes = CountMin.build(input, col("word"))

  /** The 17 expressions that implement `doGenCode`, by class name;
    * built lazily, since the sketch bytes need the session. */
  private val native: Seq[(String, () => Column)] = Seq(
    "BloomMightContain" -> (() =>
      BloomSketch.mightContain(bloomBytes, col("text"))),
    "BloomMightContainBc" -> (() =>
      BloomSketch.mightContain(spark.sparkContext.broadcast(bloomBytes), col("word"))),
    "GearChunks" -> (() =>
      CdcExpressions.gearChunks(col("text"), minLen = 4, avgBits = 2, maxLen = 16)),
    "CountMinEstimate" -> (() =>
      CountMin.estimate(cmBytes, col("word"))),
    "FixMojibake" -> (() =>
      MojibakeExpressions.fixMojibake(col("text"))),
    "PqEncode" -> (() =>
      PqExpressions.pqEncode(col("vec"), 2, 2, 2, books)),
    "PqAdcL2" -> (() =>
      PqExpressions.pqAdcL2(col("vec"), col("codes"), 2, 2, 2, books)),
    "PqQuantErr" -> (() =>
      PqExpressions.pqQuantErr(col("vec"), 2, 2, 2, books)),
    "SpanMask" -> (() =>
      SpanExpressions.spanMask(col("toks"), col("starts"), 2)),
    "StopwordHitCounts" -> (() =>
      TextExpressions.setHitCounts(col("toks"), Seq(Seq("the", "a"), Seq("cat")))),
    "NgramRepStats" -> (() =>
      TextExpressions.ngramRepStats(col("toks"), Seq(2, 3))),
    "FleschCounts" -> (() =>
      TextExpressions.fleschCounts(col("toks"))),
    "C4LineClean" -> (() =>
      TextExpressions.c4LineClean(col("text"), 3)),
    "TextNormalize" -> (() =>
      TextExpressions.textNormalize(col("text"))),
    "ViterbiSegment" -> (() =>
      UnigramExpressions.viterbiSegment(col("word"),
        Map("the" -> -1.0, "cat" -> -1.5, "sat" -> -2.0, "mat" -> -2.5), 5, -10.0)),
    "DotProduct" -> (() =>
      VectorExpressions.dotNative(col("vec"), col("vec2"))),
    "HyperplaneSigs" -> (() =>
      VectorExpressions.hyperplaneSigsNative(col("vec"), 2, 4, 4)))

  private def run(c: Column): (Seq[Row], Boolean) = {
    val df = input.select(col("id"), c.as("out"))
    val wholeStage = df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
    (df.collect().toSeq.sortBy(_.getLong(0)), wholeStage)
  }

  for ((name, c) <- native) test(s"$name compiles under CODEGEN_ONLY and matches NO_CODEGEN") {
    val (interpreted, interpretedStaged) = withConf(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run(c()))
    val (compiled, compiledStaged) = withConf(
        "spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(run(c()))
    assert(!interpretedStaged, s"$name: the reference run must not use whole-stage codegen")
    assert(compiledStaged, s"$name: the compiled run must use whole-stage codegen")
    assert(compiled.size == 3)
    assert(compiled == interpreted, s"$name: codegen and interpreted results differ")
  }
}
