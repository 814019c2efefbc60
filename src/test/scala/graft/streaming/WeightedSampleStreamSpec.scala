package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class WeightedSampleStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streamed top-k sample equals the one-shot batch sample; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val statePath = java.nio.file.Files.createTempDirectory("wsk-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("wsk-ckpt").toString
    val input = MemoryStream[(Long, Double)]
    val q = StreamOps.foreachEpoch(input.toDS().toDF("id", "w"), ckpt)(
      StreamOps.weightedSampleBatch(_, _, key = "id", weight = col("w"), k = 20, salt = "s1",
        statePath = statePath))
    val epoch0 = (1L to 300L).map(i => (i, if (i % 3 == 0) 10.0 else 1.0))
    val epoch1 = (301L to 600L).map(i => (i, if (i % 3 == 0) 10.0 else 1.0))
    try {
      input.addData(epoch0: _*)
      q.processAllAvailable()
      input.addData(epoch1: _*)
      q.processAllAvailable()

      val streamed = StreamOps.weightedSampleReadout(spark, statePath,
        "id", "w", k = 20, salt = "s1").select("id").as[Long].collect().toSet
      val batch = graft.operators.Sampling.weightedSampleK(
        (epoch0 ++ epoch1).toDF("id", "w"), col("id"), col("w"), k = 20, salt = "s1")
        .select("id").as[Long].collect().toSet
      assert(streamed.size == 20)
      assert(streamed == batch, "global winners must win their own batch — sets must agree")

      // at-least-once replay of epoch 1 rewrites identical candidates
      StreamOps.weightedSampleBatch(epoch1.toDF("id", "w"), 1L,
        "id", col("w"), 20, "s1", statePath)
      val replayed = StreamOps.weightedSampleReadout(spark, statePath,
        "id", "w", k = 20, salt = "s1").select("id").as[Long].collect().toSet
      assert(replayed == streamed)
    } finally q.stop()
  }
}
