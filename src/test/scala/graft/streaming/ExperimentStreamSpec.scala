package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class ExperimentStreamSpec extends SparkSpec {
  import spark.implicits._

  test("cross-epoch conversions count entities once; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val statePath = java.nio.file.Files.createTempDirectory("exp-state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("exp-ckpt").toString
    // (user, variant, event_type, value)
    val input = MemoryStream[(Long, String, String, Double)]
    val q = StreamOps.foreachEpoch(input.toDS().toDF("u", "v", "et", "value"), ckpt)(
      StreamOps.experimentStateBatch(_, _, entity = "u", variant = col("v"),
        converted = col("et") === "buy", value = col("value"), statePath = statePath))
    try {
      // epoch 0: users 1,2 (A) and 3,4 (B) exposed; user 3 converts
      input.addData((1L, "A", "view", 0.0), (2L, "A", "view", 0.0),
        (3L, "B", "buy", 5.0), (4L, "B", "view", 0.0))
      q.processAllAvailable()
      // epoch 1: user 1 converts LATE (exposed in epoch 0), user 3 converts AGAIN
      input.addData((1L, "A", "buy", 7.0), (3L, "B", "buy", 2.0))
      q.processAllAvailable()

      val out = StreamOps.experimentReadout(spark, statePath).collect().head
      assert(out.getAs[Long]("n_a") == 2 && out.getAs[Long]("n_b") == 2)
      assert(out.getAs[Long]("conv_a") == 1, "late cross-epoch conversion counts once")
      assert(out.getAs[Long]("conv_b") == 1, "double conversion still counts once")
      assert(math.abs(out.getAs[Double]("rev_a") - 7.0) < 1e-12)
      assert(math.abs(out.getAs[Double]("rev_b") - 7.0) < 1e-12, "values SUM across epochs")

      // streamed state ≡ one-shot batch answer over the union of events
      val allEvents = Seq((1L, "A", "view", 0.0), (2L, "A", "view", 0.0),
        (3L, "B", "buy", 5.0), (4L, "B", "view", 0.0),
        (1L, "A", "buy", 7.0), (3L, "B", "buy", 2.0)).toDF("u", "v", "et", "value")
      val batchOut = graft.analytics.Experiment.abTest(allEvents,
        col("u"), col("v"), col("et") === "buy", col("value")).collect().head
      assert(out == batchOut, "streamed readout must equal the batch answer")

      // replaying epoch 1 (at-least-once) leaves the readout identical
      StreamOps.experimentStateBatch(
        Seq((1L, "A", "buy", 7.0), (3L, "B", "buy", 2.0)).toDF("u", "v", "et", "value"),
        1L, "u", col("v"), col("et") === "buy", col("value"), statePath)
      val replayed = StreamOps.experimentReadout(spark, statePath).collect().head
      assert(replayed == out)
    } finally q.stop()
  }
}
