package graft.streaming

import graft.SparkSpec
import graft.etl.Scd
import graft.operators.Relational
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class PitEnrichSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val dim = {
    // user 1: state 'a' from 10:00, 'b' from 11:00; user 2: 'x' from 10:30
    val changes = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a"),
      (1L, ts("2024-01-01 11:00:00"), "b"),
      (2L, ts("2024-01-01 10:30:00"), "x"))
      .toDF("user_id", "ts", "state")
    Scd.fromChangeLog(changes, keyCols = Seq("user_id"), attrCols = Seq("state"),
      tsCol = "ts", tieBreak = Nil)
  }

  test("streamed facts enrich against the interval containing their event time; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("pit-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pit-ckpt").toString
    val input = MemoryStream[(Long, Long, Timestamp)]
    val facts = input.toDS().toDF("fact_id", "user_id", "fact_ts")
    val q = StreamOps.foreachEpoch(facts, ckpt)(
      StreamOps.pitEnrichedBatch(_, _, dim, key = "user_id", factTs = "fact_ts",
        attrCols = Seq("state"), outRoot = out))
    try {
      input.addData((1L, 1L, ts("2024-01-01 10:30:00")), (2L, 1L, ts("2024-01-01 11:30:00")))
      q.processAllAvailable()
      input.addData((3L, 2L, ts("2024-01-01 10:00:00")), (4L, 2L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      val got = spark.read.parquet(out)
        .select("fact_id", "pit_state").orderBy("fact_id")
        .as[(Long, Option[String])].collect().toSeq
      assert(got === Seq((1L, Some("a")), (2L, Some("b")),
        (3L, None), (4L, Some("x")))) // fact 3 precedes user 2's history
      // equals the batch C30 answer over all facts at once
      val all = Seq((1L, 1L, ts("2024-01-01 10:30:00")), (2L, 1L, ts("2024-01-01 11:30:00")),
        (3L, 2L, ts("2024-01-01 10:00:00")), (4L, 2L, ts("2024-01-01 12:00:00")))
        .toDF("fact_id", "user_id", "fact_ts")
      val batch = Relational.pointInTimeJoin(all, dim, "user_id", "fact_ts", Seq("state"))
        .select("fact_id", "pit_state").orderBy("fact_id")
        .as[(Long, Option[String])].collect().toSeq
      assert(got === batch)
      // replaying epoch 1 overwrites with identical content
      val before = got
      StreamOps.pitEnrichedBatch(
        Seq((3L, 2L, ts("2024-01-01 10:00:00")), (4L, 2L, ts("2024-01-01 12:00:00")))
          .toDF("fact_id", "user_id", "fact_ts"),
        1L, dim, "user_id", "fact_ts", Seq("state"), out)
      val after = spark.read.parquet(out)
        .select("fact_id", "pit_state").orderBy("fact_id")
        .as[(Long, Option[String])].collect().toSeq
      assert(after === before)
    } finally q.stop()
  }
}
