package graft.streaming

import graft.SparkSpec
import graft.sources.BloomIndex
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class BloomIngestSpec extends SparkSpec {
  import spark.implicits._

  test("streamed batches land with live sidecars; lookups prune to the right epoch; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dataRoot = java.nio.file.Files.createTempDirectory("bloom-data").toString
    val indexRoot = java.nio.file.Files.createTempDirectory("bloom-idx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bloom-ckpt").toString
    val input = MemoryStream[(String, Long)]
    val q = StreamOps.foreachEpoch(input.toDS().toDF("user", "v"), ckpt)(
      StreamOps.bloomIndexedBatch(_, _, column = "user", dataRoot = dataRoot,
        indexRoot = indexRoot, expectedPerFile = 100, fpp = 0.01))
    try {
      input.addData(("alice", 1L), ("bob", 2L))
      q.processAllAvailable()
      input.addData(("carol", 3L), ("dave", 4L))
      q.processAllAvailable()
      // all rows landed, epoch-partitioned
      assert(spark.read.parquet(dataRoot).count() === 4L)
      val index = spark.read.parquet(indexRoot)
      assert(index.count() >= 2L) // ≥ one file row per epoch
      // the sidecar prunes a point lookup to the file(s) of the right epoch
      val cands = BloomIndex.candidateFiles(index, "carol")
      assert(cands.nonEmpty && cands.forall(_.contains("batch=1")),
        s"carol arrived in epoch 1, candidates were $cands")
      val hit = spark.read.option("basePath", dataRoot).parquet(cands: _*)
        .filter(col("user") === "carol")
      assert(hit.count() === 1L)
      // replaying epoch 1 rewrites identical data AND identical pruning
      StreamOps.bloomIndexedBatch(Seq(("carol", 3L), ("dave", 4L)).toDF("user", "v"),
        1L, "user", dataRoot, indexRoot, 100L, 0.01)
      assert(spark.read.parquet(dataRoot).count() === 4L)
      val cands2 = BloomIndex.candidateFiles(spark.read.parquet(indexRoot), "carol")
      assert(cands2.nonEmpty && cands2.forall(_.contains("batch=1")))
    } finally q.stop()
  }
}
