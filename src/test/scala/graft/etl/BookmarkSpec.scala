package graft.etl

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.functions._

class BookmarkSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // the same local directory named by a scheme-qualified URI
  // (file:///tmp/...): roots on hdfs:// or s3a:// look like this one
  private def fileUri(path: String): String = java.nio.file.Paths.get(path).toUri.toString

  for ((label, root) <- Seq("" -> ((p: String) => p), " (file:// root)" -> (fileUri _)))
  test(s"first pull takes everything; later pulls take strictly-newer tails only$label") {
    val path = root(java.nio.file.Files.createTempDirectory("bookmark").toString + "/bm")
    val day1 = Seq((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:00:00")))
      .toDF("id", "ts")
    assert(Bookmark.read(spark, path).isEmpty)
    val pull1 = Bookmark.incrementalPull(day1, col("ts"), Bookmark.read(spark, path))
    assert(pull1.count() === 2L)
    Bookmark.advance(spark, path, pull1, col("ts"))
    assert(Bookmark.read(spark, path) === Some(ts("2024-01-01 11:00:00")))
    // next run: one old row (re-delivered upstream) + one new
    val day2 = day1.unionAll(
      Seq((3L, ts("2024-01-02 09:00:00"))).toDF("id", "ts"))
    val pull2 = Bookmark.incrementalPull(day2, col("ts"), Bookmark.read(spark, path))
    assert(pull2.select("id").as[Long].collect().toSeq === Seq(3L))
    Bookmark.advance(spark, path, pull2, col("ts"))
    assert(Bookmark.read(spark, path) === Some(ts("2024-01-02 09:00:00")))
  }

  test("crash between land and advance re-pulls the tail (at-least-once); empty delta keeps the mark") {
    val path = java.nio.file.Files.createTempDirectory("bookmark2").toString + "/bm"
    val src = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("id", "ts")
    val p1 = Bookmark.incrementalPull(src, col("ts"), Bookmark.read(spark, path))
    assert(p1.count() === 1L)
    // CRASH: advance never ran → the same pull repeats in full
    val p1again = Bookmark.incrementalPull(src, col("ts"), Bookmark.read(spark, path))
    assert(p1again.count() === 1L)
    Bookmark.advance(spark, path, p1again, col("ts"))
    // an empty incremental run must NOT move the watermark
    val empty = Bookmark.incrementalPull(src, col("ts"), Bookmark.read(spark, path))
    assert(empty.count() === 0L)
    assert(Bookmark.advance(spark, path, empty, col("ts"))
      === Some(ts("2024-01-01 10:00:00")))
    assert(Bookmark.read(spark, path) === Some(ts("2024-01-01 10:00:00")))
  }

  test("a first advance that crashed mid-write reads as no bookmark (full re-pull)") {
    val path = java.nio.file.Files.createTempDirectory("bookmark-crash").toString + "/bm"
    crashedWrite(path)
    assert(Bookmark.read(spark, path).isEmpty)
    val src = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("id", "ts")
    val pull = Bookmark.incrementalPull(src, col("ts"), Bookmark.read(spark, path))
    assert(pull.count() === 1L)
    Bookmark.advance(spark, path, pull, col("ts"))
    assert(Bookmark.read(spark, path) === Some(ts("2024-01-01 10:00:00")))
  }

  test("the bookmark predicate pushes into the parquet scan") {
    val dataDir = java.nio.file.Files.createTempDirectory("bm-src").toString
    (1 to 100).map(i => (i.toLong, ts(f"2024-01-01 10:00:${i % 60}%02d")))
      .toDF("id", "ts").write.mode("overwrite").parquet(dataDir)
    val pulled = Bookmark.incrementalPull(spark.read.parquet(dataDir), col("ts"),
      Some(ts("2024-01-01 10:00:30")))
    val pushed = pulled.queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters") && pushed.contains("GreaterThan(ts"),
      s"bookmark filter must reach the scan:\n$pushed")
  }
}
