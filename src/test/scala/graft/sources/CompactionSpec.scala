package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("compact").toString

  test("compactDir collapses many small files into the derived count, content intact") {
    val in = tmp(); val out = tmp()
    val df = (0L until 1000L).map(i => (i, s"row$i")).toDF("id", "s")
    df.repartition(20).write.mode("overwrite").parquet(in) // 20 small files
    val stats = Compaction.compactDir(spark, in, out,
      targetBytes = 1L << 40) // huge target → exactly 1 file
    assert(stats.filesBefore == 20)
    assert(stats.filesAfter == 1)
    val back = spark.read.parquet(out).orderBy("id").as[(Long, String)].collect()
    assert(back.toSeq == (0L until 1000L).map(i => (i, s"row$i")))
  }

  test("compactDir counts the files Spark reads, not a crashed write's _temporary") {
    val in = tmp(); val out = tmp()
    (0L until 100L).map(i => (i, s"row$i")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(in)
    crashedWrite(in)
    val stats = Compaction.compactDir(spark, in, out, targetBytes = 1L << 40)
    assert(stats.filesBefore == 1 && stats.filesAfter == 1, s"got $stats")
    assert(spark.read.parquet(out).count() == 100)
  }

  test("compactDir derives the file count from listed bytes") {
    val in = tmp(); val out = tmp()
    (0L until 2000L).map(i => (i, "x" * 50)).toDF("id", "s")
      .repartition(40).write.mode("overwrite").parquet(in)
    val bytes = new java.io.File(in).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length()).sum
    val target = bytes / 3 + 1 // → ceil(bytes/target) = 3
    val stats = Compaction.compactDir(spark, in, out, targetBytes = target)
    assert(stats.filesAfter == 3, s"expected 3 files, got ${stats.filesAfter}")
    assert(spark.read.parquet(out).count() == 2000)
  }

  test("compactPartitioned preserves the layout and shrinks per-partition file counts") {
    val in = tmp(); val out = tmp()
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "2026-01-01" else "2026-01-02"))
      .toDF("id", "day")
    df.repartition(10).write.mode("overwrite").partitionBy("day").parquet(in)
    val stats = Compaction.compactPartitioned(spark, in, out, Seq("day"),
      targetBytes = 1L << 40) // → 1 file per partition value
    assert(stats.filesBefore == 20) // 10 tasks × 2 values
    assert(stats.filesAfter <= 2, s"expected ≤2 files, got ${stats.filesAfter}")
    // partition dirs survive
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("day=2026-01-01", "day=2026-01-02"))
    // content parity
    val back = spark.read.parquet(out).select("id", "day").as[(Long, String)].collect().toSet
    val orig = df.as[(Long, String)].collect().toSet
    assert(back == orig)
  }

  test("compactPartitioned survives path-escaped partition values (spaces etc.)") {
    val in = tmp(); val out = tmp()
    val df = (0L until 100L).map(i => (i, if (i % 2 == 0) "NOT SPECIFIED" else "a:b"))
      .toDF("id", "pv") // space and colon both get Hive path-escaped
    df.repartition(5).write.mode("overwrite").partitionBy("pv").parquet(in)
    val stats = Compaction.compactPartitioned(spark, in, out, Seq("pv"),
      targetBytes = 1L << 40)
    // every row survives — a raw path-segment comparison would drop them all
    assert(spark.read.parquet(out).count() == 100)
    assert(stats.filesAfter <= 2)
  }
}
