package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class MedallionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-medallion").resolve("data").toString

  // the same local directory named by a scheme-qualified URI
  // (file:///tmp/...): roots on hdfs:// or s3a:// look like this one
  private def fileUri(path: String): String = java.nio.file.Paths.get(path).toUri.toString

  for ((label, root) <- Seq("" -> ((p: String) => p), " on a file:// root" -> (fileUri _)))
  test(s"runIncremental processes each partition exactly once (.done markers)$label") {
    val bronze = root(tmp())
    val silver = root(tmp())
    Seq((1L, "2024-01-01"), (2L, "2024-01-01"), (3L, "2024-01-02"))
      .toDF("id", Medallion.PartitionCol)
      .write.partitionBy(Medallion.PartitionCol).parquet(bronze)

    val first = Medallion.runIncremental(spark, bronze, silver, df => df.withColumn("x", col("id") * 2))
    assert(first == Seq("2024-01-01", "2024-01-02"))

    // idempotent: nothing left to do
    val second = Medallion.runIncremental(spark, bronze, silver, identity)
    assert(second.isEmpty)

    // late-arriving partition picked up, earlier ones untouched
    Seq((4L, "2024-01-03")).toDF("id", Medallion.PartitionCol)
      .write.mode("append").partitionBy(Medallion.PartitionCol).parquet(bronze)
    val third = Medallion.runIncremental(spark, bronze, silver, df => df.withColumn("x", col("id") * 2))
    assert(third == Seq("2024-01-03"))

    val out = spark.read.parquet(s"$silver/${Medallion.PartitionCol}=2024-01-01")
    assert(out.select(sum("x")).as[Long].head() == 6L)
  }

  test("partition filters prune the Hive layout at the scan") {
    val root = tmp()
    Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-03"))
      .toDF("id", Medallion.PartitionCol)
      .write.partitionBy(Medallion.PartitionCol).parquet(root)
    val q = spark.read.parquet(root).filter(col(Medallion.PartitionCol) === "2024-01-02")
    val scan = q.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.nonEmpty, "partition filter did not reach the scan")
    assert(scan.relation.location.inputFiles.length == 3) // layout has 3 partitions...
    assert(q.count() == 1) // ...but only one is read
  }

  test("Silver→Gold: KPI stage runs incrementally through runIncremental (kpis.py:182-205 shape)") {
    import graft.analytics.Kpis
    val silver = tmp()
    val gold = tmp()
    // two Silver partitions of (franchise, revenue) fact rows
    Seq(
      ("alpha", 10.0, "2024-01-01"), ("alpha", 20.0, "2024-01-01"), ("beta", 5.0, "2024-01-01"),
      ("beta", 40.0, "2024-01-02"), ("gamma", 1.0, "2024-01-02"))
      .toDF("franchise", "revenue", Medallion.PartitionCol)
      .write.partitionBy(Medallion.PartitionCol).parquet(silver)

    // the reference's Gold stage: per unprocessed Silver date, run the
    // KPI aggregation and write it date-partitioned with a .done marker
    val goldStage: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => Kpis.topGroups(df, col("franchise"), col("revenue"), n = 10)
    val first = Medallion.runIncremental(spark, silver, gold, goldStage)
    assert(first == Seq("2024-01-01", "2024-01-02"))
    assert(Medallion.runIncremental(spark, silver, gold, goldStage).isEmpty) // idempotent

    val day1 = spark.read.parquet(s"$gold/${Medallion.PartitionCol}=2024-01-01")
      .orderBy(desc("sum_value")).collect()
    assert(day1.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("alpha", 2L, 30.0), ("beta", 1L, 5.0)))

    // late Silver partition → only the new date's KPIs recompute
    Seq(("alpha", 7.0, "2024-01-03")).toDF("franchise", "revenue", Medallion.PartitionCol)
      .write.mode("append").partitionBy(Medallion.PartitionCol).parquet(silver)
    assert(Medallion.runIncremental(spark, silver, gold, goldStage) == Seq("2024-01-03"))
    assert(spark.read.parquet(s"$gold/${Medallion.PartitionCol}=2024-01-03").count() == 1)
  }

  test("parallel submission processes all partitions once with same results as serial") {
    val bronze = tmp()
    val silver = tmp()
    Seq.tabulate(6)(i => (i.toLong, s"2024-02-0${i + 1}"))
      .toDF("id", Medallion.PartitionCol)
      .write.partitionBy(Medallion.PartitionCol).parquet(bronze)
    val done = Medallion.runIncremental(spark, bronze, silver,
      df => df.withColumn("x", col("id") * 2), parallelism = 4)
    assert(done == (1 to 6).map(i => s"2024-02-0$i"))
    // every partition written exactly once, markers all present
    (1 to 6).foreach { i =>
      assert(Medallion.isDone(spark, silver, s"2024-02-0$i"))
      assert(spark.read.parquet(s"$silver/${Medallion.PartitionCol}=2024-02-0$i").count() == 1)
    }
    assert(Medallion.runIncremental(spark, bronze, silver, identity, parallelism = 4).isEmpty)
  }

  test("parallel submission: one failing partition doesn't lose siblings' markers") {
    val bronze = tmp()
    val silver = tmp()
    Seq((1L, "2024-03-01"), (2L, "2024-03-02"), (3L, "2024-03-03"))
      .toDF("id", Medallion.PartitionCol)
      .write.partitionBy(Medallion.PartitionCol).parquet(bronze)
    val boom: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = df =>
      df.withColumn("x",
        when(col("id") === 2L, raise_error(lit("poison partition"))).otherwise(col("id")))
    val err = intercept[Exception](
      Medallion.runIncremental(spark, bronze, silver, boom, parallelism = 3))
    assert(err.getMessage != null)
    // healthy partitions committed their markers; the poison one did not
    assert(Medallion.isDone(spark, silver, "2024-03-01"))
    assert(Medallion.isDone(spark, silver, "2024-03-03"))
    assert(!Medallion.isDone(spark, silver, "2024-03-02"))
    // resume processes ONLY the failed partition
    val resumed = Medallion.runIncremental(spark, bronze, silver,
      df => df.withColumn("x", col("id")))
    assert(resumed == Seq("2024-03-02"))
  }

  test("re-run after failed marker write overwrites, never duplicates") {
    val bronze = tmp()
    val silver = tmp()
    Seq((1L, "2024-01-01")).toDF("id", Medallion.PartitionCol)
      .write.partitionBy(Medallion.PartitionCol).parquet(bronze)
    Medallion.runIncremental(spark, bronze, silver, identity)
    // simulate a crashed run: delete the marker, rerun
    Files.delete(java.nio.file.Paths.get(silver, ".done_2024-01-01"))
    Medallion.runIncremental(spark, bronze, silver, identity)
    assert(spark.read.parquet(s"$silver/${Medallion.PartitionCol}=2024-01-01").count() == 1)
  }
}
