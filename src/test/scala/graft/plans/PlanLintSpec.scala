package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class PlanLintSpec extends SparkSpec {
  import spark.implicits._

  private def rules(df: org.apache.spark.sql.DataFrame): Set[String] =
    PlanLint.lint(df).map(_.rule).toSet

  test("GLOBAL_WINDOW flags the bare ORDER BY window; the keyed twin is clean") {
    val df = spark.range(100).select(col("id"), (col("id") % 5).as("k"))
    val bad = df.withColumn("r", row_number().over(Window.orderBy("id")))
    val good = df.withColumn("r", row_number().over(Window.partitionBy("k").orderBy("id")))
    assert(rules(bad).contains("GLOBAL_WINDOW"))
    assert(!rules(good).contains("GLOBAL_WINDOW"))
  }

  test("CARTESIAN / NESTED_LOOP flag condition-free and non-equi joins; equi joins are clean") {
    val a = spark.range(10).toDF("x")
    val b = spark.range(10).toDF("y")
    assert(rules(a.crossJoin(b)).nonEmpty)
    val nonEqui = a.join(b, col("x") < col("y"))
    assert((rules(nonEqui) intersect Set("CARTESIAN", "NESTED_LOOP")).nonEmpty)
    val equi = a.join(b, col("x") === col("y"))
    assert((rules(equi) intersect Set("CARTESIAN", "NESTED_LOOP")).isEmpty)
  }

  test("SINGLE_PARTITION_EXCHANGE flags repartition(1) feeding work") {
    val df = spark.range(100).repartition(1).groupBy((col("id") % 3).as("g")).count()
    assert(rules(df).contains("SINGLE_PARTITION_EXCHANGE"))
    val ok = spark.range(100).groupBy((col("id") % 3).as("g")).count()
    assert(!rules(ok).contains("SINGLE_PARTITION_EXCHANGE"))
  }

  test("UNPRUNED_WIDE_SCAN flags select-star over a wide table; pruned twin is clean") {
    val dir = java.nio.file.Files.createTempDirectory("lint-wide").toString
    spark.range(100).select(
      col("id"), col("id").as("a"), col("id").as("b"), col("id").as("c"),
      col("id").as("d"), col("id").as("e"), col("id").as("f"))
      .write.mode("overwrite").parquet(dir)
    val wide = spark.read.parquet(dir).filter(col("a") > 0) // all 7 columns survive
    assert(rules(wide).contains("UNPRUNED_WIDE_SCAN"))
    val pruned = spark.read.parquet(dir).select("id", "a").filter(col("a") > 0)
    assert(!rules(pruned).contains("UNPRUNED_WIDE_SCAN"))
  }

  test("CARTESIAN / NESTED_LOOP see joins that AQE hides from executedPlan.collect") {
    val a = spark.range(10).toDF("x")
    val b = spark.range(10).toDF("y")
    def joins(p: SparkPlan) = p.collect {
      case j @ (_: CartesianProductExec | _: BroadcastNestedLoopJoinExec) => j
    }
    def check(df: DataFrame, rule: String): Unit = {
      // the aggregate's shuffle makes AQE wrap the plan in a leaf node
      assert(df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
      assert(joins(df.queryExecution.executedPlan).isEmpty)
      assert(joins(df.queryExecution.sparkPlan).nonEmpty)
      assert(rules(df).contains(rule))
    }
    check(a.crossJoin(b).groupBy().count(), "NESTED_LOOP")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try check(a.crossJoin(b).groupBy().count(), "CARTESIAN")
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }
}
