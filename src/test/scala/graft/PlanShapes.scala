package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}

/** Executed-plan shape extraction shared by ContractSpec and the
  * operator specs: counts the operators that RAN, by collecting first
  * and then descending materialized adaptive stages, stopping at
  * ReusedExchange/ReusedSubquery (those subtrees executed once
  * elsewhere). These five counts are the scale fingerprints of a query:
  * extra scans mean multi-parent re-execution, extra generates mean a
  * re-run explosion, the exchange counts are its shuffle/broadcast
  * budget, and windows are unsplittable-partition risks. */
object PlanShapes {

  final case class Shape(scans: Int, generates: Int, shuffles: Int,
      broadcasts: Int, windows: Int) {
    def +(o: Shape): Shape =
      Shape(scans + o.scans, generates + o.generates, shuffles + o.shuffles,
        broadcasts + o.broadcasts, windows + o.windows)
    override def toString =
      s"scans=$scans generates=$generates shuffles=$shuffles " +
        s"broadcasts=$broadcasts windows=$windows"
  }
  object Shape { val zero: Shape = Shape(0, 0, 0, 0, 0) }

  /** Execute `df` and count what ran. NOTE: operators that truncate
    * lineage internally (Lineage.truncate) run their upstream during
    * query CONSTRUCTION; those executions are deliberately out of
    * scope here — the golden numbers pin the final plan, and the
    * construction-time part is pinned by the operators' own specs. */
  def executedShape(df: DataFrame): Shape = {
    df.collect()
    walk(df.queryExecution.executedPlan)
  }

  def walk(p: SparkPlan): Shape = p match {
    case _: ReusedExchangeExec => Shape.zero
    case q: QueryStageExec => walk(q.plan)
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case _: FileSourceScanExec => Shape(1, 0, 0, 0, 0)
    case other =>
      val subs = other.subqueries.collect {
        case s if !s.isInstanceOf[org.apache.spark.sql.execution.ReusedSubqueryExec] => walk(s)
      }
      val kids = (other.children.map(walk) ++ subs).fold(Shape.zero)(_ + _)
      other match {
        case _: GenerateExec => kids.copy(generates = kids.generates + 1)
        case _: ShuffleExchangeExec => kids.copy(shuffles = kids.shuffles + 1)
        case _: BroadcastExchangeExec => kids.copy(broadcasts = kids.broadcasts + 1)
        // window partitions get no partial agg and AQE cannot split
        // them — per-query window counts are pinned so a skewable-key
        // window cannot slip in silently (the d28/d15 lesson)
        case _: WindowExec => kids.copy(windows = kids.windows + 1)
        case _ => kids
      }
  }

  /** WindowExec count of a (possibly not-yet-executed) plan — the
    * skew-shape pin several specs assert is zero on data-sized keys. */
  def windowCount(df: DataFrame): Int = walk(df.queryExecution.executedPlan).windows

  val goldenPath: java.nio.file.Path =
    java.nio.file.Paths.get("src/test/resources/golden_plans.txt")

  def readGolden(): Map[String, String] =
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(goldenPath)).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val i = l.indexOf(' ')
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap
}

/** Regenerate the golden executed-plan file after an INTENDED shape
  * change: `sbt "Test/runMain graft.GoldenPlans"`, then review the diff
  * like any other code change — a surprise diff is the regression the
  * suite exists to catch. */
object GoldenPlans {
  def main(args: Array[String]): Unit = {
    val spark = TestSession.spark
    val dir = "/root/testdata/sf0.001"
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val shape = PlanShapes.executedShape(fn(spark, dir))
      println(f"$name%-26s $shape")
      s"$name $shape"
    }
    java.nio.file.Files.createDirectories(PlanShapes.goldenPath.getParent)
    java.nio.file.Files.writeString(PlanShapes.goldenPath,
      ("# Executed-plan shapes at sf0.001 (ContractSpec; regenerate via" ::
        "# `sbt \"Test/runMain graft.GoldenPlans\"` and REVIEW the diff)" ::
        lines.toList).mkString("", "\n", "\n"))
    spark.stop()
  }
}
