package graft

import org.apache.spark.sql.execution.FileSourceScanExec

/** Lineage and skew pins for the span-dedup operator on its own; the
  * registry queries' scan pins live in ContractSpec.
  */
class ScanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // Lineage + skew pins. The gram explosion executes exactly ONCE,
  // inside the eager Lineage.truncate of the per-(doc, gram) table; both
  // downstream consumers (the groupBy(gram) document-frequency aggregate and
  // the join probe) read the checkpoint. Two observables guard the two
  // regression classes:
  //  - file-scan count in the final plan: an untruncated groupBy+join-back
  //    would re-plan the explosion per consumer (2+ source scans, the c20
  //    defect); with the truncate in place only the mask/enrich re-read of
  //    the source appears;
  //  - ZERO WindowExec: the pre-round-7 `count() over (partition by gram)`
  //    formulation put every occurrence of one universal boilerplate gram
  //    into a single unsplittable task (no map-side combine, no AQE skew
  //    split) — the df must stay a partial-aggregating groupBy.
  test("duplicatedSpanStats: gram side truncated once, df is a partial agg (no window)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val qe = graft.dedup.Dedup
      .duplicatedSpanStats(docs, org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"), w = 4)
      .queryExecution
    val plan = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val n = plan.collect { case s: FileSourceScanExec => s }.length
    assert(n == 0, s"expected 0 file scans in the final plan (gram side reads the " +
      s"checkpoint), got $n — the explosion has an untruncated consumer")
    assert(PlanShapes.walk(qe.executedPlan).windows == 0,
      "gram document-frequency regressed to a window — unsplittable under Zipf skew")
  }
}
