package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-scale skew probe (SURVEY §5b addendum; r7 verdict item 5).
  *
  * The 100-TB claims for the dedup stack rest on plan pins plus sf0.1
  * timings — neither exercises a PLANTED worst case. This main builds a
  * 10× corpus (50k docs) in /tmp with:
  *   - a mega-paragraph shared by 30% of documents (Zipf-head
  *     boilerplate: gram df ≈ 15k for d31, one 15k-occurrence paragraph
  *     fingerprint for d43),
  *   - a 2,000-document EXACT-duplicate mega-cluster (LSH band buckets
  *     of 2,000 → ~2M verified candidate pairs → one giant component
  *     for d15),
  *   - plus a synthetic 10^4-degree star pair table driven straight
  *     through clusterPairs (the component algorithm's hub case,
  *     isolated from LSH's quadratic candidate semantics).
  *
  * For every query it reports per-stage task-time skew (max/median over
  * stages with enough tasks and material runtime) from a TaskEnd
  * listener — the local-mode stand-in for "straggler ratio on the Spark
  * UI". Stages below the material floor are noise, not stragglers.
  */
object SkewProbe {

  private final case class TaskRec(stageId: Int, runMs: Long)

  def main(args: Array[String]): Unit = {
    val probeDir = "/tmp/skewprobe"
    val spark = Harness.session()

    generate(spark, probeDir)

    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          tasks.add(TaskRec(te.stageId, te.taskMetrics.executorRunTime))
    })

    def probe(name: String)(run: => Long): Unit = {
      Harness.drain(spark)
      tasks.clear()
      val t0 = System.nanoTime()
      val rows = run
      val sec = (System.nanoTime() - t0) / 1e9
      Harness.drain(spark)
      val byStage = {
        import scala.jdk.CollectionConverters._
        tasks.asScala.toSeq.groupBy(_.stageId).view.mapValues(_.map(_.runMs).sorted).toMap
      }
      // material stages only: ≥8 tasks and a max task ≥500ms — below
      // that, "skew" is scheduler noise on an idle stage
      val material = byStage.filter { case (_, ds) => ds.size >= 8 && ds.last >= 500 }
      val worst = material.map { case (sid, ds) =>
        val med = math.max(ds(ds.size / 2), 1L)
        (sid, ds.size, ds.last, med, ds.last.toDouble / med)
      }.toSeq.sortBy(-_._5)
      println(f"PROBE $name%-22s rows=$rows%-8d wall=$sec%6.1fs stages=${byStage.size}%3d material=${material.size}%2d")
      worst.take(3).foreach { case (sid, n, mx, med, r) =>
        println(f"PROBE   stage=$sid%5d tasks=$n%4d maxTask=${mx}%6dms medTask=${med}%6dms ratio=$r%5.2f")
      }
      if (worst.isEmpty) println("PROBE   (no material stages)")
    }

    probe("d15_dedup_clusters") {
      SparkEntry.queries("d15_dedup_clusters")(spark, probeDir).count()
    }
    probe("d31_span_removal") {
      SparkEntry.queries("d31_span_removal")(spark, probeDir).count()
    }
    probe("d43_paragraph_dedup") {
      SparkEntry.queries("d43_paragraph_dedup")(spark, probeDir).count()
    }
    probe("clusterPairs_star1e4") {
      // degree-10^4 hub, straight into the component algorithm
      val star = spark.range(1, 10001)
        .select(lit(0L).as("doc_a"), col("id").as("doc_b"))
      graft.dedup.Dedup.clusterPairs(star).count()
    }
    probe("d91_substring_dedup") {
      // the mega-paragraph is a >10^4-copy substring (15k documents
      // carry it verbatim): every one of its 5-grams has 15k
      // occurrences — the Lee-et-al operator's Zipf-head case; the
      // count+owner election must stay a partial-aggregating groupBy
      SparkEntry.queries("d91_substring_dedup")(spark, probeDir).count()
    }

    // ---- graph family on a PLANTED power-law graph (r8 verdict #5:
    // the §5b claims for c23/c60/c61/c62 were argued from plan shape
    // only): one 10^5-degree hub + 9·10^5 uniform tail edges ≈ 10^6
    // edges over 10^5 vertices. Edges are eagerly materialized so
    // generation cost never pollutes the probed stages.
    val pl = {
      val hub = spark.range(100000)
        .select(lit("h").as("src"), concat(lit("v"), col("id")).as("dst"))
      val tail = spark.range(900000)
        .select(concat(lit("v"), col("id") % 100000).as("src"),
          concat(lit("v"), pmod(col("id") * 31 + 7, lit(100000))).as("dst"))
      hub.unionAll(tail).repartition(32).localCheckpoint(true)
    }
    probe("c23_pagerank_hub1e5") {
      graft.graph.PageRank.pageRank(pl, damping = 0.85, iters = 5).count()
    }
    probe("c60_hyperball_hub1e5") {
      // estimator only — the exact pair-BFS companion is the bound
      // CHECK, not the production path, and a 10^5-hub 1-ball would
      // materialize 10^10 pairs there by design
      graft.graph.HyperBall.neighborhoodFunction(pl, maxT = 3, lgK = 9).count()
    }
    probe("c61_harmonic_hub1e5") {
      graft.graph.HyperBall.harmonicCentrality(pl, maxT = 3, lgK = 9).count()
    }
    probe("c62_lpa_hub1e5") {
      graft.graph.Communities.labelPropagation(pl, iters = 4).count()
    }

    spark.stop()
  }

  /** 50k-doc corpus: sf0.1 documents ×10 (re-keyed), 30% share a
    * mega-paragraph, ids 0..1999 are one exact-duplicate cluster. */
  private def generate(spark: SparkSession, dir: String): Unit = {
    val out = new java.io.File(s"$dir/documents.parquet")
    if (out.exists()) return
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val n = base.count()
    val mega = "shared boilerplate header every mirror of this corpus repeats " +
      "verbatim navigation cookie notice subscribe banner terms privacy " +
      "copyright footer links about contact careers press blog help center"
    val hub = "identical mirror page body repeated across the whole cluster"
    val replicated = base
      .crossJoin(spark.range(10).select(col("id").as("__rep")))
      .select((col("doc_id") + col("__rep") * n).as("doc_id"),
        col("text"), col("lang"), col("source"))
      .withColumn("text",
        when(col("doc_id") < 2000, lit(hub))
          .when(col("doc_id") % 10 < 3, concat(col("text"), lit("\n\n"), lit(mega)))
          .otherwise(col("text")))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    replicated.repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    println(s"PROBE generated $dir/documents.parquet: ${spark.read.parquet(s"$dir/documents.parquet").count()} docs")
  }
}
