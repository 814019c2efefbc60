package graft

import graft.PlanShapes.Shape
import graft.plans.PlanLint
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.Checkpoints

/** The per-query contract. Every registry query is built ONCE at
  * sf0.001 and that one DataFrame is held to every per-query check,
  * reported as three tests per query, in this order:
  *
  *  1. before execution, its planned tree lints to exactly the
  *     documented allowlist below (no cartesian product, no nested-loop
  *     sweep, global window, single-partition exchange or unpruned wide
  *     scan outside it), and its parquet scans meet the pins in
  *     `scanPins` — filters and projections reached the scan;
  *  2. it has a non-empty schema and runs to completion;
  *  3. its executed shape (`PlanShapes.walk` after the collect: scans,
  *     generates, shuffles, broadcasts, windows that RAN) matches the
  *     committed golden line, and stays within the budgets in
  *     `shapePins`.
  *
  * The golden file fences multi-parent re-execution: a refactor that
  * gives an expensive subtree a second plan parent shows up as an extra
  * scan or generate even though sf0.01 rows still hash-match. On an
  * INTENDED shape change, regenerate with
  * `sbt "Test/runMain graft.GoldenPlans"` and review the file diff.
  */
class ContractSpec extends SparkSpec with Checkpoints {

  private val dir = "/root/testdata/sf0.001"
  private lazy val golden = PlanShapes.readGolden()

  /** The complete, justified inventory of intentional lint findings;
    * every other query must lint clean. The match is exact, so a new
    * finding and a stale allowance both fail.
    *
    *  - GLOBAL_WINDOW entries are all BOUNDED-row windows (lift/growth
    *    rollups over ≤ buckets/calendar rows, equi-depth cumsum over
    *    ≤ cells, IVF rank windows over ≤ nLists, mix-target and shard
    *    head windows over stratum/head counts).
    *  - NESTED_LOOP entries are DELIBERATE bounded sweeps: the
    *    brute-force cosine baselines (d5, and d64 which composes d5),
    *    IVF centroid assignment (corpus × nLists by design), drift's
    *    slice×bin grid, hard-negative exact scoring, cohesion's
    *    L-centroid QA scoring. A nested-loop join with a provably
    *    one-row side (a grouping-free aggregate) raises no finding.
    *  - a10's UNPRUNED_WIDE_SCAN: the Bronze→Silver pipeline genuinely
    *    consumes every column of the raw table.
    */
  private val allow: Map[String, Map[String, Int]] = Map(
    "a10_silver_pipeline" -> Map("UNPRUNED_WIDE_SCAN" -> 1),
    "b11_decile_lift" -> Map("GLOBAL_WINDOW" -> 1),
    "b14_growth" -> Map("GLOBAL_WINDOW" -> 1),
    "c15b_equidepth" -> Map("GLOBAL_WINDOW" -> 2),
    // runningAgg's offset window runs over ≤ numShufflePartitions slice
    // totals — the liftTable bounded class
    "b19_abc" -> Map("GLOBAL_WINDOW" -> 1),
    "c43_running_total" -> Map("GLOBAL_WINDOW" -> 1),
    "c44_skyline" -> Map("GLOBAL_WINDOW" -> 1),
    "c54_weighted_quantiles" -> Map("GLOBAL_WINDOW" -> 1),
    "b22_ks_test" -> Map("GLOBAL_WINDOW" -> 1),
    // same runningSums rank-offset pass as b22: the one window runs
    // over the SLICE-TOTALS table (numSlices rows), not corpus data
    "b28_mann_whitney" -> Map("GLOBAL_WINDOW" -> 1),
    // bhFdr's q-value suffix-min is a runningAgg whose offset window
    // runs over the slice-totals table (≤ numShufflePartitions rows) —
    // the b22/b28 bounded class; the battery itself is group-scale
    "b31_fdr_drift" -> Map("GLOBAL_WINDOW" -> 1),
    // the same runningSums rank-offset window (slice totals), once for
    // the pooled ranks
    "b35_kruskal" -> Map("GLOBAL_WINDOW" -> 1),
    "d84_heaps_fit" -> Map("GLOBAL_WINDOW" -> 1),
    // the basket-count scalar rides a filtered CHECKPOINT scan, whose
    // one-row-ness the linter cannot prove from the plan (unlike a
    // grouping-free aggregate); the cross is 1 × |pairs| by contract
    "b21_precedence" -> Map("NESTED_LOOP" -> 1),
    "d23_ann_ivf" -> Map("NESTED_LOOP" -> 2, "GLOBAL_WINDOW" -> 2),
    "d23b_ann_ivf_hier" -> Map("NESTED_LOOP" -> 2),
    // d23's two bounded sweeps (corpus × 8 centroids assignment,
    // queries × 8 probe ranking) + d23's two quantizer-size windows
    // (centroid list ids ≤ nLists rows, PQ codebook seed ranks ≤
    // kCodes rows — the d78 seeding pass)
    "d79_ivfpq" -> Map("NESTED_LOOP" -> 2, "GLOBAL_WINDOW" -> 2),
    // d79's plan + the exact-L2 truth sweep: broadcast 10-query side ×
    // corpus scan — the d5 bounded-sweep class
    "d79b_ivfpq_recall" -> Map("NESTED_LOOP" -> 3, "GLOBAL_WINDOW" -> 2),
    "d27_rebalance_mix" -> Map("GLOBAL_WINDOW" -> 1),
    "d50_zipf_fit" -> Map("GLOBAL_WINDOW" -> 1),
    "d52_quality_drift" -> Map("NESTED_LOOP" -> 1),
    "d55_temperature_mix" -> Map("GLOBAL_WINDOW" -> 1),
    "d58_hard_negatives" -> Map("NESTED_LOOP" -> 1),
    "d5_ann_bruteforce" -> Map("NESTED_LOOP" -> 1),
    // broadcast eval set × corpus scan — the d58 bounded-sweep class
    "d81_semantic_contam" -> Map("NESTED_LOOP" -> 1),
    // broadcast group-B × group-A candidate scores (IVF is the scale
    // path) — the d5 bounded-sweep class
    "d82_margin_pairs" -> Map("NESTED_LOOP" -> 1),
    "d60_balanced_shards" -> Map("GLOBAL_WINDOW" -> 1),
    // isotonic minimax fit: the j≤k pair join and both cumulative
    // windows run over the BINNED table (≤ nBins ≤ 4096 rows by
    // construction) — the c15b bounded-grid class, not corpus data
    "d89_isotonic" -> Map("NESTED_LOOP" -> 1, "GLOBAL_WINDOW" -> 2),
    "d64_hybrid_rrf" -> Map("NESTED_LOOP" -> 1),
    // the 1-row broadcast query vector × corpus scan — the d5 bounded-
    // sweep class (the cross IS the graded surface: every embedding
    // dotted against one pinned vector through the native expression)
    "d18_native_dot" -> Map("NESTED_LOOP" -> 1),
    // the lag window runs over the 8-row per-file z-range stats table
    // (the liftTable bounded class); the layout_ok flag cross is a
    // grouping-free aggregate whose one-row-ness the linter PROVES, so
    // it raises no NESTED_LOOP finding
    "c17_zorder_layout" -> Map("GLOBAL_WINDOW" -> 1),
    "d65_label_cohesion" -> Map("NESTED_LOOP" -> 1),
    // the E14 rollup genuinely consumes EVERY column of the state
    // table it reads (n_rows + cnt/sum/min/max per value col) — the
    // a10 whole-table class, over key-cardinality state rows
    "e14_agg_state" -> Map("UNPRUNED_WIDE_SCAN" -> 1),
    // qualityDriftFromCells' slice×bin grid cross — the d52 bounded
    // class (|slices| × nBins rows by construction)
    "e15_drift_cells" -> Map("NESTED_LOOP" -> 1),
    // vocabGrowthCurve's cumulative runs over the bounded EPOCH axis
    // (one row per micro-batch — the liftTable benign window class)
    "e32_vocab_growth" -> Map("GLOBAL_WINDOW" -> 1),
    // skylineFrom re-runs c44's sort + running-max over the PERSISTED
    // per-epoch skyline candidates (|skyline| × epochs rows — already
    // dominance-pruned per batch), the c44 bounded-window class
    "e40_skyline_state" -> Map("GLOBAL_WINDOW" -> 1))

  private def read(s: FileSourceScanExec): Set[String] = s.requiredSchema.fieldNames.toSet
  private def pushed(ss: Seq[FileSourceScanExec]): String =
    ss.flatMap(_.metadata.get("PushedFilters")).mkString

  // toks is spread + truncated ONCE (it had two plan parents — gram
  // explosion and mask join); the mask side reads the checkpoint
  // blocks, so the final plan has ZERO file scans
  private val noSourceScan: Seq[FileSourceScanExec] => Unit = ss =>
    assert(ss.isEmpty, s"expected 0 documents scans (toks truncated once, mask " +
      s"reads checkpoint blocks), got ${ss.length} — a consumer re-reads the source")

  /** Scan discipline, checked on the planned (pre-execution) scans: at
    * 100 TB the difference between a query that works and one that
    * doesn't is often whether its filters and projections reached the
    * parquet scan. A refactor that breaks pushdown (e.g. wrapping a
    * column in an opaque expression before the filter) fails here even
    * though sf0.01 rows still match. */
  private val scanPins: Map[String, Seq[FileSourceScanExec] => Unit] = Map(
    "a9_project" -> { ss =>
      assert(ss.flatMap(read).toSet ==
        Set("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate"),
        "projection did not prune the orders scan")
    },
    "b3_search_multi" -> { ss =>
      assert(pushed(ss).contains("StringContains(p_name,re)"), s"got: ${pushed(ss)}")
      assert(pushed(ss).contains("StringContains(p_type,AN)"), s"got: ${pushed(ss)}")
    },
    "c1_pricing_summary" -> { ss =>
      // shipdate (filter) + flags (keys) + quantity/price/discount (measures)
      val cols = ss.flatMap(read).toSet
      assert(cols.size <= 7 && cols("l_shipdate") && cols("l_quantity"), s"scan reads $cols")
      assert(pushed(ss).contains("l_shipdate"), s"ship-date filter not pushed: ${pushed(ss)}")
    },
    // d28/d31 lineage pins. The gram explosion executes exactly ONCE,
    // inside the eager Lineage.truncate of the per-(doc, gram) table;
    // both downstream consumers read the checkpoint, so an untruncated
    // groupBy+join-back (the c20 defect) shows up as extra source scans
    "d28_dup_spans" -> { ss =>
      assert(ss.length == 1, s"expected 1 documents scan (source enrich; the gram " +
        s"side ran once inside the truncate), got ${ss.length}")
    },
    "d31_span_removal" -> noSourceScan,
    "d31b_span_keepfirst" -> noSourceScan,
    "b9_active_users" -> { ss =>
      assert(ss.flatMap(read).toSet == Set("ts", "user_id"), "projection did not prune")
    },
    "d57_token_budget" -> { ss =>
      assert(ss.flatMap(read).toSet == Set("doc_id", "source", "n_chars", "text"),
        "projection did not prune")
    },
    "d60_balanced_shards" -> { ss =>
      ss.foreach(s => assert(read(s).subsetOf(Set("doc_id", "text")), "projection did not prune"))
    },
    "c32_anomalies" -> { ss =>
      ss.foreach(s => assert(read(s).subsetOf(Set("event_id", "ts", "user_id", "event_type",
        "value")), "props must stay unread"))
    },
    "b10_attribution" -> { ss =>
      ss.foreach(s => assert(!read(s)("props"), s"scan reads ${read(s)}"))
      assert(pushed(ss).contains("event_type"), s"touch/conv type filters not pushed: ${pushed(ss)}")
    },
    "c31_triangles" -> { ss =>
      val li = ss.filter(read(_).exists(_.startsWith("l_")))
      assert(li.nonEmpty)
      li.foreach { s =>
        assert(read(s) == Set("l_partkey", "l_orderkey", "l_quantity"), s"scan reads ${read(s)}")
        assert(s.metadata("PushedFilters").contains("LessThanOrEqual(l_quantity,"),
          s"quantity filter not pushed: ${s.metadata("PushedFilters")}")
      }
    },
    "c30_pit_join" -> { ss =>
      ss.foreach(s => assert(read(s).subsetOf(Set("event_id", "ts", "user_id", "event_type")),
        s"scan reads ${read(s)}"))
    },
    "c3_star_join" -> { ss =>
      val region = ss.find(read(_)("r_name")).get
      assert(region.metadata("PushedFilters").contains("EqualTo(r_name,"),
        s"region predicate not pushed: ${region.metadata("PushedFilters")}")
      // no star-join scan reads a table's full width
      ss.foreach(s => assert(read(s).size <= 4, s"dimension not pruned: ${read(s)}"))
    })

  private def noWindow(why: String): Shape => Unit = s => assert(s.windows == 0, why)
  private def explosions(budget: Int): Shape => Unit = s =>
    assert(s.generates <= budget, s"${s.generates} explosions ran (budget $budget) — " +
      "re-execution regressed")

  /** Executed-shape budgets that hold across golden regenerations.
    * Checkpointed operators (d2, d4, d12, d15, d38) must run ZERO
    * explosions in the final plan — every corpus-scale Generate runs
    * once inside an eager truncation, so removing a Lineage.truncate
    * makes the count jump. The others bound the live-plan explosions of
    * their linear rewrites. A window on a gram key puts every
    * occurrence of one universal boilerplate gram into one
    * unsplittable task, so the gram df must stay a partial-aggregating
    * groupBy. */
  private val shapePins: Map[String, Shape => Unit] = Map(
    "d28_dup_spans" -> noWindow("gram document-frequency regressed to a window"),
    "d31_span_removal" -> noWindow("gram document-frequency regressed to a window"),
    "d31b_span_keepfirst" ->
      noWindow("owner election regressed to a window — unsplittable under Zipf skew"),
    // the bigram explosion may run at most TWICE (join-left + the bg
    // stats chain — the documented map-stage re-run trade in
    // CorpusStats.docBigramCrossEntropy); the third scan is the
    // explode-free Σ(len−1) length pass. The naive 4-way-join
    // formulation (3 explosions, 4 scans) must fail here.
    "d37_bigram_xentropy" -> { s =>
      explosions(2)(s)
      assert(s.scans <= 3, s"expected ≤3 documents scans, got ${s.scans}")
    },
    "d2_dedup_minhash" -> explosions(0), "d4_ngram_jaccard" -> explosions(0),
    "d12_embed_neardup" -> explosions(0), "d15_dedup_clusters" -> explosions(0),
    "d38_semantic_dedup" -> explosions(0),
    "d16_tfidf" -> explosions(2), "d26_source_divergence" -> explosions(1),
    // one training-corpus explosion + one (small) eval-side explosion
    "d25_decontaminate" -> explosions(2),
    // join-left + the global-counts chain (the structural bound; stage
    // reuse currently collapses them to 1 — the pin catches a third
    // parent, e.g. re-deriving the total from the explosion instead of
    // the narrow length scan)
    "d35_doc_xentropy" -> explosions(2))

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every query has an oracle (no rows-only regressions)") {
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty, s"queries without oracles: $unchecked")
  }

  test("golden file covers exactly the declared query set") {
    val queries = SparkEntry.queries.keySet
    val missing = queries -- golden.keySet
    val stale = golden.keySet -- queries
    assert(missing.isEmpty && stale.isEmpty,
      s"regenerate golden_plans.txt — missing=${missing.toSeq.sorted} stale=${stale.toSeq.sorted}")
  }

  test("every lint allowance and pin names a declared query") {
    val stale = (allow.keySet ++ scanPins.keySet ++ shapePins.keySet) -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"allowances or pins for undeclared queries: $stale")
  }

  /** The query under test. Its three tests run back to back, so it is
    * built once and dropped when the next query's first test starts.
    * The planned scans are taken at build time: once the query has run,
    * collect stops at the materialized query stages. */
  private final class Run(name: String) {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    val scans: Seq[FileSourceScanExec] = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case s: FileSourceScanExec => s }
    lazy val rows: Array[Row] = df.collect()
    lazy val shape: Shape = { rows; PlanShapes.walk(df.queryExecution.executedPlan) }
  }

  private var held: Option[(String, Run)] = None
  private def run(name: String): Run = held match {
    case Some((`name`, r)) => r
    case _ =>
      held = None
      val r = new Run(name)
      held = Some(name -> r)
      r
  }

  SparkEntry.queries.keySet.toSeq.sorted.foreach { name =>
    test(s"plan of $name lints to its allowlist and meets its scan pins") {
      val r = run(name)
      val cp = new Checkpoint
      val lint = PlanLint.lint(r.df).groupBy(_.rule).view.mapValues(_.size).toMap
      val allowed = allow.getOrElse(name, Map.empty)
      cp { assert(lint == allowed, s"lint: got $lint, allowed $allowed") }
      scanPins.get(name).foreach(pin => cp { pin(r.scans) })
      cp.reportAll()
    }

    test(s"query $name runs at sf0.001 with a non-empty schema") {
      val r = run(name)
      assert(r.df.columns.nonEmpty, "empty schema")
      val rows = r.rows
      // SparkEntry.entry, the driver's smoke entry point, is c1 at sf0.001
      if (name == "c1_pricing_summary") assert(rows.nonEmpty, "entry() returns no rows")
    }

    test(s"$name executed plan matches golden shape and budgets") {
      val shape = run(name).shape
      val want = golden.getOrElse(name, "<absent>")
      val cp = new Checkpoint
      cp {
        assert(shape.toString == want, s"shape drifted: got [$shape] want [$want] — if " +
          "intended, regenerate via `sbt \"Test/runMain graft.GoldenPlans\"` and commit the diff")
      }
      shapePins.get(name).foreach(pin => cp { pin(shape) })
      cp.reportAll()
    }
  }
}
