package graft

import graft.operators.Relational
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** E-series driver queries: STREAMING batch-equivalence, oracle-checked.
  *
  * Each query drives the real streaming state machinery — the exact
  * per-micro-batch hooks `StreamOps.foreachEpoch` calls in production
  * ([[StreamOps]] `*Batch` + the state-table readers) — over THREE
  * deterministic micro-batches of the test tables, then returns the
  * rolled-up state table. The DuckDB oracle is the BATCH semantics over
  * the full concatenated history (the already-verified B/C-series
  * formulation), so a green row proves the streaming decomposition ≡
  * one-shot batch: cross-batch boundary handling, epoch-keyed state,
  * and the rollup readers all verified by the same driver gate as
  * every batch operator.
  *
  * Batch splitting: order-INDEPENDENT state (additive counters, CM/
  * top-k sketches, version-arbitrated upsert, EB rate counts) splits by
  * a simple key modulus — the rollup is exactly split-invariant, so the
  * oracle never needs to reproduce the split. Order-DEPENDENT state
  * (Markov boundary pairs, funnel progress) splits by event-time
  * terciles — min/max ts is a 1-row bounded collect (the bookmark
  * class) — so per-entity event order across epochs matches the
  * stream's arrival contract.
  *
  * State dirs are fresh `createTempDirectory` paths per invocation, so
  * bench repeats never fold state twice.
  */
private[graft] object StreamQueries {

  import StreamDrive._

  // lazy: rawQueries initializes below (declaration order); the
  // machinery-bound drives run under the 4-partition state-store
  // override (see StreamDrive.lowShufflePartitions — safe because
  // Bench/Verify execute queries strictly sequentially).
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    (rawQueries ++ StreamQueries2.rawQueries).map { case (name, fn) =>
      name -> (if (machineryBound(name)) lowShufflePartitions(fn) else fn)
    }

  private val rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // ======================================================= E: streaming

    // E9 — CDC apply: a per-(user, day) activity change stream upserted
    // into a keyed snapshot across 3 micro-batches; the final snapshot
    // is each user's LATEST day row, whatever order the batches landed.
    "e9_cdc_snapshot" -> ((s, dir) => {
      val chg = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
      val root = tmp("graft_e9")
      val epoch = (col("user_id") + datediff(col("d"), to_date(lit("1970-01-01")))) % 3
      (0 to 2).foreach { ep =>
        StreamOps.snapshotBatch(chg.filter(epoch === ep), Seq("user_id"), "d",
          root, tombstone = None)
      }
      StreamOps.latestSnapshot(s, root)
        .select(col("user_id"), col("d"), col("n"))
        .orderBy("user_id")
    }),

    // E8 — streaming HLL sketch state: one sketch row per key per
    // epoch landed in APPEND mode (HLL union is idempotent — the one
    // state family where blind append is safe), unioned at read; the
    // c8b discipline: exact count + a pinned within-bound boolean
    // (sketches are in exact sparse mode at this cardinality).

    "e8_sketch_state" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      val state = tmp("graft_e8")
      (0 to 2).foreach { ep =>
        graft.operators.Sketches.sketchTable(
            e.filter(col("user_id") % 3 === ep), Seq(col("event_type")), col("user_id"))
          .write.mode("append").parquet(state)
      }
      val est = graft.operators.Sketches.unionEstimate(
        s.read.parquet(state), Seq(col("event_type")))
      e.groupBy("event_type").agg(countDistinct(col("user_id")).as("n_exact"))
        .join(est, "event_type")
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_estimate") - col("n_exact")).cast("double") / col("n_exact") <= 0.05)
            .as("within_bound"))
        .orderBy("event_type")
    }),

    // E11 — streaming corpus cards: per-epoch mergeable slice cards
    // rolled into ONE global card at read; exact fields ≡ a one-shot
    // profile, sketch fields (HLL distinct-doc estimate, KLL quality
    // quantiles) pinned within bounds against an exact pass — the
    // c8b/c8d discipline.

    "e11_corpus_cards" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val state = tmp("graft_e11")
      (0 to 2).foreach { ep =>
        StreamOps.corpusCardsBatch(docs.filter(col("doc_id") % 3 === ep), ep,
          "text", "source", "source", state)
      }
      val card = graft.text.CorpusProfile.rollupCards(
        s.read.parquet(state).drop("batch"))
      val q = graft.text.TextFunctions.qualityScore(col("text"))
      val fp = graft.text.TextFunctions.contentFingerprint(col("text"))
      docs.select(q.as("__q"), fp.as("__fp")).crossJoin(broadcast(card))
        .agg(
          max(col("n_docs")).as("n_docs"),
          max(col("n_tokens")).as("n_tokens"),
          max(col("n_chars")).as("n_chars"),
          max(col("n_stutter_tokens")).as("n_stutter_tokens"),
          // the card's avg rides two different FP summation trees
          // (per-epoch partials re-summed vs one pass), so a round-4
          // value can flap on a .00005 boundary — bound-check it like
          // the sketch fields instead of hashing the rounding
          (abs(max(col("avg_quality")) - sum(col("__q")) / count(lit(1)))
            <= 1e-4).as("avg_quality_ok"),
          max(col("n_en")).as("n_en"), max(col("n_de")).as("n_de"),
          max(col("n_es")).as("n_es"), max(col("n_fr")).as("n_fr"),
          (abs(max(col("n_distinct_docs_est")) - countDistinct(col("__fp")))
            / countDistinct(col("__fp")) <= 0.05).as("dedup_est_ok"),
          (sum(when(col("__q") <= col("q50"), 1.0).otherwise(0.0)) / count(lit(1)))
            .between(0.40, 0.60).as("q50_rank_ok"),
          (sum(when(col("__q") <= col("q95"), 1.0).otherwise(0.0)) / count(lit(1)))
            .between(0.88, 1.0).as("q95_rank_ok"))
    }),

    // E12 — streaming paragraph-dedup ingest: 3 ascending-doc_id
    // epochs judged against the persisted kept-paragraph index; with
    // arrival order = id order, the streaming first-arrived winner IS
    // the batch operator's global min(doc_id, pos) — so the union of
    // per-epoch outputs must equal batch D43 exactly.

    "e12_paragraph_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val mx = docs.agg(max("doc_id")).head().getLong(0) // 1-row bounded collect
      val (c1, c2) = (mx / 3, 2 * mx / 3)
      val root = tmp("graft_e12o"); val idx = tmp("graft_e12i")
      StreamOps.paragraphDedupBatch(docs.filter(col("doc_id") <= c1),
        0L, "doc_id", "text", root, idx)
      StreamOps.paragraphDedupBatch(docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
        1L, "doc_id", "text", root, idx)
      StreamOps.paragraphDedupBatch(docs.filter(col("doc_id") > c2),
        2L, "doc_id", "text", root, idx)
      s.read.parquet(root)
        .select(col("doc_id"), col("n_paras"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // E14 — additive aggregate state: per-type count/sum/min/max state
    // rows landed per epoch, merged + finalized at read ≡ one batch agg.

    "e14_agg_state" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val state = tmp("graft_e14")
      (0 to 2).foreach { ep =>
        StreamOps.aggStateBatch(e.filter(pmod(coalesce(col("user_id"), lit(0L)), lit(3)) === ep),
          ep, Seq("event_type"), Seq("value"), state)
      }
      graft.operators.AggState.finalizeState(
          graft.operators.AggState.mergeRows(
            s.read.parquet(state).drop("batch"), Seq("event_type"), Seq("value")),
          Seq("value"))
        .select(col("event_type"), col("n_rows"), col("cnt_value"),
          round(col("sum_value"), 4).as("sum_value"),
          round(col("min_value"), 6).as("min_value"),
          round(col("max_value"), 6).as("max_value"),
          round(col("avg_value"), 6).as("avg_value"))
        .orderBy("event_type")
    }),

    // E16 — streaming content-diff ingest: three synthetic recrawl
    // epochs (epoch 1 revises the %5 keys, epoch 2 the %7 keys) judged
    // against the persisted latest-digest index; the classification
    // log must equal the closed-form added/changed/unchanged truth.

    "e16_content_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val rev1 = when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" rev1"))).otherwise(col("text"))
      val rev2 = when(col("doc_id") % 7 === 0,
        concat(rev1, lit(" rev2"))).otherwise(rev1)
      val root = tmp("graft_e16o"); val idx = tmp("graft_e16i")
      StreamOps.contentDiffBatch(docs, 0L, "doc_id", Seq("text"), root, idx)
      StreamOps.contentDiffBatch(docs.select(col("doc_id"), rev1.as("text")),
        1L, "doc_id", Seq("text"), root, idx)
      StreamOps.contentDiffBatch(docs.select(col("doc_id"), rev2.as("text")),
        2L, "doc_id", Seq("text"), root, idx)
      s.read.parquet(root)
        .groupBy(col("batch").cast("long").as("epoch"), col("change"))
        .agg(count(lit(1)).as("n"), sum(col("key")).as("key_sum"))
        .orderBy("epoch", "change")
    }),

    // E17 — Count-Min frequency state: one sketch per epoch, counter-
    // added at read, probed for every distinct (type, user) pair. Width
    // 2^16 against ~10^3 distinct keys makes the estimate EXACT here
    // (P[all 5 rows collide] ~1e-10 — the d2/d6 sized-to-exact oracle
    // discipline), so the oracle is the plain exact count.

    "e17_cm_frequency" -> ((s, dir) => {
      val width = 1 << 16
      val e = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("user_id").isNotNull)
        .select(col("event_type"), col("user_id"),
          concat_ws("|", col("event_type"), col("user_id")).as("__k"))
      val state = tmp("graft_e17")
      (0 to 2).foreach { ep =>
        StreamOps.frequencyStateBatch(e.filter(col("user_id") % 3 === ep),
          ep, Seq(), "__k", state,
          depth = graft.expressions.CountMin.DefaultDepth, width = width,
          seed = graft.expressions.CountMin.DefaultSeed)
      }
      // rolled sketch bytes ride the plan like a literal model (the
      // Bloom-probe discipline; ~2.6 MB at this width — bounded)
      val bytes = graft.operators.Sketches.cmRollup(
          s.read.parquet(state), Seq(), width = width)
        .head().getAs[Array[Byte]]("cmsketch")
      e.select("event_type", "user_id").distinct()
        .select(col("event_type"), col("user_id"),
          graft.expressions.CountMin.estimate(bytes,
            concat_ws("|", col("event_type"), col("user_id"))).as("est"))
        .orderBy("event_type", "user_id")
    }),

    // E24 — streaming A/B experiment monitor: per-epoch (entity,
    // variant) conversion partials, re-collapsed ACROSS epochs at read
    // (a user converting in epoch 2 after exposure in epoch 0 counts
    // once) ≡ the batch B16 readout over the full stream.

    "e24_experiment_state" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val state = tmp("graft_e24")
      (0 to 2).foreach { ep =>
        StreamOps.experimentStateBatch(
          e.filter(pmod(coalesce(col("event_id"), lit(0L)), lit(3)) === ep), ep,
          "user_id",
          graft.analytics.Experiment.assignVariant(col("user_id"), "expA"),
          col("event_type") === "purchase", col("value"), state)
      }
      StreamOps.experimentReadout(s, state)
        .select(col("variant_a"), col("variant_b"), col("n_a"), col("n_b"),
          col("conv_a"), col("conv_b"),
          round(col("rate_a"), 4).as("rate_a"), round(col("rate_b"), 4).as("rate_b"),
          round(col("rev_a"), 4).as("rev_a"), round(col("rev_b"), 4).as("rev_b"),
          round(col("lift_pct"), 4).as("lift_pct"),
          round(col("z_score"), 4).as("z_score"),
          round(col("srm_chi2"), 4).as("srm_chi2"))
    }),

    // E25 — streaming exactly-k weighted sample: per-epoch top-k race
    // winners re-raced at read (a global winner necessarily wins its
    // own batch; md5 race keys are deterministic) ≡ the batch D74
    // sample.

    "e25_weighted_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val state = tmp("graft_e25")
      (0 to 2).foreach { ep =>
        StreamOps.weightedSampleBatch(docs.filter(col("doc_id") % 3 === ep),
          ep, "doc_id", col("n_chars"), k = 50, salt = "wsk", state)
      }
      StreamOps.weightedSampleReadout(s, state, "doc_id", "n_chars", k = 50, salt = "wsk")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // E26 — heavy-hitter state: per-(type) approx_top_k sketches
    // accumulated per epoch, combined at read. Tracked items (10^4) ≥
    // distinct users (~10^2) ⇒ counts exact; the k-boundary is then
    // re-ranked DETERMINISTICALLY (count desc, user asc) before the
    // cut, so sketch-internal tie order can never leak into the answer.

    "e26_topk_state" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("user_id").isNotNull)
      val state = tmp("graft_e26")
      (0 to 2).foreach { ep =>
        StreamOps.topKStateBatch(e.filter(col("user_id") % 3 === ep),
          ep, Seq("event_type"), "user_id", state, maxItemsTracked = 10000)
      }
      val all = graft.operators.Sketches.topKRollup(
        s.read.parquet(state), Seq(col("event_type")), k = 1000)
      Relational.topKPerGroup(all, Seq(col("event_type")),
          Seq(col("n_estimate").desc, col("item").asc), k = 3)
        .select(col("event_type"), col("item").as("user_id"),
          col("n_estimate").as("n"), col("rn").as("rank"))
        .orderBy("event_type", "rank")
    }),

    // E31 — decayed trending counts: per-epoch half-life-weighted sums
    // with per-batch reference times, re-decayed to the global reference
    // at read ≡ (exactly, by exponent algebra) one pass over all events.

    "e31_trending" -> ((s, dir) => {
      val halfLife = 604800.0 // 7 days
      val e = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
      val state = tmp("graft_e31")
      (0 to 2).foreach { ep =>
        StreamOps.decayedTrendBatch(
          e.filter(pmod(coalesce(col("user_id"), lit(0L)), lit(3)) === ep),
          ep, Seq("event_type"), "ts", halfLife, state)
      }
      StreamOps.trendingTopK(s, state, Seq("event_type"), halfLife, k = 10)
        .select(col("event_type"), round(col("score"), 4).as("score"))
    }),

    // E15 — streaming drift cells: per-epoch (slice, bin) histogram
    // counters re-summed at read ≡ the batch D52 PSI/chi² report.

    "e15_drift_cells" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val q = graft.text.TextFunctions.qualityScore(col("text"))
      val state = tmp("graft_e15")
      (0 to 2).foreach { ep =>
        StreamOps.driftCellsBatch(docs.filter(col("doc_id") % 3 === ep), ep,
          "source", q, state, nBins = 10, lo = 0.0, hi = 1.0)
      }
      graft.text.CorpusStats.qualityDriftFromCells(
          s.read.parquet(state).drop("batch"), nBins = 10)
        .orderBy("slice")
    }),

    // E28 — streaming PCA moment state: one (n, Σv, Σvvᵀ) row per
    // epoch, merged + eigensolved at read ≡ the batch D77 spectrum.

    "e28_pca_moments" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val state = tmp("graft_e28")
      (0 to 2).foreach { ep =>
        StreamOps.pcaMomentStateBatch(emb.filter(col("vec_id") % 3 === ep),
          ep, "embedding", 64, state)
      }
      val m = StreamOps.pcaFromState(s, state, dim = 64, k = 64)
      Seq((m.n, m.eigenvalues.sum, m.eigenvalues.map(l => l * l).sum))
        .toDF("n", "tr", "fr")
        .select(col("n"), round(col("tr"), 4).as("trace"),
          round(col("fr"), 4).as("frob2"))
    }),

    // E32 — streaming vocabulary-growth state: each epoch lands only
    // its first-seen-ever tokens (anti-join vs the persisted index, so
    // epochs MUST fold in order); the growth curve ≡ per-token
    // min-epoch over the same split.

    "e32_vocab_growth" -> ((s, dir) => {
      // the synthetic corpus's 31-token vocabulary saturates in any
      // first epoch; a doc-id-derived token per document keeps the
      // growth curve non-degenerate (both engines derive it)
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" uniq"), col("doc_id")).as("text"))
      val state = tmp("graft_e32")
      (0 to 2).foreach { ep =>
        StreamOps.vocabGrowthBatch(docs.filter(col("doc_id") % 3 === ep),
          ep, "text", state)
      }
      StreamOps.vocabGrowthCurve(s, state).orderBy("epoch")
    }),

    // E36 — streaming Holt forecast state: the per-type daily-revenue
    // series folded across 3 day-tercile epochs, seeded from persisted
    // (l, b, n) ≡ the batch B29 recurrence over the full series.

    "e36_forecast_state" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(col("value")).as("x"))
        .select(col("event_type"), col("d").cast("timestamp").as("ts"), col("x"))
      val us = Relational.epochMicros(col("ts"))
      val (c1, c2) = terciles(daily)
      val state = tmp("graft_e36")
      StreamOps.forecastStateBatch(daily.filter(us <= c1), 0L,
        Seq("event_type"), "ts", "x", alpha = 0.3, beta = 0.1, state)
      StreamOps.forecastStateBatch(daily.filter(us > c1 && us <= c2), 1L,
        Seq("event_type"), "ts", "x", alpha = 0.3, beta = 0.1, state)
      StreamOps.forecastStateBatch(daily.filter(us > c2), 2L,
        Seq("event_type"), "ts", "x", alpha = 0.3, beta = 0.1, state)
      StreamOps.forecastFrom(s, state, Seq("event_type"), horizon = 7)
        .select(col("event_type"), col("n"),
          round(col("level"), 4).as("level"),
          round(col("trend"), 4).as("trend"),
          round(col("forecast"), 4).as("forecast"))
        .orderBy("event_type")
    }),

    // E37 — Markov transition state: 3 event-time-tercile epochs, each
    // folding its batch's per-entity pairs PLUS the cross-batch boundary
    // pair from persisted last-state; the rolled-up matrix must equal
    // the batch lead() pairs over the full history.

    "e37_markov_state" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
      val us = Relational.epochMicros(col("ts"))
      val (c1, c2) = terciles(e)
      val state = tmp("graft_e37")
      StreamOps.markovStateBatch(e.filter(us <= c1), 0L,
        "user_id", "ts", "event_type", state)
      StreamOps.markovStateBatch(e.filter(us > c1 && us <= c2), 1L,
        "user_id", "ts", "event_type", state)
      StreamOps.markovStateBatch(e.filter(us > c2), 2L,
        "user_id", "ts", "event_type", state)
      StreamOps.transitionsFrom(s, state)
        .select(col("from_state"), col("to_state"), col("cnt"),
          round(col("p"), 6).as("p"))
        .orderBy("from_state", "to_state")
    }),

    // E38 — empirical-Bayes rate state: per-epoch (n, y) counts rolled
    // up additively, prior re-fit on the rollup ≡ batch B32 shrinkage.

    "e38_rate_state" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_custkey").isNotNull && col("o_orderstatus").isNotNull)
        .select(col("o_custkey"), (col("o_orderstatus") === "F").cast("int").as("ok"))
      val state = tmp("graft_e38")
      (0 to 2).foreach { ep =>
        StreamOps.rateStateBatch(o.filter(col("o_custkey") % 3 === ep),
          ep, Seq("o_custkey"), "ok", state)
      }
      StreamOps.shrunkRatesFrom(s, state, Seq("o_custkey"))
        .select(col("key"), col("n"), col("y"),
          round(col("raw_rate"), 6).as("raw_rate"),
          round(col("prior_alpha"), 6).as("prior_alpha"),
          round(col("prior_beta"), 6).as("prior_beta"),
          round(col("shrunk"), 6).as("shrunk"))
        .orderBy("key")
    }),

    // E39 — ordered-funnel state: per-entity progress folded across 3
    // time-tercile epochs (greedy walk seeded from persisted stage),
    // rolled up to the C21 report ≡ the batch chained-window funnel.

    "e39_funnel_state" -> ((s, dir) => {
      val steps = Seq("view", "click", "purchase")
      val e = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
      val us = Relational.epochMicros(col("ts"))
      val (c1, c2) = terciles(e)
      val state = tmp("graft_e39")
      StreamOps.funnelStateBatch(e.filter(us <= c1), 0L,
        "user_id", "ts", "event_type", steps, state)
      StreamOps.funnelStateBatch(e.filter(us > c1 && us <= c2), 1L,
        "user_id", "ts", "event_type", steps, state)
      StreamOps.funnelStateBatch(e.filter(us > c2), 2L,
        "user_id", "ts", "event_type", steps, state)
      StreamOps.funnelFrom(s, state, steps).orderBy("step_index")
    }),

    // E22 — streaming point-in-time enrichment: the C30 PIT join run
    // per micro-batch against the static SCD dimension; the union of
    // the three epoch outputs must equal the one-shot batch join (the
    // hook is stateless per batch — the equivalence pins that the
    // epoch-keyed landing loses/duplicates nothing).

    "e22_pit_enrich" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = graft.etl.Scd.fromChangeLog(ev,
        keyCols = Seq("user_id"), attrCols = Seq("event_type"),
        tsCol = "ts", tieBreak = Seq("event_id"))
      val facts = ev.select(col("event_id"), col("user_id"),
        (col("ts") - expr("INTERVAL 1 HOUR")).as("lookup_ts"),
        col("event_type").as("cur_type"))
      val out = tmp("graft_e22")
      (0 to 2).foreach { ep =>
        StreamOps.pitEnrichedBatch(
          facts.filter(pmod(coalesce(col("event_id"), lit(0L)), lit(3)) === ep),
          ep, dim, "user_id", "lookup_ts", Seq("event_type"), out)
      }
      s.read.parquet(out)
        .groupBy(col("cur_type"),
          coalesce(col("pit_event_type"), lit("none")).as("prior_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("cur_type", "prior_type")
    }),

    // E40 — streaming Pareto-frontier state: per-epoch skylines merged
    // by one more skyline pass at read (the frontier is a merge
    // closure: a global frontier point survives its own epoch, and a
    // dominated point's dominator — or a transitive dominator — always
    // reaches the merge), ≡ the batch C44 skyline.

    "e40_skyline_state" -> ((s, dir) => {
      val p = Tables.part(s, dir)
      val state = tmp("graft_e40")
      (0 to 2).foreach { ep =>
        StreamOps.skylineStateBatch(p.filter(col("p_partkey") % 3 === ep),
          ep, "p_size", "p_retailprice", Seq("p_partkey"), state)
      }
      StreamOps.skylineFrom(s, state, "p_size", "p_retailprice")
        .select(col("p_partkey"), col("p_size"),
          round(col("p_retailprice"), 4).as("retail"))
        .orderBy("p_partkey")
    }),

    // E33 — streaming KS drift alarms: each micro-batch of click
    // values KS-tested against the static view-value reference and the
    // verdict landed per epoch; every epoch row must equal the batch
    // B22 test over exactly that epoch's slice.

    "e33_ks_drift" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click" &&
        col("event_id").isNotNull)
      val ref = e.filter(col("event_type") === "view").select(col("value"))
      val state = tmp("graft_e33")
      (0 to 2).foreach { ep =>
        StreamOps.ksDriftBatch(clicks.filter(col("event_id") % 3 === ep),
          ep, "value", ref, alpha = 0.05, state)
      }
      s.read.parquet(state)
        .select(col("batch").cast("long").as("epoch"), col("n_batch"),
          col("n_ref"), round(col("d_stat"), 6).as("d_stat"),
          round(col("p_value"), 6).as("p_value"), col("drifted"))
        .orderBy("epoch")
    }),

    // E19 — streaming balanced-shard writer: serpentine cost
    // assignment seeded from the PERSISTED per-shard loads each epoch;
    // the oracle replays the same 3-epoch serpentine closed-form, so
    // the final (docs, tokens) per shard pins rank order, the
    // lightest-first target list, and the load-state fold.

    "e19_balanced_shards" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
      val out = tmp("graft_e19o"); val state = tmp("graft_e19s")
      (0 to 2).foreach { ep =>
        StreamOps.balancedShardBatch(docs.filter(col("doc_id") % 3 === ep),
          ep, "doc_id", col("n_chars"), out, state, shards = 8)
      }
      s.read.parquet(out)
        .groupBy("shard").agg(count(lit(1)).as("n_docs"))
        .join(StreamOps.shardLoads(s, state), Seq("shard"))
        .select(col("shard").cast("int").as("shard"), col("n_docs"),
          col("tokens"))
        .orderBy("shard")
    }),

    // E18 — streaming quality-gate router: per-epoch C4-clean +
    // C4/Gopher gating with BOTH outcomes landed (keeps carry the
    // cleaned text, rejects the original text plus the named failed
    // gates); text synthesized multi-line from doc ids (the d56
    // discipline) so the line gates have real work. The oracle replays
    // every gate and the reason-array construction order.

    "e18_quality_router" -> ((s, dir) => {
      val t = split(col("text"), " ")
      def seg(start: Int, len: Int) = array_join(slice(t, start, len), " ")
      val synth = Tables.documents(s, dir).select(col("doc_id"),
        concat_ws("\n",
          concat(seg(1, 6), lit(".")),
          seg(7, 3),
          concat(seg(10, 6), lit("?")),
          lit("about javascript and more things here."),
          when(col("doc_id") % 2 === 0,
            lit("an extra sentence rounds out even documents.")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("config { x } traced through seven docs.")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit("lorem ipsum dolor sit amet consectetur.")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            lit("this document regrettably contains badword today.")).otherwise(lit("")))
          .as("text"))
      val keep = tmp("graft_e18k"); val rej = tmp("graft_e18r")
      (0 to 2).foreach { ep =>
        StreamOps.qualityRoutedBatch(synth.filter(col("doc_id") % 3 === ep),
          ep, "doc_id", "text", keep, rej,
          minLineWords = 5, minSentences = 3, badWords = Seq("badword"),
          minWords = 10)
      }
      val keeps = s.read.parquet(keep).select(
        col("batch").cast("long").as("epoch"), col("doc_id"),
        lit(true).as("kept"), lit("").as("reasons"),
        md5(col("text")).as("text_md5"))
      val rejs = s.read.parquet(rej).select(
        col("batch").cast("long").as("epoch"), col("doc_id"),
        lit(false).as("kept"),
        array_join(col("reject_reasons"), ",").as("reasons"),
        md5(col("text")).as("text_md5"))
      keeps.unionByName(rejs).orderBy("doc_id")
    }),

    // E30 — streaming OHLC bars through the REAL streaming machinery:
    // a file-source stream (3 single-file micro-batches), the
    // watermarked windowed min_by/max_by aggregation, a Complete-mode
    // memory sink — the incremental state fold must equal the batch
    // C52 bars (tie order pinned by event_id on both engines).
  )

  val oracleSql: Map[String, String] = StreamQueries2.oracleSql ++ Map(


    // Latest (user, day) activity row per user — the CDC snapshot.
    "e9_cdc_snapshot" ->
      """WITH chg AS (SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2)
        |SELECT user_id, d, CAST(n AS BIGINT) AS n FROM chg
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY d DESC) = 1
        |ORDER BY user_id""".stripMargin,

    // Exact distinct per type; the bound boolean pins TRUE (c8b).

    "e8_sketch_state" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS within_bound
        |FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    // d40's exact derivations, global grain; sketch bounds pin TRUE.

    "e11_corpus_cards" ->
      """WITH t AS (SELECT source, text,
        |  string_split(regexp_replace(lower(trim(text)),'\s+',' ','g'), ' ') AS w,
        |  md5(regexp_replace(lower(trim(text)),'\s+',' ','g')) AS fp FROM documents),
        |h AS (SELECT source, fp, CAST(len(w) AS BIGINT) AS n_toks,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(w) - len(list_filter(w, (x, i) -> i = 1 OR x <> w[i-1])) AS BIGINT) AS stutter,
        |  least(1.0, len(w)/100.0)*0.5
        |    + (1 - least(CAST(length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS DOUBLE)/length(text), 1.0))*0.3
        |    + (1 - least(CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)/length(text), 1.0))*0.2 AS q,
        |  len(list_filter(w, x -> x IN ('the','a','of','to','and','is','in','it'))) AS h_en,
        |  len(list_filter(w, x -> x IN ('der','die','das','und','ist','ein','nicht','zu'))) AS h_de,
        |  len(list_filter(w, x -> x IN ('el','la','de','los','que','y','un','es'))) AS h_es,
        |  len(list_filter(w, x -> x IN ('le','la','les','et','est','un','dans','que'))) AS h_fr
        | FROM t),
        |p AS (SELECT *, CASE
        |  WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
        |  WHEN h_de >= h_es AND h_de >= h_fr THEN 'de'
        |  WHEN h_es >= h_fr THEN 'es' ELSE 'fr' END AS lang FROM h)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        | CAST(sum(n_chars) AS BIGINT) AS n_chars,
        | CAST(sum(stutter) AS BIGINT) AS n_stutter_tokens,
        | TRUE AS avg_quality_ok,
        | CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
        | CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
        | CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
        | CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
        | TRUE AS dedup_est_ok, TRUE AS q50_rank_ok, TRUE AS q95_rank_ok
        |FROM p""".stripMargin,

    // d43's batch semantics verbatim: global min-(doc, pos) winner per
    // paragraph fingerprint, survivors rejoined in order.

    "e12_paragraph_dedup" ->
      """WITH ps AS (SELECT doc_id, string_split_regex(text, '\n{2,}') AS arr FROM documents),
        |p AS (SELECT doc_id, i - 1 AS pos, arr[i] AS para,
        |    md5(regexp_replace(lower(trim(arr[i])), '\s+', ' ', 'g')) AS fp
        |  FROM ps, UNNEST(range(1, len(arr) + 1)) AS u(i)
        |  WHERE length(trim(arr[i])) > 0),
        |w1 AS (SELECT fp, min(doc_id) AS d0 FROM p GROUP BY 1),
        |w2 AS (SELECT p.fp, min(p.pos) AS p0 FROM p JOIN w1 ON p.fp = w1.fp AND p.doc_id = w1.d0 GROUP BY 1),
        |k AS (SELECT p.doc_id, p.pos, p.para, (p.doc_id = w1.d0 AND p.pos = w2.p0) AS keep
        |  FROM p JOIN w1 ON p.fp = w1.fp JOIN w2 ON p.fp = w2.fp)
        |SELECT doc_id, count(*) AS n_paras,
        | CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | md5(coalesce(string_agg(para, chr(10)||chr(10) ORDER BY pos) FILTER (WHERE keep), '')) AS clean_md5
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // One batch aggregate over the full table — the state rollup must
    // be indistinguishable from never having split.

    "e14_agg_state" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(value) AS BIGINT) AS cnt_value,
        | round(sum(value), 4) AS sum_value,
        | round(min(value), 6) AS min_value,
        | round(max(value), 6) AS max_value,
        | round(sum(value) / count(value), 6) AS avg_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // Closed-form recrawl truth: epoch 0 all added, epoch 1 changes
    // exactly the %5 keys, epoch 2 exactly the %7 keys.

    "e16_content_diff" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |c AS (
        |  SELECT 0 AS epoch, doc_id, 'added' AS change FROM d
        |  UNION ALL
        |  SELECT 1, doc_id, CASE WHEN doc_id % 5 = 0 THEN 'changed' ELSE 'unchanged' END FROM d
        |  UNION ALL
        |  SELECT 2, doc_id, CASE WHEN doc_id % 7 = 0 THEN 'changed' ELSE 'unchanged' END FROM d)
        |SELECT CAST(epoch AS BIGINT) AS epoch, change,
        | CAST(count(*) AS BIGINT) AS n, CAST(sum(doc_id) AS BIGINT) AS key_sum
        |FROM c GROUP BY 1, 2 ORDER BY epoch, change""".stripMargin,

    // The CM estimate is exact at this width/cardinality, so the oracle
    // is the exact per-(type, user) count.

    "e17_cm_frequency" ->
      """SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS est
        |FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // b16's batch readout verbatim — epoch partials must re-collapse
    // to the same entity-grain numbers.

    "e24_experiment_state" ->
      """WITH e AS (SELECT user_id,
        |  CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || 'expA'), 1, 15) AS BIGINT) % 2 = 0
        |       THEN 'A' ELSE 'B' END AS variant,
        |  event_type = 'purchase' AS conv, value FROM events),
        |p AS (SELECT user_id, variant, max(CASE WHEN conv THEN 1 ELSE 0 END) AS c,
        |      sum(CASE WHEN conv THEN value ELSE 0 END) AS v FROM e GROUP BY 1, 2),
        |s AS (SELECT variant, count(*) AS n, sum(c) AS conv, sum(v) AS rev FROM p GROUP BY 1),
        |o AS (SELECT min(variant) AS variant_a, max(variant) AS variant_b,
        |   arg_min(n, variant) AS n_a, arg_max(n, variant) AS n_b,
        |   arg_min(conv, variant) AS conv_a, arg_max(conv, variant) AS conv_b,
        |   arg_min(rev, variant) AS rev_a, arg_max(rev, variant) AS rev_b FROM s)
        |SELECT variant_a, variant_b, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        | CAST(conv_a AS BIGINT) AS conv_a, CAST(conv_b AS BIGINT) AS conv_b,
        | round(conv_a * 1.0 / n_a, 4) AS rate_a, round(conv_b * 1.0 / n_b, 4) AS rate_b,
        | round(rev_a, 4) AS rev_a, round(rev_b, 4) AS rev_b,
        | round((conv_b*1.0/n_b - conv_a*1.0/n_a) / nullif(conv_a*1.0/n_a, 0) * 100, 4) AS lift_pct,
        | round((conv_b*1.0/n_b - conv_a*1.0/n_a)
        |   / nullif(sqrt(((conv_a+conv_b)*1.0/(n_a+n_b)) * (1 - (conv_a+conv_b)*1.0/(n_a+n_b))
        |       * (1.0/n_a + 1.0/n_b)), 0), 4) AS z_score,
        | round(pow(n_a - n_b, 2) * 1.0 / (n_a + n_b), 4) AS srm_chi2
        |FROM o""".stripMargin,

    // d74's deterministic Efraimidis-Spirakis race verbatim — the
    // re-raced union must equal the one-shot global top-k.

    "e25_weighted_sample" ->
      """WITH u AS (SELECT doc_id, lang, n_chars,
        |   ((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'wsk'), 1, 15) AS BIGINT)
        |      % 1000000) + 0.5) / 1000000.0 AS uu
        |  FROM documents WHERE n_chars > 0),
        |s AS (SELECT doc_id, lang, n_chars FROM u
        |      ORDER BY -ln(uu) / n_chars, doc_id LIMIT 50)
        |SELECT doc_id, lang, n_chars FROM s ORDER BY doc_id""".stripMargin,

    // Exact per-type top-3 users by event count, ties by user asc.

    "e26_topk_state" ->
      """WITH c AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY n DESC, user_id) AS rank FROM c)
        |SELECT event_type, user_id, n, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,

    // Exponent algebra collapses the per-batch re-referenced sums to
    // one global-reference sum: score = Σ 2^((t − t_max)/halflife).

    "e31_trending" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events
        |  WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |g AS (SELECT max(us) AS gref FROM e)
        |SELECT event_type,
        | round(sum(pow(2.0, (us - gref) / (604800.0 * 1e6))), 4) AS score
        |FROM e, g GROUP BY event_type ORDER BY event_type""".stripMargin,

    // d52's batch drift report verbatim — the cell rollup must be
    // indistinguishable from never having split.

    "e15_drift_cells" ->
      """WITH t0 AS (SELECT source, length(text) AS nc,
        |   len(string_split(regexp_replace(lower(trim(text)),'\s+',' ','g'), ' ')) AS nw,
        |   length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS np,
        |   length(regexp_replace(text, '[^A-Z]', '', 'g')) AS nu
        |  FROM documents),
        |t AS (SELECT source, least(1.0, nw/100.0)*0.5 + (1 - least(CAST(np AS DOUBLE)/nc, 1.0))*0.3
        |     + (1 - least(CAST(nu AS DOUBLE)/nc, 1.0))*0.2 AS v FROM t0),
        |b AS (SELECT source, least(9, greatest(0, CAST(floor(v/0.1) AS INT))) AS bin FROM t),
        |cells AS (SELECT source, bin, count(*) AS c FROM b GROUP BY 1,2),
        |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM cells GROUP BY 1),
        |gb AS (SELECT bin, CAST(sum(c) AS BIGINT) AS c_g FROM cells GROUP BY 1),
        |g AS (SELECT CAST(sum(c_g) AS BIGINT) AS n_g FROM gb),
        |grid AS (SELECT st.source, st.n_s, gb.bin, gb.c_g, coalesce(cells.c, 0) AS c
        |  FROM st CROSS JOIN gb LEFT JOIN cells ON cells.source = st.source AND cells.bin = gb.bin),
        |x AS (SELECT source, n_s, c, c_g,
        |   (c + 0.5) / (n_s + 5.0) AS p, (c_g + 0.5) / ((SELECT n_g FROM g) + 5.0) AS q,
        |   CAST(c_g AS DOUBLE) / (SELECT n_g FROM g) AS qe FROM grid)
        |SELECT source AS slice, max(n_s) AS n,
        | round(sum((p - q) * ln(p / q)), 6) AS psi,
        | round(sum(CASE WHEN c_g > 0 THEN pow(c - n_s * qe, 2) / (n_s * qe) ELSE 0 END), 4) AS chi2
        |FROM x GROUP BY 1 ORDER BY slice""".stripMargin,

    // d77's covariance spectrum verbatim — merged moments ≡ one pass.

    "e28_pca_moments" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, CAST(u.d AS INT) AS d, v[CAST(u.d AS INT) + 1] AS val
        |      FROM e, UNNEST(range(64)) AS u(d)),
        |c AS (SELECT a.d AS i, b.d AS j, covar_pop(a.val, b.val) AS cv
        |      FROM x a JOIN x b ON a.vec_id = b.vec_id GROUP BY 1, 2)
        |SELECT (SELECT count(*) FROM e) AS n,
        |       round(sum(CASE WHEN i = j THEN cv ELSE 0 END), 4) AS trace,
        |       round(sum(cv * cv), 4) AS frob2
        |FROM c""".stripMargin,

    // Per-token first epoch over the SAME doc_id % 3 split, new-type
    // counts per epoch, running vocabulary size.

    "e32_vocab_growth" ->
      """WITH salted AS (SELECT doc_id, text || ' uniq' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |toks AS (SELECT doc_id % 3 AS epoch,
        |   unnest(string_split(regexp_replace(lower(trim(text)),'\s+',' ','g'), ' ')) AS token
        |  FROM salted),
        |t2 AS (SELECT token, min(epoch) AS epoch FROM toks
        |       WHERE length(token) > 0 GROUP BY 1),
        |c AS (SELECT epoch, count(*) AS new_types FROM t2 GROUP BY 1)
        |SELECT CAST(epoch AS BIGINT) AS epoch, CAST(new_types AS BIGINT) AS new_types,
        | CAST(sum(new_types) OVER (ORDER BY epoch) AS BIGINT) AS vocab
        |FROM c ORDER BY epoch""".stripMargin,

    // b29's recursive recurrence over the full daily series (seed
    // l2=x2, b2=x2-x1), final state + 7-step forecast per type.

    "e36_forecast_state" ->
      """WITH RECURSIVE
        |daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS d, sum(value) AS x
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2),
        |o AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY d) AS t,
        |    count(*) OVER (PARTITION BY g) AS n FROM daily),
        |h AS (
        |  SELECT o2.g, o2.n, CAST(2 AS BIGINT) AS t, o2.x AS l, o2.x - o1.x AS b
        |  FROM o o1 JOIN o o2 ON o1.g = o2.g AND o1.t = 1 AND o2.t = 2
        |  UNION ALL
        |  SELECT o.g, o.n, o.t,
        |    0.3 * o.x + 0.7 * (h.l + h.b),
        |    0.1 * ((0.3 * o.x + 0.7 * (h.l + h.b)) - h.l) + 0.9 * h.b
        |  FROM h JOIN o ON o.g = h.g AND o.t = h.t + 1)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n, round(l, 4) AS level,
        | round(b, 4) AS trend, round(l + 7 * b, 4) AS forecast
        |FROM h WHERE t = n ORDER BY event_type""".stripMargin,

    // Full-history per-entity lead() pairs — boundary pairs included.

    "e37_markov_state" ->
      """WITH ev AS (SELECT user_id AS e, ts, event_type AS s FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL),
        |seq AS (SELECT e, s, lead(s) OVER (PARTITION BY e ORDER BY ts) AS nxt FROM ev),
        |cnt AS (SELECT s AS from_state, nxt AS to_state, CAST(count(*) AS BIGINT) AS cnt
        |  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_state, sum(cnt) AS rt FROM cnt GROUP BY 1)
        |SELECT cnt.from_state, cnt.to_state, cnt.cnt,
        | round(cnt.cnt * 1.0 / tot.rt, 6) AS p
        |FROM cnt JOIN tot USING (from_state)
        |ORDER BY from_state, to_state""".stripMargin,

    // b32's shrinkage over the rolled-up counts; key is the reader's
    // string-composited form.

    "e38_rate_state" ->
      """WITH pk AS (SELECT CAST(o_custkey AS VARCHAR) AS key, count(*) AS n,
        |    sum(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END) AS y
        |  FROM orders WHERE o_custkey IS NOT NULL AND o_orderstatus IS NOT NULL
        |  GROUP BY 1),
        |m AS (SELECT avg(y / n) AS mu, var_pop(y / n) AS s2 FROM pk),
        |pr AS (SELECT mu, CASE WHEN s2 > 0 AND mu > 0 AND mu < 1
        |      AND mu * (1 - mu) / s2 - 1 > 0
        |    THEN mu * (1 - mu) / s2 - 1 END AS ab FROM m)
        |SELECT key, CAST(n AS BIGINT) AS n, y, round(y / n, 6) AS raw_rate,
        | round(mu * ab, 6) AS prior_alpha, round((1 - mu) * ab, 6) AS prior_beta,
        | round((y + mu * ab) / (n + ab), 6) AS shrunk
        |FROM pk, pr ORDER BY key""".stripMargin,

    // c30's batch PIT oracle verbatim — the epoch-keyed landing must
    // lose/duplicate nothing.

    "e22_pit_enrich" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |f AS (SELECT user_id, event_type, us, event_id,
        |  (row_number() OVER w = 1
        |   OR event_type IS DISTINCT FROM lag(event_type) OVER w) AS chg
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |v AS (SELECT user_id, event_type AS vtype, us AS vfrom,
        |   lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS vto FROM f WHERE chg),
        |fc AS (SELECT event_id, user_id, event_type AS cur_type, us - 3600000000 AS lus FROM e),
        |j AS (SELECT fc.cur_type, v.vtype
        |      FROM fc LEFT JOIN v ON fc.user_id = v.user_id
        |        AND v.vfrom <= fc.lus AND (v.vto IS NULL OR fc.lus < v.vto))
        |SELECT cur_type, coalesce(vtype, 'none') AS prior_type, count(*) AS n
        |FROM j GROUP BY 1, 2 ORDER BY cur_type, prior_type""".stripMargin,

    // c44's batch skyline oracle verbatim — the per-epoch frontier
    // merge must be indistinguishable from never having split.

    "e40_skyline_state" ->
      """SELECT p.p_partkey, p.p_size, round(p.p_retailprice, 4) AS retail
        |FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part q
        |  WHERE q.p_size >= p.p_size AND q.p_retailprice >= p.p_retailprice
        |    AND (q.p_size > p.p_size OR q.p_retailprice > p.p_retailprice))
        |ORDER BY p.p_partkey""".stripMargin,

    // b22's exact KS test replayed per epoch slice (same distinct-value
    // collapse, same Kolmogorov series), verdict at alpha = 0.05.

    "e33_ks_drift" -> (0 to 2).map { ep =>
      s"""SELECT CAST($ep AS BIGINT) AS epoch, n_a AS n_batch, n_b AS n_ref,
         | d_stat, p_value, (p_value IS NOT NULL AND p_value < 0.05) AS drifted
         |FROM (
         |WITH a AS (SELECT value AS v FROM events
         |  WHERE event_type = 'click' AND value IS NOT NULL
         |    AND event_id IS NOT NULL AND event_id % 3 = $ep),
         |b AS (SELECT value AS v FROM events
         |  WHERE event_type = 'view' AND value IS NOT NULL),
         |ca AS (SELECT v, count(*) AS na FROM a GROUP BY 1),
         |cb AS (SELECT v, count(*) AS nb FROM b GROUP BY 1),
         |m AS (SELECT coalesce(ca.v, cb.v) AS v,
         |    coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
         |  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
         |c AS (SELECT sum(na) OVER w AS cna, sum(nb) OVER w AS cnb FROM m
         |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |t AS (SELECT (SELECT count(*) FROM a) AS ta, (SELECT count(*) FROM b) AS tb),
         |d AS (SELECT max(abs(cna * 1.0 / t.ta - cnb * 1.0 / t.tb)) AS ds,
         |    max(t.ta) AS ta, max(t.tb) AS tb FROM c, t),
         |l AS (SELECT ds, ta, tb,
         |    (sqrt(ta * 1.0 * tb / (ta + tb)) + 0.12 +
         |     0.11 / sqrt(ta * 1.0 * tb / (ta + tb))) * ds AS lam FROM d)
         |SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
         | round(ds, 6) AS d_stat,
         | round(CASE WHEN lam < 0.05 THEN 1.0
         |   ELSE least(1.0, greatest(0.0, 2.0 * list_sum(list_transform(range(1, 101),
         |     k -> (CASE WHEN k % 2 = 1 THEN 1.0 ELSE -1.0 END) *
         |       exp(-2.0 * k * k * lam * lam))))) END, 6) AS p_value
         |FROM l)""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY epoch"),

    // The 3-epoch serpentine closed-form: per-epoch global rank by
    // (cost desc, id), position folded over 2S, targets = shards
    // ordered lightest-first by the PRIOR epochs' accumulated loads.

    "e19_balanced_shards" ->
      """WITH d AS (SELECT doc_id, doc_id % 3 AS ep, CAST(n_chars AS BIGINT) AS c FROM documents),
        |sh AS (SELECT CAST(unnest(range(8)) AS INT) AS shard),
        |r0 AS (SELECT doc_id, c, row_number() OVER (ORDER BY c DESC, doc_id) - 1 AS rk FROM d WHERE ep = 0),
        |a0 AS (SELECT doc_id, c,
        |   CAST(CASE WHEN rk % 16 < 8 THEN rk % 16 ELSE 15 - (rk % 16) END AS INT) AS shard FROM r0),
        |l1 AS (SELECT sh.shard, coalesce(sum(a0.c), 0) AS tokens FROM sh LEFT JOIN a0 USING (shard) GROUP BY 1),
        |o1 AS (SELECT shard, row_number() OVER (ORDER BY tokens ASC, shard ASC) - 1 AS lr FROM l1),
        |r1 AS (SELECT doc_id, c, row_number() OVER (ORDER BY c DESC, doc_id) - 1 AS rk FROM d WHERE ep = 1),
        |a1 AS (SELECT r1.doc_id, r1.c, o1.shard FROM r1 JOIN o1
        |   ON (CASE WHEN r1.rk % 16 < 8 THEN r1.rk % 16 ELSE 15 - (r1.rk % 16) END) = o1.lr),
        |l2 AS (SELECT l1.shard, l1.tokens + coalesce(sum(a1.c), 0) AS tokens
        |   FROM l1 LEFT JOIN a1 USING (shard) GROUP BY 1, l1.tokens),
        |o2 AS (SELECT shard, row_number() OVER (ORDER BY tokens ASC, shard ASC) - 1 AS lr FROM l2),
        |r2 AS (SELECT doc_id, c, row_number() OVER (ORDER BY c DESC, doc_id) - 1 AS rk FROM d WHERE ep = 2),
        |a2 AS (SELECT r2.doc_id, r2.c, o2.shard FROM r2 JOIN o2
        |   ON (CASE WHEN r2.rk % 16 < 8 THEN r2.rk % 16 ELSE 15 - (r2.rk % 16) END) = o2.lr),
        |l3 AS (SELECT l2.shard, l2.tokens + coalesce(sum(a2.c), 0) AS tokens
        |   FROM l2 LEFT JOIN a2 USING (shard) GROUP BY 1, l2.tokens),
        |u AS (SELECT shard FROM a0 UNION ALL SELECT shard FROM a1 UNION ALL SELECT shard FROM a2),
        |cnt AS (SELECT shard, count(*) AS n_docs FROM u GROUP BY 1)
        |SELECT l3.shard, cnt.n_docs, CAST(l3.tokens AS BIGINT) AS tokens
        |FROM l3 JOIN cnt USING (shard) ORDER BY shard""".stripMargin,

    // Every gate replayed over the d56 synthesis: C4 line cleaning,
    // the C4 page rules, the Gopher quality rules over the CLEANED
    // text (minWords 10), and the reason array in the router's fixed
    // construction order; text_md5 pins keeps = cleaned, rejects =
    // original.

    "e18_quality_router" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |synth AS (SELECT doc_id, concat_ws(chr(10),
        |    array_to_string(list_slice(t, 1, 6), ' ') || '.',
        |    array_to_string(list_slice(t, 7, 9), ' '),
        |    array_to_string(list_slice(t, 10, 15), ' ') || '?',
        |    'about javascript and more things here.',
        |    CASE WHEN doc_id % 2 = 0 THEN 'an extra sentence rounds out even documents.' ELSE '' END,
        |    CASE WHEN doc_id % 7 = 0 THEN 'config { x } traced through seven docs.' ELSE '' END,
        |    CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet consectetur.' ELSE '' END,
        |    CASE WHEN doc_id % 13 = 0 THEN 'this document regrettably contains badword today.' ELSE '' END
        |  ) AS text FROM base),
        |c AS (SELECT doc_id, text,
        |  list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> length(x) > 0) AS lines
        |  FROM synth),
        |k AS (SELECT doc_id, text, lines,
        |  list_filter(lines, l -> regexp_matches(l, '[.!?]["”'']?$')
        |    AND len(string_split(trim(regexp_replace(l, '\s+', ' ', 'g')), ' ')) >= 5
        |    AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM c),
        |f AS (SELECT doc_id, text, array_to_string(kept, chr(10)) AS clean FROM k),
        |g AS (SELECT doc_id, text, clean,
        |  len(regexp_extract_all(clean, '([.!?]+)', 1)) >= 3 AS ok_sentences,
        |  NOT contains(lower(clean), 'lorem ipsum') AS ok_lorem,
        |  NOT contains(clean, '{') AS ok_brace,
        |  NOT list_contains(string_split(regexp_replace(lower(trim(clean)), '\s+', ' ', 'g'), ' '), 'badword') AS ok_bad
        |  FROM f),
        |gt AS (SELECT doc_id,
        |   string_split(regexp_replace(lower(trim(clean)),'\s+',' ','g'), ' ') AS w FROM g),
        |qm AS (SELECT gt.doc_id,
        |   len(w) AS nw,
        |   list_aggregate(list_transform(w, x -> length(x)), 'sum') * 1.0 / len(w) AS mean_len,
        |   ((length(g.clean) - length(replace(g.clean, '#', ''))) * 1.0
        |     + len(regexp_extract_all(g.clean, '(\.{3}|…)'))) / greatest(len(w), 1) AS sym_ratio,
        |   len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1.0 / greatest(len(w), 1) AS alpha_ratio,
        |   len(list_filter(w, x -> x IN ('the','be','to','of','and','that','have','with'))) AS n_stop,
        |   list_filter(string_split(g.clean, chr(10)), l -> length(trim(l)) > 0) AS lines
        |  FROM gt JOIN g USING (doc_id)),
        |qf AS (SELECT doc_id,
        |   (nw >= 10 AND nw <= 100000) AS ok_words,
        |   (mean_len >= 3.0 AND mean_len <= 10.0) AS ok_mean,
        |   (sym_ratio <= 0.1) AS ok_sym,
        |   (alpha_ratio >= 0.8) AS ok_alpha,
        |   (n_stop >= 2) AS ok_stop,
        |   (len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) * 1.0
        |      / greatest(len(lines), 1) <= 0.9) AS ok_bullet,
        |   (len(list_filter(lines, l -> regexp_matches(trim(l), '(\.{3}|…)$'))) * 1.0
        |      / greatest(len(lines), 1) <= 0.3) AS ok_ellipsis
        |  FROM qm),
        |r AS (SELECT g.doc_id, CAST(g.doc_id % 3 AS BIGINT) AS epoch,
        |   (ok_sentences AND ok_lorem AND ok_brace AND ok_bad
        |    AND ok_words AND ok_mean AND ok_sym AND ok_alpha AND ok_stop
        |    AND ok_bullet AND ok_ellipsis) AS kept,
        |   array_to_string(list_filter([
        |     CASE WHEN NOT ok_sentences THEN 'c4_sentences' END,
        |     CASE WHEN NOT ok_lorem THEN 'c4_lorem' END,
        |     CASE WHEN NOT ok_brace THEN 'c4_brace' END,
        |     CASE WHEN NOT ok_bad THEN 'c4_bad_words' END,
        |     CASE WHEN NOT ok_words THEN 'gopher_word_count' END,
        |     CASE WHEN NOT ok_mean THEN 'gopher_mean_word_len' END,
        |     CASE WHEN NOT ok_sym THEN 'gopher_symbol_ratio' END,
        |     CASE WHEN NOT ok_alpha THEN 'gopher_alpha_words' END,
        |     CASE WHEN NOT ok_stop THEN 'gopher_stop_words' END,
        |     CASE WHEN NOT ok_bullet THEN 'gopher_bullet_lines' END,
        |     CASE WHEN NOT ok_ellipsis THEN 'gopher_ellipsis_lines' END
        |   ], x -> x IS NOT NULL), ',') AS all_reasons,
        |   g.text AS orig, g.clean AS clean
        |  FROM g JOIN qf USING (doc_id))
        |SELECT doc_id, epoch, kept,
        | CASE WHEN kept THEN '' ELSE all_reasons END AS reasons,
        | md5(CASE WHEN kept THEN clean ELSE orig END) AS text_md5
        |FROM r ORDER BY doc_id""".stripMargin,

    // c52's batch OHLC oracle over the watermark-eligible (non-null
    // ts) rows — the streaming state fold must equal the one-shot
    // windowed aggregate.

    "e39_funnel_state" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_type AS et FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL),
        |u1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE et = 'view' GROUP BY 1),
        |u2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN u1 USING (user_id) WHERE et = 'click' AND t > t1 GROUP BY 1),
        |u3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN u2 USING (user_id) WHERE et = 'purchase' AND t > t2 GROUP BY 1),
        |n AS (SELECT (SELECT count(*) FROM u1) AS n1, (SELECT count(*) FROM u2) AS n2, (SELECT count(*) FROM u3) AS n3)
        |SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS step_index, 'view' AS step, CAST(n1 AS BIGINT) AS n_users, round(n1*1.0/n1,4) AS conversion FROM n
        | UNION ALL SELECT 2, 'click', CAST(n2 AS BIGINT), round(n2*1.0/n1,4) FROM n
        | UNION ALL SELECT 3, 'purchase', CAST(n3 AS BIGINT), round(n3*1.0/n1,4) FROM n
        |) ORDER BY step_index""".stripMargin,

    // The batch tumbling-day aggregate over the same filtered rows.
  )
}
