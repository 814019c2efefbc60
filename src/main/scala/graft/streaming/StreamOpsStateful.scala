package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.etl.HadoopFs
import java.sql.Timestamp
import StreamOps.{ScoreEvent, ZState, ZAlert, TypedEvent, CepState, CepMatch, SilenceState, SilenceAlert,
  epochs, priorEpochs, writeEpoch}

/** The stateful-alerting / keyed-state half of [[StreamOps]], split
  * out along the SURVEY E-series boundary purely for file size (the
  * object mixes this trait in; every member is still called as
  * `StreamOps.x`): flatMapGroupsWithState alert operators (z-score,
  * CEP sequence match, silence), session windows, late routing, and
  * the persisted-state sinks with their readouts (decayed trends, KS
  * drift, vocab growth, forecasts, Markov transitions, EB rates,
  * funnels, skylines). Typed row case classes stay on the OBJECT —
  * a case class nested in a trait captures an outer pointer and
  * breaks Spark's product encoders.
  */
private[streaming] trait StreamOpsStateful {

  /** Streaming rolling z-score anomaly alerts via
    * `flatMapGroupsWithState` — the live counterpart of
    * [[graft.analytics.Anomaly.rollingZScore]]: each event is scored
    * against its entity's `lookback` most recent PRIOR values held in
    * state, and an alert row is emitted the moment |z| exceeds
    * `zThreshold` (full-baseline, nonzero-variance events only — the
    * batch operator's warm-up and zero-variance gates).
    *
    * State is one bounded `lookback`-element list per entity —
    * O(active entities × lookback) total, with event-time timeout +
    * watermark evicting entities idle past `stateTtl` so abandoned keys
    * cannot accumulate. Within a micro-batch events fold in event-time
    * order; ACROSS batches arrival order is the stream's order
    * (late-but-in-watermark events score against the state at arrival
    * — an alerting stream reacts to what it has seen, it does not
    * retro-score; the batch operator is the reconciliation path). */
  def zScoreAlerts(
      spark: SparkSession,
      events: Dataset[ScoreEvent],
      watermark: String,
      lookback: Int,
      zThreshold: Double,
      stateTtlSeconds: Long = 3600): Dataset[ZAlert] = {
    import spark.implicits._
    require(lookback >= 2, "lookback must be >= 2 (stddev_samp needs 2 observations)")
    val ttlMillis = stateTtlSeconds * 1000L
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[ScoreEvent], state: GroupState[ZState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.value))
            var recent = state.getOption.map(_.recent).getOrElse(Nil)
            val alerts = List.newBuilder[ZAlert]
            var maxTs = Long.MinValue
            sorted.foreach { e =>
              maxTs = math.max(maxTs, e.ts.getTime)
              if (recent.length == lookback) {
                val mu = recent.sum / lookback
                val sd = math.sqrt(
                  recent.map(v => (v - mu) * (v - mu)).sum / (lookback - 1))
                if (sd > 0) {
                  val z = (e.value - mu) / sd
                  if (math.abs(z) > zThreshold) alerts += ZAlert(userId, e.ts, e.value, z)
                }
              }
              recent = (e.value :: recent).take(lookback)
            }
            state.update(ZState(recent))
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(math.max(maxTs + ttlMillis, wm + 1))
            alerts.result().iterator
          }
      }
  }

  /** E22 — streaming point-in-time enrichment: each arriving fact is
    * joined to the SCD2 dimension version whose validity interval
    * contains the fact's event time (C30's `pointInTimeJoin`, run per
    * micro-batch under [[StreamOps.foreachEpoch]]). This is the
    * streaming shape a native stream-stream join cannot express —
    * interval containment is a non-equi condition, and the dimension
    * is a SLOWLY-changing table, not a stream with a watermark;
    * per-batch batch-API reuse
    * is the canonical decomposition (the same C30 plan, candidates
    * bounded by the batch). Epoch-keyed overwrite under
    * `batch=<epochId>` makes replays byte-identical no-ops (the
    * E14-E18 contract). The dimension snapshot is read at batch time:
    * a dim updated mid-stream affects only later batches — the
    * at-ingest interpretation, matching how E9's CDC snapshots feed
    * this join. */
  def pitEnrichedBatch(
      batch: DataFrame,
      epochId: Long,
      dim: DataFrame,
      key: String,
      factTs: String,
      attrCols: Seq[String],
      outRoot: String): Unit =
    writeEpoch(graft.operators.Relational.pointInTimeJoin(batch, dim, key, factTs, attrCols),
      outRoot, epochId)

  /** E23 — streaming Bronze ingest with a LIVE per-file Bloom sidecar
    * (C40's index maintained at write time): each micro-batch lands
    * its rows under `batch=<epochId>` AND appends the matching
    * (file, bloom) sidecar rows under the same epoch key, so
    * point-lookup file skipping ([[graft.sources.BloomIndex
    * .candidateFiles]]) stays exact over data that arrived seconds
    * ago — indexing at write time costs one aggregate over rows
    * already in memory, while indexing later re-reads every file (the
    * A27 "write compact beats compacting after" argument, applied to
    * indexes). Both roots overwrite per epoch → replay is a
    * byte-identical no-op (the E14-E18 contract). The sidecar is built
    * by re-reading the JUST-written epoch directory (file-bounded,
    * page-cache-warm) so the `file` column holds the exact landed paths
    * `input_file_name()` reports. */
  def bloomIndexedBatch(
      batch: DataFrame,
      epochId: Long,
      column: String,
      dataRoot: String,
      indexRoot: String,
      expectedPerFile: Long = 1000000L,
      fpp: Double = 0.01): Unit = {
    writeEpoch(batch, dataRoot, epochId)
    writeEpoch(graft.sources.BloomIndex.build(batch.sparkSession, s"$dataRoot/batch=$epochId",
        column, expectedPerFile, fpp), indexRoot, epochId)
  }

  /** Streaming heavy-hitter (frequent-items) state — E26, the streaming
    * mirror of C8f: each micro-batch lands one `approx_top_k`
    * ACCUMULATE row per key group; any later "top k items per group"
    * probe rolls the stored state up with
    * [[graft.operators.Sketches.topKRollup]] (combine + estimate over
    * the tiny state rows) — raw traffic is never rescanned, and counts
    * stay EXACT while ≤ `maxItemsTracked` distinct items per sketch.
    *
    * Like count-min (and unlike HLL union), top-k combine ADDS counts,
    * so a blind append would double-count a replayed batch. Batches
    * therefore land under `batch=<epochId>` in OVERWRITE mode (the
    * [[StreamOps.frequencyStateBatch]] epoch-keyed replay contract): a
    * replayed epoch rewrites identical files and every rollup over the
    * log stays exact. Compact on the Bronze lifecycle by combining the
    * log into one row per group at a fresh path. */
  def topKStateBatch(
      batch: DataFrame,
      epochId: Long,
      keys: Seq[String],
      value: String,
      statePath: String,
      maxItemsTracked: Int = 10000): Unit =
    writeEpoch(
      graft.operators.Sketches.topKSketchTable(batch, keys.map(col), col(value), maxItemsTracked),
      statePath, epochId)

  /** Streaming PCA moment state — E28, the streaming half of D77: each
    * micro-batch lands ONE `(n, Σv, packed Σvvᵀ)` moment row
    * ([[graft.vectors.Pca.momentTable]]); fitting a current PCA model
    * at any moment is [[pcaFromState]] — merge the stored rows
    * (state-scale: one row per batch) and run the driver eigensolve.
    * Raw vectors are never rescanned, so the whitening/projection model
    * tracks an unbounded embedding stream at per-batch cost O(batch·d²)
    * map-side + one tiny row of output.
    *
    * Moment sums ADD (the count-min class, not the HLL class), so
    * batches land under `batch=<epochId>` in OVERWRITE mode — the
    * [[StreamOps.frequencyStateBatch]] epoch-keyed replay contract: a
    * replayed epoch rewrites an equivalent row, never a double count.
    * One nuance vs the integer sketches: double sums are not
    * associative, so a replayed row matches to fp merge order (~1e-15
    * relative), not bit-for-bit. Compact on the Bronze lifecycle by
    * merging rows. */
  def pcaMomentStateBatch(
      batch: DataFrame, epochId: Long, vecCol: String, dim: Int, statePath: String): Unit =
    writeEpoch(graft.vectors.Pca.momentTable(batch, vecCol, dim), statePath, epochId)

  /** Fit the current model from stored moment state (rows = batches —
    * bounded driver collect, the compaction-scale contract). */
  def pcaFromState(
      spark: SparkSession, statePath: String, dim: Int, k: Int): graft.vectors.Pca.PcaModel = {
    import spark.implicits._
    val rows = epochs(spark, statePath)
      .select(col("n"), col("sum"), col("gram"))
      .as[(Long, Seq[Double], Seq[Double])].collect().toSeq
    val (n, mean, cov) = graft.vectors.Pca.momentsFromRows(rows, dim)
    graft.vectors.Pca.fitFromMoments(n, mean, cov, k)
  }

  /** E29 — streaming write-audit ingest with quarantine routing: the
    * micro-batch form of [[graft.etl.Publish]]'s gate. Each batch is
    * STAGED, audited as-landed with [[graft.etl.Checks]] (one
    * aggregation pass over the staged files), and then atomically
    * renamed into EITHER `dataRoot/batch=<epochId>` (all checks pass —
    * visible to every reader of `dataRoot`) OR
    * `quarantineRoot/batch=<epochId>` plus an `_audit` parquet holding
    * the failed-check metrics (any check fails — the batch is preserved
    * byte-for-byte for forensics/repair, never half-visible, never
    * dropped). A poisoned upstream batch therefore degrades the
    * pipeline's freshness, not its integrity — the A1 valid/rejected
    * routing lifted from rows to batches.
    *
    * Replay: epoch-keyed target dirs are deleted before the rename, so
    * a replayed epoch lands byte-identical in the SAME side (audits are
    * deterministic) — the [[StreamOps.frequencyStateBatch]] overwrite
    * contract. */
  def auditedIngestBatch(
      batch: DataFrame,
      epochId: Long,
      checks: Seq[graft.etl.Checks.Check],
      dataRoot: String,
      quarantineRoot: String): Unit = {
    require(checks.nonEmpty, "an audited ingest needs at least one check")
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val staging = new Path(dataRoot, s"_staging_batch=$epochId")
    batch.write.mode("overwrite").parquet(staging.toString)
    val audit = graft.etl.Checks.audit(spark.read.parquet(staging.toString), checks)
      .cache()
    try {
      val passed = audit.filter(!col("passed")).isEmpty
      val target =
        if (passed) new Path(dataRoot, s"batch=$epochId")
        else new Path(quarantineRoot, s"batch=$epochId")
      HadoopFs.promote(spark, staging, target) // replaces a replayed epoch's dir
      if (!passed) writeEpoch(audit, s"$quarantineRoot/_audit", epochId)
    } finally audit.unpersist()
  }


  /** E27 — streaming sequence pattern matching, the live counterpart of
    * [[graft.operators.SequenceMatch]] (C49): count completions of a
    * symbol-regex funnel per entity as events arrive, with EVENT-TIME
    * correctness under out-of-order arrival.
    *
    * The Flink-CEP buffering discipline on
    * `flatMapGroupsWithState` + EventTimeTimeout: arriving events are
    * symbolized and PARKED in per-entity pending state; only when the
    * WATERMARK passes an event's timestamp does it graduate — pending
    * events up to the watermark are sorted by (ts, symbol) and appended
    * to the entity's symbol tail, which is then scanned for NEW
    * non-overlapping matches (a `Matcher.find` loop, same leftmost
    * semantics as the batch operator). Matching on graduation rather
    * than arrival is what makes a late-but-within-watermark event land
    * in its true sequence position instead of at the stream's whim.
    *
    * State is bounded: pending holds ≤ watermark-delay's worth of
    * events; the scanned tail keeps only the unconsumed suffix after
    * the last match, capped at `maxTail` symbols — the contract is
    * that no single match spans more than `maxTail` events (pick it ≥
    * the pattern's maximum plausible span; a funnel that ran longer is
    * dropped, not mis-counted). Emission is append-mode through the
    * checkpoint, so counts are exactly-once to the sink.
    *
    * Shared watermark caveat with [[silenceAlerts]]: graduation is
    * driven by the global watermark, so a stalled stream stops
    * emitting until traffic resumes. */
  def sequenceMatches(
      spark: SparkSession,
      events: Dataset[TypedEvent],
      watermark: String,
      symbols: Map[String, String],
      pattern: String,
      maxTail: Int = 256): Dataset[CepMatch] = {
    import spark.implicits._
    require(symbols.nonEmpty, "symbols map must be non-empty")
    require(symbols.values.forall(s => s.length == 1 && s != "_"),
      s"symbols must be single characters and not the reserved '_', got ${symbols.values}")
    require(symbols.values.toSet.size == symbols.size,
      "symbol characters must be distinct")
    require(maxTail >= 2, s"maxTail must be >= 2, got $maxTail")
    val symTable = symbols // stable local capture for the closure
    val patternStr = pattern
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[TypedEvent], state: GroupState[CepState]) =>
          val rx = java.util.regex.Pattern.compile(patternStr)
          val prior = state.getOption.getOrElse(CepState(Nil, ""))
          val arrived = batch.map(e =>
            (e.ts.getTime, symTable.getOrElse(e.event_type, "_"))).toList
          val wm = state.getCurrentWatermarkMs()
          val (ripe, stillPending) = (prior.pending ++ arrived).partition(_._1 <= wm)
          if (ripe.isEmpty && arrived.isEmpty && !state.hasTimedOut && prior.pending.isEmpty) {
            Iterator.empty
          } else {
            val graduated = ripe.sorted // (ts, sym) lexicographic = event-time order
            val scanBase = prior.tail + graduated.map(_._2).mkString
            val m = rx.matcher(scanBase)
            var nNew = 0L
            var lastEnd = 0
            while (m.find()) { nNew += 1L; lastEnd = m.end() }
            val tail = scanBase.substring(lastEnd).takeRight(maxTail)
            if (stillPending.isEmpty && tail.isEmpty) state.remove()
            else {
              state.update(CepState(stillPending, tail))
              // wake when the watermark can graduate the oldest parked
              // event; a bare tail needs no timer — only new events
              // (which take the data path) can extend it into a match
              stillPending.map(_._1).minOption.foreach(next =>
                state.setTimeoutTimestamp(math.max(next, wm + 1L)))
            }
            if (nNew > 0L && graduated.nonEmpty)
              Iterator.single(CepMatch(userId, nNew, new Timestamp(graduated.last._1)))
            else Iterator.empty
          }
      }
  }


  /** E21 — streaming silence (heartbeat-loss) detection, the live
    * counterpart of [[graft.operators.TimeSeries.gapFillLocf]]'s gap
    * flagging: alert when a previously-seen entity produces NO events
    * for `gapSeconds` of EVENT time. Dead sensors, stalled crawl
    * sources, and wedged ingest shards all look exactly like this —
    * and no per-event operator can see them, because the signal is the
    * absence of input; only an event-time TIMER can fire on silence.
    *
    * `flatMapGroupsWithState` + EventTimeTimeout: each event re-arms
    * the entity's timer to `last_seen + gapSeconds` (clamped past the
    * current watermark, which Spark requires of timeout timestamps);
    * when the WATERMARK — driven by other, still-alive entities —
    * crosses the deadline with no new events, the timeout path emits
    * ONE alert carrying the entity's last-seen time and removes the
    * state, so state stays O(active entities) (an entity that stays
    * silent forever costs nothing after its alert) and a reappearing
    * entity is tracked afresh (a new silence episode can re-alert —
    * episode semantics, not once-ever). `gap_sec` reports the
    * CONFIGURED threshold (deterministic), not the watermark overshoot
    * (which depends on batch arrival timing — unstable under replay).
    *
    * Caveat shared with every watermark-timer design: if the WHOLE
    * stream stops, the watermark stops advancing and no alert fires —
    * whole-stream liveness needs a processing-time monitor
    * (`StreamingQueryProgress.numInputRows == 0`), not event-time
    * state; per-entity silence within a live stream is what this
    * operator decides. */
  def silenceAlerts(
      spark: SparkSession,
      events: Dataset[ScoreEvent],
      watermark: String,
      gapSeconds: Long): Dataset[SilenceAlert] = {
    import spark.implicits._
    require(gapSeconds >= 1, s"gapSeconds must be >= 1, got $gapSeconds")
    val gapMs = gapSeconds * 1000L
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[ScoreEvent], state: GroupState[SilenceState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            val last = state.get.lastSeenMs
            state.remove()
            Iterator.single(SilenceAlert(userId, new Timestamp(last), gapSeconds))
          } else {
            var lastSeen = state.getOption.map(_.lastSeenMs).getOrElse(Long.MinValue)
            batch.foreach(e => lastSeen = math.max(lastSeen, e.ts.getTime))
            state.update(SilenceState(lastSeen))
            state.setTimeoutTimestamp(
              math.max(lastSeen + gapMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** E31 — streaming exponentially-decayed trending counts: "what is
    * hot NOW", where an event's weight halves every `halfLifeSeconds`.
    * The recency-weighted complement of [[topKStateBatch]]'s all-time
    * heavy hitters (E26): a key with 10^6 hits last month loses to a
    * key with 10^3 hits this hour once the half-life is an hour.
    *
    * State representation makes decay MERGEABLE: each micro-batch
    * lands one row per key `(key, w, ref_us)` where `ref_us` is the
    * batch's max event time and `w = Σ 2^((t_i − ref_us)/h)` over the
    * batch's events — every exponent ≤ 0, so no overflow at any
    * timescale, and rows from different batches combine by decaying
    * both to a common reference and adding ([[trendingTopK]]). Weighted
    * sums ADD (the count-min class, not the HLL class), so batches land
    * under `batch=<epochId>` in OVERWRITE mode — the [[topKStateBatch]]
    * epoch-keyed replay contract: a replayed epoch rewrites an
    * equivalent row, never a double count (fp-equal to merge order,
    * the [[pcaMomentStateBatch]] nuance). Per-batch cost is one partial-
    * aggregating groupBy plus a one-row batch-reference broadcast;
    * state is |keys| rows per epoch, compacted on the Bronze lifecycle
    * by merging rows through the same decay-and-add. */
  def decayedTrendBatch(
      batch: DataFrame,
      epochId: Long,
      keys: Seq[String],
      ts: String,
      halfLifeSeconds: Double,
      statePath: String): Unit = {
    require(halfLifeSeconds > 0, s"halfLifeSeconds must be positive, got $halfLifeSeconds")
    val us = graft.operators.Relational.epochMicros(col(ts))
    val withUs = batch.filter(col(ts).isNotNull).select(
      (keys.map(col) :+ us.as("__us")): _*)
    val ref = withUs.agg(max(col("__us")).as("__ref_us"))
    writeEpoch(withUs.crossJoin(broadcast(ref))
      .groupBy(keys.map(col): _*)
      .agg(sum(pow(lit(2.0), (col("__us") - col("__ref_us")) /
          lit(halfLifeSeconds * 1e6))).as("w"),
        max(col("__ref_us")).as("ref_us")), statePath, epochId)
  }

  /** E33 — streaming distribution-drift alarms: each micro-batch runs
    * the EXACT two-sample KS test ([[graft.analytics.Stats.ksTest]],
    * B22) of the batch's `value` distribution against a fixed REFERENCE
    * sample and lands one verdict row `(n_batch, n_ref, d_stat,
    * p_value, drifted)` under `batch=<epochId>` — the bin-free
    * complement of E15's PSI drift cells: no bin edges to tune, and a
    * shape change inside one bin still moves D. A tiny batch simply
    * yields an underpowered test (large p), never a spurious alarm —
    * the right failure direction for an alerting gate.
    *
    * The reference should be a COMPACT sample (thousands of rows — it
    * re-evaluates every batch; cache it), the same discipline as E3's
    * static enrichment side. Verdict rows are deterministic functions
    * of (batch, reference), so epoch-keyed OVERWRITE makes replay
    * idempotent — the E17 contract. */
  def ksDriftBatch(
      batch: DataFrame,
      epochId: Long,
      value: String,
      reference: DataFrame,
      alpha: Double,
      statePath: String): Unit = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0, 1), got $alpha")
    writeEpoch(graft.analytics.Stats.ksTest(batch, reference, col(value))
      .select(col("n_a").as("n_batch"), col("n_b").as("n_ref"),
        col("d_stat"), col("p_value"),
        (col("p_value").isNotNull && col("p_value") < alpha).as("drifted")),
      statePath, epochId)
  }

  /** E32 — streaming vocabulary-growth state, the live D84: each
    * micro-batch lands the tokens seen for the FIRST time ever (batch
    * distinct anti-joined against the whole persisted index — the D21
    * incremental-dedup discipline) under `batch=<epochId>` in OVERWRITE
    * mode, so a replayed epoch rewrites the identical token set instead
    * of double-landing it (its tokens are excluded from the index read
    * for its own rewrite by the epoch filter, exactly like the
    * incremental dedup index). The index doubles as the growth curve:
    * one row per (token, first epoch), so "new types per epoch" /
    * Heaps-style growth over STREAM time is a state-scale rollup
    * ([[vocabGrowthCurve]]) that never rescans the raw stream. Per-
    * batch cost: one distinct over the batch + one anti-join against
    * the index (token-hash equi-join; the index is big but the probe is
    * batch-sized). */
  def vocabGrowthBatch(
      batch: DataFrame,
      epochId: Long,
      text: String,
      statePath: String): Unit = {
    val spark = batch.sparkSession
    val toks = batch
      .select(explode(graft.text.TextFunctions.tokens(col(text))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n_first_epoch"))
    val existing = priorEpochs(spark, statePath, epochId)
      .map(_.filter(col("batch") =!= epochId) // replay: own epoch is rewritten
        .select("token"))
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("token",
            org.apache.spark.sql.types.StringType)))))
    writeEpoch(toks.join(existing, Seq("token"), "left_anti"), statePath, epochId)
  }

  /** Vocabulary-growth curve from a [[vocabGrowthBatch]] dir: one row
    * per epoch with the new-type count and the running vocabulary size
    * — state-scale (|vocab| rows in, |epochs| rows out), the raw stream
    * is never rescanned. The cumulative runs over the bounded epoch
    * axis (one row per epoch — the liftTable benign window class). */
  def vocabGrowthCurve(spark: SparkSession, statePath: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("epoch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    epochs(spark, statePath)
      .groupBy(col("batch").cast("long").as("epoch"))
      .agg(count(lit(1)).as("new_types"))
      .withColumn("vocab", sum(col("new_types")).over(w))
      .orderBy("epoch")
  }

  /** E35 — native session-window aggregation: per-(key, session)
    * aggregates via the engine's `session_window`, the declarative
    * sibling of [[sessionize]] (E2). The trade: [[sessionize]]'s
    * `flatMapGroupsWithState` owns its state shape (emits duration
    * from first/last, can carry arbitrary session state) but its
    * merge logic is hand-written; `session_window` pushes session
    * ASSIGNMENT AND MERGING into the streaming aggregation operator —
    * out-of-order events that bridge two open sessions make the STATE
    * STORE merge them (hand-rolled state cannot retroactively merge
    * without re-deriving it), partial aggregation applies, and the
    * session emits exactly once in append mode when the watermark
    * passes session end + gap. State is (key × open sessions)-bounded,
    * dropped at the watermark like any windowed aggregate.
    *
    * `session_end` is the last event + gap (the engine's window end),
    * not the last event — the E2 duration is `end − start − gap`. */
  def sessionWindowAgg(
      events: DataFrame,
      ts: String,
      watermark: String,
      gap: String,
      groupCol: String,
      valueCol: String): DataFrame =
    events.withWatermark(ts, watermark)
      .groupBy(session_window(col(ts), gap), col(groupCol))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(groupCol), col("n_events"), col("sum_value"))

  /** E34 — late-data router: split an ingest stream into on-time and
    * late sinks by a REPLAY-STABLE event-time watermark, instead of
    * letting `withWatermark` silently drop late rows inside downstream
    * stateful ops. On-time batches land in `onTimeRoot/batch=N`, late
    * rows (and null-timestamp rows — unplaceable on the time axis) in
    * `lateRoot/batch=N`, both epoch-keyed overwrites, so a replayed
    * epoch rewrites exactly its own output (the [[auditedIngestBatch]]
    * discipline).
    *
    * The watermark is NOT the engine's internal one (invisible to a
    * micro-batch sink) but a persisted per-epoch high-water marker table
    * (`onTimeRoot/_watermark/batch=N` → max event-time of batch N):
    * epoch N routes against max(marker\[batch < N\]) − delay, so a
    * post-failure replay of epoch N sees the SAME watermark it saw the
    * first time even though later markers may already exist — routing
    * is deterministic per epoch. The first epoch has no predecessor
    * marker and routes everything on-time.
    *
    * Scale: the marker table is one tiny row per epoch (read
    * state-scale, never the stream); the split is two narrow filters
    * of the batch; no shuffle anywhere. `delayUs` is the watermark
    * delay in microseconds ([[intervalMicros]] parses "10 minutes"). */
  def lateRoutedBatch(
      batch: DataFrame,
      epochId: Long,
      ts: String,
      delayUs: Long,
      onTimeRoot: String,
      lateRoot: String): Unit = {
    val spark = batch.sparkSession
    val markerRoot = s"$onTimeRoot/_watermark"
    val wmUs: Option[Long] = priorEpochs(spark, markerRoot, epochId).flatMap { markers =>
      val prev = markers.filter(col("batch") < epochId)
        .agg(max(col("max_us")).as("m")).head()
      if (prev.isNullAt(0)) None else Some(prev.getLong(0) - delayUs)
    }
    val b = batch.cache()
    try {
      val tsUs = unix_micros(col(ts).cast("timestamp"))
      val isLate = wmUs match {
        case Some(w) => col(ts).isNull || tsUs < lit(w)
        case None    => col(ts).isNull
      }
      writeEpoch(b.filter(!isLate), onTimeRoot, epochId)
      writeEpoch(b.filter(isLate), lateRoot, epochId)
      // an all-null batch writes a null marker (max() skips it later) —
      // the epoch still gets its row so replay stays per-epoch exact
      val batchMax = b.agg(max(tsUs).as("max_us")).head()
      val markerVal: Any = if (batchMax.isNullAt(0)) null else batchMax.getLong(0)
      writeEpoch(spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](
          org.apache.spark.sql.Row(markerVal)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("max_us",
            org.apache.spark.sql.types.LongType)))), markerRoot, epochId)
    } finally b.unpersist()
  }

  /** Parse a day-time interval literal ("10 minutes", "1 hour") to
    * microseconds; month-bearing intervals are rejected (no fixed
    * micros width). */
  def intervalMicros(interval: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(interval))
    require(iv.months == 0, s"interval must not contain months: $interval")
    iv.days * 86400000000L + iv.microseconds
  }

  /** Current trending top-k from a [[decayedTrendBatch]] state dir
    * "as of" the newest reference it contains: every state row decays
    * to the global max reference (all exponents ≤ 0) and adds per key;
    * the ranking is a TakeOrdered over the merged keys — state-scale
    * work (|keys| × epochs rows), the raw stream is never rescanned. */
  def trendingTopK(spark: SparkSession, statePath: String, keys: Seq[String],
      halfLifeSeconds: Double, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val st = epochs(spark, statePath)
    val ref = st.agg(max(col("ref_us")).as("__gref"))
    st.crossJoin(broadcast(ref))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("w") * pow(lit(2.0), (col("ref_us") - col("__gref")) /
        lit(halfLifeSeconds * 1e6))).as("score"))
      .orderBy(col("score").desc +: keys.map(col): _*)
      .limit(k)
  }

  /** E36 — streaming Holt forecast state: per-key level/trend
    * ([[graft.operators.TimeSeries.holtSmooth]]'s recurrence) maintained
    * incrementally across micro-batches — the LIVE capacity/budget
    * forecast next to E31's "what is hot now" trend counts. Each epoch
    * sorts ITS OWN batch's points per key (batch-scale), seeds the fold
    * from the key's latest persisted state (batches < epochId — the
    * own-epoch exclusion that makes replay idempotent), runs the exact
    * batch recurrence (the seed transitions n=0→1→2 reproduce
    * holtSmooth's first-difference init, equality spec-asserted), and
    * lands post-fold state rows `(keys, l, b, n)` under
    * `batch=<epochId>` — state-scale reads, the stream itself is never
    * rescanned. Event-time order across epochs is the stream's job:
    * late points that belong BEFORE already-folded ones should be
    * routed out first ([[lateRoutedBatch]]) — the recurrence, like any
    * online smoother, folds in arrival order within the watermark.
    *
    * [[forecastFrom]] reads the state dir, keeps each key's latest
    * state (`max_by` over the epoch axis), and emits the h-step linear
    * forecast — keys still in seed phase (n < 2) have no trend and
    * yield a null forecast, never a fabricated one. */
  def forecastStateBatch(
      batch: DataFrame,
      epochId: Long,
      keys: Seq[String],
      ts: String,
      value: String,
      alpha: Double,
      beta: Double,
      statePath: String): Unit = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0,1], got $beta")
    val spark = batch.sparkSession
    val us = graft.operators.Relational.epochMicros(col(ts))
    val pts = batch
      .filter(col(ts).isNotNull && col(value).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(us.as("__us"),
        col(value).cast("double").as("__x")))).as("__pts"))
    val prior = priorEpochs(spark, statePath, epochId)
      .map(_.filter(col("batch") =!= epochId) // replay: own epoch is rewritten
        .groupBy(keys.map(col): _*)
        .agg(max_by(struct(col("l"), col("b"), col("n")),
          col("batch").cast("long")).as("__st"))
        .select(keys.map(col) ++ Seq(col("__st.l").as("__pl"),
          col("__st.b").as("__pb"), col("__st.n").as("__pn")): _*))
      .getOrElse(pts.select(keys.map(col): _*).limit(0)
        .withColumn("__pl", lit(null).cast("double"))
        .withColumn("__pb", lit(null).cast("double"))
        .withColumn("__pn", lit(null).cast("long")))
    writeEpoch(pts.join(prior, keys, "left")
      .withColumn("__f", aggregate(
        col("__pts"),
        struct(col("__pl").cast("double").as("l"),
          col("__pb").cast("double").as("b"),
          coalesce(col("__pn"), lit(0L)).as("n")),
        (acc, e) => {
          val x = e.getField("__x")
          val n = acc.getField("n")
          val l = acc.getField("l")
          val b = acc.getField("b")
          // n=0/1 are the seed transitions — identical algebra to
          // holtSmooth's collapsed first-difference init
          val nl = when(n <= 1, x)
            .otherwise(x * lit(alpha) + (l + b) * lit(1 - alpha))
          val nb = when(n === 0, lit(null).cast("double"))
            .when(n === 1, x - l)
            .otherwise((nl - l) * lit(beta) + b * lit(1 - beta))
          struct(nl.as("l"), nb.as("b"), (n + 1).as("n"))
        }))
      .select(keys.map(col) ++ Seq(col("__f.l").as("l"),
        col("__f.b").as("b"), col("__f.n").as("n")): _*), statePath, epochId)
  }

  /** E37 — streaming Markov transition state: the LIVE B33 — per-batch
    * transition counts maintained additively, WITH the cross-batch
    * boundary pairs hand-rolled per-batch windowing would silently drop
    * (an entity's last state in epoch N−1 → its first state in epoch N
    * is a real transition; ignoring it biases the chain toward
    * batch-length artifacts). Two state tables under one root:
    * `trans/batch=N` (from,to,cnt — ADDITIVE, so the all-time matrix is
    * a state-scale rollup that never rescans the stream) and
    * `last/batch=N` (each entity's final (ts, state) this epoch — the
    * seed for the next epoch's boundary pairs). Epoch N reads only
    * `last` rows from batches < N (own-epoch exclusion) and both writes
    * are epoch-keyed overwrites ⇒ replay rewrites identical state.
    * Out-of-order batches are TIME-arbitrated, not arrival-arbitrated:
    * a straggler batch that wholly predates the prior last event emits
    * no (time-reversed) boundary pair, a PARTIALLY overlapping batch
    * emits the pair against its first in-order event with ts >= the
    * prior last (the state a stream reaches if the overlap were late
    * arrivals), and the persisted per-entity last state is the
    * temporally-later of (prior last, batch last) — a late batch can
    * never regress the stored state.
    *
    * [[transitionsFrom]] rolls the counts up and row-normalizes —
    * feed it to [[graft.analytics.Markov.stationary]] for the live
    * "where do journeys settle" vector. */
  def markovStateBatch(
      batch: DataFrame,
      epochId: Long,
      entity: String,
      ts: String,
      state: String,
      statePath: String): Unit = {
    val spark = batch.sparkSession
    val us = graft.operators.Relational.epochMicros(col(ts))
    val s = batch
      .filter(col(entity).isNotNull && col(ts).isNotNull && col(state).isNotNull)
      .select(col(entity).as("__e"), us.as("__us"), col(state).as("__s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__e").orderBy("__us")
    val within = s.withColumn("__next", lead(col("__s"), 1).over(w))
      .filter(col("__next").isNotNull)
      .select(col("__s").as("from_state"), col("__next").as("to_state"))
    val prior = priorEpochs(spark, s"$statePath/last", epochId)
      .map(_.filter(col("batch") =!= epochId) // replay: own epoch is rewritten
        .groupBy("__e")
        .agg(max_by(struct(col("__last"), col("__last_us")),
          col("batch").cast("long")).as("__p"))
        .select(col("__e"), col("__p.__last").as("__plast"),
          col("__p.__last_us").as("__plast_us")))
      .getOrElse(s.select(col("__e"), col("__s").as("__plast"),
        col("__us").as("__plast_us")).limit(0))
    // Boundary pair targets the first in-batch event NOT BEFORE the
    // prior last event (ties included): a batch wholly predating the
    // prior state emits no pair (a time-reversed transition would be
    // wrong), and a PARTIALLY overlapping batch still emits the pair
    // against its first in-order event with ts >= prior last — the
    // state a stream would reach if the overlapping events were late
    // arrivals. The temporal max below keeps the stored last state
    // from regressing either way.
    val firsts = s.join(prior, Seq("__e"), "left")
      .groupBy("__e")
      .agg(
        min(when(col("__us") >= coalesce(col("__plast_us"),
            lit(Long.MinValue)), struct(col("__us"), col("__s")))).as("__fge"),
        max_by(col("__s"), col("__us")).as("__last"),
        max(col("__us")).as("__last_us"),
        // constant per entity after the join (prior is one row per key)
        max(col("__plast")).as("__plast"),
        max(col("__plast_us")).as("__plast_us"))
    val boundary = firsts
      .filter(col("__plast").isNotNull && col("__fge").isNotNull)
      .select(col("__plast").as("from_state"),
        col("__fge").getField("__s").as("to_state"))
    writeEpoch(within.unionAll(boundary)
      .groupBy("from_state", "to_state").agg(count(lit(1)).as("cnt")),
      s"$statePath/trans", epochId)
    writeEpoch(firsts.select(col("__e"),
        when(col("__plast_us") > col("__last_us"), col("__plast"))
          .otherwise(col("__last")).as("__last"),
        when(col("__plast_us") > col("__last_us"), col("__plast_us"))
          .otherwise(col("__last_us")).as("__last_us")),
      s"$statePath/last", epochId)
  }

  /** All-time transition matrix from a [[markovStateBatch]] dir: counts
    * sum additively across epochs (state-scale — the stream is never
    * rescanned), `p` row-normalizes. The output shape feeds
    * [[graft.analytics.Markov.stationary]] directly. */
  def transitionsFrom(spark: SparkSession, statePath: String): DataFrame = {
    val cnt = graft.operators.Lineage.truncate(
      epochs(spark, s"$statePath/trans")
        .groupBy("from_state", "to_state").agg(sum("cnt").as("cnt")))
    val tot = cnt.groupBy("from_state").agg(sum("cnt").as("__rt"))
    cnt.join(tot, "from_state")
      .select(col("from_state"), col("to_state"), col("cnt"),
        (col("cnt").cast("double") / col("__rt")).as("p"))
  }

  /** E38 — streaming empirical-Bayes rate state: per-key (n, y)
    * trial/success counts land ADDITIVELY under `batch=<epochId>`
    * (deterministic per-batch aggregates ⇒ epoch-keyed overwrite replay
    * is idempotent — the E17 contract), and [[shrunkRatesFrom]] rolls
    * them up and applies [[graft.analytics.Stats.ebShrinkFromCounts]]:
    * the LIVE B32 — per-domain/source quality rates whose prior
    * RE-LEARNS from the whole accumulated history at every read, so a
    * key's shrunk rate tightens as its volume grows without any
    * stream rescan (state-scale rollup only). */
  def rateStateBatch(
      batch: DataFrame,
      epochId: Long,
      keys: Seq[String],
      success: String,
      statePath: String): Unit =
    writeEpoch(batch.filter(keys.map(col(_).isNotNull).reduce(_ && _) && col(success).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col(success).cast("double")).as("y")),
      statePath, epochId)

  /** All-time EB-shrunk rates from a [[rateStateBatch]] dir: counts sum
    * additively (state-scale), the beta prior re-fits on the rollup,
    * posteriors follow — single-key composite keys arrive concatenated
    * as `key`. */
  def shrunkRatesFrom(spark: SparkSession, statePath: String,
                      keys: Seq[String]): DataFrame = {
    val rolled = epochs(spark, statePath)
      .groupBy(keys.map(col): _*)
      .agg(sum("n").as("n"), sum("y").as("y"))
      .select(concat_ws("|", keys.map(col): _*).as("key"), col("n"), col("y"))
    graft.analytics.Stats.ebShrinkFromCounts(
      graft.operators.Lineage.truncate(rolled))
  }

  /** E39 — streaming ordered-funnel state: the LIVE C21 — each
    * entity's funnel PROGRESS (steps completed, last completion time)
    * maintained across micro-batches. The batch funnel's chained
    * window minima ("first step-i event strictly after t_{i−1}") are
    * exactly what a greedy walk over the time-ordered stream computes,
    * so each epoch folds ITS batch's events per entity, seeded from
    * the entity's persisted progress (batches < epochId — the
    * own-epoch exclusion replay contract): advance iff the event is
    * the NEXT step and strictly later than the last completion
    * (equality spec-asserted against [[graft.analytics.Funnel.funnel]]
    * on the concatenated history). Entities still at step 0 write no
    * row — absent state IS step 0. Arrival-order contract as
    * [[forecastStateBatch]] (route stragglers with [[lateRoutedBatch]]).
    *
    * [[funnelFrom]] rolls the per-entity progress up to the C21 report
    * shape: (step_index, step, n_users, conversion). */
  def funnelStateBatch(
      batch: DataFrame,
      epochId: Long,
      entity: String,
      ts: String,
      typeCol: String,
      steps: Seq[String],
      statePath: String): Unit = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    val spark = batch.sparkSession
    val us = graft.operators.Relational.epochMicros(col(ts))
    val stepsArr = array(steps.map(lit): _*)
    val pts = batch
      .filter(col(entity).isNotNull && col(ts).isNotNull && col(typeCol).isNotNull)
      .groupBy(col(entity).as("__e"))
      .agg(sort_array(collect_list(struct(us.as("__us"),
        col(typeCol).cast("string").as("__t")))).as("__evs"))
    val prior = priorEpochs(spark, statePath, epochId)
      .map(_.filter(col("batch") =!= epochId) // replay: own epoch is rewritten
        .groupBy("__e")
        .agg(max_by(struct(col("stage"), col("t_us")),
          col("batch").cast("long")).as("__st"))
        .select(col("__e"), col("__st.stage").as("__ps"),
          col("__st.t_us").as("__pt")))
      .getOrElse(pts.select("__e").limit(0)
        .withColumn("__ps", lit(null).cast("int"))
        .withColumn("__pt", lit(null).cast("long")))
    writeEpoch(pts.join(prior, Seq("__e"), "left")
      .withColumn("__f", aggregate(
        col("__evs"),
        struct(coalesce(col("__ps"), lit(0)).as("stage"),
          col("__pt").cast("long").as("t")),
        (acc, e) => {
          val stage = acc.getField("stage")
          val advance = stage < lit(steps.size) &&
            e.getField("__t") === element_at(stepsArr, stage + 1) &&
            (stage === 0 || e.getField("__us") > acc.getField("t"))
          struct(
            when(advance, stage + 1).otherwise(stage).as("stage"),
            when(advance, e.getField("__us")).otherwise(acc.getField("t")).as("t"))
        }))
      .select(col("__e"), col("__f.stage").as("stage"), col("__f.t").as("t_us"))
      .filter(col("stage") >= 1), // absent state IS step 0
      statePath, epochId)
  }

  /** The C21 report from a [[funnelStateBatch]] dir: per-step user counts
    * over each entity's LATEST progress, conversion vs step-1 — a
    * state-scale rollup, the stream is never rescanned. */
  def funnelFrom(spark: SparkSession, statePath: String,
                 steps: Seq[String]): DataFrame = {
    val latest = epochs(spark, statePath)
      .groupBy("__e")
      .agg(max_by(col("stage"), col("batch").cast("long")).as("__stage"))
    val nCols = steps.indices.map(i =>
      sum(when(col("__stage") >= i + 1, 1L).otherwise(0L)).as(s"__n${i + 1}"))
    val counts = latest.agg(nCols.head, nCols.tail: _*)
    val rows = steps.zipWithIndex.map { case (step, i) =>
      struct(lit(i + 1L).as("step_index"), lit(step).as("step"),
        col(s"__n${i + 1}").as("n_users"),
        round(when(col("__n1") > 0,
          col(s"__n${i + 1}").cast("double") / col("__n1")), 4).as("conversion"))
    }
    counts.select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
  }

  /** E40 — streaming Pareto-frontier (skyline) state: the LIVE C44 —
    * maintain "the rows no other row dominates" as data streams in,
    * riding the skyline's MERGE CLOSURE: skyline(A ∪ B) =
    * skyline(skyline(A) ∪ skyline(B)), so each epoch lands only ITS
    * batch's frontier under `batch=<epochId>` (a per-batch skyline is a
    * deterministic function of the batch ⇒ epoch-keyed overwrite
    * replay is idempotent, with NO cross-epoch read at write time —
    * the simplest member of the state family), and [[skylineFrom]]
    * re-skylines the stored candidates: state-scale, the stream is
    * never rescanned, and the read IS the compaction (candidates a
    * later epoch dominated vanish from every subsequent read). */
  def skylineStateBatch(
      batch: DataFrame,
      epochId: Long,
      x: String,
      y: String,
      carry: Seq[String],
      statePath: String): Unit =
    writeEpoch(graft.operators.Ranking.skyline2D(
        batch.select((Seq(x, y) ++ carry).map(col): _*), col(x), col(y)),
      statePath, epochId)

  /** The all-time frontier from a [[skylineStateBatch]] dir — one skyline
    * pass over the stored per-epoch frontiers (merge closure). */
  def skylineFrom(spark: SparkSession, statePath: String,
                  x: String, y: String): DataFrame =
    graft.operators.Ranking.skyline2D(
      epochs(spark, statePath).drop("batch"), col(x), col(y))

  /** Latest per-key Holt state from a [[forecastStateBatch]] dir, with the
    * `horizon`-step linear forecast l + h·b — state-scale; seed-phase
    * keys (n < 2) report null trend/forecast. */
  def forecastFrom(spark: SparkSession, statePath: String, keys: Seq[String],
                   horizon: Int): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    epochs(spark, statePath)
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(col("l"), col("b"), col("n")),
        col("batch").cast("long")).as("__st"))
      .select(keys.map(col) ++ Seq(col("__st.l").as("level"),
        col("__st.b").as("trend"), col("__st.n").as("n"),
        (col("__st.l") + col("__st.b") * lit(horizon.toDouble)).as("forecast")): _*)
  }
}
