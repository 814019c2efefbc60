package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass corpus profile — the "corpus card" every training-data
  * pipeline publishes next to a dataset: volume, source mix, language
  * mix, exact-duplicate volume, stutter noise, mean quality. The
  * [[graft.etl.Checks]] single-pass discipline applied to a documents
  * table: every metric is an aggregate expression over ONE staged
  * projection, so the whole card costs one corpus scan (the two
  * `countDistinct`s plan the standard expand — rows × #distinct-aggs
  * before partial aggregation — still a single scan; CorpusProfileSpec
  * pins that).
  *
  * All metrics are exact and engine-mirrorable (fingerprints are md5,
  * language ID is the deterministic d8 argmax, stutter is the d39
  * collapse), so the card itself is oracle-verifiable — no sketch
  * estimates whose bit patterns an external verifier could not
  * reproduce. For sketch-based profiling at fleet scale (mergeable
  * per-partition cards) compose [[graft.operators.Sketches]] instead.
  */
object CorpusProfile {

  /** Single-row profile of a documents table.
    * Output: (n_docs, n_sources, n_tokens, n_chars, n_exact_dup_docs,
    * n_stutter_tokens, avg_quality, n_&lt;lang&gt; per
    * [[TextFunctions.LangStopwords]] language). */
  def profile(df: DataFrame, text: Column, source: Column): DataFrame = {
    // stage tokens/fingerprint once; language hits in their own
    // projection so the native one-pass hit counter is shared by every
    // per-language column (the d8 staging discipline)
    val staged = df.select(
      source.as("__src"),
      text.as("__text"),
      TextFunctions.tokens(text).as("__toks"),
      TextFunctions.contentFingerprint(text).as("__fp"))
    val hits = staged.select(
      Seq(col("__src"), col("__text"), col("__toks"), col("__fp")) ++
        TextFunctions.langHitsOf(col("__toks")).map { case (l, c) => c.as(s"__h_$l") }: _*)
    val derived = hits.select(
      col("__src"),
      col("__fp"),
      size(col("__toks")).cast("long").as("__n_toks"),
      length(col("__text")).cast("long").as("__n_chars"),
      (size(col("__toks")) - size(TextFunctions.collapseRuns(col("__toks"))))
        .cast("long").as("__stutter"),
      TextFunctions.qualityScore(col("__text")).as("__q"),
      TextFunctions.langPred(
        TextFunctions.LangStopwords.map { case (l, _) => l -> col(s"__h_$l") }).as("__lang"))
    val aggs: Seq[Column] = Seq(
      count(lit(1)).as("n_docs"),
      countDistinct(col("__src")).as("n_sources"),
      sum(col("__n_toks")).as("n_tokens"),
      sum(col("__n_chars")).as("n_chars"),
      (count(lit(1)) - countDistinct(col("__fp"))).as("n_exact_dup_docs"),
      sum(col("__stutter")).as("n_stutter_tokens"),
      round(avg(col("__q")), 4).as("avg_quality")) ++
      TextFunctions.LangStopwords.map { case (l, _) =>
        sum(when(col("__lang") === l, 1L).otherwise(0L)).as(s"n_$l")
      }
    derived.agg(aggs.head, aggs.tail: _*)
  }

  /** Per-slice MERGEABLE corpus cards — the fleet-scale form of
    * [[profile]]: one row per `slice` (a source, a day, an ingest
    * shard) whose fields merge losslessly or within sketch bounds, so a
    * 100 TB corpus profiles as thousands of independent slice jobs (or
    * per-micro-batch appends, the
    * [[graft.streaming.StreamOps.sketchStateBatch]] pattern) with the
    * global card assembled later by [[rollupCards]] — never a second
    * corpus pass. Counts and sums merge exactly (mean quality rides as
    * a sum + count); exact distinct-fingerprint counting is the ONE
    * metric that cannot merge, so it travels as an HLL sketch
    * (±~1.6% at the default lgK), and quality quantiles — unavailable
    * in [[profile]] at any price without a sort — come free here as a
    * KLL sketch. */
  def sketchCards(df: DataFrame, text: Column, source: Column, slice: Column): DataFrame = {
    val staged = df.select(
      slice.as("slice"),
      source.as("__src"),
      text.as("__text"),
      TextFunctions.tokens(text).as("__toks"),
      TextFunctions.contentFingerprint(text).as("__fp"))
    val hits = staged.select(
      Seq(col("slice"), col("__src"), col("__text"), col("__toks"), col("__fp")) ++
        TextFunctions.langHitsOf(col("__toks")).map { case (l, c) => c.as(s"__h_$l") }: _*)
    val derived = hits.select(
      col("slice"),
      col("__fp"),
      size(col("__toks")).cast("long").as("__n_toks"),
      length(col("__text")).cast("long").as("__n_chars"),
      (size(col("__toks")) - size(TextFunctions.collapseRuns(col("__toks"))))
        .cast("long").as("__stutter"),
      TextFunctions.qualityScore(col("__text")).as("__q"),
      TextFunctions.langPred(
        TextFunctions.LangStopwords.map { case (l, _) => l -> col(s"__h_$l") }).as("__lang"))
    val aggs: Seq[Column] = Seq(
      count(lit(1)).as("n_docs"),
      sum(col("__n_toks")).as("n_tokens"),
      sum(col("__n_chars")).as("n_chars"),
      sum(col("__stutter")).as("n_stutter_tokens"),
      sum(col("__q")).as("sum_quality"),
      hll_sketch_agg(col("__fp")).as("fp_sketch"),
      graft.expressions.SketchExpressions.kllSketchAgg(col("__q")).as("q_sketch")) ++
      TextFunctions.LangStopwords.map { case (l, _) =>
        sum(when(col("__lang") === l, 1L).otherwise(0L)).as(s"n_$l")
      }
    derived.groupBy("slice").agg(aggs.head, aggs.tail: _*)
  }

  /** Merge a [[sketchCards]] table (any subset of slices, including
    * per-micro-batch appended rows) into ONE global card without
    * touching raw data: sums add, the fingerprint sketches union into a
    * distinct-doc estimate, and the quality KLL yields the requested
    * quantile `ranks` as `q<rank·100>` columns. */
  def rollupCards(cards: DataFrame, ranks: Seq[Double] = Seq(0.5, 0.95)): DataFrame = {
    import graft.expressions.SketchExpressions
    val merged: Seq[Column] = Seq(
      sum(col("n_docs")).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"),
      sum(col("n_stutter_tokens")).as("n_stutter_tokens"),
      round(sum(col("sum_quality")) / sum(col("n_docs")), 4).as("avg_quality"),
      hll_sketch_estimate(hll_union_agg(col("fp_sketch"))).as("n_distinct_docs_est"),
      SketchExpressions.kllUnionAgg(col("q_sketch")).as("__qu")) ++
      TextFunctions.LangStopwords.map { case (l, _) => sum(col(s"n_$l")).as(s"n_$l") }
    val rolled = cards.agg(merged.head, merged.tail: _*)
    val qCols = ranks.map(r =>
      round(SketchExpressions.kllQuantile(col("__qu"), r), 4).as(s"q${math.round(r * 100)}"))
    rolled.select(col("*") +: qCols: _*).drop("__qu")
  }
}
