package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketch tables (Apache DataSketches HLL via
  * Spark's `hll_sketch_agg` family).
  *
  * The at-scale pattern behind C8c: persist one HLL sketch per
  * (group, bucket) — e.g. per (event_type, day) — and answer any
  * coarser distinct-count rollup by UNIONING stored sketches instead of
  * rescanning raw events. `approx_count_distinct` (C8b) gives one
  * number per query over the raw data; a sketch TABLE is state:
  * yesterday's 100 TB contributes kilobytes of sketch, today's query
  * unions a year of days in milliseconds, and late data merges by
  * re-sketching only its own bucket (the same idea as
  * [[graft.dedup.Dedup.contentHashIndex]] for dedup state). HLL unions
  * are lossless for a fixed lgK, so the rolled-up estimate is exactly
  * the estimate a full rescan would produce.
  */
object Sketches {

  /** Default log2 of the sketch register count: 2^12 registers ≈ 1.6%
    * relative standard error, 4-8 KB per sketch. */
  val DefaultLgK = 12

  /** One HLL sketch of `value` per `keys` group — the persistable sketch
    * table. A hash aggregate with map-side partial sketches: raw rows
    * never cross the shuffle, per-partition sketches do. */
  def sketchTable(df: DataFrame, keys: Seq[Column], value: Column, lgK: Int = DefaultLgK): DataFrame =
    df.groupBy(keys: _*).agg(hll_sketch_agg(value, lgK).as("sketch"))

  /** Roll a sketch table up to coarser `keys`: union the stored sketches
    * (no raw-data rescan) and emit the distinct-count estimate with the
    * number of buckets merged. */
  def unionEstimate(sketches: DataFrame, keys: Seq[Column], sketch: Column = col("sketch")): DataFrame =
    sketches.groupBy(keys: _*)
      .agg(hll_sketch_estimate(hll_union_agg(sketch)).as("n_estimate"),
        count(lit(1)).as("n_buckets"))

  /** Collapse a sketch table holding multiple physical rows per key
    * (e.g. appended per micro-batch by
    * [[graft.streaming.StreamOps.sketchStateBatch]]) back to one row per
    * key. Unions are lossless, so compaction never changes any rollup's
    * answer — it only bounds the state's row count. Output schema
    * matches [[sketchTable]]. */
  def compactTable(sketches: DataFrame, keys: Seq[Column], sketch: Column = col("sketch")): DataFrame =
    sketches.groupBy(keys: _*).agg(hll_union_agg(sketch).as("sketch"))

  import graft.expressions.SketchExpressions

  /** One KLL QUANTILE sketch of `value` per `keys` group — the
    * percentile analogue of [[sketchTable]] (C8d). Same partial-agg
    * shape: raw rows never cross the shuffle, serialized sketches do.
    * Persist per fine bucket (e.g. per day); any coarser percentile
    * rollup later unions stored sketches instead of rescanning. */
  def quantileSketchTable(
      df: DataFrame, keys: Seq[Column], value: Column,
      k: Int = SketchExpressions.DefaultK): DataFrame =
    df.groupBy(keys: _*)
      .agg(SketchExpressions.kllSketchAgg(value.cast("double"), k).as("qsketch"))

  /** Roll a quantile sketch table up to coarser `keys` and extract the
    * requested ranks as `p<rank·100>` columns. Estimates carry KLL's
    * normalized rank-error bound for `k` regardless of how many stored
    * sketches were unioned. */
  def quantileRollup(
      sketches: DataFrame, keys: Seq[Column], ranks: Seq[Double],
      sketch: Column = col("qsketch"),
      k: Int = SketchExpressions.DefaultK): DataFrame = {
    require(ranks.nonEmpty, "need at least one rank")
    val merged = sketches.groupBy(keys: _*)
      .agg(SketchExpressions.kllUnionAgg(sketch, k).as("__u"), count(lit(1)).as("n_buckets"))
    val qCols = ranks.map(q =>
      SketchExpressions.kllQuantile(col("__u"), q).as(s"p${math.round(q * 100)}"))
    merged.select(keys ++ qCols :+ col("n_buckets"): _*)
  }

  import graft.expressions.ThetaExpressions

  /** One THETA sketch of `value` per `keys` group (C8e) — like
    * [[sketchTable]] but supporting set ALGEBRA: stored sketches
    * intersect and difference with bounded error ("distinct users who
    * did A and B"), which HLL state cannot answer. */
  def thetaSketchTable(
      df: DataFrame, keys: Seq[Column], value: Column,
      lgK: Int = ThetaExpressions.DefaultLgK): DataFrame =
    df.groupBy(keys: _*)
      .agg(ThetaExpressions.thetaSketchAgg(value, lgK).as("tsketch"))

  /** Roll a Theta sketch table up to coarser `keys` by union. */
  def thetaRollup(
      sketches: DataFrame, keys: Seq[Column],
      sketch: Column = col("tsketch"),
      lgK: Int = ThetaExpressions.DefaultLgK): DataFrame =
    sketches.groupBy(keys: _*)
      .agg(ThetaExpressions.thetaUnionAgg(sketch, lgK).as("tsketch"),
        count(lit(1)).as("n_buckets"))

  /** Distinct-count estimate of a set operation over two stored
    * sketches: `op` ∈ union | intersect | diff. Pass the table's `lgK`
    * when it differs from the default — a union result is capped at
    * 2^lgK retained entries (intersection/difference inherit precision
    * from their inputs and ignore it). */
  def thetaSetEstimate(op: String, a: Column, b: Column,
      lgK: Int = ThetaExpressions.DefaultLgK): Column =
    ThetaExpressions.thetaEstimate(op, a, b, lgK)

  import graft.expressions.CountMin

  /** COUNT-MIN frequency sketch table (C8h): one count-min sketch of
    * `value` per `keys` group — point-frequency state next to
    * [[sketchTable]]'s distinct counts. Same partial-agg shape: raw
    * rows never cross the shuffle, serialized sketches do. */
  def cmSketchTable(
      df: DataFrame, keys: Seq[Column], value: Column,
      depth: Int = CountMin.DefaultDepth, width: Int = CountMin.DefaultWidth,
      seed: Int = CountMin.DefaultSeed): DataFrame =
    df.groupBy(keys: _*)
      .agg(CountMin.cmAgg(value, depth, width, seed).as("cmsketch"))

  /** Roll a count-min table up to coarser `keys` by counter ADDITION.
    * Unlike HLL/Theta union, the merge is NOT idempotent: the same
    * physical sketch row must enter a rollup exactly once, so streaming
    * state lands epoch-keyed-overwrite
    * ([[graft.streaming.StreamOps.frequencyStateBatch]]), never blind
    * append. */
  def cmRollup(
      sketches: DataFrame, keys: Seq[Column],
      sketch: Column = col("cmsketch"),
      depth: Int = CountMin.DefaultDepth, width: Int = CountMin.DefaultWidth,
      seed: Int = CountMin.DefaultSeed): DataFrame =
    sketches.groupBy(keys: _*)
      .agg(CountMin.cmUnionAgg(sketch, depth, width, seed).as("cmsketch"),
        count(lit(1)).as("n_buckets"))

  /** FREQUENT-ITEMS sketch table (C8f): one `approx_top_k` sketch of
    * `value` per `keys` group, via Spark 4's built-in state functions
    * (extension altitude (a): this one needs no custom aggregate).
    * Counts are EXACT while a sketch tracks ≤ `maxItemsTracked`
    * distinct items; above that, standard frequent-items error bounds
    * apply. Persist per bucket; heavy-hitter rollups combine stored
    * sketches instead of rescanning raw data. */
  def topKSketchTable(
      df: DataFrame, keys: Seq[Column], value: Column,
      maxItemsTracked: Int = 10000): DataFrame =
    df.groupBy(keys: _*)
      .agg(call_function("approx_top_k_accumulate", value, lit(maxItemsTracked)).as("fsketch"))

  /** Roll a frequent-items sketch table up to coarser `keys` and emit
    * the top-`k` (item, n_estimate) rows, ordered by estimated count
    * descending (item as tie-break). */
  def topKRollup(
      sketches: DataFrame, keys: Seq[Column], k: Int,
      sketch: Column = col("fsketch"),
      maxItemsTracked: Int = 10000): DataFrame =
    sketches.groupBy(keys: _*)
      .agg(call_function("approx_top_k_combine", sketch, lit(maxItemsTracked)).as("__c"))
      .select(keys :+ explode(call_function("approx_top_k_estimate", col("__c"), lit(k))).as("__e"): _*)
      .select(keys :+ col("__e.item").as("item") :+ col("__e.count").as("n_estimate"): _*)
}
