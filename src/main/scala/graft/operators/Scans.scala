package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scan-parallelism rebalance in front of compute-heavy map stages —
  * the optimization guide's "input skew" prescription (§2.5: "one huge
  * unsplittable file … repartition immediately after the read") made
  * scale-adaptive.
  *
  * A parquet file is splittable only at row-group boundaries, so a
  * single-row-group file yields ONE scan task no matter how many cores
  * the session has; any heavy per-row work fused into that scan stage
  * (regex extraction, windowed-MD5 chunking, PQ encoding) then runs on
  * one core while the rest of the machine idles — measured in this
  * round's profiles as 2.6-4.2 s single-task jobs inside otherwise
  * sub-second queries. AQE cannot help: its coalescing/skew splitting
  * applies to SHUFFLE reads, never to the scan itself.
  *
  * [[spread]] inserts one hash exchange on `key` only when the input's
  * parallelism is materially below the session's (fewer than half of
  * `defaultParallelism` partitions). At production scale a 100-TB scan
  * arrives with thousands of splits, so the guard makes this a
  * structural no-op — no extra shuffle is ever paid where the scan
  * already parallelizes; the exchange exists exactly where the input
  * layout starves the stage. Results are unaffected by construction:
  * every consumer keys its aggregations/joins/windows explicitly.
  *
  * Call it on narrow scan-shaped frames (scan + projections/filters)
  * only: the partition-count probe builds the frame's RDD, which for
  * plans that already contain exchanges would materialize those stages
  * early under AQE.
  */
object Scans {

  /** `df` repartitioned to the session default parallelism by `key`
    * when the current layout provides less than half of it; `df`
    * unchanged otherwise. `key` should be a well-spread column (an id);
    * hash partitioning keeps the rebalance deterministic under task
    * retry (guide §2.5 — never derive synthetic keys from rand()). */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val have = df.rdd.getNumPartitions
    if (have * 2 <= target) df.repartition(target, key) else df
  }

  /** [[spread]] hardened against predicate pushdown: the spread frame
    * is rebuilt from its RDD, so the optimizer cannot move downstream
    * filters back below the inserted exchange. Measured necessity
    * (e13's micro-batch sink): the Gopher gate predicate was pushed through
    * the `repartition`, dragging the whole gate — with the upstream
    * clean expression re-inlined once per flag reference — into the
    * single scan task the exchange existed to relieve. The RDD boundary
    * is the [[graft.operators.Ranking.globalRank]] pattern: a leaf
    * LogicalRDD no rule crosses. No-op (no boundary, no exchange) when
    * the input already has real parallelism. */
  def spreadBarrier(df: DataFrame, key: Column): DataFrame = {
    val s = spread(df, key)
    if (s eq df) df
    else df.sparkSession.createDataFrame(s.rdd, s.schema)
  }
}
