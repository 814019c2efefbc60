package graft.analytics

import graft.operators.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** First-order Markov analysis of event streams: the empirical
  * transition matrix P(to | from) over each entity's time-ordered
  * state sequence, and its stationary distribution — "where do
  * journeys settle" as one vector, the model-level complement of B15's
  * literal top paths (paths show frequent exact routes; the chain
  * generalizes to routes never seen verbatim) and the input to
  * PageRank-style persona scoring.
  */
object Markov {

  /** (from_state, to_state, cnt, p) over consecutive same-entity event
    * pairs; `p` row-normalizes each from-state. One entity shuffle +
    * one per-entity WindowExec for the lead (partitions bounded by
    * per-entity activity — the C32/B10 class; a bot mega-entity is the
    * C13 salting case), then everything is |states|²-scale. Ordering
    * is (ts, tieBreak) — pass a tie-break for a deterministic sequence
    * under equal timestamps. Null states/entities/timestamps are not
    * observations and are excluded. */
  def transitions(df: DataFrame, entity: Column, ts: Column, state: Column,
                  tieBreak: Seq[Column]): DataFrame = {
    val s = df
      .select(Seq(entity.as("__e"), ts.as("__ts"), state.as("__s")) ++
        tieBreak.zipWithIndex.map { case (c, i) => c.as(s"__tb$i") }: _*)
      .filter(col("__e").isNotNull && col("__ts").isNotNull && col("__s").isNotNull)
    val w = Window.partitionBy(col("__e"))
      .orderBy(col("__ts") +: tieBreak.indices.map(i => col(s"__tb$i")): _*)
    // the transition-count table feeds the row totals AND the final
    // projection (B21: pruning specializes each consumer's aggregate),
    // so the |states|²-bounded table is truncated once
    val cnt = Lineage.truncate(
      s.withColumn("__next", lead(col("__s"), 1).over(w))
        .filter(col("__next").isNotNull)
        .groupBy(col("__s").as("from_state"), col("__next").as("to_state"))
        .agg(count(lit(1)).as("cnt")))
    val tot = cnt.groupBy("from_state").agg(sum("cnt").as("__rt"))
    cnt.join(tot, "from_state")
      .select(col("from_state"), col("to_state"), col("cnt"),
        (col("cnt").cast("double") / col("__rt")).as("p"))
  }

  /** Stationary distribution after `iters` synchronous power-iteration
    * rounds π ← πP from the uniform start — FIXED rounds, so the
    * result is deterministic and oracle-mirrorable (the C23 contract;
    * movement after k rounds is bounded by the chain's mixing rate).
    * States with no outgoing transitions (absorbing ends) redistribute
    * their mass uniformly each round — the PageRank dangling treatment,
    * without it the vector leaks mass and stops summing to 1. Runs on
    * the C23 kernel [[graft.graph.PageRank.iterate]]: the matrix goes in
    * as its (src, dst, __p) edge table with the vote `rank * __p`,
    * damping 1 (no teleport) and ranks normalized to a distribution.
    * Input is [[transitions]]' output (or any (from_state, to_state, p)
    * table whose rows row-normalize). */
  def stationary(trans: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    graft.graph.PageRank.iterate(
        trans.select(col("from_state").as("src"), col("to_state").as("dst"),
          col("p").as("__p")),
        col("rank") * col("__p"), damping = 1.0, normalized = true, iters)
      .select(col("v").as("state"), col("rank").as("pi"))
  }
}
