package graft.graph

import graft.operators.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank over an edge table — the iterative-graph workload beyond
  * [[graft.dedup.Dedup.clusterPairs]]'s min-label propagation. The
  * LLM-data use is crawl curation: rank domains/pages by link
  * centrality to prioritize fetching and weight sources (the same role
  * harmonic centrality plays in Common Crawl's ranking).
  *
  * Power iteration with damping `d`: rank ← (1−d)/n + d·(Σ in-neighbor
  * rank/out-degree + dangling mass/n), a FIXED number of rounds so the
  * result is deterministic and externally re-derivable (a convergence
  * threshold would couple the answer to float noise; rank movement
  * after `iters` rounds is bounded by d^iters).
  *
  * Every random walk in the library runs on the one round in
  * [[iterate]]: [[pageRank]], [[weightedPageRank]],
  * [[graft.text.TextRank.textRank]] and
  * [[graft.analytics.Markov.stationary]] only prepare its edge table and
  * project its result.
  */
object PageRank {

  /** (vertex, rank) after `iters` rounds over `edges(src, dst)`.
    * Duplicate edges count once; self-loops are legal. Ranks sum to 1
    * (up to float round-off) — dangling vertices' mass is
    * redistributed uniformly, the standard stochastic completion.
    *
    * Passes [[iterate]] the distinct (src, dst) pairs with the vote
    * `rank / __deg`, `damping`, and ranks normalized to a distribution. */
  def pageRank(edges: DataFrame, damping: Double = 0.85, iters: Int = 5): DataFrame = {
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    iterate(edges.select(col("src"), col("dst")).distinct(),
      col("rank") / col("__deg"), damping, normalized = true, iters)
      .select(col("v").as("vertex"), round(col("rank"), 6).as("rank"))
  }

  /** Weighted PageRank over `edges(src, dst, weight)`: contributions
    * split proportionally to edge weight instead of 1/out-degree —
    * the form co-citation/co-purchase graphs need ([[Projection]]'s
    * shared-count edges, crawl graphs with link multiplicities, D86's
    * bigram weights): an edge seen 40× should carry 40× the vote of a
    * hapax edge, which the unweighted walk throws away.
    *
    * Parallel edges COLLAPSE BY SUMMING their weights (one
    * partial-aggregating normalize pass), and out-strengths fold into
    * per-edge transition probabilities `__p` ONCE. Passes [[iterate]]
    * that (src, dst, __p) table with the vote `rank * __p`, `damping`,
    * and ranks normalized to a distribution; vertices with no outgoing
    * weight are its dangling vertices. Non-positive/null weights are
    * dropped (they carry no vote; a zero-weight edge must not create a
    * spurious dangling escape). Ranks sum to 1 up to float round-off.
    * With all weights equal this IS [[pageRank]] (spec-asserted). */
  def weightedPageRank(edges: DataFrame, damping: Double = 0.85,
                       iters: Int = 5): DataFrame = {
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e0 = Lineage.truncate(
      edges.select(col("src"), col("dst"), col("weight").cast("double").as("__w"))
        .filter(col("src").isNotNull && col("dst").isNotNull && col("__w") > 0)
        .groupBy("src", "dst").agg(sum(col("__w")).as("__w")))
    val outW = e0.groupBy("src").agg(sum(col("__w")).as("__ow"))
    iterate(e0.join(outW, "src")
        .select(col("src"), col("dst"), (col("__w") / col("__ow")).as("__p")),
      col("rank") * col("__p"), damping, normalized = true, iters)
      .select(col("v").as("vertex"), round(col("rank"), 6).as("rank"))
  }

  /** The power-iteration kernel: `iters` rounds of
    * rank ← t + d·(Σ in-vote + dangling mass/n) over `edges(src, dst, …)`,
    * returned as the truncated (v, __deg, rank) table — `__deg` is the
    * out-degree, null for a dangling vertex (no row as `src`).
    *
    * `vote` is the per-edge contribution, an expression over the source
    * vertex's `rank` and `__deg` and the edge's own columns. With
    * `normalized` the ranks are a distribution: start 1/n, teleport
    * t = (1−d)/n. Without it they are salience scores: start 1,
    * teleport t = 1−d. `damping` 1 is the plain chain π ← πP.
    *
    * Scale shape: `edges` is truncated once; the vertex table and its
    * out-degrees come from ONE union+aggregate pass whose truncation
    * also observes n and the dangling count. Each round is one
    * src-keyed [[Lineage.coPartitionedJoin]] (in place, no broadcast,
    * when both checkpoints are single-partition) + ONE union+aggregate
    * (the base leg injects every vertex with a 0.0 vote and its __deg),
    * truncated by [[Lineage.truncateObserved]], which also observes the
    * next round's dangling mass as a driver-side scalar. Truncation is reliable
    * checkpointing when the session has a checkpoint dir,
    * localCheckpoint otherwise. */
  private[graft] def iterate(edges: DataFrame, vote: Column, damping: Double,
                             normalized: Boolean, iters: Int): DataFrame = {
    val e = Lineage.truncate(edges)
    // dangling vertices (no outgoing edge) keep a null __deg
    val (verts, vm) = Lineage.truncateObserved(
      e.select(col("src").as("v"), lit(1L).as("__o"))
        .unionAll(e.select(col("dst").as("v"), lit(0L).as("__o")))
        .groupBy("v").agg(sum("__o").as("__cnt"))
        .select(col("v"), when(col("__cnt") > 0, col("__cnt")).as("__deg")),
      count(lit(1)).as("n"),
      coalesce(sum(when(col("__deg").isNull, lit(1L))), lit(0L)).as("nDangling"))
    val invN = 1.0 / vm("n").asInstanceOf[Long].toDouble
    val unit = if (normalized) invN else 1.0
    // round 0's dangling mass is closed form: every vertex holds `unit`
    var dm = vm("nDangling").asInstanceOf[Long] * unit
    // ranks_0 is a cheap projection of the checkpointed vertex table —
    // no truncation of its own needed (each round reads it twice, but
    // both reads scan materialized RDD blocks)
    var ranks = verts.select(col("v"), col("__deg"), lit(unit).as("rank"))
    for (_ <- 0 until iters) {
      // x + 0.0 == x for the base leg's votes; max(__deg) just picks
      // the single non-null base value
      val contrib = Lineage.coPartitionedJoin(ranks.filter(col("__deg").isNotNull), "v", e, "src")
        .select(col("dst").as("v"), vote.as("__c"), lit(null).cast("long").as("__deg"))
      val base = ranks.select(col("v"), lit(0.0).as("__c"), col("__deg"))
      val (next, m) = Lineage.truncateObserved(
        contrib.unionAll(base)
          .groupBy("v").agg(sum("__c").as("__in"), max("__deg").as("__deg"))
          .select(col("v"), col("__deg"),
            (lit((1.0 - damping) * unit) +
              lit(damping) * (col("__in") + lit(dm * invN)))
              .as("rank")),
        coalesce(sum(when(col("__deg").isNull, col("rank"))), lit(0.0)).as("dm"))
      ranks = next
      dm = m("dm").asInstanceOf[Double]
    }
    ranks
  }
}
