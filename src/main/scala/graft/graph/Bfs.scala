package graft.graph

import graft.operators.Lineage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS shortest hop distances over an edge table — the
  * reachability workload next to [[PageRank]] (centrality) and
  * [[Triangles]] (local structure). LLM-data uses: crawl-frontier
  * radius from seed domains, contamination blast-radius from a known-bad
  * source through link/duplicate edges, and "within k hops of a trusted
  * set" quality priors.
  *
  * Level-synchronous frontier expansion — the textbook distributed BFS:
  * each round joins the CURRENT frontier (not the whole visited set) to
  * the edge table, anti-joins out already-visited vertices, and tags
  * survivors with the round number. Per round: one src-keyed equi-join,
  * one distinct, one anti-join — all hash-partitioned on the vertex
  * key, no windows, no driver-side graph state; [[Lineage.truncate]]
  * cuts the growing plan each round (the d15/PageRank iteration
  * discipline). Work per round is O(edges out of frontier), so total
  * work is O(E) across all rounds — the visited set is never re-joined
  * to edges. Terminates early when a frontier empties (the truncation
  * materializes the frontier anyway, so the emptiness check is a
  * metadata-cheap count on a checkpointed table).
  */
object Bfs {

  /** (vertex, dist) for every vertex reachable from `seeds` within
    * `maxHops` edges; `dist` = minimum hop count (seeds are 0).
    * Unreachable vertices are absent. `directed=false` (default)
    * traverses edges both ways. Duplicate edges/seeds and self-loops
    * are harmless (deduped / dropped). */
  def hopDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      directed: Boolean = false): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    // self-loops are dropped with the nulls: one never reaches an
    // unvisited vertex
    val e = HyperBall.normalized(edges, directed)
    // ONE truncation per round (r14): the frontier is the last hop's
    // dist-slice of the (checkpointed) dist table, and its size rides
    // the union's own materialization (observe) — the separate `next`
    // truncation and the per-round count job are gone (guide §1.2).
    var (dist, m0) = Lineage.truncateObserved(
      seeds.select(col("v")).filter(col("v").isNotNull).distinct()
        .select(col("v"), lit(0L).as("dist")),
      count(lit(1)).as("n"))
    var hop = 1L
    var frontierSize = m0("n").asInstanceOf[Long]
    while (hop <= maxHops && frontierSize > 0) {
      val frontier = dist.filter(col("dist") === hop - 1).select("v")
      val next = frontier.join(e, frontier("v") === e("src"))
        .select(col("dst").as("v")).distinct()
        .join(dist, Seq("v"), "left_anti")
        .select(col("v"), lit(hop).as("dist"))
      val (nd, m) = Lineage.truncateObserved(dist.unionAll(next),
        coalesce(sum(when(col("dist") === hop, lit(1L))), lit(0L)).as("n"))
      dist = nd
      frontierSize = m("n").asInstanceOf[Long]
      hop += 1
    }
    dist.select(col("v").as("vertex"), col("dist"))
  }
}
