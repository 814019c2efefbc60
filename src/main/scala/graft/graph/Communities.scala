package graft.graph

import graft.operators.Lineage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan et
  * al. 2007): each vertex repeatedly adopts its neighbors' most
  * frequent label — densely connected regions agree on one label in a
  * few rounds, and the surviving labels ARE the communities. The
  * graph-curation use next to [[KCore]] (density gate) and [[PageRank]]
  * (ranking): spam link-rings and template families collapse to one
  * label each, and per-community caps/weights replace per-domain
  * heuristics (A20) on graphs where the domain is not the right unit.
  *
  * Distinct from D15's connected components (min-label to a FIXPOINT —
  * every connected subgraph ends as ONE component regardless of
  * internal structure): LPA's frequency vote splits a connected graph
  * along its dense substructures.
  *
  * Scale shape per round: labels join the symmetric edge table on the
  * src key (hub vertices are hot aggregation keys — partial aggregation
  * absorbs them), neighbor-label counts partial-aggregate on
  * (vertex, label), and the winner is a `min_by` over (−count, label) —
  * highest count, min label on ties: DETERMINISTIC, no RNG order (the
  * published algorithm breaks ties randomly; a deterministic rule is
  * what makes the result reproducible and oracle-mirrorable). All
  * joins/aggregates key-hashed, zero windows, [[Lineage.truncate]] per
  * round. SYNCHRONOUS updates over a FIXED `iters` (the C23 contract) —
  * sync LPA can oscillate 2-cycles on bipartite structure rather than
  * converge, so the result is "labels after k voting rounds": pick odd
  * or even deliberately when comparing runs. Isolated vertices (no
  * edges) never appear; vertices keep their own label when they have
  * neighbors but lose every vote count tie upward. */
object Communities {

  /** (vertex, label) after `iters` synchronous voting rounds; initial
    * label = the vertex itself. `directed=false` symmetrizes. */
  def labelPropagation(edges: DataFrame, iters: Int,
                       directed: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = HyperBall.normalized(edges, directed)
    var labels = Lineage.truncate(
      e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v"))).distinct()
        .withColumn("label", col("v")))
    for (_ <- 0 until iters) {
      // One src-keyed join + two aggregates per round; the former
      // labels⋈votes re-attachment join is folded into the vote (r14,
      // guide §2.4): every vertex's OWN label rides the second
      // aggregate as a zero-count row, which any real vote (count ≥ 1)
      // beats under the (−count, label) ordering and which wins alone
      // exactly when the vertex got no votes — the coalesce semantics,
      // one join cheaper.
      val votes = labels.join(e, labels("v") === e("src"))
        .groupBy(col("dst").as("v"), col("label"))
        .agg(count(lit(1)).as("__c"))
      labels = Lineage.truncate(
        votes.unionAll(labels.select(col("v"), col("label"), lit(0L).as("__c")))
          .groupBy("v")
          .agg(min_by(col("label"), struct((-col("__c")).as("nc"), col("label")))
            .as("label")))
    }
    labels.select(col("v").as("vertex"), col("label"))
  }
}
