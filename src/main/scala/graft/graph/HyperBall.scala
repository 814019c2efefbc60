package graft.graph

import graft.operators.Lineage
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** HyperBall (Boldi & Vigna 2013): the neighborhood function
  * N(t) = #{(v,u) : d(v,u) ≤ t} of a graph, estimated with one
  * HyperLogLog "ball" sketch per vertex — THE way distance statistics
  * (effective diameter, average distance, centrality spectra) are
  * computed on web/social graphs where exact all-pairs BFS is |V|²
  * and dead. The recurrence is pure merge:
  * Ball_v(t) = Ball_v(t−1) ∪ ⋃_{v→w} Ball_w(t−1), and HLL unions make
  * each round ONE edge join + ONE vertex-keyed sketch aggregate —
  * |V|-scale state (4-8 KB/vertex at lgK=12), |E|-scale work per
  * round, partial-aggregating and AQE-splittable; hub vertices merge
  * map-side exactly like any hot aggregation key. Rounds lineage-
  * truncate ([[graft.operators.Lineage]]) like every graft iterative
  * operator; per-round driver state is the single N(t) scalar.
  *
  * The loop stops early once the sum of per-vertex estimates stops
  * changing (merges are monotone; a fixed point means every ball
  * stopped growing — t reached the diameter), and the converged value
  * fills the remaining rows so the output always has maxT+1 rows. */
object HyperBall {

  /** (t, n_pairs_est) for t = 0..maxT: the N(t) series of [[balls]].
    * `edges` needs `src`/`dst` columns; `directed=false` traverses both
    * ways. */
  def neighborhoodFunction(edges: DataFrame, maxT: Int, lgK: Int = 12,
                           directed: Boolean = false): DataFrame = {
    require(maxT >= 0, s"maxT must be >= 0, got $maxT")
    val (_, nf) = balls(normalized(edges, directed), maxT, lgK)
    toDf(edges.sparkSession, nf.padTo(maxT + 1, nf.last).zipWithIndex.map(_.swap))
  }

  /** EXACT neighborhood function by distinct-pair frontier expansion —
    * |pairs| ≤ |V|² state, the cost HyperBall exists to avoid; provided
    * for small graphs and for verifying the estimate (the c8b exact-
    * mode-at-test-scale discipline). */
  def exactNeighborhoodFunction(edges: DataFrame, maxT: Int,
                                directed: Boolean = false): DataFrame = {
    require(maxT >= 0, s"maxT must be >= 0, got $maxT")
    val spark = edges.sparkSession
    val e = normalized(edges, directed)
    val nodes = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v"))).distinct()
    // pair counts ride each truncation (observe) — no per-round count job
    val nMetric = count(lit(1)).cast("double").as("n")
    var (pairs, m0) = Lineage.truncateObserved(
      nodes.select(col("v"), col("v").as("u")), nMetric)
    val out = scala.collection.mutable.ArrayBuffer[(Int, Double)](
      (0, m0("n").asInstanceOf[Double]))
    var t = 1
    var converged = false
    while (t <= maxT && !converged) {
      val (np, m) = Lineage.truncateObserved(
        pairs.unionAll(
            pairs.join(e, pairs("u") === e("src")).select(col("v"), col("dst").as("u")))
          .distinct(), nMetric)
      pairs = np
      val nf = m("n").asInstanceOf[Double]
      converged = nf == out.last._2
      out += ((t, nf))
      t += 1
    }
    while (out.size <= maxT) out += ((out.size, out.last._2))
    toDf(spark, out.toSeq)
  }

  /** Per-vertex harmonic centrality estimate H(v) = Σ_{u≠v} 1/d(v,u),
    * the distance-based importance ranking Common Crawl publishes for
    * its host graph (Boldi-Vigna's preferred centrality: handles
    * disconnected graphs where closeness breaks) — computed from the
    * SAME ball recurrence: the t-shell size is |B(v,t)| − |B(v,t−1)|,
    * and H(v) = Σ_t shell_t/t accumulates per vertex as the balls grow.
    * The score is the final state of [[balls]], the loop
    * [[neighborhoodFunction]] runs too: |V|-scale sketch state, one
    * edge join + one sketch aggregate per round, lineage truncated,
    * early exit at the fixed point. Distances beyond `maxT`
    * contribute nothing (documented truncation — at web scale the
    * 1/d tail beyond the effective diameter is noise); for DIRECTED
    * in-centrality (paths TO v, the standard form) pass the reversed
    * edge table with `directed = true`.
    *
    * Output: (vertex, harmonic_est) — estimates, not exact values (the
    * HLL trade that makes |V|²-free centrality possible); rank with
    * them, verify small graphs against [[exactHarmonicCentrality]]. */
  def harmonicCentrality(edges: DataFrame, maxT: Int, lgK: Int = 12,
                         directed: Boolean = false): DataFrame = {
    require(maxT >= 1, s"maxT must be >= 1, got $maxT")
    val (state, _) = balls(normalized(edges, directed), maxT, lgK)
    state.select(col("v").as("vertex"), col("score").as("harmonic_est"))
  }

  /** EXACT harmonic centrality by (source, reached) pair-frontier BFS —
    * |V|²-bounded state, verification-scale only (the
    * [[exactNeighborhoodFunction]] discipline). Same `maxT` truncation
    * and direction contract as [[harmonicCentrality]]. */
  def exactHarmonicCentrality(edges: DataFrame, maxT: Int,
                              directed: Boolean = false): DataFrame = {
    require(maxT >= 1, s"maxT must be >= 1, got $maxT")
    val e = normalized(edges, directed)
    val nodes = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v"))).distinct()
    // ONE truncation per round instead of two (r14): the frontier is
    // the last round's __d-slice of the (checkpointed) visited table,
    // and its size rides the union's own materialization (observe) —
    // the separate `next` truncation and the isEmpty probe job are gone.
    var (visited, m0) = Lineage.truncateObserved(
      nodes.select(col("v"), col("v").as("u")).withColumn("__d", lit(0)),
      count(lit(1)).as("n"))
    var frontierN = m0("n").asInstanceOf[Long]
    var t = 1
    while (t <= maxT && frontierN > 0) {
      val frontier = visited.filter(col("__d") === t - 1)
      val next = frontier.join(e, frontier("u") === e("src"))
        .select(col("v"), col("dst").as("u")).distinct()
        .join(visited.select("v", "u"), Seq("v", "u"), "left_anti")
        .withColumn("__d", lit(t))
      val (nv, m) = Lineage.truncateObserved(visited.unionAll(next),
        coalesce(sum(when(col("__d") === t, lit(1L))), lit(0L)).as("n"))
      visited = nv
      frontierN = m("n").asInstanceOf[Long]
      t += 1
    }
    visited.filter(col("__d") > 0)
      .groupBy(col("v").as("vertex"))
      .agg(sum(lit(1.0) / col("__d")).as("harmonic"))
  }

  /** The ball recurrence behind [[neighborhoodFunction]] and
    * [[harmonicCentrality]] over a [[normalized]] edge table: rounds
    * t = 1..maxT, stopping early at the fixed point. Returns the final
    * truncated (v, sk, __prev, score) state — `sk` the HLL ball,
    * `__prev` its estimate |B(v,t)|, `score` Σ_t shell_t/t — and the
    * N(0..t) series, N(t) = Σ_v __prev, one entry per round run. */
  private def balls(e: DataFrame, maxT: Int, lgK: Int): (DataFrame, Seq[Double]) = {
    val nodes = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v"))).distinct()
    // N(t) totals ride each round's own materialization (observe), so
    // no round pays a separate aggregate job for them
    val nfMetric = coalesce(sum(col("__prev")), lit(0.0)).as("nf")
    var (state, m0) = Lineage.truncateObserved(
      nodes.groupBy("v").agg(hll_sketch_agg(col("v"), lit(lgK)).as("sk"))
        .select(col("v"), col("sk"),
          hll_sketch_estimate(col("sk")).as("__prev"), lit(0.0).as("score")),
      nfMetric)
    val nf = scala.collection.mutable.ArrayBuffer(m0("nf").asInstanceOf[Double])
    var t = 1
    var converged = false
    while (t <= maxT && !converged) {
      // Ball_v(t) in ONE union+aggregate: own sketch and in-neighbor
      // sketches through a single hll_union_agg — HLL union is
      // associative/commutative (register max), so no re-attachment
      // join is needed; __prev and score ride the base leg (the single
      // non-null value per group).
      val merged = e.join(state, e("dst") === state("v"))
        .select(e("src").as("v"), col("sk"),
          lit(null).cast("double").as("__prev"), lit(null).cast("double").as("score"))
        .unionAll(state.select(col("v"), col("sk"), col("__prev"), col("score")))
        .groupBy("v").agg(hll_union_agg(col("sk")).as("sk"),
          max(col("__prev")).as("__p0"), max(col("score")).as("__s0"))
      val est = hll_sketch_estimate(col("sk"))
      // registers only grow under union and the estimate is monotone in
      // them, so the shell is ≥ 0; greatest() guards the contract
      // explicitly rather than trusting it silently
      val (ns, m) = Lineage.truncateObserved(
        merged.select(col("v"), col("sk"), est.as("__prev"),
          (col("__s0") + greatest(est - col("__p0"), lit(0.0)) / t).as("score")),
        nfMetric)
      state = ns
      val n = m("nf").asInstanceOf[Double]
      converged = n == nf.last
      nf += n
      t += 1
    }
    (state, nf.toSeq)
  }

  /** The undirected-edge normaliser of the graph operators
    * ([[HyperBall]], [[Communities]], [[Bfs]]): both directions unless
    * `directed`, nulls and self-loops dropped, duplicates collapsed,
    * truncated once. */
  private[graph] def normalized(edges: DataFrame, directed: Boolean): DataFrame = {
    val fwd = edges.select(col("src"), col("dst"))
    Lineage.truncate(
      (if (directed) fwd
       else fwd.unionAll(edges.select(col("dst").as("src"), col("src").as("dst"))))
        .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
        .distinct())
  }

  private def toDf(spark: SparkSession, rows: Seq[(Int, Double)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*),
      StructType(Seq(StructField("t", IntegerType, nullable = false),
        StructField("n_pairs_est", DoubleType, nullable = false))))
}
