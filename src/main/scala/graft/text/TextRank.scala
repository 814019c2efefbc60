package graft.text

import graft.operators.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TextRank keyword extraction (Mihalcea & Tarau 2004): rank corpus
  * vocabulary by weighted PageRank over the word co-occurrence graph —
  * graph centrality finds the terms that hold the corpus's topical
  * structure together, where D16's TF-IDF finds the terms that set
  * documents apart and D86's PMI finds PAIRS that co-occur above
  * chance. The LLM-data uses: corpus-level topic keywords for mix
  * audits, query-term mining for D54 retrieval, stop-list-free salience
  * ahead of D44-style targeting.
  *
  * Graph construction rides [[Collocations]]' bigram stream (tokens
  * staged once, codegen'd positional explode — never re-tokenize-per-
  * element): adjacency counts symmetrize into an undirected weighted
  * graph (self-loops dropped — a stutter word must not vote for
  * itself; D39 collapses those upstream), `minCount` prunes hapax
  * edges BEFORE the iteration (the D86 noise floor, and the scale
  * bound: the surviving edge table is vocabulary²-bounded and usually
  * far smaller). Transition probabilities w(j,i)/Σₖw(j,k) are
  * precomputed ONCE into the (src, dst, __p) edge table, which goes to
  * the C23 kernel [[graft.graph.PageRank.iterate]] with the vote
  * `rank * __p`, `damping`, and `normalized = false`: scores follow the
  * classic TextRank fixed point rank = (1−d) + d·Σ from a start of 1
  * (NOT the probability-normalized C23 form — scores are per-vertex
  * salience, not a distribution). The kernel's dangling-mass term is
  * always 0 here (symmetric edges give every vertex out-weight > 0 by
  * construction).
  *
  * Output: (token, rank) for every vertex of the pruned graph. */
object TextRank {

  def textRank(docs: DataFrame, text: Column, damping: Double = 0.85,
               iters: Int = 5, minCount: Long = 2L): DataFrame = {
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = docs
      .select(filter(TextFunctions.tokens(text), w => length(w) > 0).as("__t"))
      .filter(size(col("__t")) >= 2)
    val pairs = toks
      .select(col("__t"), explode(sequence(lit(1), size(col("__t")) - 1)).as("__i"))
      .select(element_at(col("__t"), col("__i")).as("w1"),
        element_at(col("__t"), col("__i") + 1).as("w2"))
      .filter(col("w1") =!= col("w2"))
    // symmetrize BEFORE the count so (a,b) and (b,a) adjacency pools,
    // then one vocab²-bounded aggregate; minCount applies to the
    // pooled undirected weight (oracle mirrors)
    val sym = pairs.unionAll(pairs.select(col("w2").as("w1"), col("w1").as("w2")))
    val edges = Lineage.truncate(
      sym.groupBy(col("w1").as("src"), col("w2").as("dst"))
        .agg(count(lit(1)).as("__w"))
        .filter(col("__w") >= minCount))
    val outW = edges.groupBy("src").agg(sum("__w").as("__ow"))
    // transition probability folded in once — every round reuses it
    graft.graph.PageRank.iterate(
        edges.join(outW, "src")
          .select(col("src"), col("dst"), (col("__w") / col("__ow")).as("__p")),
        col("rank") * col("__p"), damping, normalized = false, iters)
      .select(col("v").as("token"), col("rank"))
  }
}
