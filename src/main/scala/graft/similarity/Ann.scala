package graft.similarity

import graft.vectors.VectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns.
  *
  * Two tiers:
  *  - [[bruteForceTopK]] — exact cosine top-k: the correctness baseline.
  *    The (small) query set is broadcast against the corpus; per
  *    (query, candidate) cosine is a single expression; top-k per query
  *    is a `row_number` window over the query id.
  *  - [[lshTopK]] — random-hyperplane LSH: the 100 TB path. Corpus rows
  *    are bucketed by sign-bit signatures across several tables; exact
  *    cosine runs only inside colliding buckets, so per-query cost is
  *    O(bucket) instead of O(corpus).
  *
  * Parameter discipline at scale: bucket count must GROW with the corpus
  * (fixed `bits` degenerates to quadratic per-bucket self-joins), so
  * `bits` is derived from the corpus size and a target bucket size via
  * [[bitsFor]] unless explicitly overridden. Recall is then tuned with
  * `tables`; [[recallFor]] gives the closed form to size it.
  */
object Ann {

  /** Exact cosine top-k for each row of `queries` against `corpus`.
    *
    * Scale: `broadcast(queries)` keeps the join shuffle-free (a
    * BroadcastNestedLoopJoin over the corpus scan); norms are
    * precomputed per side so each pair costs one dot product. The
    * window on `qid` shuffles only (qid, cid, cos) triples. For large
    * query sets, chunk the queries and union.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String, k: Int): DataFrame = {
    val c = vecTable(corpus, id, vec, "cid", "cv", "cnorm")
    val q = vecTable(queries, id, vec, "qid", "qv", "qnorm")
    val scored = c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("cos", VectorOps.cosineWithNorms(col("qv"), col("cv"), col("qnorm"), col("cnorm")))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), round(col("cos"), 4).as("cosine"), col("rank"))
  }

  /** Hard-negative mining for contrastive/metric training: for each
    * anchor, the top-`k` most-similar corpus vectors whose `group`
    * label DIFFERS from the anchor's (the "hardest" negatives — most
    * confusable under the current embedding), optionally capped at
    * `maxCos` (a similarity ceiling excludes near-identical vectors
    * that are usually mislabeled duplicates, the standard
    * false-negative guard). Exact brute-force baseline — same
    * broadcast-queries/no-shuffle-corpus shape as [[bruteForceTopK]];
    * [[hardNegativesIvf]] is the list-probed scale path. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, id: String, vec: String,
                    group: String, k: Int, maxCos: Double = 1.0): DataFrame = {
    val c = groupVecTable(corpus, id, vec, group, "cid", "cv", "__cn", "cgroup")
    val q = groupVecTable(anchors, id, vec, group, "qid", "qv", "qnorm", "qgroup")
    val scored = c.join(broadcast(q),
        col("qid") =!= col("cid") && col("qgroup") =!= col("cgroup"))
      .withColumn("cos", VectorOps.cosineWithNorms(col("qv"), col("cv"), col("qnorm"), col("__cn")))
      .filter(col("cos") <= maxCos)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), round(col("cos"), 4).as("cosine"), col("rank"))
  }

  /** IVF-probed hard negatives — [[hardNegatives]] semantics restricted
    * to the anchors' top-`nProbe` lists, so the per-anchor cost is the
    * probed-list population instead of the corpus. The label filter runs
    * INSIDE the probed lists, before ranking, so k survivors are exact
    * within the probe budget (no over-fetch fragility); recall vs the
    * exact miner is the usual IVF probe trade measured in AnnSpec.
    * Same static-broadcast probe-table plan as the shared probe tail:
    * the corpus side never shuffles on list_id. */
  def hardNegativesIvf(corpus: DataFrame, anchors: DataFrame, id: String, vec: String,
                       group: String, k: Int, nLists: Int, nProbe: Int,
                       trainRounds: Int = 0, maxCos: Double = 1.0): DataFrame = {
    require(nProbe >= 1 && nProbe <= nLists, "need 1 <= nProbe <= nLists")
    var cents = ivfCentroids(corpus, id, vec, nLists)
    (0 until trainRounds).foreach(_ => cents = refineCentroids(corpus, id, vec, cents))
    val assigned = ivfAssign(corpus, id, vec, cents)
      .join(groupVecTable(corpus, id, vec, group, "cid", "cv", "__cn", "cgroup"),
        col("__cid") === col("cid"))
      .select(col("list_id"), col("cid"), col("cv"), col("__cn"), col("cgroup"))
    val q = groupVecTable(anchors, id, vec, group, "qid", "qv", "qnorm", "qgroup")
    val probes = q.join(broadcast(cents))
      .withColumn("__score", VectorOps.cosineWithNorms(col("qv"), col("cvec"), col("qnorm"), col("cnorm")))
      .withColumn("__pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("__score").desc, col("list_id").asc)))
      .filter(col("__pr") <= nProbe)
      .select(col("qid"), col("qv"), col("qnorm"), col("qgroup"), col("list_id"))
    val scored = broadcast(probes).join(assigned, Seq("list_id"))
      .filter(col("qid") =!= col("cid") && col("qgroup") =!= col("cgroup"))
      .withColumn("cos", VectorOps.cosineWithNorms(col("qv"), col("cv"), col("qnorm"), col("__cn")))
      .filter(col("cos") <= maxCos)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), round(col("cos"), 4).as("cosine"), col("rank"))
  }

  private def groupVecTable(df: DataFrame, id: String, vec: String, group: String,
                            idAs: String, vAs: String, nAs: String, gAs: String): DataFrame =
    df.select(col(id).as(idAs), VectorOps.toDouble(col(vec)).as(vAs), col(group).as(gAs))
      .withColumn(nAs, VectorOps.l2Norm(col(vAs)))

  /** Shared deterministic plane coefficients — single source of truth in
    * [[graft.expressions.VectorExpressions.planeCoef]], used by both the
    * native expression and the reference formulation below. */
  private def planeCoef(table: Int, plane: Int, dim: Int): Double =
    graft.expressions.VectorExpressions.planeCoef(table, plane, dim)

  /** Sign-bit signature of `v` under `bits` hyperplanes of table `t`,
    * encoded "t_b₀b₁…" so signatures from different tables never collide.
    *
    * REFERENCE implementation: the production path is [[sigTable]] (the
    * native fused [[graft.expressions.HyperplaneSigs]] expression over
    * the same [[planeCoef]] planes); AnnSpec asserts both induce the
    * same bucket partition so they cannot silently diverge. */
  def hyperplaneSignature(v: Column, dims: Int, t: Int, bits: Int): Column = {
    val bitCols = (0 until bits).map { p =>
      val plane = array((0 until dims).map(d => lit(planeCoef(t, p, d))): _*)
      when(VectorOps.dot(v, plane) > 0, lit("1")).otherwise(lit("0"))
    }
    concat_ws("", lit(s"${t}_") +: bitCols: _*)
  }

  /** Signature bits for a target bucket size: 2^bits ≈ corpus/target, so
    * expected bucket population stays ≈ `targetBucketSize` as the corpus
    * grows — per-bucket join work is bounded instead of quadratic in n.
    *
    * Clamped to [1, 42] (2.8×10^14 vectors at the default target of 64
    * before the clamp binds; the r2 24-bit cap let buckets grow to
    * ~6,000 vectors at 10^11 — quietly re-introducing the quadratic
    * per-bucket cost this function exists to prevent).
    *
    * THE TRADE IS INHERENT TO LSH, not to the clamp: more bits means a
    * lower per-table collision probability (p^bits), so a FIXED `tables`
    * loses recall as the corpus — and therefore `bits` — grows. Callers
    * must re-size `tables` from [[recallFor]] for the lowest cosine they
    * cannot miss whenever the corpus scale changes; bounded buckets plus
    * recallFor-sized tables is the contract, bounded buckets alone is
    * not a recall guarantee. */
  def bitsFor(corpusSize: Long, targetBucketSize: Int): Int = {
    val raw = math.ceil(math.log(math.max(1.0, corpusSize.toDouble / targetBucketSize)) / math.log(2.0)).toInt
    math.max(1, math.min(42, raw))
  }

  /** Closed-form per-pair recall of sign-bit LSH: a pair at cosine `cos`
    * agrees on one hyperplane bit with prob p = 1 − arccos(cos)/π, lands
    * in the same bucket of one table with p^bits, and collides in ≥1 of
    * `tables` tables with 1 − (1−p^bits)^tables. Use to size `tables`
    * for the lowest cosine the caller must not miss. */
  def recallFor(cos: Double, bits: Int, tables: Int): Double = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, cos))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, bits), tables)
  }

  /** (id, vector, norm) projection shared by scoring stages. */
  private def vecTable(df: DataFrame, id: String, vec: String,
                       idAs: String, vAs: String, nAs: String): DataFrame =
    df.select(col(id).as(idAs), VectorOps.toDouble(col(vec)).as(vAs))
      .withColumn(nAs, VectorOps.l2Norm(col(vAs)))

  /** (id, sig) signature table, computed by the native
    * [[graft.expressions.HyperplaneSigs]] expression: every table's
    * bucket emerges from ONE fused loop inside the corpus scan — zero
    * shuffle, zero row amplification (the r2 matmul formulation this
    * replaces was codegen'd but shuffled ~tables×bits partial-sum rows
    * per vector, the dominant signature cost at 10^10 vectors; see
    * SURVEY §5b). Two properties matter at 100 TB: (1) no interpreted
    * higher-order functions anywhere on the corpus scan, and (2) the
    * vector is dropped BEFORE candidate generation — only 8-byte ids and
    * short signature strings ride the candidate shuffle; vectors are
    * joined back exactly once per surviving pair (r1 shuffled the full
    * vector ×tables, the dominant cost of the embedding near-dup query). */
  private[graft] def sigTable(df: DataFrame, id: String, vec: String, idAs: String,
                              dims: Int, tables: Int, bits: Int): DataFrame = {
    val sigs = graft.expressions.VectorExpressions.hyperplaneSigsNative(
      VectorOps.toDouble(col(vec)), tables, bits, dims)
    // a vector of the wrong length must fail LOUDLY: the expression
    // yields null for it, and silently dropping those rows would erase
    // every signature of a mis-declared corpus (empty results, no
    // error); genuinely null vectors still pass through as null and are
    // dropped by the explode, as before
    val checked = when(col(vec).isNotNull && size(col(vec)) =!= dims,
        raise_error(concat(
          lit(s"sigTable: expected $dims-dim vectors, found length "), size(col(vec)).cast("string"))))
      .otherwise(sigs)
    df.select(col(id).as(idAs), posexplode(checked).as(Seq("__t", "__b")))
      .select(col(idAs), concat(col("__t").cast("string"), lit("_"), col("__b").cast("string")).as("sig"))
  }

  /** LSH-bucketed ANN: exact cosine top-k within the union of the
    * query's buckets across `tables` signature tables.
    *
    * Plan shape: signatures are narrow maps; candidate generation is an
    * equi-join on the signature string (shuffle keyed by bucket) over
    * (id, sig) pairs only; multi-table collisions collapse via distinct
    * BEFORE vectors are joined back, so each surviving pair is scored
    * exactly once. `bits = 0` (default) derives the bucket count from
    * the corpus size via [[bitsFor]]; recall is then governed by
    * `tables` (see [[recallFor]]).
    *
    * NOTE: auto-sizing runs `corpus.count()` at plan-construction time
    * (parquet counts are metadata-cheap, but it IS an extra job) —
    * pass `corpusSize` or an explicit `bits` when building plans for
    * very large or non-metadata-countable sources.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              dims: Int, k: Int, tables: Int = 16, bits: Int = 0,
              targetBucketSize: Int = 64, corpusSize: Option[Long] = None): DataFrame = {
    val nBits = if (bits > 0) bits else bitsFor(corpusSize.getOrElse(corpus.count()), targetBucketSize)
    val cand = sigTable(corpus, id, vec, "cid", dims, tables, nBits)
      .join(broadcast(sigTable(queries, id, vec, "qid", dims, tables, nBits)), Seq("sig"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid").distinct()
    val scored = cand
      .join(vecTable(corpus, id, vec, "cid", "cv", "cnorm"), "cid")
      .join(broadcast(vecTable(queries, id, vec, "qid", "qv", "qnorm")), "qid")
      .withColumn("cos", VectorOps.cosineWithNorms(col("qv"), col("cv"), col("qnorm"), col("cnorm")))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), round(col("cos"), 4).as("cosine"), col("rank"))
  }

  // ------------------------------------------------------------------ IVF

  /** Deterministic IVF coarse centroids: the `nLists` corpus vectors
    * with the smallest md5-derived sample key — a uniform sample with no
    * RNG state, so executors and re-runs agree, and md5 (not xxhash64)
    * so ANY engine reproduces the selection (the DuckDB oracle mirrors
    * it bit-for-bit, same rationale as [[graft.dedup.Dedup.tokenHash60]]).
    * Emits (list_id, cvec, cnorm); `nLists` is small (≈ √corpus in
    * production), so the result is broadcast by callers.
    * `TakeOrderedAndProject` keeps selection O(nLists) per partition +
    * one reduce — no global sort. */
  def ivfCentroids(corpus: DataFrame, id: String, vec: String, nLists: Int): DataFrame = {
    val w = Window.orderBy(col("__h"), col("__cid"))
    corpus.select(col(id).as("__cid"), VectorOps.toDouble(col(vec)).as("cvec"))
      .withColumn("__h", conv(substring(md5(col("__cid").cast("string")), 1, 15), 16, 10).cast("long"))
      .orderBy(col("__h"), col("__cid")).limit(nLists)
      // nLists rows total — the unpartitioned window is fine here
      .withColumn("list_id", row_number().over(w))
      .select(col("list_id"), col("cvec"), VectorOps.l2Norm(col("cvec")).as("cnorm"))
  }

  /** One Lloyd refinement round: recompute each centroid as the
    * elementwise mean of its assigned vectors. Distributed k-means step
    * with no driver-side state: assignment is [[ivfAssign]], the mean is
    * a (list, dim)-keyed partial aggregate (map-side combine), and the
    * array is reassembled per list from its ≤`dims` dimension rows.
    * Lists that lost every member keep their previous centroid. */
  def refineCentroids(corpus: DataFrame, id: String, vec: String, centroids: DataFrame): DataFrame = {
    val assigned = ivfAssign(corpus, id, vec, centroids)
      .join(corpus.select(col(id).as("__cid"), VectorOps.toDouble(col(vec)).as("v")), "__cid")
    val means = assigned
      .select(col("list_id"), posexplode(col("v")).as(Seq("__d", "__x")))
      .groupBy("list_id", "__d").agg(avg("__x").as("__m"))
      .groupBy("list_id")
      .agg(array_sort(collect_list(struct(col("__d"), col("__m")))).as("__dm"))
      .select(col("list_id"),
        transform(col("__dm"), s => s.getField("__m")).as("cvec"))
      .withColumn("cnorm", VectorOps.l2Norm(col("cvec")))
    centroids.select(col("list_id"), col("cvec").as("__old_v"), col("cnorm").as("__old_n"))
      .join(means, Seq("list_id"), "left")
      .select(col("list_id"),
        coalesce(col("cvec"), col("__old_v")).as("cvec"),
        coalesce(col("cnorm"), col("__old_n")).as("cnorm"))
  }

  /** (\_\_cid, list_id) inverted-list assignment: each corpus vector goes
    * to its highest-cosine centroid. The centroid table is broadcast, the
    * argmax is a `max(struct(score, -list_id))` hash aggregate — partial
    * aggregation means one row per corpus vector crosses the shuffle,
    * with ties broken to the smaller list deterministically. */
  def ivfAssign(corpus: DataFrame, id: String, vec: String, centroids: DataFrame): DataFrame = {
    val c = vecTable(corpus, id, vec, "__cid", "__v", "__n")
    c.join(broadcast(centroids))
      .withColumn("__score", VectorOps.cosineWithNorms(col("__v"), col("cvec"), col("__n"), col("cnorm")))
      .groupBy("__cid")
      .agg(max(struct(col("__score"), (-col("list_id")).as("__nl"))).as("__best"))
      .select(col("__cid"), (-col("__best.__nl")).cast("int").as("list_id"))
  }

  /** IVF-Flat ANN: corpus vectors are sharded into `nLists` inverted
    * lists by nearest coarse centroid; each query scores ONLY the lists
    * of its `nProbe` nearest centroids, so per-query work is
    * ≈ nProbe/nLists of the corpus — the other standard ANN scale path
    * next to [[lshTopK]] (production sizes nLists ≈ √n with k-means-
    * trained centroids; [[refineCentroids]] is the training round, and
    * `trainRounds` applies it). The plan keeps the LSH discipline:
    * centroids broadcast, assignment a partial-agg argmax, candidate
    * generation an equi-join on `list_id`, vectors joined once.
    *
    * Exactness: with `nProbe == nLists` this IS brute force (every list
    * probed). Below that, recall depends on the corpus geometry —
    * measure against [[bruteForceTopK]] on a sample (see AnnSpec).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              k: Int, nLists: Int, nProbe: Int, trainRounds: Int = 0): DataFrame = {
    require(nProbe >= 1 && nProbe <= nLists, "need 1 <= nProbe <= nLists")
    var cents = ivfCentroids(corpus, id, vec, nLists)
    (0 until trainRounds).foreach(_ => cents = refineCentroids(corpus, id, vec, cents))
    val assigned = ivfAssign(corpus, id, vec, cents)
      .join(vecTable(corpus, id, vec, "cid", "cv", "__cn"), col("__cid") === col("cid"))
      .select(col("list_id"), col("cid"), col("cv"), col("__cn"))
    probeTopK(assigned, cents, queries, id, vec, k, nProbe)
  }

  /** Shared query tail of [[ivfTopK]]/[[ivfTopKHier]]: rank the
    * broadcast centroid table per query, probe the top-`nProbe` lists,
    * exact cosine within them, deterministic top-k. ONE implementation
    * so a tie-break or rounding change can never diverge the flat and
    * hierarchical paths — their results must stay comparable
    * list-for-list. `cents` needs (list_id, cvec, cnorm); extra
    * columns (hier's top_id) are ignored. */
  private def probeTopK(assigned: DataFrame, cents: DataFrame, queries: DataFrame,
                        id: String, vec: String, k: Int, nProbe: Int): DataFrame = {
    val q = vecTable(queries, id, vec, "qid", "qv", "qnorm")
    val probes = q.join(broadcast(cents))
      .withColumn("__score", VectorOps.cosineWithNorms(col("qv"), col("cvec"), col("qnorm"), col("cnorm")))
      .withColumn("__pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("__score").desc, col("list_id").asc)))
      .filter(col("__pr") <= nProbe)
      .select(col("qid"), col("qv"), col("qnorm"), col("list_id"))
    // the probe table is nProbe rows per query — query-set-sized by
    // construction, so broadcast it STATICALLY: planned as SMJ, AQE
    // demotes this join to broadcast at runtime anyway, but whether the
    // already-launched corpus-side exchange survives as a local shuffle
    // read is a stage-materialization race (a nondeterministic plan
    // shape the golden fence caught on d23b). The hint pins the
    // broadcast plan — and the corpus side never shuffles on list_id.
    val scored = broadcast(probes).join(assigned, Seq("list_id"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", VectorOps.cosineWithNorms(col("qv"), col("cv"), col("qnorm"), col("__cn")))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), round(col("cos"), 4).as("cosine"), col("rank"))
  }

  /** Semantic contamination pairs: every (corpus, eval) pair with
    * cosine ≥ `threshold` — the EMBEDDING-space complement of D25's
    * n-gram decontamination (a paraphrased eval item shares no 13-gram
    * with its source; its embedding still sits next to it). The eval
    * set is benchmark-sized by construction, so it BROADCASTS and the
    * corpus streams through untouched — zero corpus shuffle, |corpus|
    * × |eval| dot products map-side (the d58 hardNegatives shape; at
    * 10^10 docs × 10^4 eval items, switch the corpus side to
    * [[ivfAssign]] lists and probe like [[hardNegativesIvf]] if the
    * dot-product budget bites). Same-id pairs are excluded. */
  def contaminationPairs(corpus: DataFrame, evalSet: DataFrame, id: String, vec: String,
                         threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    val c = vecTable(corpus, id, vec, "cid", "cv", "__cn")
    val q = vecTable(evalSet, id, vec, "eval_id", "qv", "__qn")
    c.join(broadcast(q), col("eval_id") =!= col("cid"))
      .withColumn("cos", VectorOps.cosineWithNorms(col("cv"), col("qv"), col("__cn"), col("__qn")))
      .filter(col("cos") >= threshold)
      .select(col("cid"), col("eval_id"), col("cos"))
  }

  /** The corpus with every contaminated document removed (anti-join on
    * the flagged ids) — drop-in leakage guard in front of a training
    * split. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame, id: String, vec: String,
                            threshold: Double): DataFrame =
    corpus.join(
      contaminationPairs(corpus, evalSet, id, vec, threshold)
        .select(col("cid")).distinct(),
      corpus(id) === col("cid"), "left_anti")

  /** IVF-PQ ANN — the standard billion-vector layout: coarse inverted
    * lists ([[ivfCentroids]]/[[ivfAssign]]) whose entries are
    * [[graft.vectors.Pq]] CODES, not vectors. The index row is
    * (list_id, cid, m bytes of codes) instead of (…, d·4 bytes of
    * floats) — at 64-dim/m=8 a 32× cut in index storage AND in the
    * bytes crossing the candidate join, which is where an ANN plan's
    * shuffle volume lives at 10^10 vectors. Candidate scoring is
    * asymmetric distance: squared L2 from the query to the DECODED
    * centroid chain (codebooks ride as literals — in-plan, no
    * per-query driver state), then an optional exact RERANK of the top
    * `rerank` ADC survivors against true vectors — the standard
    * two-stage recall repair, costing a (rerank·|Q|)-row join instead
    * of a corpus-wide one.
    *
    * Distances are squared L2 ascending (the PQ-native metric); on
    * L2-normalized vectors d² = 2−2·cos, so rankings match the cosine
    * operators and with `nProbe == nLists` and `rerank ≥ k` the result
    * IS [[bruteForceTopK]]'s ranking (spec-pinned). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
                k: Int, nLists: Int, nProbe: Int, pq: graft.vectors.Pq.PqModel,
                rerank: Int = 0, trainRounds: Int = 0): DataFrame = {
    require(nProbe >= 1 && nProbe <= nLists, "need 1 <= nProbe <= nLists")
    var cents = ivfCentroids(corpus, id, vec, nLists)
    (0 until trainRounds).foreach(_ => cents = refineCentroids(corpus, id, vec, cents))
    val index = ivfAssign(corpus, id, vec, cents)
      .join(corpus.select(col(id).as("cid"), pq.encode(col(vec)).as("__codes")),
        col("__cid") === col("cid"))
      .select(col("list_id"), col("cid"), col("__codes"))
    val q = vecTable(queries, id, vec, "qid", "qv", "qnorm")
    val probes = q.join(broadcast(cents))
      .withColumn("__score", VectorOps.cosineWithNorms(col("qv"), col("cvec"), col("qnorm"), col("cnorm")))
      .withColumn("__pr", row_number().over(
        Window.partitionBy("qid").orderBy(col("__score").desc, col("list_id").asc)))
      .filter(col("__pr") <= nProbe)
      .select(col("qid"), col("qv"), col("list_id"))
    // probe table broadcast for the same stage-race reason as probeTopK
    val adc = broadcast(probes).join(index, Seq("list_id"))
      .filter(col("qid") =!= col("cid"))
      // native fused ADC (bit-identical to the decode + zip_with fold
      // it replaces — see PqExpressions' exactness contract)
      .withColumn("__adc", pq.adcL2(col("qv"), col("__codes")))
    // A corpus row with a null embedding element has null codes, so a
    // null __adc: it ranks after every scored candidate, never first.
    val wAdc = Window.partitionBy("qid").orderBy(col("__adc").asc_nulls_last, col("cid").asc)
    if (rerank <= 0) {
      adc.withColumn("rank", row_number().over(wAdc).cast("long"))
        .filter(col("rank") <= k)
        .select(col("qid"), col("cid"), round(col("__adc"), 4).as("dist"), col("rank"))
    } else {
      require(rerank >= k, s"rerank must be >= k to return k rows, got rerank=$rerank k=$k")
      val survivors = adc.withColumn("__ar", row_number().over(wAdc))
        .filter(col("__ar") <= rerank)
        .select(col("qid"), col("qv"), col("cid"))
      val exact = survivors
        .join(corpus.select(col(id).as("cid"), VectorOps.toDouble(col(vec)).as("__cv")), "cid")
        .withColumn("__dist", aggregate(zip_with(col("qv"), col("__cv"),
          (a, b) => (a - b) * (a - b)), lit(0.0), _ + _))
      val w = Window.partitionBy("qid").orderBy(col("__dist").asc_nulls_last, col("cid").asc)
      exact.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select(col("qid"), col("cid"), round(col("__dist"), 4).as("dist"), col("rank"))
    }
  }

  /** Two-level coarse quantizer: `top` shards the space into ~√nLists
    * cells, `sub` holds each cell's sub-centroids (flat schema
    * (list_id, top_id, cvec, cnorm) — `list_id` is globally unique, so
    * every flat-IVF consumer of a (list_id → vectors) sharding works
    * unchanged on hierarchical assignments). */
  final case class HierCentroids(top: DataFrame, sub: DataFrame)

  /** Train the two-level quantizer: ~√nLists deterministic top-level
    * centroids ([[ivfCentroids]]), then ≈ nLists/√nLists sub-centroids
    * INSIDE each top cell, so [[ivfAssignHier]] costs ~2√nLists dot
    * products per corpus vector instead of flat assignment's nLists —
    * the difference between dead and fine at 10^10 vectors with
    * nLists = 10^5 (flat: 10^15 corpus-side dots; hierarchical:
    * ~6×10^12). This is the standard IVF-on-IVF coarse quantizer
    * (FAISS's IVF_HNSW / two-level IMI family, re-expressed
    * relationally).
    *
    * Sub-centroid selection is the same deterministic md5-key sample as
    * [[ivfCentroids]], but PER CELL — and deliberately NOT via a window
    * rank over the full cell population (a mega-cell would become one
    * unsplittable sort task, the d28/d15 skew lesson). Instead each
    * cell's expected-4×-oversample survives a per-cell hash-threshold
    * filter (thresholds from a broadcast per-cell count), and only the
    * bounded survivor set (~4·perCell rows per cell) pays a window
    * rank. Cells smaller than the oversample keep everything, so every
    * non-empty cell yields ≥1 sub-centroid and [[ivfAssignHier]]'s
    * inner join loses no vector.
    *
    * `trainRounds` (default 1) Lloyd-refines the sub-centroids through
    * [[refineHier]] — paid out of the √nLists assignment savings, it
    * adapts the lists to the data where flat IVF's sampled centroids
    * stay random, which is what keeps hierarchical recall at-or-above
    * flat at equal probe budget (AnnSpec measures this). Both returned
    * tables are eagerly truncated: `sub` is consumed by every
    * assignment AND every query probe pass, and its selection pipeline
    * must not re-run per consumer. */
  def hierCentroids(corpus: DataFrame, id: String, vec: String, nLists: Int,
                    trainRounds: Int = 1): HierCentroids = {
    require(nLists >= 1, s"nLists must be >= 1, got $nLists")
    val nTop = math.max(1, math.round(math.sqrt(nLists.toDouble)).toInt)
    val perCell = math.max(1, math.ceil(nLists.toDouble / nTop).toInt)
    val top = ivfCentroids(corpus, id, vec, nTop)
      .select(col("list_id").as("top_id"), col("cvec").as("tvec"), col("cnorm").as("tnorm"))
    val c = vecTable(corpus, id, vec, "__cid", "__v", "__n")
    // truncated: the per-cell count AND the survivor filter both consume
    // this corpus-wide argmax — untruncated, each would re-run it
    val assignedTop = graft.operators.Lineage.truncate(
      c.join(broadcast(top))
        .withColumn("__s", VectorOps.cosineWithNorms(col("__v"), col("tvec"), col("__n"), col("tnorm")))
        .groupBy("__cid").agg(max(struct(col("__s"), (-col("top_id")).as("__nt"))).as("__b"))
        .select(col("__cid"), (-col("__b.__nt")).cast("int").as("top_id"))
        .withColumn("__h", conv(substring(md5(col("__cid").cast("string")), 1, 15), 16, 10).cast("long")))
    // per-cell survivor threshold: keep ~4·perCell smallest hash keys of
    // each cell (all of a small cell), computed from one tiny count table
    val maxH = (1L << 60).toDouble
    val cellCounts = assignedTop.groupBy("top_id").agg(count(lit(1)).as("__cn"))
    val survivors = assignedTop.join(broadcast(cellCounts), Seq("top_id"))
      .filter(col("__cn") <= 4L * perCell ||
        col("__h") <= (lit(maxH) * 4.0 * perCell / col("__cn")).cast("long"))
    val ranked = survivors
      .withColumn("__r", row_number().over(
        Window.partitionBy("top_id").orderBy(col("__h"), col("__cid"))))
      .filter(col("__r") <= perCell)
    val sub = broadcast(ranked)
      .join(corpus.select(col(id).as("__cid"), VectorOps.toDouble(col(vec)).as("cvec")), "__cid")
      // global list ids over ≤ nLists + nTop rows — the unpartitioned
      // window is fine at quantizer size, as in ivfCentroids
      .withColumn("list_id", row_number().over(
        Window.orderBy(col("top_id"), col("__h"), col("__cid"))))
      .select(col("list_id"), col("top_id"), col("cvec"),
        VectorOps.l2Norm(col("cvec")).as("cnorm"))
    val init = HierCentroids(
      graft.operators.Lineage.truncate(top),
      graft.operators.Lineage.truncate(sub))
    (0 until trainRounds).foldLeft(init)((h, _) => refineHier(corpus, id, vec, h))
  }

  /** One Lloyd refinement round for the two-level quantizer: re-center
    * each sub-centroid on the mean of its hierarchically-assigned
    * vectors ([[refineCentroids]]'s distributed k-means step, with the
    * assignment going through the cheap [[ivfAssignHier]] instead of
    * the full flat argmax — a round costs ~(1+searchTop)√nLists dots
    * per vector). Sub-centroids keep their `top_id`: the cell routing
    * is the index structure; only the in-cell geometry adapts. Lists
    * that lost every member keep their previous centroid. */
  def refineHier(corpus: DataFrame, id: String, vec: String, hier: HierCentroids,
                 searchTop: Int = 2): HierCentroids = {
    val means = assignHierCore(corpus, id, vec, hier, searchTop)
      .select(col("list_id"), posexplode(col("__v")).as(Seq("__d", "__x")))
      .groupBy("list_id", "__d").agg(avg("__x").as("__m"))
      .groupBy("list_id")
      .agg(array_sort(collect_list(struct(col("__d"), col("__m")))).as("__dm"))
      .select(col("list_id"), transform(col("__dm"), s => s.getField("__m")).as("cvec"))
      .withColumn("cnorm", VectorOps.l2Norm(col("cvec")))
    val refreshed = hier.sub
      .select(col("list_id"), col("top_id"), col("cvec").as("__ov"), col("cnorm").as("__on"))
      .join(means, Seq("list_id"), "left")
      .select(col("list_id"), col("top_id"),
        coalesce(col("cvec"), col("__ov")).as("cvec"),
        coalesce(col("cnorm"), col("__on")).as("cnorm"))
    HierCentroids(hier.top, graft.operators.Lineage.truncate(refreshed))
  }

  /** (\_\_cid, list_id) assignment through the two-level quantizer:
    * stage 1 finds the `searchTop` nearest top cells (~√nLists dots per
    * vector), stage 2 the nearest sub-centroid within THOSE cells
    * (~searchTop·√nLists more — the broadcast-join fan-out is the
    * probed cells' sub-centroids only, never the full `sub` table).
    * Same output contract as [[ivfAssign]].
    *
    * `searchTop = 2` (default) is the standard multi-cell assignment
    * cure for quantizer boundary error: a vector near a top-cell border
    * may have its globally nearest sub-centroid in the NEIGHBORING
    * cell, and single-cell assignment strands it in a list that
    * queries ranking sub-centroids globally will not probe — measured
    * on the sf0.01 corpus this costs ~20% recall at equal probe
    * budget, recovered exactly by the second cell. Stage 1 keeps its
    * top cells with a bounded collect_list aggregate (buffer ≤ nTop =
    * √nLists structs — never corpus-sized, so no window and no skew).
    * The corpus is re-scanned column-pruned for stage 2 rather than
    * shuffling vectors through stage 1's argmax (the semanticDedup
    * trade: lazy vector re-joins beat materializing them). */
  def ivfAssignHier(corpus: DataFrame, id: String, vec: String, hier: HierCentroids,
                    searchTop: Int = 2): DataFrame =
    assignHierCore(corpus, id, vec, hier, searchTop)
      .select(col("__cid"), col("list_id"))

  /** [[ivfAssignHier]] WITH the vectors still attached:
    * (__cid, list_id, __v, __n). The vector and its norm ride the
    * stage-2 argmax INSIDE the max struct (ordered after the unique
    * −list_id, so they are never actually compared) — consumers that
    * need assigned vectors ([[ivfTopKHier]]'s probe table, the
    * hierarchical [[semanticIndex]], [[refineHier]]'s means) read them
    * here instead of re-joining the corpus on the id, which re-shuffled
    * the full vector table a second time on the same key (and, under
    * AQE, raced exchange reuse into a nondeterministic plan shape —
    * the d23b golden-plan flake). */
  private def assignHierCore(corpus: DataFrame, id: String, vec: String,
                             hier: HierCentroids, searchTop: Int = 2): DataFrame = {
    require(searchTop >= 1, s"searchTop must be >= 1, got $searchTop")
    val c = vecTable(corpus, id, vec, "__cid", "__v", "__n")
    val topOf = c.join(broadcast(hier.top))
      .withColumn("__s", VectorOps.cosineWithNorms(col("__v"), col("tvec"), col("__n"), col("tnorm")))
      .groupBy("__cid")
      .agg(slice(reverse(array_sort(
        collect_list(struct(col("__s"), (-col("top_id")).as("__nt"))))), 1, searchTop).as("__tops"))
      .select(col("__cid"), explode(col("__tops")).as("__b"))
      .select(col("__cid"), (-col("__b.__nt")).cast("int").as("top_id"))
    vecTable(corpus, id, vec, "__cid", "__v", "__n")
      .join(topOf, "__cid")
      .join(broadcast(hier.sub), "top_id")
      .withColumn("__s", VectorOps.cosineWithNorms(col("__v"), col("cvec"), col("__n"), col("cnorm")))
      .groupBy("__cid").agg(max(struct(col("__s"), (-col("list_id")).as("__nl"),
        col("__v").as("v"), col("__n").as("n"))).as("__best"))
      .select(col("__cid"), (-col("__best.__nl")).cast("int").as("list_id"),
        col("__best.v").as("__v"), col("__best.n").as("__n"))
  }

  /** IVF-Flat ANN through the two-level quantizer: [[ivfTopK]]'s plan
    * with [[ivfAssignHier]] sharding the corpus. Queries still rank the
    * FULL flat sub-centroid table (broadcast; queries are few and
    * nLists is small next to the corpus — the corpus-side assignment is
    * where the √nLists economy matters), so `nProbe` is the same probe
    * budget as flat IVF and results compare list-for-list. */
  def ivfTopKHier(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
                  k: Int, nLists: Int, nProbe: Int, trainRounds: Int = 1): DataFrame = {
    require(nProbe >= 1 && nProbe <= nLists, "need 1 <= nProbe <= nLists")
    val hier = hierCentroids(corpus, id, vec, nLists, trainRounds)
    val assigned = assignHierCore(corpus, id, vec, hier)
      .select(col("list_id"), col("__cid").as("cid"), col("__v").as("cv"), col("__n").as("__cn"))
    probeTopK(assigned, hier.sub, queries, id, vec, k, nProbe)
  }

  /** (vid, list_id, v, n) index rows for a semantic-dedup survivor set:
    * what [[semanticDedupAgainst]] consumes. Persist it (parquet,
    * ideally bucketed by `list_id`) and keep ONLY `kept` rows in it —
    * the index is the survivor registry, so dropped vectors never
    * suppress future arrivals. */
  def semanticIndex(corpus: DataFrame, id: String, vec: String, centroids: DataFrame): DataFrame =
    indexRows(ivfAssign(corpus, id, vec, centroids), corpus, id, vec)

  /** [[semanticIndex]] through the two-level quantizer — at 10^10
    * vectors the flat argmax is the indexing wall (see
    * [[hierCentroids]]); the index rows and every downstream consumer
    * ([[semanticDedupAgainst]], the E10 streaming sink) are unchanged,
    * only the assignment path is. The SAME quantizer must then be used
    * for every batch judged against this index. */
  def semanticIndex(corpus: DataFrame, id: String, vec: String, hier: HierCentroids): DataFrame =
    assignHierCore(corpus, id, vec, hier)
      .select(col("__cid").as("vid"), col("list_id"), col("__v").as("v"), col("__n").as("n"))

  private def indexRows(assigned: DataFrame, corpus: DataFrame, id: String, vec: String): DataFrame =
    assigned
      .join(vecTable(corpus, id, vec, "vid", "v", "n"), col("__cid") === col("vid"))
      .select(col("vid"), col("list_id"), col("v"), col("n"))

  /** Incremental SemDeDup: a NEW batch judged against a persisted
    * survivor [[semanticIndex]] — the D21 discipline applied to D38. A
    * batch vector drops iff (a) any index survivor in its cluster has
    * cosine ≥ `threshold`, or (b) a lower-id batch-mate in its cluster
    * does. Index rows are never re-judged and the indexed corpus is
    * never re-scanned: the only corpus-sized input is the index itself,
    * joined once on `list_id`. Centroids MUST be the ones the index was
    * built with (a re-trained quantizer re-shards the space and the
    * cluster-blocked comparison loses its guarantee). Emits the same
    * (vid, list_id, kept) report as [[semanticDedup]], for the batch
    * only — append `kept` rows (via [[semanticIndex]]) to the index to
    * continue the chain. */
  def semanticDedupAgainst(newBatch: DataFrame, id: String, vec: String,
                           centroids: DataFrame, index: DataFrame,
                           threshold: Double): DataFrame =
    dedupAgainst(ivfAssign(newBatch, id, vec, centroids), newBatch, id, vec, index, threshold)

  /** [[semanticDedupAgainst]] through the two-level quantizer: the
    * batch is assigned hierarchically and judged against an index that
    * MUST have been built with the same [[HierCentroids]] (a different
    * quantizer re-shards the space and the cluster-blocked comparison
    * loses its guarantee — the same frozen-quantizer contract as the
    * flat path). */
  def semanticDedupAgainst(newBatch: DataFrame, id: String, vec: String,
                           hier: HierCentroids, index: DataFrame,
                           threshold: Double): DataFrame =
    dedupAgainst(ivfAssignHier(newBatch, id, vec, hier), newBatch, id, vec, index, threshold)

  private def dedupAgainst(assignedRaw: DataFrame, newBatch: DataFrame, id: String, vec: String,
                           index: DataFrame, threshold: Double): DataFrame = {
    val assigned = graft.operators.Lineage.truncate(assignedRaw)
    val m = assigned
      .join(vecTable(newBatch, id, vec, "vid", "v", "n"), col("__cid") === col("vid"))
      .select(col("list_id"), col("vid"), col("v"), col("n"))
    val vsIndex = m.select(col("list_id"), col("vid"), col("v").as("vb"), col("n").as("nb"))
      .join(index.select(col("list_id"), col("v").as("va"), col("n").as("na")), Seq("list_id"))
      .filter(VectorOps.cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")) >= threshold)
      .select(col("vid"))
    val inBatch = m.select(col("list_id"), col("vid").as("a"), col("v").as("va"), col("n").as("na"))
      .join(m.select(col("list_id"), col("vid").as("b"), col("v").as("vb"), col("n").as("nb")),
        Seq("list_id"))
      .filter(col("a") < col("b"))
      .filter(VectorOps.cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")) >= threshold)
      .select(col("b").as("vid"))
    val dropped = vsIndex.unionAll(inBatch).distinct()
    m.select(col("vid"), col("list_id"))
      .join(dropped.withColumn("__drop", lit(true)), Seq("vid"), "left")
      .select(col("vid"), col("list_id"), coalesce(!col("__drop"), lit(true)).as("kept"))
  }

  /** Embedding near-duplicate pairs: corpus self-match where
    * cosine ≥ `threshold`, candidates restricted to LSH bucket
    * collisions (same plan discipline as [[lshTopK]]: equi-join on the
    * bucket over (id, sig) only, distinct pairs, then ONE vector
    * re-join per side — never a cartesian, and never the full vector
    * through the ×tables explode). */
  /** SemDeDup-style semantic deduplication (public method: Abbas et al.
    * 2023, arXiv 2303.09540): shard the corpus into coarse clusters with
    * the IVF quantizer ([[ivfCentroids]] + optional [[refineCentroids]]
    * Lloyd rounds = distributed k-means), compare embeddings ONLY within
    * a cluster, and drop every vector that has a lower-id cluster-mate
    * with cosine ≥ `threshold` — one representative per semantic-
    * duplicate pair survives. Emits the full per-vector report
    * (id, list_id, kept) so callers can either filter `kept` or audit
    * drop rates per cluster.
    *
    * Deviations from the paper, both deliberate: the keep policy is
    * min-id (deterministic, engine-reproducible — the paper keeps a
    * random/low-centroid-sim member), and the drop is pairwise rather
    * than per-connected-group — for strict one-per-component semantics
    * compose the ≥τ pairs with [[graft.dedup.Dedup.clusterPairs]]
    * (D15), exactly as the leakage-safe split does.
    *
    * Scale: this is the paper's own cost model — within-cluster
    * pairwise is O(Σ|cluster|²), tractable because nLists is sized so
    * clusters are ~corpus/nLists (50k clusters over 1e9 embeddings in
    * the paper). The cluster equi-join is the only place pairs form;
    * centroids broadcast; assignment is the partial-agg argmax; the
    * assigned table's two pair-sides reuse one exchange. */
  def semanticDedup(corpus: DataFrame, id: String, vec: String,
                    threshold: Double, nLists: Int, trainRounds: Int = 0): DataFrame = {
    var cents = ivfCentroids(corpus, id, vec, nLists)
    (0 until trainRounds).foreach(_ => cents = refineCentroids(corpus, id, vec, cents))
    // Truncate the (id, list) assignment — 12 B/row — before it fans
    // out into the pair self-join and the report: without it each
    // consumer re-runs the centroid argmax over the corpus (AQE stage
    // reuse does not reliably cover the copies). The vector re-joins
    // stay lazy: re-scanning a column-pruned vector table is cheaper
    // than materializing it.
    val assigned = graft.operators.Lineage.truncate(ivfAssign(corpus, id, vec, cents))
    val m = assigned
      .join(vecTable(corpus, id, vec, "vid", "v", "n"), col("__cid") === col("vid"))
      .select(col("list_id"), col("vid"), col("v"), col("n"))
    val dropped = m.select(col("list_id"), col("vid").as("a"), col("v").as("va"), col("n").as("na"))
      .join(m.select(col("list_id"), col("vid").as("b"), col("v").as("vb"), col("n").as("nb")),
        Seq("list_id"))
      .filter(col("a") < col("b"))
      .withColumn("__cos", VectorOps.cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("__cos") >= threshold)
      // b is the victim: it has a lower-id close mate in its cluster
      .select(col("b").as("vid")).distinct()
    m.select(col("vid"), col("list_id"))
      .join(dropped.withColumn("__drop", lit(true)), Seq("vid"), "left")
      .select(col("vid"), col("list_id"), coalesce(!col("__drop"), lit(true)).as("kept"))
  }

  /** [[semanticDedup]] through the two-level quantizer (D23b):
    * identical keep rule — lower-id member of every in-cluster ≥τ pair
    * survives — but the corpus is sharded by [[hierCentroids]] + the
    * hierarchical assignment at ~3√nLists dots/vector where the flat
    * argmax pays nLists. This is the batch form a SIZED deployment
    * needs: the paper keeps clusters at ~constant size by growing
    * nLists with the corpus, which makes flat assignment n×nLists —
    * quadratic in n (measured: 17× wall across one 10× decade at
    * nLists = n/64, SCALEPROBE2.json) — while the hierarchical path
    * stays ~3n√nLists. The assigned table keeps vectors from
    * [[assignHierCore]]'s max struct (the [[semanticIndex]] row shape,
    * ~4·dim B/row) and is truncated once, so the pair self-join's two
    * sides read one materialization and the corpus is never
    * re-shuffled on the id. */
  def semanticDedupHier(corpus: DataFrame, id: String, vec: String,
                        threshold: Double, nLists: Int,
                        trainRounds: Int = 1): DataFrame = {
    val hier = hierCentroids(corpus, id, vec, nLists, trainRounds)
    val m = graft.operators.Lineage.truncate(
      assignHierCore(corpus, id, vec, hier)
        .select(col("__cid").as("vid"), col("list_id"),
          col("__v").as("v"), col("__n").as("n")))
    val dropped = m.select(col("list_id"), col("vid").as("a"), col("v").as("va"), col("n").as("na"))
      .join(m.select(col("list_id"), col("vid").as("b"), col("v").as("vb"), col("n").as("nb")),
        Seq("list_id"))
      .filter(col("a") < col("b"))
      .filter(VectorOps.cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")) >= threshold)
      .select(col("b").as("vid")).distinct()
    m.select(col("vid"), col("list_id"))
      .join(dropped.withColumn("__drop", lit(true)), Seq("vid"), "left")
      .select(col("vid"), col("list_id"), coalesce(!col("__drop"), lit(true)).as("kept"))
  }

  def embeddingNearDupPairs(corpus: DataFrame, id: String, vec: String,
                            dims: Int, threshold: Double,
                            tables: Int = 16, bits: Int = 0,
                            targetBucketSize: Int = 64, corpusSize: Option[Long] = None): DataFrame = {
    val nBits = if (bits > 0) bits else bitsFor(corpusSize.getOrElse(corpus.count()), targetBucketSize)
    // (sig, vid) is tables× small rows per vector; truncated so the
    // self-join's two sides read one materialization instead of each
    // re-running the corpus-wide signature pass (measured: 2 executions).
    // Spread first: the signature pass (tables × dims dot products per
    // vector) fuses into the scan, and the bench-scale embeddings table
    // is ONE split — profiled as a 0.65 s single-task job on 32 cores.
    // Only projections/generates sit between the exchange and the
    // truncation barrier, so nothing pushes back below it.
    val sigs = graft.operators.Lineage.truncate(
      sigTable(graft.operators.Scans.spread(corpus, col(id)), id, vec,
        "vid", dims, tables, nBits))
    val cand = sigs.select(col("sig"), col("vid").as("doc_a"))
      .join(sigs.select(col("sig"), col("vid").as("doc_b")), Seq("sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val v = vecTable(corpus, id, vec, "vid", "v", "norm")
    cand
      .join(v.select(col("vid").as("doc_a"), col("v").as("va"), col("norm").as("na")), "doc_a")
      .join(v.select(col("vid").as("doc_b"), col("v").as("vb"), col("norm").as("nb")), "doc_b")
      .withColumn("cos", VectorOps.cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("cos"), 4).as("cosine"))
  }

  /** Embedding-space outlier scoring — the QA gate ahead of the ANN /
    * SemDeDup consumers: each vector's cosine to its assigned coarse
    * centroid, z-scored against its OWN cluster's score distribution
    * (a global threshold can't work — tight clusters sit near 1.0,
    * diffuse ones don't). Corrupt embeddings (truncated uploads,
    * wrong-model rows, zeroed dimensions) surface as strongly negative
    * z long before they poison dedup decisions downstream.
    *
    * Output: (id, list_id, cos, z) per non-degenerate vector; z = 0
    * where a cluster has zero variance. Zero-norm vectors have no
    * cosine — route them through [[degenerateVectors]] instead (they
    * are excluded here, not silently scored).
    *
    * Plan: assignment is [[ivfAssign]]'s broadcast argmax (no
    * pairwise), truncated ONCE (it feeds both the per-list moment
    * aggregate and the z join); moments come from plain sums (mirror-
    * exact std from Σs/Σs², never `stddev`'s implementation-defined
    * update order) on the key-cardinality list table, broadcast back. */
  def outlierScores(corpus: DataFrame, id: String, vec: String,
                    centroids: DataFrame): DataFrame = {
    val c = vecTable(corpus, id, vec, "__cid", "__v", "__n")
    val assigned = graft.operators.Lineage.truncate(
      c.filter(col("__n") > 0 && !isnan(col("__n"))) // NaN sorts above 0 in Spark
        .join(broadcast(centroids))
        .withColumn("__score",
          VectorOps.cosineWithNorms(col("__v"), col("cvec"), col("__n"), col("cnorm")))
        .groupBy("__cid")
        .agg(max(struct(col("__score"), (-col("list_id")).as("__nl"))).as("__best"))
        .select(col("__cid"), (-col("__best.__nl")).cast("int").as("list_id"),
          col("__best.__score").as("__cos")))
    val stats = assigned.groupBy("list_id")
      .agg(count(lit(1)).as("__cnt"), sum("__cos").as("__s1"),
        sum(col("__cos") * col("__cos")).as("__s2"))
      .withColumn("__mean", col("__s1") / col("__cnt"))
      .withColumn("__std", sqrt(greatest(
        col("__s2") / col("__cnt") - col("__mean") * col("__mean"), lit(0.0))))
      .select("list_id", "__mean", "__std")
    assigned.join(broadcast(stats), Seq("list_id"))
      .select(col("__cid").as(id), col("list_id"),
        round(col("__cos"), 4).as("cos"),
        round(when(col("__std") > 0,
          (col("__cos") - col("__mean")) / col("__std")).otherwise(lit(0.0)), 4).as("z"))
  }

  /** Vectors no similarity op can score: null arrays, zero norm, or a
    * non-finite component. Route to quarantine, never into [[ivfAssign]]. */
  def degenerateVectors(corpus: DataFrame, id: String, vec: String): DataFrame = {
    val c = vecTable(corpus, id, vec, "__cid", "__v", "__n")
    c.withColumn("reason",
        when(col("__v").isNull, "null_vector")
          .when(exists(col("__v"), x => isnan(x) || x === Double.PositiveInfinity ||
            x === Double.NegativeInfinity), "non_finite_component")
          .when(col("__n") === 0.0, "zero_norm"))
      .filter(col("reason").isNotNull)
      .select(col("__cid").as(id), col("reason"))
  }
}
