package graft.similarity

import graft.SparkSpec
import graft.vectors.{Pq, VectorOps}
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {
  import spark.implicits._

  // 0 and 1 identical; 2 orthogonal to them; 3 close to 0/1.
  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(0.9f, 0.1f, 0.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("VectorOps: dot, norm, cosine in double precision") {
    val df = Seq((Array(3.0f, 4.0f), Array(1.0f, 0.0f))).toDF("a", "b")
    val r = df.select(
      VectorOps.dot(VectorOps.toDouble(col("a")), VectorOps.toDouble(col("b"))).as("d"),
      VectorOps.l2Norm(VectorOps.toDouble(col("a"))).as("n")).head()
    assert(r.getDouble(0) == 3.0 && r.getDouble(1) == 5.0)
  }

  test("bruteForceTopK: identical vector ranks first with cosine 1") {
    val out = Ann.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
    assert(out.head.getLong(1) == 1L && out.head.getDouble(2) == 1.0)
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 3L, 2L)) // by cosine desc
  }

  test("lshTopK finds identical vectors (all buckets collide)") {
    val out = Ann.lshTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding",
      dims = 4, k = 3, tables = 4, bits = 2)
    val top = out.orderBy("rank").collect()
    assert(top.nonEmpty && top.head.getLong(1) == 1L && top.head.getDouble(2) == 1.0)
  }

  test("embeddingNearDupPairs surfaces the identical pair at cosine 1") {
    val pairs = Ann.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      dims = 4, threshold = 0.99, tables = 4, bits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.contains((0L, 1L, 1.0)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("lsh signatures are deterministic across invocations") {
    val s1 = vecs.select(Ann.hyperplaneSignature(VectorOps.toDouble(col("embedding")), 4, 0, 8).as("s"))
      .as[String].collect().toSeq
    val s2 = vecs.select(Ann.hyperplaneSignature(VectorOps.toDouble(col("embedding")), 4, 0, 8).as("s"))
      .as[String].collect().toSeq
    assert(s1 == s2)
  }

  test("bitsFor grows with the corpus so expected bucket size stays bounded") {
    assert(Ann.bitsFor(500, 64) == 3)
    assert(Ann.bitsFor(2000, 64) == 5)
    // 1000× the corpus: +~10 bits, same target bucket
    assert(Ann.bitsFor(2000L * 1000, 64) == 15)
    assert(Ann.bitsFor(10, 64) == 1)          // floor
    // the clamp must NOT bind at trillion-scale corpora — at 10^11
    // vectors / target 64 the bucket count keeps pace (2^31), where the
    // r2 24-bit cap silently yielded ~6,000-vector buckets
    assert(Ann.bitsFor(100000000000L, 64) == 31)
    assert(Ann.bitsFor(Long.MaxValue, 1) == 42) // representability ceiling
  }

  test("recallFor: more tables raise recall; more bits lower per-table collision") {
    val base = Ann.recallFor(0.45, 3, 24)
    assert(base > 0.999)
    assert(Ann.recallFor(0.45, 3, 48) > base)
    assert(Ann.recallFor(0.45, 6, 24) < base)
    assert(Ann.recallFor(1.0, 8, 1) == 1.0) // identical vectors always collide
  }

  test("sigTable (native HyperplaneSigs) and hyperplaneSignature (reference) induce the same buckets") {
    val rows = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(8)(d => (((i * 37 + d * 101) % 97) - 48) / 48.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    def partition(sigs: Seq[(Long, String)]): Set[Set[Long]] =
      sigs.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val ref = df.select(col("vec_id"),
        Ann.hyperplaneSignature(VectorOps.toDouble(col("embedding")), 8, 0, 3).as("sig"))
      .as[(Long, String)].collect().toSeq
    val prod = Ann.sigTable(df, "vec_id", "embedding", "vid", 8, 1, 3) // table 0 only
      .as[(Long, String)].collect().toSeq
    assert(partition(ref) == partition(prod))
  }

  test("recallFor PREDICTS observed lshTopK recall at production params (tables=8, target 64)") {
    // The correctness-grade driver queries run tables=48/24 where the
    // closed form says recall ≈ 1; this test runs the production-shaped
    // cheap configuration and checks the closed form is predictive, not
    // just an upper-bound story: observed recall over 500 true top-k
    // pairs must land within ±0.1 of the mean per-pair prediction
    // (binomial σ ≈ 0.02 here, so ±0.1 is a 5σ band).
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter(col("vec_id") < 50)
    val k = 10
    val exact = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k)
      .select("qid", "cid", "cosine").as[(Long, Long, Double)].collect()
    assert(exact.length == 50 * k)
    val bits = Ann.bitsFor(500, 64)
    val got = Ann.lshTopK(emb, queries, "vec_id", "embedding", dims = 64, k = k,
        tables = 8, targetBucketSize = 64, corpusSize = Some(500L))
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val observed = exact.count(e => got.contains((e._1, e._2))).toDouble / exact.length
    val predicted = exact.map(e => Ann.recallFor(e._3, bits, 8)).sum / exact.length
    assert(math.abs(observed - predicted) < 0.1,
      s"closed form not predictive: observed=$observed predicted=$predicted (bits=$bits)")
  }

  test("ivfTopK: nProbe == nLists is exact; assignment covers every vector once") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = emb.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "cid", "cosine").as[(Long, Long, Double)].collect().toSet
    val all = Ann.ivfTopK(emb, q, "vec_id", "embedding", k = 5, nLists = 8, nProbe = 8)
      .select("qid", "cid", "cosine").as[(Long, Long, Double)].collect().toSet
    assert(all == exact, "probing every list must reduce to brute force")
    val assigned = Ann.ivfAssign(emb, "vec_id", "embedding",
      Ann.ivfCentroids(emb, "vec_id", "embedding", 8))
    assert(assigned.count() == 500L) // every vector in exactly one list
    assert(assigned.select("list_id").distinct().count() == 8L)
  }

  test("ivfCentroids are identical across partition layouts (deterministic sample)") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    def cents(df: org.apache.spark.sql.DataFrame): Seq[(Int, Seq[Double])] =
      Ann.ivfCentroids(df, "vec_id", "embedding", 8)
        .select("list_id", "cvec").as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
    assert(cents(emb) == cents(emb.repartition(7)),
      "centroid selection must not depend on physical layout")
  }

  test("ivfTopK recall grows with nProbe; a Lloyd round changes no invariants") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = emb.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    def recall(nProbe: Int, train: Int): Double = {
      val got = Ann.ivfTopK(emb, q, "vec_id", "embedding", 5, nLists = 8,
          nProbe = nProbe, trainRounds = train)
        .select("qid", "cid").as[(Long, Long)].collect().toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val r1 = recall(1, 0); val r4 = recall(4, 0); val r8 = recall(8, 0)
    assert(r1 <= r4 && r4 <= r8 && r8 == 1.0, s"recall not monotone: $r1 / $r4 / $r8")
    assert(r4 > 0.5, s"probing half the lists should recover most neighbors, got $r4")
    // one k-means round re-centers lists; search must stay well-formed
    // (5 results per query, recall in a sane band)
    val trained = recall(4, 1)
    assert(trained > 0.5, s"trained recall collapsed: $trained")
  }

  test("hardNegatives: only other-label vectors rank, hardest first; maxCos caps near-dups") {
    val labeled = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 1),  // identical but other label
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f), 1),
      (3L, Array(0.8f, 0.2f, 0.0f, 0.0f), 0),  // same label — excluded
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val q = labeled.filter(col("vec_id") === 0)
    val out = Ann.hardNegatives(labeled, q, "vec_id", "embedding", "label", k = 10)
      .orderBy("rank").select("cid").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L, 4L), s"expected other-label hardest-first, got $out")
    // the identical-but-other-label vector is a presumed mislabeled dup → ceiling removes it
    val capped = Ann.hardNegatives(labeled, q, "vec_id", "embedding", "label",
        k = 10, maxCos = 0.999)
      .orderBy("rank").select("cid").as[Long].collect().toSeq
    assert(capped == Seq(2L, 4L), s"maxCos must drop the cos=1 pair, got $capped")
  }

  test("hardNegativesIvf: full probe equals the exact miner; recall grows with nProbe") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = emb.filter(col("vec_id") < 10)
    val exact = Ann.hardNegatives(emb, q, "vec_id", "embedding", "label", k = 5)
      .select("qid", "cid", "cosine").as[(Long, Long, Double)].collect().toSet
    val full = Ann.hardNegativesIvf(emb, q, "vec_id", "embedding", "label",
        k = 5, nLists = 8, nProbe = 8)
      .select("qid", "cid", "cosine").as[(Long, Long, Double)].collect().toSet
    assert(full == exact, "probing every list must reduce to the exact miner")
    val ids = exact.map { case (a, b, _) => (a, b) }
    def recall(nProbe: Int): Double = {
      val got = Ann.hardNegativesIvf(emb, q, "vec_id", "embedding", "label",
          k = 5, nLists = 8, nProbe = nProbe)
        .select("qid", "cid").as[(Long, Long)].collect().toSet
      ids.intersect(got).size.toDouble / ids.size
    }
    val r2 = recall(2); val r8 = recall(8)
    assert(r2 <= r8 && r8 == 1.0, s"recall not monotone to exact: $r2 / $r8")
    assert(r2 > 0.3, s"quarter-probe recall collapsed: $r2")
  }

  test("hierCentroids: every vector lands in exactly one list; ids globally unique") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val hier = Ann.hierCentroids(emb, "vec_id", "embedding", nLists = 16)
    val sub = hier.sub.collect()
    assert(hier.top.count() == 4L) // √16 top cells
    assert(sub.map(_.getAs[Int]("list_id")).distinct.length == sub.length,
      "list ids must be globally unique across cells")
    assert(sub.map(_.getAs[Int]("top_id")).distinct.length == 4,
      "every top cell must own at least one sub-centroid")
    assert(sub.length >= 16 && sub.length <= 20, s"expected ~nLists subs, got ${sub.length}")
    val assigned = Ann.ivfAssignHier(emb, "vec_id", "embedding", hier)
    assert(assigned.count() == 500L)
    assert(assigned.groupBy("__cid").count().filter(col("count") > 1).isEmpty,
      "a vector assigned to two lists")
  }

  test("ivfAssignHier scores ~2√nLists dots/vector — measured on the executed plan") {
    // flat assignment broadcasts ALL nLists centroids against every
    // vector (join output n·nLists); hierarchical stages it through the
    // top cells (n·√L) then one cell's subs (n·~√L). The join operators'
    // numOutputRows metric IS the number of scored (vector, centroid)
    // pairs — assert the hierarchical total stays at the 2√L bound while
    // flat pays the full nLists fan-out.
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val nLists = 16
    def scoredPairs(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Long = p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          j.metrics("numOutputRows").value + j.children.map(walk).sum
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
          j.metrics("numOutputRows").value + j.children.map(walk).sum
        case other => (other.children ++ other.subqueries).map(walk).sum
      }
      walk(df.queryExecution.executedPlan)
    }
    val hier = Ann.hierCentroids(emb, "vec_id", "embedding", nLists)
    val n = 500L
    val nTop = hier.top.count()
    val perCell = math.ceil(nLists.toDouble / nTop).toInt
    val searchTop = 2
    val hierPairs = scoredPairs(Ann.ivfAssignHier(emb, "vec_id", "embedding", hier, searchTop))
    // stage 1: n·nTop; stage 2: n·searchTop·(subs/cell ≤ perCell) + the
    // n·searchTop equi-join rows carrying the probed cell ids
    assert(hierPairs <= n * (nTop + searchTop * (perCell + 1)),
      s"hier assignment scored $hierPairs pairs — exceeds the ~(1+searchTop)√nLists bound")
    val flatPairs = scoredPairs(Ann.ivfAssign(emb, "vec_id", "embedding",
      Ann.ivfCentroids(emb, "vec_id", "embedding", nLists)))
    assert(flatPairs >= n * nLists, s"flat baseline unexpectedly cheap: $flatPairs")
    assert(hierPairs < flatPairs,
      s"hierarchical ($hierPairs) must beat flat ($flatPairs) at nLists=$nLists")
  }

  test("hierCentroids are identical across partition layouts (deterministic two-level sample)") {
    // the d23b oracle reproduces the quantizer externally, so layout
    // independence is a correctness contract, not a nicety: md5 sample
    // keys, per-cell count thresholds and rank tie-breaks must not see
    // physical partitioning
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    def subs(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Seq[Double])] =
      Ann.hierCentroids(df, "vec_id", "embedding", nLists = 9, trainRounds = 0).sub
        .select("list_id", "top_id", "cvec")
        .as[(Int, Int, Seq[Double])].collect().toSeq.sortBy(_._1)
    assert(subs(emb) == subs(emb.repartition(7)),
      "two-level centroid selection must not depend on physical layout")
  }

  test("ivfTopKHier: recall >= flat IVF at equal probe budget; full probe is near-exact") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = emb.filter(col("vec_id") < 20)
    val k = 10
    val exact = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", k)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    def recallOf(got: Set[(Long, Long)]): Double =
      exact.intersect(got).size.toDouble / exact.size
    def hier(nProbe: Int): Double = recallOf(
      Ann.ivfTopKHier(emb, q, "vec_id", "embedding", k, nLists = 16, nProbe = nProbe)
        .select("qid", "cid").as[(Long, Long)].collect().toSet)
    def flat(nProbe: Int): Double = recallOf(
      Ann.ivfTopK(emb, q, "vec_id", "embedding", k, nLists = 16, nProbe = nProbe)
        .select("qid", "cid").as[(Long, Long)].collect().toSet)
    val (h4, f4) = (hier(4), flat(4))
    assert(h4 >= f4 - 1e-9,
      s"hier recall $h4 below flat $f4 at equal probe budget nProbe=4")
    assert(h4 > 0.3, s"hier recall collapsed: $h4")
    // probing every list reduces to brute force over all assigned lists
    val all = hier(16)
    assert(all >= 0.99, s"full-probe hier recall should be ~1.0, got $all")
  }

  test("semanticDedup with nLists=1 equals the naive pairwise drop rule") {
    // single cluster ⇒ the cluster blocking vanishes and the operator
    // must reduce EXACTLY to: drop v iff some lower-id u has cos ≥ τ
    val n = 24
    val rows = (0 until n).map { i =>
      (i.toLong, Array.tabulate(6)(d => (((i * 31 + d * 57) % 83) - 41) / 41.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val tau = 0.7
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val expectDropped = (for {
      (bi, b) <- rows; (ai, a) <- rows if ai < bi && cos(a, b) >= tau
    } yield bi).toSet
    assert(expectDropped.nonEmpty && expectDropped.size < n,
      s"degenerate fixture: ${expectDropped.size} dropped of $n")
    val got = Ann.semanticDedup(df, "vec_id", "embedding", threshold = tau, nLists = 1)
      .select("vid", "kept").as[(Long, Boolean)].collect().toMap
    assert(got.size == n, "one report row per corpus vector")
    assert(got.filterNot(_._2).keySet == expectDropped)
  }

  test("semanticDedup co-assigns identical vectors and keeps the min id") {
    // vecs: 0 and 1 identical, 3 near them, 2 orthogonal — whatever the
    // md5-keyed centroid draw, identical vectors share an argmax, so 1
    // must drop and 0 must survive; the orthogonal vector always survives
    val out = Ann.semanticDedup(vecs, "vec_id", "embedding", threshold = 0.99, nLists = 2)
      .select("vid", "list_id", "kept").as[(Long, Int, Boolean)].collect()
    val kept = out.map(r => r._1 -> r._3).toMap
    assert(out.length == 4)
    assert(kept(0L) && !kept(1L), s"min-id keep policy violated: $kept")
    assert(kept(2L), "orthogonal vector has no ≥τ mate anywhere")
    val lists = out.map(r => r._1 -> r._2).toMap
    assert(lists(0L) == lists(1L), "identical vectors must share a cluster")
  }

  test("semanticDedupHier with nLists=1 equals the naive pairwise drop rule") {
    // one sub-centroid ⇒ single cluster through the two-level path too
    val n = 24
    val rows = (0 until n).map { i =>
      (i.toLong, Array.tabulate(6)(d => (((i * 31 + d * 57) % 83) - 41) / 41.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val tau = 0.7
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val expectDropped = (for {
      (bi, b) <- rows; (ai, a) <- rows if ai < bi && cos(a, b) >= tau
    } yield bi).toSet
    val got = Ann.semanticDedupHier(df, "vec_id", "embedding", threshold = tau, nLists = 1)
      .select("vid", "kept").as[(Long, Boolean)].collect().toMap
    assert(got.size == n, "one report row per corpus vector")
    assert(got.filterNot(_._2).keySet == expectDropped)
  }

  test("semanticDedupHier keep rule holds within every hierarchical cluster") {
    // arbitrary nLists: whatever sharding the two-level quantizer
    // produces, the report must satisfy the exact in-cluster rule —
    // dropped ⟺ a lower-id same-list mate with cos ≥ τ exists
    val n = 40
    val rows = (0 until n).map { i =>
      (i.toLong, Array.tabulate(6)(d => (((i * 17 + d * 29) % 71) - 35) / 35.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val tau = 0.6
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val byId = rows.toMap
    val rep = Ann.semanticDedupHier(df, "vec_id", "embedding", threshold = tau, nLists = 9)
      .select("vid", "list_id", "kept").as[(Long, Int, Boolean)].collect()
    assert(rep.length == n, "one report row per corpus vector")
    val listOf = rep.map(r => r._1 -> r._2).toMap
    rep.foreach { case (vid, list, kept) =>
      val hasLowerMate = (0L until vid).exists(a =>
        listOf(a) == list && cos(byId(a), byId(vid)) >= tau)
      assert(kept == !hasLowerMate,
        s"vid=$vid list=$list kept=$kept but lower-mate=$hasLowerMate")
    }
    assert(rep.count(!_._3) > 0, "degenerate fixture: nothing dropped")
  }

  test("semanticDedupAgainst: index survivors suppress, batch-mates dedup, index never re-judged") {
    // base corpus: 0 and 1 identical → survivor 0; 2 orthogonal survivor
    val base = vecs
    val cents = Ann.ivfCentroids(base, "vec_id", "embedding", 2)
    val survivors = Ann.semanticDedup(base, "vec_id", "embedding", 0.99, nLists = 2)
      .filter(col("kept")).select(col("vid"))
    val index = Ann.semanticIndex(
      base.join(survivors, base("vec_id") === col("vid"), "left_semi"),
      "vec_id", "embedding", cents)
    val indexed = index.select("vid").as[Long].collect().toSet
    // 0 beats identical 1; 2 is orthogonal; 3's fate depends on the
    // centroid draw (near 0, kept only if clustered apart) — irrelevant here
    assert(indexed.contains(0L) && indexed.contains(2L) && !indexed.contains(1L))
    val batch = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),  // ≡ survivor 0 → dropped vs index
      (11L, Array(0.0f, 0.0f, 1.0f, 0.0f)),  // novel direction → kept
      (12L, Array(0.0f, 0.0f, 1.0f, 0.0f)))  // ≡ batch-mate 11 → dropped in-batch
      .toDF("vec_id", "embedding")
    val got = Ann.semanticDedupAgainst(batch, "vec_id", "embedding", cents, index, 0.99)
      .select("vid", "kept").as[(Long, Boolean)].collect().toMap
    assert(got.size == 3, "one report row per batch vector")
    assert(!got(10L), "vector matching an index survivor must drop")
    assert(got(11L), "novel vector must survive")
    assert(!got(12L), "higher-id batch-mate of a kept batch vector must drop")
  }

  test("semanticDedupAgainst composes with the hierarchical quantizer") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val hier = Ann.hierCentroids(emb, "vec_id", "embedding", nLists = 9, trainRounds = 0)
    // index the corpus hierarchically, then judge a batch holding an
    // exact copy of an indexed vector and a clearly novel one
    val index = Ann.semanticIndex(emb, "vec_id", "embedding", hier)
    assert(index.count() == 500L)
    val dup = emb.filter(col("vec_id") === 7L)
      .select(lit(9007L).as("vec_id"), col("embedding"))
    val novel = Seq((9008L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val rep = Ann.semanticDedupAgainst(dup.unionByName(novel), "vec_id", "embedding",
        hier, index, threshold = 0.999)
      .select("vid", "kept").as[(Long, Boolean)].collect().toMap
    assert(rep(9007L) == false, "exact copy of an indexed survivor must drop")
    assert(rep(9008L) == true, "novel vector must survive")
  }

  test("sigTable buckets stay near the target size under auto-sized bits") {
    // 512 deterministic pseudo-random 8-dim vectors
    val n = 512
    val rows = (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(d => (((i * 37 + d * 101) % 97) - 48) / 48.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val bits = Ann.bitsFor(n, 64) // 3 bits → 8 buckets/table, expect ~64/bucket
    val sizes = Ann.sigTable(df, "vec_id", "embedding", "vid", 8, 4, bits)
      .groupBy("sig").count().select("count").as[Long].collect()
    assert(sizes.sum == 4L * n) // every row lands in exactly one bucket per table
    // sign-bit buckets on centered data stay within a small factor of target
    assert(sizes.max <= 4 * 64)
  }

  test("outlierScores: the planted off-axis vector gets the most negative z in its cluster") {
    // two tight clusters near e1 and e2, one corrupted member far off-axis
    def jitter(base: Array[Float], i: Int): Array[Float] =
      base.zipWithIndex.map { case (v, d) => v + (if (d == 3) 0.01f * i else 0f) }
    val e1 = Array(1f, 0f, 0f, 0f); val e2 = Array(0f, 1f, 0f, 0f)
    val rows = (1 to 6).map(i => (i.toLong, jitter(e1, i))) ++
      (11 to 16).map(i => (i.toLong, jitter(e2, i - 10))) :+
      (99L, Array(0.5f, 0.02f, 0.86f, 0f)) // nearest e1 but far from the cluster
    val df = rows.toDF("vec_id", "embedding")
    val cents = Ann.ivfCentroids(df.filter(col("vec_id") < 50), "vec_id", "embedding", 2)
    val out = Ann.outlierScores(df, "vec_id", "embedding", cents)
    assert(out.count() == 13)
    val worstPerList = out.groupBy("list_id")
      .agg(min(struct(col("z"), col("vec_id"))).as("w"))
      .select(col("w.vec_id")).as[Long].collect().toSet
    assert(worstPerList.contains(99L))
    val z99 = out.filter(col("vec_id") === 99).select("z").as[Double].head()
    assert(z99 < -1.0, s"corrupt vector should be a strong outlier, z=$z99")
  }

  test("outlierScores: zero-variance cluster scores z=0; degenerates are excluded and flagged") {
    val dup = Array(1f, 0f, 0f, 0f)
    val rows = Seq((1L, dup), (2L, dup), (3L, dup),
      (7L, Array(0f, 0f, 0f, 0f)), // zero norm
      (8L, Array(Float.NaN, 1f, 0f, 0f)), // non-finite
      (9L, null.asInstanceOf[Array[Float]]))
    val df = rows.toDF("vec_id", "embedding")
    val cents = Ann.ivfCentroids(df.filter(col("vec_id") === 1), "vec_id", "embedding", 1)
    val out = Ann.outlierScores(df, "vec_id", "embedding", cents).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(out.forall(r => r.getDouble(r.fieldIndex("z")) == 0.0))
    val bad = Ann.degenerateVectors(df, "vec_id", "embedding")
      .as[(Long, String)].collect().toMap
    assert(bad == Map(7L -> "zero_norm", 8L -> "non_finite_component", 9L -> "null_vector"))
  }

  test("contaminationPairs flags scaled copies (cosine-invariant) and nothing orthogonal") {
    val evalSet = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(3.0f, 0.0f, 0.0f, 0.0f)),   // scaled copy → cosine 1
      (2L, Array(0.9f, 0.5f, 0.0f, 0.0f)),   // cos ≈ 0.874 < 0.95
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)))   // orthogonal
      .toDF("vec_id", "embedding")
    val pairs = Ann.contaminationPairs(corpus, evalSet, "vec_id", "embedding", 0.95)
      .select("cid", "eval_id").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 100L)))
    val clean = Ann.semanticDecontaminate(corpus, evalSet, "vec_id", "embedding", 0.95)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(clean == Seq(2L, 3L), "only the contaminated doc is removed")
    intercept[IllegalArgumentException] {
      Ann.contaminationPairs(corpus, evalSet, "vec_id", "embedding", 0.0)
    }
  }

  test("a corpus row with a null embedding element never outranks a scored candidate") {
    // its cosine scores are all null, so the argmax files it in list 1
    // (probed here), and its PQ codes, ADC and exact distance are null
    val corpus = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(1.0, 0.0, 0.0, 0.0)),
        (2L, Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
      .union(spark.range(1).select(lit(9L).as("vec_id"),
        expr("array(1.0d, cast(null as double), 0.0d, 0.0d)").as("embedding")))
    val model = Pq.PqModel(dim = 4, m = 2, kCodes = 2,
      Array(Array(Array(1.0, 0.0), Array(0.0, 1.0)), Array(Array(0.0, 0.0), Array(1.0, 0.0))))
    Seq(0, 3).foreach { rerank =>
      val top = Ann.ivfPqTopK(corpus, corpus.filter(col("vec_id") === 0L), "vec_id", "embedding",
          k = 3, nLists = 1, nProbe = 1, pq = model, rerank = rerank)
        .select("cid", "rank").as[(Long, Long)].collect().sortBy(_._2)
      assert(top.map(_._1).toSeq == Seq(1L, 2L, 9L), s"rerank=$rerank")
    }
  }
}
