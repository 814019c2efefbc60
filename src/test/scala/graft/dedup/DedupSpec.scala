package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "  The   quick brown fox jumps over the lazy DOG  ".toLowerCase), // same after normalize
    (3L, "a completely different document about spark engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy cat")) // near-dup of 1
    .toDF("doc_id", "text")

  test("exactGroups groups by normalized content, keeps min id") {
    val g = Dedup.exactGroups(docs, col("doc_id"), col("text"))
    assert(g.count() == 3)
    val dup = g.filter(col("n_dups") === 2).head()
    assert(dup.getLong(1) == 1L) // keep_id is the min
  }

  test("exactDedup keeps one row per content group") {
    val kept = Dedup.exactDedup(docs, col("doc_id"), col("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("identical documents collide in every MinHash band") {
    val pairs = Dedup.minHashCandidates(docs, col("doc_id"), col("text"),
      numHashes = 32, numBands = 8).collect()
    val exact = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(exact.isDefined && exact.get.getLong(2) == 8L)
  }

  test("near-duplicates collide in at least one band; unrelated docs do not") {
    val pairs = Dedup.minHashCandidates(docs, col("doc_id"), col("text"),
      numHashes = 32, numBands = 16) // r=2: sensitive bands for the near-dup
    val byPair = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byPair.contains((1L, 4L)))
    assert(!byPair.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("simHashPairs: identical docs at hamming 0; unrelated docs absent") {
    val pairs = Dedup.simHashPairs(docs, col("doc_id"), col("text"), maxHamming = 3, chunks = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("jaccardPairs computes the exact shingle Jaccard") {
    // doc1/doc4: 7 shingles each, 6 shared → J = 6/8 = 0.75
    val pairs = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 4L)) == 0.75)
    assert(!pairs.contains((1L, 3L)))
  }

  test("containmentPairs scores subset duplicates that Jaccard misses") {
    // short doc (5 shingles) fully contained in a long doc (12 shingles):
    // containment = 1.0 while Jaccard = 5/12 < 0.5
    val sub = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
      (3L, "totally unrelated words in this one here"))
      .toDF("doc_id", "text")
    val jac = Dedup.jaccardPairs(sub, col("doc_id"), col("text"), threshold = 0.5)
      .collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      "the subset pair must be invisible to symmetric Jaccard at 0.5")
    val got = Dedup.containmentPairs(sub, col("doc_id"), col("text"), threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getLong(3)))).toMap
    assert(got((1L, 2L)) == ((1.0, 1L)), "full containment, doc 1 is the contained side")
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("containmentPairs: equal-size sets tie to doc_a and match Jaccard") {
    val eq = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(eq, col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getLong(3)))).toMap
    assert(got((1L, 2L)) == ((1.0, 1L)))
  }

  test("containmentPairs honors the stop-shingle df cap in the denominator") {
    // with df<=2 the shared boilerplate run leaves the universe entirely,
    // so doc 3 (boilerplate + unique tail) pairs with nothing
    val boiler = Seq(
      (1L, "x x x alpha beta gamma"),
      (2L, "x x x alpha beta gamma"),
      (3L, "x x x unrelated entirely different")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(boiler, col("doc_id"), col("text"),
        threshold = 0.3, maxDf = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got((1L, 2L)) == 1.0)
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("jaccardPairs maxDf drops stop-shingles from universe AND set sizes") {
    // every doc shares the "x x x" boilerplate shingle run; with the cap at
    // df<=2 those shingles leave the universe, so 1/2 remain exact dups and
    // the boilerplate-only doc 3 no longer pairs with anything
    val boiler = Seq(
      (1L, "x x x alpha beta gamma"),
      (2L, "x x x alpha beta gamma"),
      (3L, "x x x unrelated entirely different")).toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(boiler, col("doc_id"), col("text"),
      threshold = 0.3, maxDf = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(capped((1L, 2L)) == 1.0)
    assert(!capped.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("jaccardPairs caps df BY DEFAULT; NoDfCap is the explicit opt-out") {
    // Behavioral probe (the old optimized-plan LeftSemi probe went blind
    // when the operator started checkpointing its shingle tables): every
    // pair shares ONLY the viral trigram, so the capped path — where the
    // trigram's df exceeds maxDf — returns nothing, and NoDfCap keeps
    // the pairs. The default call runs with its documented maxDf=1000,
    // so the corpus carries the trigram in 1005 documents to prove the
    // cap is on BY DEFAULT, not only when asked for.
    val corpus = (0 until 1005)
      .map(i => (i.toLong, s"click here now unique$i token$i filler$i"))
      .toDF("doc_id", "text")
    def pairsOf(maxDfArgs: Int*): Set[(Long, Long)] = {
      val q = maxDfArgs.headOption match {
        case Some(m) => Dedup.jaccardPairs(corpus, col("doc_id"), col("text"), 0.1, 3, m)
        case None => Dedup.jaccardPairs(corpus, col("doc_id"), col("text"), 0.1)
      }
      q.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    }
    // each pair: 1 shared shingle of 4+4 → jaccard 1/7 ≈ 0.143 ≥ 0.1
    assert(pairsOf().isEmpty, "default call must cap the df=1005 stop-shingle")
    assert(pairsOf(Dedup.NoDfCap).size == 1005L * 1004 / 2,
      "NoDfCap must keep every boilerplate-only pair")
    assertThrows[IllegalArgumentException](pairsOf(0))
  }

  test("jaccardVerify scores ONLY the candidate pairs it is given") {
    val candidates = Seq((1L, 4L), (1L, 3L)).toDF("doc_a", "doc_b")
    val verified = Dedup.jaccardVerify(candidates, docs, col("doc_id"), col("text"),
      threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(verified == Map((1L, 4L) -> 0.75)) // (1,3) fails threshold; (1,2) never considered
  }

  test("minHash→jaccardVerify composition equals full jaccardPairs on this corpus") {
    val composed = Dedup.jaccardVerify(
      Dedup.minHashCandidates(docs, col("doc_id"), col("text"), 32, 16),
      docs, col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(composed == full)
  }

  test("contaminationReport flags training docs overlapping the eval set") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // full eval dup
      (2L, "completely unrelated content with no overlap at all"),
      (3L, "partially the quick brown fox then diverges wildly here"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(train, eval, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(4))).toMap
    assert(rep(1L)._1 == 7L && rep(1L)._2, "exact dup must be contaminated")
    assert(rep.contains(3L) && !rep(3L)._2, "partial overlap reported but below threshold")
    assert(!rep.contains(2L), "clean doc must not appear")
  }

  test("incremental dedup: new batch vs persisted indexes, corpus never re-scanned") {
    val corpus = docs // ids 1-4
    val newBatch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (11L, "the quick brown fox jumps over the lazy cat"), // exact dup of 4, near-dup of 1
      (12L, "an entirely novel sentence about incremental indexes"))
      .toDF("doc_id", "text")
    // exact: anti-join against the stored content-hash index
    val hashIdx = Dedup.contentHashIndex(corpus, col("text"))
    val fresh = Dedup.exactDedupAgainst(newBatch, col("text"), hashIdx)
      .select("doc_id").as[Long].collect().toSet
    assert(fresh == Set(12L))
    // near-dup: new bands join the stored band index
    val bandIdx = Dedup.bandTable(corpus, col("doc_id"), col("text"), 32, 16)
    val cands = Dedup.minHashCandidatesAgainst(newBatch, col("doc_id"), col("text"),
        bandIdx, 32, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((10L, 1L))) // exact dup collides everywhere
    assert(cands.contains((11L, 4L)))
    assert(!cands.exists(_._1 == 12L)) // novel doc matches nothing
  }

  test("clusterPairs resolves transitive chains to min-id components") {
    // chain 1-2-3 plus isolated pair (10, 11): b~c via a must label all three
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val labels = Dedup.clusterPairs(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("clusterPairs: keep-one-per-cluster is doc_id == cluster_id") {
    val pairs = Seq((5L, 9L), (9L, 2L)).toDF("doc_a", "doc_b") // component {2,5,9}
    val keepers = Dedup.clusterPairs(pairs)
      .filter(col("doc_id") === col("cluster_id"))
      .select("doc_id").as[Long].collect().toSeq
    assert(keepers == Seq(2L))
  }

  test("canonicalByQuality keeps the best member per cluster, ties to min id") {
    // component {1,2,3}: 2 has top quality; component {10,11}: tied → 10
    val clusters = Dedup.clusterPairs(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b"))
    val corpus = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 7.0),   // champion: 2
      (10L, 4.0), (11L, 4.0),            // tie → smaller id 10
      (42L, 0.5)                          // singleton keeps itself
    ).toDF("doc_id", "q")
    val out = Dedup.canonicalByQuality(corpus, col("doc_id"), col("q"), clusters)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out == Map(
      1L -> (1L, false), 2L -> (1L, true), 3L -> (1L, false),
      10L -> (10L, true), 11L -> (10L, false),
      42L -> (42L, true)))
  }

  test("canonicalByQuality plan has no window operators") {
    val clusters = Dedup.clusterPairs(Seq((1L, 2L)).toDF("doc_a", "doc_b"))
    val d = Dedup.canonicalByQuality(
      Seq((1L, 1.0), (2L, 2.0)).toDF("doc_id", "q"), col("doc_id"), col("q"), clusters)
    d.write.format("noop").mode("overwrite").save()
    assert(d.queryExecution.executedPlan
      .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      "champion selection must partial-aggregate, not window")
  }

  test("simHash signatures are engine-portable: 60-bit md5-derived, deterministic") {
    val s1 = Dedup.simHashSignatures(docs, col("doc_id"), col("text"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val s2 = Dedup.simHashSignatures(docs, col("doc_id"), col("text"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(s1 == s2)
    assert(s1.map(_._2).forall(s => s >= 0L && s < (1L << 60))) // 60-bit range
    assert(s1(0)._2 == s1(1)._2) // normalized-identical docs share the signature
  }

  test("duplicatedSpanStats flags only cross-document window repeats") {
    val d = Seq(
      (1L, "a b c d e"),      // windows: "a b c d", "b c d e"
      (2L, "z a b c d"),      // windows: "z a b c", "a b c d" (shared with 1)
      (3L, "x y q r s"),      // 2 windows, none shared
      (4L, "w w w w w w w w"), // 5 identical windows, but only ONE doc → not dup
      (5L, "t u"))            // under w tokens → absent from output
      .toDF("doc_id", "text")
    val out = Dedup.duplicatedSpanStats(d, col("doc_id"), col("text"), w = 4)
      .orderBy("doc_id")
      .select("doc_id", "n_windows", "n_dup_windows")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 0L), (4L, 5L, 0L)))
  }

  test("removeDuplicatedSpans drops covered tokens everywhere, keeps clean docs whole") {
    val d = Seq(
      (1L, "a b c d e"),       // "a b c d" shared with 2 → tokens 0..3 dropped
      (2L, "z a b c d"),       // start 1 → tokens 1..4 dropped
      (3L, "x y q r s"),       // untouched
      (4L, "w w w w w w"))     // within-doc repeats only → untouched
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(d, col("doc_id"), col("text"), w = 4)
      .orderBy("doc_id")
      .select("doc_id", "clean_text", "n_tokens", "n_kept")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "e", 5L, 1L),
      (2L, "z", 5L, 1L),
      (3L, "x y q r s", 5L, 5L),
      (4L, "w w w w w w", 6L, 6L)))
  }

  test("duplicationWeights: 1/cluster-size for members, 1 for singletons, mass preserved") {
    // identical triple (J=1 ⇒ banding catches the pairs for ANY hash
    // draw — a mid-Jaccard near-dup would make the test depend on the
    // deterministic-but-opaque band outcomes) plus a singleton
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "totally different content lives here now"))
      .toDF("doc_id", "text")
    val out = Dedup.duplicationWeights(docs, col("doc_id"), col("text"), threshold = 0.5)
      .orderBy("doc_id")
      .select("doc_id", "cluster_id", "cluster_size", "weight")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out.map(_._2) == Seq(1L, 1L, 1L, 4L))
    assert(out.map(_._3) == Seq(3L, 3L, 3L, 1L))
    assert(out.map(_._4) == Seq(0.333333, 0.333333, 0.333333, 1.0))
    // expected distinct-content mass: weights inside a cluster sum to 1
    assert(math.abs(out.filter(_._2 == 1L).map(_._4).sum - 1.0) < 1e-3)
  }

  test("clusterQuality: a chain-merged cluster reports sub-1 density; a clique reports 1.0") {
    // A~B and B~C verify; A and C are farther apart — a CHAIN, plus an
    // exact-dup CLIQUE for the density contrast.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta XXXX"),  // ~A: high overlap
      (3L, "YYYY beta gamma delta epsilon zeta eta XXXX"),   // ~B, farther from A
      (10L, "one two three four five six seven eight"),
      (11L, "one two three four five six seven eight"))      // exact dup clique
      .toDF("doc_id", "text")
    val out = Dedup.clusterQuality(docs, col("doc_id"), col("text"), threshold = 0.5)
      .orderBy("cluster_id").collect()
    assert(out.length === 2)
    val chain = out(0)
    assert(chain.getAs[Long]("n_members") === 3L)
    // chain has 2 or 3 edges depending on whether A~C clears 0.5; either
    // way density and the similarity floor are reported coherently
    val density = chain.getAs[Double]("density")
    val edges = chain.getAs[Long]("n_edges")
    assert(math.abs(density - edges * 2.0 / 6.0) < 1e-9)
    assert(chain.getAs[Double]("min_jaccard") >= 0.5)
    val clique = out(1)
    assert(clique.getAs[Long]("n_members") === 2L)
    assert(clique.getAs[Double]("density") === 1.0)
    assert(clique.getAs[Double]("min_jaccard") === 1.0)
  }

  test("clusterSafeSplit: every cluster member co-assigns; singletons split independently") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "totally different content lives here now"))
      .toDF("doc_id", "text")
    val out = Dedup.clusterSafeSplit(docs, col("doc_id"), col("text"),
        Seq(("train", 0.5), ("test", 0.5)))
      .orderBy("doc_id").select("doc_id", "cluster_id", "split")
      .as[(Long, Long, String)].collect().toSeq
    // the identical triple shares cluster 1 → one split for all three
    assert(out.take(3).map(_._3).distinct.length === 1,
      s"cluster members straddled splits: $out")
    assert(out.take(3).map(_._2).toSet === Set(1L))
    assert(out(3)._2 === 4L) // singleton labels itself
    // assignment is the cluster-label hash: doc 2 and 3 get cluster 1's
    // bucket, NOT their own doc-id bucket
    val ownBucket = Dedup.clusterSafeSplit(
      docs.filter(col("doc_id") === 2L), col("doc_id"), col("text"),
      Seq(("train", 0.5), ("test", 0.5))).head().getString(2)
    assert(out(1)._3 !== null)
    // doc 2 alone clusters as singleton 2 → its solo split may differ
    // from the cluster-1 split; both must be deterministic re-runs
    assert(Dedup.clusterSafeSplit(docs, col("doc_id"), col("text"),
      Seq(("train", 0.5), ("test", 0.5))).orderBy("doc_id")
      .select("split").as[String].collect().toSeq === out.map(_._3))
    assert(ownBucket != null)
  }

  test("removeContaminatedSpans masks only eval-covered tokens, everywhere they appear") {
    val evalSet = Seq((100L, "the secret eval answer is forty two")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "intro words then the secret eval answer is forty two and more"), // 4-gram hits
      (2L, "totally clean document with no overlap at all"),
      (3L, "the secret eval answer again the secret eval answer"))  // within-doc repeat, partial grams
      .toDF("doc_id", "text")
    val out = Dedup.removeContaminatedSpans(train, evalSet,
        col("doc_id"), col("text"), col("text"), w = 4)
      .orderBy("doc_id")
      .select("doc_id", "clean_text", "n_tokens", "n_kept")
      .as[(Long, String, Long, Long)].collect().toSeq
    // doc 1: eval 4-grams cover "the secret eval answer is forty two" (union
    // of sliding windows) → only the frame words survive
    assert(out(0) == ((1L, "intro words then and more", 12L, 5L)))
    assert(out(1) == ((2L, "totally clean document with no overlap at all", 8L, 8L)))
    // doc 3: "the secret eval answer" is an eval 4-gram → both occurrences
    // masked; "again" survives between them
    assert(out(2) == ((3L, "again", 9L, 1L)))
  }

  test("removeDuplicatedSpans merges overlapping duplicated windows") {
    // docs share a 5-token run "a b c d e" → two overlapping 4-windows in
    // each; the union of their spans (tokens 0..4 / 1..5) must be dropped
    val d = Seq((1L, "a b c d e x"), (2L, "y a b c d e")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(d, col("doc_id"), col("text"), w = 4)
      .orderBy("doc_id").select("clean_text").as[String].collect().toSeq
    assert(out == Seq("x", "y"))
  }

  test("removeDuplicatedSpansKeepFirst: min-id owner keeps every occurrence, others drop") {
    val d = Seq(
      (1L, "a b c d e"),       // owner of "a b c d" → keeps everything
      (2L, "z a b c d"),       // non-owner → tokens 1..4 dropped
      (3L, "a b c d q"),       // non-owner → tokens 0..3 dropped
      (4L, "x y q r s"))       // untouched
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpansKeepFirst(d, col("doc_id"), col("text"), w = 4)
      .orderBy("doc_id")
      .select("doc_id", "clean_text", "n_kept")
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a b c d e", 5L),
      (2L, "z", 1L),
      (3L, "q", 1L),
      (4L, "x y q r s", 5L)))
  }

  test("exactSubstringDedup: first occurrence survives, within-doc repeats count") {
    val d = Seq(
      (1L, "a b c d e"),        // global first occurrence of "a b c d" → kept whole
      (2L, "z a b c d"),        // later copy → tokens 1..4 dropped
      (3L, "w x w x w x w x"),  // WITHIN-doc repeat of "w x w x" (starts 0, 2, 4):
                                // start 0 kept, starts 2 and 4 dropped → tokens 2..7 gone
      (4L, "p q r s t"))        // unique → untouched
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstringDedup(d, col("doc_id"), col("text"), k = 4)
      .orderBy("doc_id")
      .select("doc_id", "clean_text", "n_tokens", "n_kept")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "a b c d e", 5L, 5L),
      (2L, "z", 5L, 1L),
      (3L, "w x", 8L, 2L),
      (4L, "p q r s t", 5L, 5L)))
  }

  test("exactSubstringDedup: a long repeat is removed as one maximal span") {
    // a 6-token substring shared by two docs = three repeated 4-grams;
    // the later copy loses the full 6-token union, the first keeps all
    val d = Seq((1L, "a b c d e f x"), (2L, "y a b c d e f")).toDF("doc_id", "text")
    val out = Dedup.exactSubstringDedup(d, col("doc_id"), col("text"), k = 4)
      .orderBy("doc_id").select("clean_text").as[String].collect().toSeq
    assert(out == Seq("a b c d e f x", "y"))
  }

  test("removeDuplicatedSpansKeepFirst elects owners per gram independently") {
    // doc 1 owns "a b c d"; doc 2 owns "p q r s" and loses "a b c d";
    // doc 3 loses both — ownership is per gram, not per document
    val d = Seq(
      (1L, "a b c d"),
      (2L, "p q r s x a b c d"),
      (3L, "p q r s y a b c d"))
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpansKeepFirst(d, col("doc_id"), col("text"), w = 4)
      .orderBy("doc_id").select("clean_text").as[String].collect().toSeq
    assert(out == Seq("a b c d", "p q r s x", "y"))
  }

  test("duplicatedSpanStats counts within-doc multiplicity of a shared gram") {
    val d = Seq(
      (1L, "a b c d x a b c d"), // "a b c d" twice + 4 other windows (6 total)
      (2L, "a b c d"))           // the shared gram once
      .toDF("doc_id", "text")
    val one = Dedup.duplicatedSpanStats(d, col("doc_id"), col("text"), w = 4)
      .filter(col("doc_id") === 1L).head()
    assert(one.getAs[Long]("n_windows") == 6L)
    assert(one.getAs[Long]("n_dup_windows") == 2L) // both occurrences count
  }

  // Zipf-skew regression: ONE boilerplate gram present in EVERY document
  // (the "all rights reserved" shape). The pre-round-7 window formulation
  // concentrated all n_docs occurrences of that gram into one unsplittable
  // task; the partial-agg groupBy must both stay correct AND keep the df
  // computation out of any WindowExec (splittable: combiners + AQE skew
  // join). Plan shape is pinned here on the operator itself; ScanSpec pins
  // it on the driver queries.
  test("span operators survive a universal gram (every doc shares one window)") {
    // the shared 4-gram opens every doc; the x$i y$i tail stays unique
    val shared = (1 to 300).map(i => (i.toLong, s"one two three four x$i y$i"))
      .toDF("doc_id", "text")
    val stats = Dedup.duplicatedSpanStats(shared, col("doc_id"), col("text"), w = 4)
    assert(graft.PlanShapes.windowCount(stats) == 0, "gram df must be a partial agg, not a window")
    val out = stats.agg(sum("n_windows"), sum("n_dup_windows")).head()
    // 6 tokens → 3 windows/doc; only "one two three four" (start 0) is dup
    assert(out.getLong(0) == 900L && out.getLong(1) == 300L)

    val cleaned = Dedup.removeDuplicatedSpans(shared, col("doc_id"), col("text"), w = 4)
    assert(graft.PlanShapes.windowCount(cleaned) == 0)
    val k = cleaned.filter(col("doc_id") === 7L).head()
    assert(k.getAs[String]("clean_text") == "x7 y7" && k.getAs[Long]("n_kept") == 2L)

    val kept = Dedup.removeDuplicatedSpansKeepFirst(shared, col("doc_id"), col("text"), w = 4)
    assert(graft.PlanShapes.windowCount(kept) == 0)
    val rows = kept.filter(col("doc_id").isin(1L, 9L))
      .orderBy("doc_id").select("clean_text").as[String].collect().toSeq
    assert(rows == Seq("one two three four x1 y1", "x9 y9")) // doc 1 owns the gram
  }

  test("span removers and duplicatedSpanStats reject a window width below 1") {
    val (id, text) = (col("doc_id"), col("text"))
    val calls: Seq[(String, Int => Any)] = Seq(
      "removeDuplicatedSpans" -> (w => Dedup.removeDuplicatedSpans(docs, id, text, w)),
      "removeDuplicatedSpansKeepFirst" -> (w => Dedup.removeDuplicatedSpansKeepFirst(docs, id, text, w)),
      "removeContaminatedSpans" -> (w => Dedup.removeContaminatedSpans(docs, docs, id, text, text, w)),
      "exactSubstringDedup" -> (w => Dedup.exactSubstringDedup(docs, id, text, w)),
      "duplicatedSpanStats" -> (w => Dedup.duplicatedSpanStats(docs, id, text, w)))
    for ((name, call) <- calls; w <- Seq(0, -1))
      withClue(s"$name(w = $w): ") { intercept[IllegalArgumentException](call(w)) }
  }

  test("jaccardPairs and containmentPairs reject a non-positive maxDf") {
    for (maxDf <- Seq(0, -1)) {
      intercept[IllegalArgumentException](
        Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.5, maxDf = maxDf))
      intercept[IllegalArgumentException](
        Dedup.containmentPairs(docs, col("doc_id"), col("text"), 0.5, maxDf = maxDf))
    }
  }
}
