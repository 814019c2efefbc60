package graft.dedup

import graft.operators.{Lineage, Scans}
import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines: exact content
  * dedup, MinHash+LSH, SimHash, and exact n-gram Jaccard verification.
  *
  * Scale design (the invariant across all near-dup operators here):
  * signatures are computed as narrow maps / partial aggregates over the
  * text column, and candidate generation is ALWAYS a bucket-keyed
  * equi-join (LSH band, SimHash chunk, or shared shingle) — never a
  * cartesian self-join. Comparisons are confined to rows that collide in
  * at least one bucket, which is O(collisions), not O(n²), and the join
  * shuffles on the bucket key so it parallelizes across executors.
  *
  * The intended 100 TB pipeline is two-stage:
  * [[minHashCandidates]] (cheap, probabilistic, high recall) →
  * [[jaccardVerify]] (exact Jaccard on candidate pairs only). The
  * full-corpus [[jaccardPairs]] exists for smaller corpora and as the
  * oracle-checkable exact formulation; its `maxDf` stop-shingle cap
  * bounds the inverted-index join at scale.
  */
object Dedup {

  /** Exact content dedup groups: rows hashed by normalized content;
    * `keep_id` is the minimum id (deterministic keep-first).
    * One hash-shuffle on the 32-byte digest — at 100 TB this moves only
    * (hash, id) pairs, not document bodies. */
  def exactGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(TextFunctions.contentFingerprint(text).as("content_hash"), id.as("__id"))
      .groupBy("content_hash")
      .agg(min("__id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** Keep one row per exact-content group (min id wins). `__keep` is a
    * RESERVED internal name; inputs already containing it are rejected
    * (the semi-join would otherwise throw an ambiguous-reference error
    * mid-query). */
  def exactDedup(df: DataFrame, id: Column, text: Column): DataFrame = {
    require(!df.columns.contains("__keep"),
      "exactDedup reserves column '__keep'; rename the input column")
    val keep = exactGroups(df, id, text).select(col("keep_id").as("__keep"))
    df.join(keep, id === col("__keep"), "left_semi")
  }

  /** (content_hash) index of a corpus — persist this (parquet, bucketed
    * by hash) as the exact-dedup state. */
  def contentHashIndex(df: DataFrame, text: Column): DataFrame =
    df.select(TextFunctions.contentFingerprint(text).as("content_hash")).distinct()

  /** Incremental exact dedup: drop new-batch rows whose content already
    * exists in a persisted [[contentHashIndex]]. Only the NEW batch is
    * hashed — the corpus contributes its stored index via an anti-join
    * on the 32-byte digest. The day-2 ingest pattern at corpus scale:
    * never re-scan yesterday's 100 TB to admit today's 100 GB. */
  def exactDedupAgainst(newDocs: DataFrame, text: Column, index: DataFrame): DataFrame = {
    require(!newDocs.columns.contains("__h"),
      "exactDedupAgainst reserves column '__h'; rename the input column")
    newDocs.withColumn("__h", TextFunctions.contentFingerprint(text))
      .join(index.select(col("content_hash").as("__h")), Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** Bloom state of a [[contentHashIndex]]: a few hundred MB summarizes
    * billions of digests (one aggregate, one collected row). Persist
    * next to the index; per-slice filters union via
    * [[graft.expressions.BloomSketch.bloomUnionAgg]]. */
  def bloomOfIndex(index: DataFrame, expectedItems: Long, fpp: Double = 0.01): Array[Byte] =
    graft.expressions.BloomSketch.build(index, col("content_hash"), expectedItems, fpp)

  /** Two-tier incremental exact dedup: [[exactDedupAgainst]] with the
    * bloom fast path. Bloom-NEGATIVE rows are definitely novel (no
    * false negatives) and skip the join entirely — a zero-join narrow
    * map admits the typical >99% of a fresh batch; only the bloom
    * POSITIVES (true dups + fpp of the rest) reach the precise
    * anti-join against the full index. Result is EXACTLY
    * [[exactDedupAgainst]]'s (the spec pins equality); the bloom only
    * reroutes rows, it never decides membership alone. */
  def exactDedupAgainstBloom(newDocs: DataFrame, text: Column, index: DataFrame,
                             bloomBytes: Array[Byte]): DataFrame = {
    require(!newDocs.columns.contains("__h"),
      "exactDedupAgainstBloom reserves column '__h'; rename the input column")
    val hashed = newDocs.withColumn("__h", TextFunctions.contentFingerprint(text))
    val might = graft.expressions.BloomSketch.mightContain(bloomBytes, col("__h"))
    val definitelyNovel = hashed.filter(!might)
    val verified = hashed.filter(might)
      .join(index.select(col("content_hash").as("__h")), Seq("__h"), "left_anti")
    definitelyNovel.unionByName(verified).drop("__h")
  }

  // ---------------------------------------------------------------- MinHash

  /** Mersenne prime 2^31-1: the universal-hash modulus. Products stay
    * under 2^62, so the expressions are safe under Spark 4's default
    * ANSI mode (no silent wraparound, no overflow errors). */
  private val P = 2147483647L

  /** Deterministic (a, b) parameters for the i-th (a·h + b) mod P
    * universal hash — derived from splitmix64-style mixing constants,
    * reduced into [1, P) / [0, P). */
  private def hashParams(i: Int): (Long, Long) = {
    def mix(x: Long): Long = {
      var h = x * 0x9E3779B97F4A7C15L
      h ^= (h >>> 32); h *= 0xBF58476D1CE4E5B9L; h ^= (h >>> 29)
      h
    }
    (Math.floorMod(mix(i + 1), P - 1) + 1, Math.floorMod(mix(i + 0x10001), P))
  }

  /** LSH band keys from a MinHash signature: `numBands` strings, each
    * hashing `rowsPerBand` consecutive signature values. Two documents
    * with Jaccard j collide in ≥1 band with prob 1-(1-j^r)^b. */
  /** LSH s-curve: probability a pair with Jaccard similarity `s`
    * becomes a candidate under (b bands × r rows) banding —
    * `1 − (1 − s^r)^b`. The closed form D2's recall/precision trade
    * rests on (Leskovec et al., MMDS ch. 3). */
  def candidateProb(s: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands)

  /** Pick (bands, rowsPerBand) for a signature of `numHashes` whose
    * s-curve inflection (≈ (1/b)^(1/r)) sits closest to `threshold` —
    * the banding that separates above-threshold pairs (→ candidates)
    * from below (→ pruned) most sharply at the similarity the caller
    * actually cares about. Considers every exact factorization of
    * `numHashes`; deterministic (smallest r wins ties → recall-leaning). */
  def bandsFor(numHashes: Int, threshold: Double): (Int, Int) = {
    require(numHashes >= 2 && threshold > 0 && threshold < 1)
    val choices = (1 to numHashes).filter(numHashes % _ == 0).map { r =>
      val b = numHashes / r
      (b, r, math.abs(math.pow(1.0 / b, 1.0 / r) - threshold))
    }
    val best = choices.minBy { case (_, r, err) => (err, r) }
    (best._1, best._2)
  }

  def bandKeys(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    array((0 until numBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1))
      concat_ws("_", lit(b) +: parts.map(_.cast("string")): _*)
    }: _*)

  /** (doc_id, g) exploded 64-bit shingle hashes, distinct per document.
    * Tokens are materialized in their own projection BEFORE the shingle
    * higher-order function evaluates — interpreted HOFs get no common-
    * subexpression elimination, so an inline `tokens(text)` would re-run
    * the tokenizing regex per `element_at` (the root cause of r1's d2/d4
    * bench times). Joining on the 64-bit hash instead of the shingle
    * string moves 8-byte keys through the shuffle. */
  /** `spreadInput` (r14): rebalance the (id, text) projection to session
    * parallelism before the tokenize+shingle+hash work when the input's
    * split count starves it ([[graft.operators.Scans.spread]] — a
    * structural no-op on many-split production scans). Callers whose
    * input is a raw narrow scan pass true; [[jaccardVerify]] passes
    * false (its input carries a semi-join, and spread's partition probe
    * must only run on scan-shaped frames). */
  private def shingleHashes(df: DataFrame, id: Column, text: Column, k: Int,
                            spreadInput: Boolean = false): DataFrame = {
    val toks = if (spreadInput) docTokens(df, id, text)
      else df.select(id.as("doc_id"), TextFunctions.tokens(text).as("__t"))
    toks.select(col("doc_id"), explode(TextFunctions.shinglesOf(col("__t"), k)).as("gs"))
      .select(col("doc_id"), xxhash64(col("gs")).as("g"))
  }

  /** (doc_id, __t) token table of a raw narrow scan: the (id, text)
    * projection is spread to session parallelism (r14,
    * [[graft.operators.Scans.spread]]) so the tokenize + per-window hash
    * work does not fuse into one task on a single-row-group input
    * (guide §2.5 input skew; a structural no-op on many-split
    * production scans), and the tokens are staged in their own
    * projection before any shingle HOF reads them. */
  private def docTokens(df: DataFrame, id: Column, text: Column): DataFrame =
    Scans.spread(df.select(id.as("doc_id"), text.as("__tx")), col("doc_id"))
      .select(col("doc_id"), TextFunctions.tokens(col("__tx")).as("__t"))

  /** MinHash+LSH candidate pairs: (doc_a < doc_b, n_bands collided).
    *
    * Plan: staged tokens → explode shingles → codegen'd partial aggregate
    * of `numHashes` running minima (map-side combine ⇒ the shuffle moves
    * one numHashes-long row per document, not per shingle) → explode band
    * keys → self-join keyed on the band string. The join shuffles on the
    * band key, so work distributes by bucket; hot buckets are bounded by
    * band selectivity (r rows/band), and AQE skew-join splits any
    * residual hot bucket.
    *
    * Recall: a pair with Jaccard j survives with prob 1-(1-j^r)^b; at the
    * default b=8, r=4 a 0.9-Jaccard pair is missed with prob < 2e-4.
    */
  /** (doc_id, band) LSH band table — the MinHash dedup INDEX. Persist it
    * (parquet, bucketed by band) to dedup future batches incrementally
    * via [[minHashCandidatesAgainst]] without re-shingling the corpus. */
  def bandTable(
      df: DataFrame,
      id: Column,
      text: Column,
      numHashes: Int = 32,
      numBands: Int = 8): DataFrame = {
    // divisibility also forces rowsPerBand >= 1: numBands > numHashes
    // would give every document identical band keys and degenerate the
    // band self-join into a full cross product
    require(numBands >= 1 && numHashes % numBands == 0,
      s"numHashes ($numHashes) must be a positive multiple of numBands ($numBands)")
    val rowsPerBand = numHashes / numBands
    // Non-distinct shingles: the running minimum is unchanged by
    // duplicates, so the O(n²) array_distinct pass is skipped.
    val grams = docTokens(df, id, text)
      .select(col("doc_id"), explode(TextFunctions.shinglesAllOf(col("__t"), 3)).as("gs"))
      .select(col("doc_id"), pmod(xxhash64(col("gs")), lit(P)).as("h"))
    val minCols = (0 until numHashes).map { i =>
      val (a, b) = hashParams(i)
      min(pmod(col("h") * lit(a) + lit(b), lit(P))).as(s"m$i")
    }
    grams.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
      .select(col("doc_id"), explode(bandKeys(col("sig"), numBands, rowsPerBand)).as("band"))
  }

  def minHashCandidates(
      df: DataFrame,
      id: Column,
      text: Column,
      numHashes: Int = 32,
      numBands: Int = 8): DataFrame = {
    // Truncate the band table before the self-join: its two sides are
    // lineage parents of the shingle explosion + signature aggregate
    // (the corpus-scale map work), and AQE stage reuse does not reliably
    // dedupe the copies (measured: the explosion executed twice). The
    // materialized table is numBands small rows per document —
    // negligible next to re-shingling the corpus.
    val bands = Lineage.truncate(bandTable(df, id, text, numHashes, numBands))
    val a = bands.select(col("band"), col("doc_id").as("doc_a"))
    val b = bands.select(col("band"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
  }

  /** Incremental MinHash candidates: NEW batch documents against a
    * persisted corpus [[bandTable]]. Only the new batch is shingled and
    * hashed; the join shuffles on the band key against the stored index
    * (bucketed storage makes it co-located). Emits (doc_a = new doc,
    * doc_b = indexed doc, n_bands); verify with [[jaccardVerify]]
    * against the union of batch and corpus texts. The parameters must
    * match those the index was built with. */
  def minHashCandidatesAgainst(
      newDocs: DataFrame,
      id: Column,
      text: Column,
      index: DataFrame,
      numHashes: Int = 32,
      numBands: Int = 8): DataFrame = {
    val newBands = bandTable(newDocs, id, text, numHashes, numBands)
      .select(col("band"), col("doc_id").as("doc_a"))
    newBands.join(index.select(col("band"), col("doc_id").as("doc_b")), Seq("band"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_bands"))
  }

  // ---------------------------------------------------------------- SimHash

  /** SimHash signature width. 60 bits (not 64) so the per-token hash is
    * the first 15 hex chars of md5(token) — parseable as a non-negative
    * signed 64-bit integer in ANY engine with an md5 function, which
    * makes the whole signature exactly reproducible by an external
    * verifier (the DuckDB oracle recomputes it bit-for-bit). Losing 4 of
    * 64 bits is immaterial for near-dup detection. */
  val SimHashBits = 60

  /** 60-bit token hash from the md5 hex prefix. (xxhash64 is cheaper but
    * engine-specific; md5 keeps signatures cross-engine verifiable.) */
  def tokenHash60(w: Column): Column =
    conv(substring(md5(w), 1, 15), 16, 10).cast("long")

  /** Packed-counter width: 2 ones-counts of [[FieldBits]] bits share one
    * long, so 60 bit-votes aggregate in 30 sum columns instead of 60.
    * Each field holds "tokens with bit b set" for one signature bit; a
    * field saturates only if a single document has ≥ 2^30 tokens
    * (≈ 4 GB of text in ONE row — beyond any real document), which
    * [[simHashSignatures]] rejects with raise_error rather than silently
    * corrupting the neighbor field. 30-bit fields were chosen over the
    * denser 20-bit×3 packing precisely so realistic pathological
    * documents (multi-million-token concatenated dumps) still sign
    * correctly instead of failing the job. */
  private val FieldBits = 30
  private val MaxSimHashTokens = 1L << FieldBits

  /** (doc_id, sim) SimHash signatures via explode + hash-aggregate:
    * tokens explode to (doc_id, hash) rows, a codegen'd partial
    * aggregate counts per-bit ones map-side (one row per document
    * crosses the shuffle), and a final projection assembles the bits.
    *
    * The majority vote `sum(±1) > 0` is computed as `2·ones_b > n`, so
    * only non-negative ones-counts are aggregated — and two 30-bit
    * counts pack into each 64-bit sum column ([[FieldBits]]). 30 packed
    * sums + 1 count replace the r2 formulation's 60 `sum(when(...))`
    * columns, whose generated row-update method was large enough to blow
    * the JIT's default bytecode budget (huge methods run in the bytecode
    * interpreter): measured 6.4s → ~2.5s warm at sf0.1 for the full d3
    * query. (The r1 per-row `aggregate`+`zip_with` fold this line
    * replaced was worse still — interpreted per token with a 60-wide
    * array accumulator.) Carries cannot cross fields: every field ≤
    * n_tokens < 2^30, enforced post-aggregate per document. */
  def simHashSignatures(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = docTokens(df, id, text)
      .select(col("doc_id"), explode(col("__t")).as("w"))
      .select(col("doc_id"), tokenHash60(col("w")).as("h"))
    val packs = (0 until SimHashBits / 2).map { j =>
      val fields = (0 until 2).map { i =>
        shiftleft(shiftright(col("h"), 2 * j + i).bitwiseAND(lit(1L)), FieldBits * i)
      }
      sum(fields.reduce(_ + _)).as(s"p$j")
    }
    val onesOf: Int => Column = { b =>
      shiftright(col(s"p${b / 2}"), FieldBits * (b % 2)).bitwiseAND(lit(MaxSimHashTokens - 1))
    }
    val sim = (0 until SimHashBits)
      .map(b => when(onesOf(b) * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    toks.groupBy("doc_id").agg(count(lit(1)).as("n"), packs: _*)
      .select(col("doc_id"),
        when(col("n") < MaxSimHashTokens, sim)
          .otherwise(raise_error(concat(lit(s"simHashSignatures: document "), col("doc_id").cast("string"),
            lit(s" has >= $MaxSimHashTokens tokens; packed vote counters would overflow"))))
          .as("sim"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`.
    *
    * Pigeonhole bucketing: the 60-bit signature splits into `chunks`
    * equal chunks; any pair within Hamming ≤ chunks-1 shares at least
    * one exact chunk, so the candidate set is COMPLETE (every qualifying
    * pair is emitted — not probabilistic). Candidates come from an
    * equi-join on (chunk_index, chunk_value) and are verified with
    * bit_count(xor). For maxHamming ≥ chunks, raise `chunks` (still an
    * equi-join, never cartesian). */
  def simHashPairs(
      df: DataFrame,
      id: Column,
      text: Column,
      maxHamming: Int = 3,
      chunks: Int = 4): DataFrame = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    // chunks > SimHashBits would give chunkBits = 0 — every chunk value
    // identical, the candidate join a full cartesian product
    require(chunks <= SimHashBits,
      s"chunks ($chunks) must be <= $SimHashBits signature bits")
    val chunkBits = SimHashBits / chunks
    val sigs = simHashSignatures(df, id, text)
    val keyed = sigs.select(col("doc_id"), col("sim"), explode(array((0 until chunks).map { c =>
      concat_ws("_", lit(c),
        shiftright(col("sim"), c * chunkBits)
          .bitwiseAND((1L << chunkBits) - 1).cast("string"))
    }: _*)).as("chunk"))
    val a = keyed.select(col("chunk"), col("doc_id").as("doc_a"), col("sim").as("sim_a"))
    val b = keyed.select(col("chunk"), col("doc_id").as("doc_b"), col("sim").as("sim_b"))
    a.join(b, Seq("chunk")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Explicit opt-out of [[jaccardPairs]]'s stop-shingle cap: exact
    * Jaccard over the FULL shingle universe. Unbounded join cost — a
    * single boilerplate shingle shared by d documents contributes d²
    * candidate rows. Small corpora and oracles only. */
  val NoDfCap: Int = Int.MaxValue

  /** Exact n-gram Jaccard similar pairs via the inverted-index join:
    * explode distinct shingles, drop stop-shingles (document frequency
    * above `maxDf`), self-join on the shingle hash, count the
    * intersection per pair, and compute |A∩B| / (|A|+|B|-|A∩B|) over the
    * capped shingle universe (set sizes count surviving shingles only,
    * so the result is a true set Jaccard of the capped sets).
    *
    * Scale: the join cost is O(Σ_shingle df²); the cap bounds every term
    * at maxDf², and stop-shingles (boilerplate phrases shared by huge
    * document sets) carry no near-dup signal. The cap is ON by default —
    * the unbounded formulation (pass [[NoDfCap]] explicitly) turns one
    * viral boilerplate phrase into an O(d²) join and must be a conscious
    * choice, never an omission. For corpus-scale runs prefer
    * [[minHashCandidates]] → [[jaccardVerify]], which never builds the
    * full inverted-index join at all.
    */
  def jaccardPairs(
      df: DataFrame,
      id: Column,
      text: Column,
      threshold: Double,
      k: Int = 3,
      maxDf: Int = 1000): DataFrame = {
    val (inter, sizes) = shingleOverlaps(df, id, text, k, maxDf)
    scoreJaccard(inter, sizes, threshold)
  }

  /** The inverted-index self-join shared by [[jaccardPairs]] and
    * [[containmentPairs]]: (doc_a < doc_b, inter) shared-shingle counts
    * and (doc_id, n) set sizes, both over the shingle universe capped
    * at document frequency `maxDf`. */
  private def shingleOverlaps(df: DataFrame, id: Column, text: Column, k: Int,
                              maxDf: Int): (DataFrame, DataFrame) = {
    require(maxDf > 0, "maxDf must be positive (use NoDfCap to disable the stop-shingle cap)")
    // The raw shingle table feeds the df-cap AND the capped survivor
    // set, which itself has three consumers (sizes + both join sides) —
    // truncate both so the explosion runs ONCE regardless of AQE's
    // stage-reuse luck (measured 4 executions without). The df-cap
    // stays a groupBy+semi-join, NOT a window count: partial
    // aggregation is what absorbs the very stop-shingle skew the cap
    // exists to remove. Materializing doc-distinct shingle hashes is
    // within these operators' documented small-corpus contract (the
    // corpus-scale path is minHashCandidates → jaccardVerify).
    val sh0 = Lineage.truncate(shingleHashes(df, id, text, k, spreadInput = true))
    // NoDfCap skips the df-count job entirely
    val sh = if (maxDf == NoDfCap) sh0 else {
      val keep = sh0.groupBy("g").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select("g")
      Lineage.truncate(sh0.join(keep, Seq("g"), "left_semi"))
    }
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.select(col("g"), col("doc_id").as("doc_a"))
    val b = sh.select(col("g"), col("doc_id").as("doc_b"))
    val inter = a.join(b, Seq("g")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    (inter, sizes)
  }

  /** Attach set sizes to (doc_a, doc_b, inter) rows, compute the set
    * Jaccard, threshold on the UNROUNDED value, round for output —
    * shared by [[jaccardPairs]] and [[jaccardVerify]] so the exact and
    * verify formulations cannot silently drift apart. */
  private def scoreJaccard(inter: DataFrame, sizes: DataFrame, threshold: Double): DataFrame =
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))

  /** Containment near-dup pairs: |A∩B| / min(|A|, |B|) over the capped
    * k-shingle sets — the DIRECTIONAL cousin of [[jaccardPairs]]'s
    * symmetric resemblance. A short document pasted verbatim into a long
    * concatenation scores near-zero Jaccard (the union is dominated by
    * the long side) but containment ≈ 1: this is the metric that
    * catches subset duplicates — quote farms, scraped article + comment
    * wrappers, shard-concatenated dumps (Broder's resemblance-vs-
    * containment distinction).
    *
    * Same inverted-index plan and stop-shingle df cap as
    * [[jaccardPairs]] (the cap bounds the join at O(Σ df²) and the
    * containment denominator counts surviving shingles only, so it is a
    * true containment of the capped sets). Emits one row per unordered
    * pair at-or-above `threshold`: (doc_a < doc_b, containment,
    * contained = the smaller set's id — the subset SIDE; ties → doc_a).
    * Corpus-scale: gate candidate pairs through [[minHashCandidates]]
    * first and verify containment on candidates only, exactly as the
    * Jaccard stack does.
    */
  def containmentPairs(
      df: DataFrame,
      id: Column,
      text: Column,
      threshold: Double,
      k: Int = 3,
      maxDf: Int = 1000): DataFrame = {
    val (inter, sizes) = shingleOverlaps(df, id, text, k, maxDf)
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("containment", col("inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 4).as("containment"),
        when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b")).as("contained"))
  }

  /** Eval-set decontamination report: per-training-document k-gram
    * overlap with an evaluation set's shingle universe — the check that
    * keeps benchmark questions out of a training corpus. Emits one row
    * per training document sharing ≥1 shingle with the eval set:
    * (doc_id, n_shingles, n_matched, overlap_ratio, contaminated).
    *
    * Scale: the eval side is a benchmark (thousands of documents, not
    * billions) so its DISTINCT shingle-hash set is broadcast and the
    * training corpus is filtered by a broadcast semi-join — training
    * shingles never shuffle, and the only exchanges are the two per-doc
    * count aggregates. Deciding what to DO with a contaminated document
    * (drop, down-weight, audit) stays with the caller. */
  def contaminationReport(
      train: DataFrame,
      eval: DataFrame,
      id: Column,
      text: Column,
      k: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val evalG = shingleHashes(eval, id, text, k).select("g").distinct()
    // ONE pass over the training shingles: the broadcast LEFT join (not
    // semi) tags each shingle as eval-hit or not — evalG is distinct, so
    // no row multiplication — and a single doc aggregate then yields
    // BOTH the size and the match count. The former sizes/matched pair
    // gave the corpus-scale explosion two lineage parents and executed
    // it twice (AQE stage reuse did not cover the copies).
    val tr = shingleHashes(train, id, text, k)
    tr.join(broadcast(evalG.withColumn("__hit", lit(true))), Seq("g"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_shingles"),
        coalesce(sum(when(col("__hit"), lit(1L))), lit(0L)).as("n_matched"))
      .filter(col("n_matched") >= 1) // only docs with ≥ 1 shared shingle
      // the flag compares the UNROUNDED ratio (filter-then-round, as
      // jaccardPairs does) — rounding first would flip knife-edge docs
      // and diverge from the oracle's unrounded comparison
      .withColumn("__ratio", col("n_matched").cast("double") / col("n_shingles"))
      .withColumn("overlap_ratio", round(col("__ratio"), 4))
      .withColumn("contaminated", col("__ratio") >= threshold)
      .drop("__ratio")
  }

  /** Resolve near-dup PAIRS into clusters: connected components via the
    * alternating large-star/small-star algorithm. Each document in some
    * pair gets a `cluster_id` = the minimum doc id reachable through
    * the pair graph, so "keep one per cluster" is
    * `filter(doc_id === cluster_id)` — the step that turns pairwise
    * dedup output into an actual keep/drop decision (a pair list alone
    * double-drops documents that chain: a~b, b~c must not drop both b
    * and c against different keepers).
    *
    * Each round rewires edges toward each node's minimum neighbor:
    * large-star points every HIGHER neighbor of u at
    * m = min(Γ(u) ∪ u); small-star then points every remaining (lower)
    * neighbor and u itself at m. The fixpoint is a forest of stars,
    * each rooted at its component's minimum — and the round count is
    * O(log² n) in the component size, INDEPENDENT of its diameter
    * (plain min-label propagation needs diameter-many rounds, and
    * chain-shaped boilerplate components grow their diameter with the
    * corpus — the previous formulation here died exactly at scale).
    *
    * Scale shape per round ([[starRound]]): two per-center min passes,
    * each a partial-aggregating `groupBy(center).agg(min)` joined back
    * to the edge table — NOT window minima: a 10^8-degree hub (every
    * near-dup of one boilerplate doc) is one window partition = one
    * straggler task per round, while the groupBy reduces with
    * combiners and the join back is AQE-skew-splittable (the published
    * MR formulation's combiner reduce, re-expressed). Edges only ever
    * carry (long, long), nothing pairwise, no driver-side graph state;
    * the set-equality convergence check is one more shuffle and a
    * driver-side boolean, not a collect of data. Per-round lineage is
    * truncated via [[graft.operators.Lineage.truncate]] (reliable
    * checkpoint when the session has a checkpoint dir, localCheckpoint
    * otherwise).
    */
  /** Quality-aware canonical selection over near-dup clusters: keep the
    * BEST member of each cluster by an explicit quality column instead
    * of [[clusterPairs]]' arbitrary min-id label — the production
    * curation policy (near-dup groups keep their longest /
    * highest-quality representative; the dedup literature's
    * keep-longest rule generalized to any score). Ties break to the
    * smallest id so the choice is deterministic under re-runs.
    *
    * `clusters` is a (doc_id, cluster_id) labeling — only PAIRED docs
    * need rows (clusterPairs' contract); unlabeled docs are singletons
    * and keep themselves. Returns one row per doc:
    * (doc_id, cluster_id, keep).
    *
    * Scale shape: docs left-join the cluster table (cluster rows ≪
    * corpus — only docs that appeared in a dup pair), champions come
    * from `groupBy(cluster).agg(max_by)` — partial aggregation absorbs
    * a giant boilerplate cluster map-side, where a window over the
    * cluster would be one unsplittable task (the d15 hub lesson) — and
    * the champion join-back is an equi-join AQE can skew-split. No
    * windows anywhere. */
  def canonicalByQuality(docs: DataFrame, id: Column, quality: Column,
                         clusters: DataFrame): DataFrame = {
    val labeled = docs.select(id.as("doc_id"), quality.as("__q"))
      .join(clusters, Seq("doc_id"), "left_outer")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    // lexicographic (quality, -id): max picks highest quality, then
    // smallest id on ties
    val champions = labeled.groupBy("cluster_id")
      .agg(max_by(col("doc_id"),
        struct(col("__q"), (col("doc_id") * -1).as("__negid"))).as("__canon"))
    labeled.join(champions, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("__canon")).as("keep"))
  }

  def clusterPairs(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // Truncate the PAIR table itself, exactly once: `nodes` and `edges`
    // both consume it, and the producing pipeline (e.g. MinHash bands +
    // exact-Jaccard verify) is routinely the most expensive plan in the
    // job — two lineage-carrying consumers would execute it twice. After
    // this point every derivation reads the materialized pairs.
    val raw = Lineage.truncate(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
    // every node that appears in any pair gets a label, even nodes whose
    // only pair is a self-loop (dropped from the edge set below); reads
    // the checkpoint, so no truncation of its own needed
    val nodes = raw.select(col("u").as("id")).union(raw.select(col("v").as("id"))).distinct()
    // edge-set sizes ride each truncation (observe, r14): the emptiness
    // probe and the per-round count() pair were one-to-two extra jobs
    // per round over just-checkpointed tables (guide §1.2)
    var (edges, em) = Lineage.truncateObserved(
      raw.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct(), count(lit(1)).as("n"))
    var edgeN = em("n").asInstanceOf[Long]
    var iter = 0
    var converged = edgeN == 0L // nothing to contract: all singletons
    while (!converged && iter < maxIter) {
      val (stepped, steppedN) = starRoundCounted(edges)
      // set equality with the previous round's (distinct) edge set: any
      // edge appearing in exactly one of the two unions means not done.
      // Size equality is necessary for set equality and both counts are
      // free (observed on the rounds' own materializations), so the
      // count gate skips the shuffling diff job in the (many)
      // not-yet-converged rounds.
      converged = steppedN == edgeN &&
        stepped.unionAll(edges)
          .groupBy("u", "v").agg(count(lit(1)).as("__c"))
          .filter(col("__c") === 1).isEmpty
      edges = stepped
      edgeN = steppedN
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"clusterPairs did not converge in $maxIter rounds — pathological for star " +
          s"contraction (O(log² n) rounds); returning partial labels would silently " +
          s"under-dedup. Raise maxIter.")
    // fixpoint edges ARE the labels (node → component min); roots and
    // singleton nodes label themselves
    nodes.join(edges, nodes("id") === edges("u"), "left")
      .select(col("id").as("doc_id"), coalesce(col("v"), col("id")).as("cluster_id"))
  }

  /** One large-star + small-star contraction round over a (checkpointed)
    * high→low edge table — the loop body of [[clusterPairs]], exposed
    * for plan-shape tests. Input and output are both distinct (u, v)
    * edge sets with u > v; the output is eagerly truncated.
    *
    * Both per-center minima are `groupBy(center).agg(min)` + join back,
    * never window minima: combiners absorb hub-degree skew map-side and
    * AQE can split the skewed join partitions, where a window partition
    * is one unsplittable task. `sym` is consumed twice (the aggregate
    * and the join probe) — safe without its own truncation because it
    * derives narrowly from the ALREADY-checkpointed edge table, so the
    * second consumer re-reads checkpoint blocks, not a recomputed plan.
    * The large-star output `ls` IS a join product, so it gets truncated
    * once before its two consumers for the same single-execution
    * guarantee (one extra ≤|E|-row (long, long) materialization per
    * round). `truncate = false` skips both materializations so tests
    * can assert the round's FULL plan shape; production always
    * truncates. */
  private[graft] def starRound(edges: DataFrame, truncate: Boolean = true): DataFrame =
    if (truncate) starRoundCounted(edges)._1
    else starRoundBody(edges, truncate = false)

  /** [[starRound]] with the output edge count observed on the final
    * truncation itself (r14) — the count the convergence gate needs,
    * without a separate job over the just-checkpointed table. */
  private[graft] def starRoundCounted(edges: DataFrame): (DataFrame, Long) = {
    val (out, m) = Lineage.truncateObserved(
      starRoundBody(edges, truncate = true), count(lit(1)).as("n"))
    (out, m("n").asInstanceOf[Long])
  }

  private def starRoundBody(edges: DataFrame, truncate: Boolean): DataFrame = {
    def cut(df: DataFrame): DataFrame =
      if (truncate) Lineage.truncate(df) else df
    // large-star over the symmetrized edges: per center u, point every
    // neighbor v > u at m = min(u, min neighbors). Output stays
    // high→low oriented (v > u ≥ m). NO dedup here: duplicate (v, m)
    // rows (same result from different centers) are ≤ |sym| and the
    // small-star min is insensitive to multiplicity — a distinct would
    // cost a full extra shuffle per round to save carrying ≤ 2|E| rows
    // through one aggregate.
    val sym = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    val ls = cut(
      sym.join(sym.groupBy("u").agg(min("v").as("__mn")), Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("u"), col("__mn")).as("v")))
    // small-star on the (already high→low) edges: per center u, point
    // every neighbor AND u itself at m = min neighbor (< u). The
    // 2-element explode emits both rewired edges in ONE pass over the
    // join output instead of a self-union that would consume it twice.
    val ss = ls.join(ls.groupBy("u").agg(min("v").as("__m")), Seq("u"))
    ss.select(explode(array(col("v"), col("u"))).as("u"), col("__m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Exact n-gram Jaccard verification over candidate pairs — the second
    * stage of the MinHash→verify pipeline (`candidates` must expose
    * `doc_a`/`doc_b`, e.g. [[minHashCandidates]] output). Emits each
    * candidate pair with exact Jaccard ≥ `threshold`.
    *
    * Scale: shingle sets are computed ONLY for documents that appear in
    * some candidate pair (left-semi prune) — at 100 TB this touches the
    * near-dup cluster members, not the corpus. Intersections come from
    * joining each pair to its two shingle sets ((doc_b, g) equi-join),
    * so cost is O(Σ_pair |A|), linear in candidates — the full
    * inverted-index self-join never materializes. */
  def jaccardVerify(
      candidates: DataFrame,
      df: DataFrame,
      id: Column,
      text: Column,
      threshold: Double,
      k: Int = 3): DataFrame = {
    // Two truncation points, both deliberately SMALL tables:
    // - the candidate pairs: consumed by the intersection join AND the
    //   id semi-join — without truncation each consumer re-executes the
    //   producing pipeline (for d2/d15 that is the whole MinHash stage);
    // - the candidate shingles: consumed by the sizes aggregate and
    //   both pair sides — bounded by the near-dup cluster members'
    //   shingles, not the corpus, because the semi-join prunes first.
    val pairs = Lineage.truncate(
      candidates.select(col("doc_a"), col("doc_b")))
    val ids = pairs.select(col("doc_a").as("__cid"))
      .union(pairs.select(col("doc_b").as("__cid"))).distinct()
    val docs = df.join(ids, id === col("__cid"), "left_semi")
    val sh = Lineage.truncate(shingleHashes(docs, id, text, k))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("doc_a"), col("g"))
    val b = sh.select(col("doc_id").as("doc_b"), col("g"))
    val inter = pairs.join(a, Seq("doc_a")).join(b, Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    scoreJaccard(inter, sizes, threshold)
  }

  /** Duplicated-span statistics: for each document, how many of its
    * w-token windows also occur in ANOTHER document — the sub-document
    * duplication signal behind exact-substring training-data dedup
    * (repeated boilerplate, licence blocks, templated passages that
    * whole-document dedup like [[exactDedup]]/[[minHashCandidates]]
    * cannot see). Emits (doc_id, n_windows, n_dup_windows, dup_ratio);
    * documents shorter than `w` tokens have no windows and are absent.
    *
    * A window counts as duplicated iff its EXACT w-gram appears in ≥ 2
    * distinct documents — within-document repeats alone do not flag
    * (they are [[graft.text.TextFunctions.repetitionRatioOf]]'s signal,
    * not cross-document contamination).
    *
    * Scale: windows never shuffle as text — each w-gram is reduced to
    * its 128-bit md5 inside the scan, so the (doc_id, gram) shuffle
    * carries ~24 B per window with map-side combine of within-document
    * repeats. Gram document-frequency is a partial-aggregating
    * `groupBy(gram)` over the doc-distinct gram table, joined back —
    * NOT `count(*) over (partition by gram)`: a window partition gets
    * no map-side combine and AQE cannot split it, so one universal
    * boilerplate gram ("all rights reserved …" as a w-gram) would put
    * ~n_docs rows into ONE task at corpus scale. The groupBy absorbs
    * the Zipf skew in partial aggregation, and the join back is a
    * shuffle join AQE's skew handling CAN split. The per-(doc, gram)
    * table is eagerly truncated ([[graft.operators.Lineage.truncate]])
    * before growing its two consumers (the df aggregate and the join
    * probe), so the expensive gram explosion still executes exactly
    * once (the c20/SURVEY §6d single-parent rule) — the materialized
    * ~24 B/window table is the price of a skew-splittable df.
    * (At 10^13 corpus windows the 128-bit hash's collision odds are
    * ~1e-13 — a collision can only over-count one window as
    * duplicated.) */
  def duplicatedSpanStats(df: DataFrame, id: Column, text: Column, w: Int = 4): DataFrame = {
    require(w >= 1, s"window width must be >= 1, got $w")
    val grams = docTokens(df, id, text)
      .select(col("doc_id"), explode(TextFunctions.shinglesAllOf(col("__t"), w)).as("__g"))
      .select(col("doc_id"), unhex(md5(col("__g"))).as("__gh"))
    val perDoc = Lineage.truncate(
      grams.groupBy("doc_id", "__gh").agg(count(lit(1)).as("__cnt")))
    // doc-distinct per gram, so count(*) per gram IS its document
    // frequency; only the (typically rare) duplicated grams join back
    val dup = perDoc.groupBy("__gh").agg(count(lit(1)).as("__ndocs"))
      .filter(col("__ndocs") >= 2)
      .select(col("__gh"), lit(true).as("__dup"))
    perDoc.join(dup, Seq("__gh"), "left")
      .groupBy("doc_id")
      .agg(sum("__cnt").as("n_windows"),
        sum(when(col("__dup"), col("__cnt")).otherwise(lit(0L))).as("n_dup_windows"))
      .withColumn("dup_ratio",
        round(col("n_dup_windows").cast("double") / col("n_windows"), 4))
  }

  /** Duplicated-span REMOVAL — the rewrite half of [[duplicatedSpanStats]]
    * (the signal says how contaminated a document is; this produces the
    * CLEANED corpus): every token covered by a w-token window whose
    * exact gram occurs in ≥ 2 distinct documents is dropped, and the
    * survivors re-join into `clean_text`. Emits every input document
    * with (clean_text, n_tokens, n_kept). The first occurrence is NOT
    * preserved — cross-document boilerplate is removed everywhere it
    * appears, the conservative policy for training data (keeping one
    * copy requires electing a canonical owner per gram, a different
    * operator).
    *
    * Scale: the gram side is [[duplicatedSpanStats]]'s plan (hashed
    * windows, nothing pairwise): positions ride the per-(doc, gram)
    * aggregate as a collected list, that table is eagerly truncated
    * ONCE, and document frequency is a partial-aggregating
    * `groupBy(gram)` semi-joined back — not a window count, which
    * would put every occurrence of one universal boilerplate gram into
    * a single unsplittable task (no map-side combine, no AQE split; the
    * d4/c20 stop-gram lesson). The groupBy absorbs the Zipf skew in
    * partial agg and the semi-join is AQE-skew-splittable; the
    * truncation keeps the expensive gram explosion at exactly one
    * execution (the c20/SURVEY §6d single-parent rule; an untruncated
    * `grams.join(f(grams))` shape re-executes the explosion under AQE).
    * The per-(doc, gram) position list is bounded by within-document
    * repeats of ONE gram — boilerplate-heavy rows pay proportionally,
    * never more than their own window count. The mask side re-reads the
    * source (scan + tokenize, a narrow column-pruned second scan — the
    * deliberate trade against materializing the tokenized corpus) and
    * joins the bounded per-doc start arrays back by doc id. The mask
    * itself is the native [[graft.expressions.SpanMask]] sorted-merge
    * sweep — O(tokens + starts) per row inside whole-stage codegen
    * (the interpreted filter/exists HOF pair it replaced re-walked the
    * start array once per token). */
  def removeDuplicatedSpans(df: DataFrame, id: Column, text: Column, w: Int = 4): DataFrame =
    removeSpans(df, id, text, w) { grams =>
      val perDoc = Lineage.truncate(
        grams.groupBy("doc_id", "__gh").agg(collect_list(col("__pos")).as("__ps")))
      val dup = perDoc.groupBy("__gh").agg(count(lit(1)).as("__ndocs"))
        .filter(col("__ndocs") >= 2)
        .select(col("__gh"))
      perDoc.join(dup, Seq("__gh"), "left_semi")
        .select(col("doc_id"), explode(col("__ps")).as("__pos"))
    }

  /** The plan every span remover shares: tokens staged once
    * ([[docTokens]]), w-gram occurrences as (doc_id, __pos, __gh) with
    * the gram reduced to its 128-bit md5 inside the scan, the
    * occurrences the `drop` policy picks collected into sorted per-doc
    * start arrays, and the native
    * [[graft.expressions.SpanExpressions.spanMask]] sweep over the
    * tokens. Emits one row per document:
    * (doc_id, clean_text, n_tokens, n_kept). */
  private def removeSpans(df: DataFrame, id: Column, text: Column, w: Int)(
      drop: DataFrame => DataFrame): DataFrame = {
    require(w >= 1, s"window width must be >= 1, got $w")
    // Truncated (r14 session 2): toks has TWO plan parents (the gram
    // explosion and the final mask join), so tokenize + the spread
    // exchange ran twice — the d31b fix. The mask side inherits the
    // spread parallelism (its starts join is broadcast-sized,
    // preserving the probe side's partitioning).
    val toks = Lineage.truncate(docTokens(df, id, text))
    val grams = toks
      .select(col("doc_id"), posexplode(TextFunctions.shinglesAllOf(col("__t"), w)))
      .select(col("doc_id"), col("pos").as("__pos"), unhex(md5(col("col"))).as("__gh"))
    val starts = drop(grams)
      .groupBy("doc_id").agg(sort_array(collect_set(col("__pos"))).as("__starts"))
    toks.join(starts, Seq("doc_id"), "left")
      .withColumn("__starts", coalesce(col("__starts"), array().cast("array<int>")))
      // token at 0-based index i survives iff no dropped window
      // starting at s covers it (s <= i <= s + w - 1): the native
      // sorted-merge sweep, O(tokens + starts) — the HOF filter/exists
      // pair it replaced re-walked the starts per token
      .withColumn("__kept", graft.expressions.SpanExpressions.spanMask(
        col("__t"), col("__starts"), w))
      .select(col("doc_id"),
        array_join(col("__kept"), " ").as("clean_text"),
        size(col("__t")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"))
  }

  /** Duplicated-span removal, CANONICAL-OWNER policy — the variant
    * [[removeDuplicatedSpans]] deliberately does not implement: each
    * cross-document gram elects the document with the MINIMUM id as its
    * owner, which keeps every occurrence; all other documents drop the
    * covered tokens. One copy of shared boilerplate survives the
    * corpus (the reference-dedup policy when the duplicated text is
    * legitimate content somewhere — licence headers, canonical
    * definitions — rather than noise to purge everywhere).
    *
    * Same truncated-gram, skew-splittable plan as
    * [[removeDuplicatedSpans]]; the owner election rides the df
    * aggregate (`min(doc_id)` alongside the count in the SAME
    * partial-aggregating groupBy — one shuffle, combiners absorb the
    * Zipf skew that a per-gram window would concentrate into one
    * task), and non-owner occurrences come from the inner join back to
    * the truncated per-(doc, gram) table. Deterministic: min-id
    * ownership needs no tie-break. */
  def removeDuplicatedSpansKeepFirst(df: DataFrame, id: Column, text: Column, w: Int = 4): DataFrame =
    removeSpans(df, id, text, w) { grams =>
      val perDoc = Lineage.truncate(
        grams.groupBy("doc_id", "__gh").agg(collect_list(col("__pos")).as("__ps")))
      val owners = perDoc.groupBy("__gh")
        .agg(count(lit(1)).as("__ndocs"), min("doc_id").as("__owner"))
        .filter(col("__ndocs") >= 2)
        .select(col("__gh"), col("__owner"))
      perDoc.join(owners, Seq("__gh"))
        .filter(col("doc_id") =!= col("__owner"))
        .select(col("doc_id"), explode(col("__ps")).as("__pos"))
    }

  /** Soft dedup — duplicate-aware sampling WEIGHTS instead of dropping:
    * every document gets `weight = 1/|near-dup cluster|` (singletons
    * weight 1), so an epoch sampled proportional to `weight` sees each
    * distinct content unit once in expectation while keeping every
    * surface form available (the duplication-count reweighting used
    * when near-dups carry legitimate variation worth sampling across —
    * the drop policies are [[exactDedup]]/[[canonicalKeep]]). Pipeline
    * = the D2/D15 stack (MinHash candidates → exact-Jaccard verify →
    * star-contraction components) + one partial-agg size count joined
    * back on the cluster key; docs outside every pair never enter the
    * component rounds and coalesce to their own id at weight 1. */
  def duplicationWeights(df: DataFrame, id: Column, text: Column, threshold: Double = 0.5,
                         numHashes: Int = 32, numBands: Int = 8): DataFrame = {
    val pairs = jaccardVerify(minHashCandidates(df, id, text, numHashes, numBands),
      df, id, text, threshold)
    val clusters = clusterPairs(pairs)
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("__csz"))
    // both joins are merge-HINTED: the size table is cluster-count-sized
    // and the back-join is corpus-sized on both sides, so sort-merge is
    // the 100-TB strategy anyway — and the hint removes the AQE
    // broadcast-conversion race that made this plan's executed shape
    // flap at small SF (observed 1-in-several golden regenerations)
    val assigned = clusters.join(sizes.hint("merge"), "cluster_id")
    df.select(id.as("doc_id")).join(assigned.hint("merge"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("__csz"), lit(1L)).as("cluster_size"),
        round(lit(1.0) / coalesce(col("__csz"), lit(1L)), 6).as("weight"))
  }

  /** Near-dup-safe train/val/test split: assign every member of a
    * near-duplicate CLUSTER to the same split by hashing the cluster
    * label, not the document — closing the leakage channel
    * [[graft.operators.Sampling.leakageSafeSplit]]'s exact-content
    * fingerprint cannot see (a lightly-edited copy of a train document
    * landing in test is still leakage; its fingerprint differs, its
    * cluster does not). Uses the D2 MinHash→verify→components stack
    * for the clusters (singletons label themselves), then D33's
    * deterministic md5-bucket assignment on the label. Emits
    * (doc_id, cluster_id, split). */
  def clusterSafeSplit(df: DataFrame, id: Column, text: Column,
      splits: Seq[(String, Double)], threshold: Double = 0.5,
      salt: String = ""): DataFrame =
    duplicationWeights(df, id, text, threshold)
      .withColumn("split",
        graft.operators.Sampling.assignSplit(col("cluster_id"), splits, salt))
      .select(col("doc_id"), col("cluster_id"), col("split"))

  /** Cluster-quality audit for transitive near-dup components: the
    * known failure of connected-component dedup is OVER-MERGE — A~B
    * and B~C chain A and C into one cluster although A~C may be far
    * below threshold, and at corpus scale chains snowball into one
    * giant "cluster" of barely-related documents. This report makes
    * that visible per cluster: member count, verified-edge count, edge
    * DENSITY (edges / C(n,2) — 1.0 means every pair verified similar,
    * low density means the cluster is held together by chains), and
    * the min/avg verified similarity. Act on it by raising the
    * threshold, capping cluster size, or switching the low-density
    * clusters to D15b's canonical-keep with per-edge verification.
    * One extra cluster-keyed aggregate over the (small) verified pair
    * table — the audit costs nothing corpus-sized beyond the dedup
    * pipeline it audits. */
  def clusterQuality(df: DataFrame, id: Column, text: Column,
      threshold: Double = 0.5): DataFrame = {
    // pairs has TWO plan parents (the component rounds and the edge
    // stats) — truncate so the MinHash→verify pipeline executes once
    // and the executed shape can't flap on AQE exchange-reuse timing
    // (the c20/§6d single-parent rule; observed as a one-off golden
    // drift under suite load in r9)
    val pairs = Lineage.truncate(
      jaccardVerify(minHashCandidates(df, id, text), df, id, text, threshold))
    val clusters = clusterPairs(pairs)
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    val edges = pairs
      .join(clusters.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_edges"),
        min(col("jaccard")).as("__minj"), avg(col("jaccard")).as("__avgj"))
    sizes.join(edges, "cluster_id")
      .select(col("cluster_id"), col("n_members"), col("n_edges"),
        round(col("n_edges") * 2.0 / (col("n_members") * (col("n_members") - 1)), 4)
          .as("density"),
        round(col("__minj"), 4).as("min_jaccard"),
        round(col("__avgj"), 4).as("avg_jaccard"))
  }

  /** Contamination-span removal against an eval set — the surgical
    * sibling of [[contaminationReport]] (D25): instead of DROPPING a
    * training document whose shingle overlap crosses a threshold, MASK
    * exactly the tokens covered by a w-gram the eval set contains
    * (the right call when the overlap is an embedded quotation or
    * shared boilerplate, not a copied benchmark item — dropping would
    * discard the document's clean remainder). Same truncated-gram +
    * [[graft.expressions.SpanExpressions.spanMask]] sweep as
    * [[removeDuplicatedSpans]]; the eval-gram set is a DISTINCT
    * md5-hash table broadcast into a semi-join (eval benchmarks are
    * definitionally tiny next to the corpus — at an eval set too big
    * to broadcast, drop the hint and the semi-join shuffles on the
    * uniformly-distributed 16-byte hash, no skew). Emits one row per
    * training document: (doc_id, clean_text, n_tokens, n_kept). */
  def removeContaminatedSpans(df: DataFrame, evalDf: DataFrame, id: Column,
                              text: Column, evalText: Column, w: Int = 4): DataFrame =
    removeSpans(df, id, text, w) { grams =>
      val evalGrams = evalDf
        .select(TextFunctions.shinglesAllOf(TextFunctions.tokens(evalText), w).as("__eg"))
        .select(explode(col("__eg")).as("__g"))
        .select(unhex(md5(col("__g"))).as("__gh"))
        .distinct()
      grams.join(broadcast(evalGrams), Seq("__gh"), "left_semi")
    }

  /** D91 — EXACT-substring dedup at ≥k-token granularity (Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better"):
    * any substring of ≥ k tokens that occurs MORE THAN ONCE in the
    * corpus — across documents OR repeated inside one — is removed
    * everywhere except its single globally-first occurrence
    * (lexicographically smallest (doc_id, position)). The production
    * dedup tier between whole-document hashing and near-dup MinHash:
    * the paper's suffix-array construction re-expressed relationally as
    * grouped k-gram anchors. A repeated substring of length L ≥ k is
    * exactly a run of L − k + 1 repeated k-grams, so "every token
    * covered by a duplicated k-gram occurrence (minus the kept first
    * copy)" reproduces the paper's coverage without materializing any
    * suffix array — the k-gram table IS the anchor index.
    *
    * Differs from [[removeDuplicatedSpans]] on the two axes that make
    * it the Lee-et-al operator: duplication counts TOTAL occurrences
    * (a within-document repeat is a duplicate; D31 counts distinct
    * documents), and the first occurrence SURVIVES (D31 removes all
    * copies — the boilerplate-purge policy; D31b keeps a whole-document
    * owner per gram rather than the global first occurrence).
    *
    * Scale: [[removeDuplicatedSpans]]'s plan shape exactly — one gram
    * explosion, truncated ONCE (single-parent rule); the global
    * occurrence count and first-occurrence election ride the SAME
    * partial-aggregating `groupBy(gram)` (`sum` of per-doc counts +
    * `min(struct(doc, first_pos))` — combiners absorb the Zipf head, a
    * 10⁴-copy boilerplate gram contributes 10⁴ combiner-side rows and
    * ONE reduce-side row, never a window over the corpus-frequency
    * key); the join back on the 16-byte hash is AQE-skew-splittable;
    * the mask is the native [[graft.expressions.SpanMask]] sweep. At
    * the canonical k = 50 the gram table is ~(tokens − 49) × 24 B rows
    * — the same budget §5b prices for D28. */
  def exactSubstringDedup(df: DataFrame, id: Column, text: Column, k: Int = 50): DataFrame =
    removeSpans(df, id, text, k) { grams =>
      val perDoc = Lineage.truncate(
        grams.groupBy("doc_id", "__gh")
          .agg(sort_array(collect_list(col("__pos"))).as("__ps"),
            count(lit(1)).as("__n")))
      val dup = perDoc.groupBy("__gh")
        .agg(sum(col("__n")).as("__nocc"),
          min(struct(col("doc_id").as("d"),
            element_at(col("__ps"), 1).as("p"))).as("__own"))
        .filter(col("__nocc") >= 2)
        .select(col("__gh"), col("__own"))
      perDoc.join(dup, Seq("__gh"))
        .select(col("doc_id"),
          // the globally-first occurrence survives: the owner doc sheds
          // only the owner POSITION (its other repeats of the same gram
          // are still duplicates); per-(doc, gram) arrays are bounded by
          // within-document repeats of one gram, so the HOF is row-local
          explode(when(col("doc_id") === col("__own.d"),
              filter(col("__ps"), p => p =!= col("__own.p")))
            .otherwise(col("__ps"))).as("__pos"))
    }

  /** Cross-document PARAGRAPH dedup with document reassembly — the
    * RefinedWeb/C4 granularity between whole-document dedup
    * ([[exactDedup]]) and w-gram span removal
    * ([[removeDuplicatedSpans]]): blank-line-separated paragraphs are
    * fingerprinted on normalized content, the globally FIRST occurrence
    * (lexicographically smallest (doc_id, position)) survives, every
    * later copy — across documents or within one — is dropped, and the
    * survivors rejoin in original order as `clean_text` (joined with a
    * blank line). Emits one row per document that has at least one
    * non-blank paragraph: (doc_id, n_paras, n_kept, clean_text); a
    * fully-deduplicated document keeps the row with `clean_text = ""`.
    *
    * Scale: the exploded (doc, pos, para, fingerprint) table is
    * truncated ONCE (it feeds both the winner election and the
    * join-back — the single-parent rule); the first-occurrence winner
    * is `min(struct(doc_id, pos))` in a partial-aggregating
    * `groupBy(fingerprint)` — combiners absorb the Zipf head of
    * universal boilerplate paragraphs, and the join back on the
    * fingerprint is AQE-skew-splittable (never a window over the
    * corpus-frequency key). Reassembly groups by doc id, a partition
    * bounded by each document's own paragraph count. */
  def paragraphDedup(df: DataFrame, id: Column, text: Column): DataFrame = {
    val staged = Lineage.truncate(paragraphs(df, id, text))
    val winners = staged.groupBy("__fp")
      .agg(min(struct(col("doc_id"), col("__pos"))).as("__win"))
    reassemble(staged.join(winners, Seq("__fp"))
      .withColumn("__keep",
        col("doc_id") === col("__win.doc_id") && col("__pos") === col("__win.__pos")))
  }

  /** (doc_id, __pos, __p, __fp): the non-blank blank-line-separated
    * paragraphs of each document with their position and the md5 of
    * their normalized content. */
  private def paragraphs(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"), posexplode(split(coalesce(text, lit("")), "\n{2,}")))
      .filter(length(trim(col("col"))) > 0)
      .select(col("doc_id"), col("pos").as("__pos"), col("col").as("__p"),
        unhex(md5(TextFunctions.normalize(col("col")))).as("__fp"))

  /** One row per document from its judged paragraphs
    * (doc_id, __pos, __p, __keep): (doc_id, n_paras, n_kept,
    * clean_text), the kept paragraphs rejoined in original order. */
  private def reassemble(judged: DataFrame): DataFrame =
    judged.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws("\n\n",
          transform(
            array_sort(collect_list(when(col("__keep"), struct(col("__pos"), col("__p"))))),
            s => s.getField("__p"))).as("clean_text"))

  /** (para_hash) index of a corpus's paragraph fingerprints — persist
    * this (parquet, bucketed by hash) as the paragraph-dedup state. */
  def paragraphIndex(df: DataFrame, text: Column): DataFrame =
    // no id: only the fingerprints are kept, so the optimizer prunes it
    paragraphs(df, lit(null), text).select(col("__fp").as("para_hash")).distinct()

  /** Incremental paragraph dedup — [[exactDedupAgainst]]'s day-2
    * discipline applied to [[paragraphDedup]]: a NEW batch's paragraph
    * survives iff its fingerprint is absent from the persisted
    * [[paragraphIndex]] AND no lexicographically-earlier batch-mate
    * shares it. Index rows are never re-judged and the indexed corpus
    * is never re-scanned: the index is the only corpus-sized input,
    * joined exactly once on the fingerprint (AQE-skew-splittable; the
    * batch-side winner election is the same partial-aggregating
    * `min(struct)`). Emits the same shape as [[paragraphDedup]]; feed
    * the kept fingerprints back with [[paragraphIndex]] ∪ batch
    * survivors to advance the state. */
  def paragraphDedupAgainst(newDocs: DataFrame, id: Column, text: Column,
                            index: DataFrame): DataFrame = {
    val staged = Lineage.truncate(paragraphs(newDocs, id, text))
    val winners = staged.groupBy("__fp")
      .agg(min(struct(col("doc_id"), col("__pos"))).as("__win"))
      .join(index.select(col("para_hash").as("__fp")), Seq("__fp"), "left_anti")
    reassemble(staged.join(winners, Seq("__fp"), "left")
      .withColumn("__keep",
        col("__win").isNotNull &&
          col("doc_id") === col("__win.doc_id") && col("__pos") === col("__win.__pos")))
  }
}
