package graft.vectors

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding columns — the other half of
  * the vector-compression story next to [[Quantize]]'s int8: split each
  * d-dim vector into `m` subvectors, learn a `kCodes`-entry codebook
  * per subspace (k-means in the subspace), and store each vector as `m`
  * small codes — d·4 bytes → m bytes (64-dim float32 at m=8, k=16:
  * 256 B → 8 B, 32×), with distances computable FROM THE CODES alone
  * (asymmetric distance, ADC: per query, precompute the m×k table of
  * query-subvector→centroid squared distances; a candidate's distance
  * is m table lookups). The IVF-PQ pairing is the standard
  * billion-vector layout: coarse lists from [[graft.similarity.Ann]],
  * PQ codes inside each list.
  *
  * Spark decomposition:
  *  - TRAIN: md5-deterministic init (the [[graft.similarity.Ann.ivfCentroids]]
  *    sampling rule — no RNG, engine-reproducible), then Lloyd rounds
  *    where assignment is the same literal-codebook `encode` expression
  *    (narrow map) and the mean is a (subspace, code, dim)-keyed partial
  *    aggregate — per round: one scan, one shuffle of m·k·subDim group
  *    rows, one tiny driver collect (the codebook is dim·kCodes doubles;
  *    driver state never scales with the corpus).
  *  - ENCODE / ADC / DECODE: pure narrow expressions over literal
  *    codebooks — zero shuffle, composable into any scan, exactly the
  *    [[Pca.PcaModel.projection]] shape.
  *
  * Codes are 0-based; empty clusters keep their previous centroid
  * (Lloyd convention shared with [[graft.similarity.Ann.refineCentroids]]).
  */
object Pq {

  final case class PqModel(
      dim: Int,
      m: Int,
      kCodes: Int,
      codebooks: Array[Array[Array[Double]]]) { // [m][kCodes][subDim]

    def subDim: Int = dim / m
    private def cbLit: Column = typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    /** Flattened codebooks for the native expressions:
      * `flat[(j·kCodes + c)·subDim + d] = codebooks(j)(c)(d)`. Built
      * once: the expressions compare `books` by reference, so every
      * expression from one model must share this array for
      * canonicalisation and CSE to see them as equal. */
    private lazy val cbFlat: Array[Double] = {
      val a = new Array[Double](m * kCodes * subDim)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < kCodes) {
          System.arraycopy(codebooks(j)(c), 0, a, (j * kCodes + c) * subDim, subDim)
          c += 1
        }
        j += 1
      }
      a
    }

    /** `array<int>` of length m: each subvector's nearest (squared-L2)
      * codebook entry, ties to the lowest code — a narrow map. Runs as
      * the native [[graft.expressions.PqEncode]] (round-13: the
      * interpreted HOF chain this replaces was 2.7 s per Lloyd-round
      * pass at sf0.1; the fold order and first-min tie rule are
      * preserved bit-for-bit, spec-pinned against the HOF formulation
      * in PqSpec). */
    def encode(vec: Column): Column =
      graft.expressions.PqExpressions.pqEncode(
        VectorOps.toDouble(vec), m, kCodes, subDim, cbFlat)

    /** Squared-L2 asymmetric distance from a full query-vector column
      * to the reconstruction of a codes column — bit-identical to
      * `aggregate(zip_with(query, decode(codes), (a,b) => (a-b)²),
      * 0.0, _+_)`, fused into one native pass. */
    def adcL2(query: Column, codes: Column): Column =
      graft.expressions.PqExpressions.pqAdcL2(query, codes, m, kCodes, subDim, cbFlat)

    /** Squared-L2 reconstruction error `Σ(v − decode(encode(v)))²`,
      * fused (the argmin and the error accumulate in one native pass;
      * additions happen in the exact global dim order of the flat
      * zip_with fold). */
    def quantErr(vec: Column): Column =
      graft.expressions.PqExpressions.pqQuantErr(
        VectorOps.toDouble(vec), m, kCodes, subDim, cbFlat)

    /** Reconstruction: concatenate the looked-up centroids. */
    def decode(codes: Column): Column = {
      val cb = cbLit
      flatten(zip_with(codes, cb, (c, book) => element_at(book, c + 1)))
    }

    /** The m×k ADC lookup table for one query vector (driver-side). */
    def adcTables(query: Array[Double]): Array[Array[Double]] = {
      require(query.length == dim, s"query must be $dim-dim, got ${query.length}")
      Array.tabulate(m, kCodes) { (j, c) =>
        var s = 0.0
        var d = 0
        while (d < subDim) {
          val diff = query(j * subDim + d) - codebooks(j)(c)(d)
          s += diff * diff
          d += 1
        }
        s
      }
    }

    /** Squared-L2 ADC distance of a codes column to `query`: m table
      * lookups per row, the tables riding as literals — EXACTLY the
      * squared distance from the query to the DECODED vector. */
    def adcDistance(codes: Column, query: Array[Double]): Column = {
      val tables = typedLit(adcTables(query).map(_.toSeq).toSeq)
      aggregate(zip_with(codes, tables, (c, t) => element_at(t, c + 1)), lit(0.0), _ + _)
    }
  }

  /** Deterministic init: the `kCodes` corpus vectors with the smallest
    * md5-derived keys seed EVERY subspace's codebook (their
    * subvectors). With `rounds = 0` the whole model is a pure function
    * of the md5 rule — engine-reproducible for cross-checks. */
  def train(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      kCodes: Int,
      rounds: Int = 3): PqModel = {
    require(m >= 1 && dim % m == 0, s"m must divide dim: dim=$dim, m=$m")
    require(kCodes >= 1, s"kCodes must be >= 1, got $kCodes")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val subDim = dim / m
    val seeds = df
      .select(col(idCol).cast("string").as("__id"), VectorOps.toDouble(col(vecCol)).as("__v"))
      .withColumn("__h", conv(substring(md5(col("__id")), 1, 15), 16, 10).cast("long"))
      .orderBy(col("__h"), col("__id")).limit(kCodes)
      .select("__v").collect().map(_.getSeq[Double](0).toArray)
    require(seeds.length == kCodes,
      s"need at least $kCodes vectors to seed the codebooks, got ${seeds.length}")
    val model = PqModel(dim, m, kCodes,
      Array.tabulate(m, kCodes)((j, c) => seeds(c).slice(j * subDim, (j + 1) * subDim)))
    refine(df, vecCol, model, rounds)
  }

  /** `rounds` further Lloyd refinements of an existing model —
    * `train(df, …, rounds = r)` ≡ `refine(df, vecCol, train(df, …,
    * rounds = 0), r)`. Public so a caller holding the rounds-0 model
    * (the oracle-replayable half) can derive the trained one without
    * re-running the seed-selection job (round-13: d79c paid that
    * corpus scan twice). */
  def refine(df: DataFrame, vecCol: String, model: PqModel, rounds: Int): PqModel = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    var m = model
    var r = 0
    while (r < rounds) {
      m = lloydRound(df, vecCol, m)
      r += 1
    }
    m
  }

  /** One Lloyd step: encode with the current books (narrow map), mean
    * per (subspace, code, dim) by partial aggregation, collect the
    * dim·kCodes-double codebook. Empty codes keep their centroid. */
  private def lloydRound(df: DataFrame, vecCol: String, model: PqModel): PqModel = {
    val subDim = model.subDim
    val means = df
      .select(VectorOps.toDouble(col(vecCol)).as("__v"))
      .withColumn("__codes", model.encode(col("__v")))
      .select(posexplode(col("__codes")).as(Seq("__j", "__c")), col("__v"))
      .select(col("__j"), col("__c"),
        posexplode(slice(col("__v"), col("__j") * subDim + 1, lit(subDim)))
          .as(Seq("__d", "__x")))
      .groupBy("__j", "__c", "__d").agg(avg("__x").as("__mean"))
      .collect()
    val books = model.codebooks.map(_.map(_.clone()))
    means.foreach { row =>
      books(row.getInt(0))(row.getInt(1))(row.getInt(2)) = row.getDouble(3)
    }
    model.copy(codebooks = books)
  }
}
