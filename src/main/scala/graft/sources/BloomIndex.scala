package graft.sources

import graft.expressions.BloomSketch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file Bloom sidecar index for EQUALITY point lookups — the
  * membership complement of [[Manifest]]'s min/max ranges. Footer
  * min/max prunes nothing on a high-cardinality column with no sort
  * order (every file's [min, max] spans the whole domain); a per-file
  * Bloom filter answers "could this file contain v?" regardless of
  * layout, with false positives costing only an extra file open and
  * false negatives impossible — the design parquet's own optional
  * bloom_filter metadata and Iceberg/Delta file-skipping stats serve,
  * expressed over the C8g mergeable Bloom aggregate so the sidecar is
  * buildable (and re-buildable per partition) as a plain query.
  *
  * At 100 TB: the sidecar is one row per (file, column) — a few bytes
  * × `fpp`-sized bitset per file, read wholesale on the driver
  * (file-list-bounded, like [[Manifest.candidateFiles]]); the
  * filtering decision never touches data files, and a point lookup on
  * an 800k-file table opens ~`n_files × fpp + |hits|` files instead of
  * all of them.
  */
object BloomIndex {

  /** Build the (file, bloom) sidecar for `column` over the parquet
    * files under `dir`. `expectedPerFile` sizes each filter (overshoot
    * is wasted bytes, undershoot inflates fpp — row-group row counts
    * from [[Manifest]] are the right source when unsure). Values are
    * inserted as strings (cast before probe, same contract as C8g). */
  def build(spark: SparkSession, dir: String, column: String,
      expectedPerFile: Long = 1000000L, fpp: Double = 0.01): DataFrame =
    spark.read.parquet(dir)
      .select(input_file_name().as("file"), col(column).cast("string").as("__v"))
      .groupBy("file")
      .agg(BloomSketch.bloomAgg(col("__v"), expectedPerFile, fpp).as("bloom"))

  /** Hard ceiling on the sidecar rows [[candidateFiles]] will collect:
    * driver memory is files × bloom size (≈1.2 MB/file at the default
    * `expectedPerFile`/`fpp`), so 10⁴ files ≈ 12 GB — past this, the
    * collect OOMs the driver instead of pruning. The fix is upstream:
    * compact the table first (C19) so the file count drops, or rebuild
    * with a smaller `expectedPerFile`. The guard fails loud with that
    * advice rather than dying in an opaque heap dump. */
  val MaxSidecarFiles: Long = 10000L

  /** Files that MIGHT contain `value` — exact hits plus ~fpp false
    * positives; never misses. Driver-side over the sidecar (one row
    * per file — bounded like the manifest, and GUARDED: the collect is
    * files × bloom-size driver bytes, see [[MaxSidecarFiles]]). The
    * guard rides the SAME pass as the collect (a limit one past the
    * ceiling), so an uncached sidecar aggregate executes once. */
  def candidateFiles(index: DataFrame, value: String): Seq[String] = {
    val rows = index.select("file", "bloom")
      .limit(MaxSidecarFiles.toInt + 1).collect()
    require(rows.length <= MaxSidecarFiles,
      s"Bloom sidecar has > $MaxSidecarFiles files: collecting it would hold " +
        "files x bloom-size bytes on the driver. Compact the table first " +
        "(sources/Compaction, C19) or rebuild the index with a smaller " +
        "expectedPerFile, then retry.")
    rows
      .filter(r => BloomSketch.mightContainValue(r.getAs[Array[Byte]]("bloom"), value))
      .map(_.getString(0)).toSeq
  }

  /** Bloom-pruned point-lookup read: semantically identical to
    * `spark.read.parquet(dir).filter(col(column) === value)` — the
    * row filter still applies on the surviving files (and pushes into
    * their scans), the index only shrinks the FILE LIST. */
  def prunedRead(spark: SparkSession, dir: String, column: String,
      value: String, index: DataFrame): DataFrame =
    prunedRead(spark, dir, column, value, candidateFiles(index, value))

  /** Overload for callers that already hold the candidate list (a
    * batch of probes collects the sidecar once per probe through
    * [[candidateFiles]]; re-deriving it here would double every
    * driver round-trip). */
  def prunedRead(spark: SparkSession, dir: String, column: String,
      value: String, paths: Seq[String]): DataFrame =
    Manifest.readCandidates(spark, dir, paths, col(column).cast("string") === value)
}
