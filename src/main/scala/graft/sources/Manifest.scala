package graft.sources

import graft.etl.HadoopFs
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max manifest over a plain-parquet dataset — the
  * data-skipping index of Delta/Iceberg, without a table format.
  *
  * Spark's own row-group pruning happens per file AT READ TIME: the
  * scan still lists, opens, and reads the footer of every file. At
  * 100 TB (~800k files) the win is pruning the FILE LIST first: a
  * persisted manifest answers "which files can possibly contain
  * l_orderkey ∈ [a, b]" with a metadata-only lookup, and the query
  * then reads only those paths. Combined with a sorted/Z-ordered
  * layout ([[Zorder]]) the candidate set collapses to a handful of
  * files per predicate.
  *
  * [[build]] reads ONLY parquet footers (no row data), distributed:
  * the file list parallelizes across the cluster and each task opens
  * its files' metadata — ~KBs per file. Rebuild incrementally by
  * manifesting new files and unioning (the parquet layout is
  * append-only, so old manifest rows stay valid — the same argument
  * as C8c's sketch state).
  */
object Manifest {

  /** Tall manifest: one row per (file, numeric column) with
    * `(n_rows, min_val, max_val, has_nulls)`, doubles covering both
    * integer and floating columns (exact for longs up to 2^53 — at
    * larger magnitudes widen the bound by 1 ulp rather than tighten).
    * Non-numeric columns are skipped (string bounds need
    * truncation-aware comparison; out of scope). Missing stats
    * (ancient writers) yield null bounds — treated as "may contain
    * anything" by [[candidateFiles]]. */
  def build(spark: SparkSession, dir: String, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "need at least one column")
    import spark.implicits._
    // recursive: a Hive-partitioned layout keeps data files under
    // col=value subdirectories — a top-level-only listing would yield
    // an EMPTY manifest there, and empty manifests prune everything
    val files = HadoopFs.dataFiles(spark, dir).map(_.getPath.toString)
    // Hadoop Configuration is not Serializable; ship its entries as a
    // plain map and rebuild per task (so s3a/hdfs credentials and
    // filesystem settings survive into the executors)
    import scala.jdk.CollectionConverters._
    val confEntries = HadoopFs.conf(spark).iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap
    val confB = spark.sparkContext.broadcast(confEntries)
    val cols = columns.toArray
    spark.createDataset(files)
      .repartition(math.max(1, math.min(files.size, 64)))
      .mapPartitions { paths =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confB.value.foreach { case (k, v) => conf.set(k, v) }
        paths.flatMap { path =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
          try {
            val meta = reader.getFooter.getBlocks
            import scala.jdk.CollectionConverters._
            val blocks = meta.asScala.toSeq
            val nRows = blocks.map(_.getRowCount).sum
            cols.toSeq.flatMap { c =>
              val chunks = blocks.flatMap(_.getColumns.asScala
                .find(_.getPath.toDotString == c))
              if (chunks.isEmpty) None
              else {
                val stats = chunks.map(_.getStatistics)
                def num(v: Any): Option[Double] = v match {
                  case n: java.lang.Number => Some(n.doubleValue())
                  case _ => None
                }
                val mins = stats.map(s =>
                  if (s == null || !s.hasNonNullValue) None else num(s.genericGetMin()))
                val maxs = stats.map(s =>
                  if (s == null || !s.hasNonNullValue) None else num(s.genericGetMax()))
                val hasNulls = stats.exists(s => s == null || s.getNumNulls != 0)
                // any row-group without usable stats ⇒ unknown bounds
                val mn = if (mins.exists(_.isEmpty)) None else Some(mins.flatten.min)
                val mx = if (maxs.exists(_.isEmpty)) None else Some(maxs.flatten.max)
                Some((path, nRows, c, mn, mx, hasNulls))
              }
            }
          } finally reader.close()
        }
      }
      .toDF("file", "n_rows", "column", "min_val", "max_val", "has_nulls")
  }

  /** Files that may contain `column` values in [lo, hi]: bounds
    * disjoint from the interval are pruned; null bounds are kept
    * (unknown ⇒ must read). Returns the path list for
    * `spark.read.parquet(paths: _*)`. */
  def candidateFiles(manifest: DataFrame, column: String, lo: Double, hi: Double): Seq[String] = {
    require(lo <= hi, s"empty interval [$lo, $hi]")
    manifest.filter(col("column") === column)
      .filter(col("min_val").isNull || col("max_val").isNull ||
        !(col("max_val") < lo || col("min_val") > hi))
      .select("file").distinct()
      .collect().map(_.getString(0)).toSeq
  }

  /** Manifest-pruned range scan — C24's manifest composed with C17's
    * layout into the one-call read path: prune the FILE LIST through
    * the manifest, open only survivors, then apply the row-level
    * predicate on what remains. Semantically identical to
    * `spark.read.parquet(dir).filter(column between lo and hi)` —
    * file-level stats give a SUPERSET of matching files, and the kept
    * row filter (still pushed into the surviving scans) removes the
    * rest — but on a z-ordered/sorted layout the scan opens a handful
    * of files instead of listing and footer-reading all of them, which
    * at 800k files is the difference between a metadata lookup and a
    * minute of driver/NN churn.
    *
    * Pass the persisted `manifest` (the production path — rebuilding
    * per query would re-read every footer); omit it only for ad-hoc
    * use, where [[build]] runs first over just `column`. An empty
    * candidate set returns an empty DataFrame with the layout's schema
    * without touching a single data file. */
  def prunedRead(
      spark: SparkSession,
      dir: String,
      column: String,
      lo: Double,
      hi: Double,
      manifest: Option[DataFrame] = None): DataFrame = {
    val m = manifest.getOrElse(build(spark, dir, Seq(column)))
    readCandidates(spark, dir, candidateFiles(m, column, lo, hi),
      col(column) >= lit(lo) && col(column) <= lit(hi))
  }

  /** The candidate `paths` under `dir` filtered by `rowPredicate`, or,
    * when none survive, an empty frame with the layout's schema. */
  private[graft] def readCandidates(spark: SparkSession, dir: String, paths: Seq[String],
      rowPredicate: Column): DataFrame =
    if (paths.isEmpty) {
      val schema = spark.read.parquet(dir).schema
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else
      spark.read.option("basePath", dir).parquet(paths: _*).filter(rowPredicate)
}
