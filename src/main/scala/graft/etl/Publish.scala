package graft.etl

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-audit-publish: atomic, versioned table publication — the
  * Bronze/Silver promotion discipline that keeps readers from ever
  * seeing a half-written or failed-quality table (reference's pipeline
  * writes Parquet outputs directly; at fleet scale the write must be
  * staged and gated).
  *
  * Layout under `root`:
  * {{{
  *   v=1/ v=2/ ...   committed immutable version directories
  *   _LATEST         pointer file holding the current version number
  *   _staging_v3/    in-flight write (invisible: readers go via _LATEST)
  * }}}
  *
  * The protocol (each step idempotent or atomic, so a crash at any
  * point leaves a readable table):
  *  1. WRITE the DataFrame to a staging dir.
  *  2. AUDIT what actually LANDED (re-read from disk — gating on the
  *     plan would miss write-path corruption) with [[Checks]]; any
  *     failed check deletes staging and raises, readers never affected.
  *  3. PUBLISH: rename staging → `v=N` (atomic dir move), then swap the
  *     `_LATEST` pointer via FileContext rename-with-OVERWRITE (atomic
  *     on HDFS and POSIX; on S3 use a rename-capable committer layer).
  *
  * Version numbers allocate from the DIRECTORY LISTING, not the
  * pointer, so a crash between dir-rename and pointer-swap orphans an
  * unpointed (invisible, GC-able) version rather than colliding the
  * next publish. `repoint` is O(1) rollback/forward across retained
  * versions — time travel for free, compaction on the Bronze
  * lifecycle deletes old `v=` dirs. */
object Publish {

  final case class AuditFailedException(failures: Seq[String])
    extends RuntimeException(s"write-audit-publish gate failed: ${failures.mkString("; ")}")

  private val Digits = "^(\\d+)$".r

  /** Version numbers present on disk (pointed or not). Every `v=<n>`
    * dir counts, orphans included, so the next publish never collides. */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    HadoopFs.partitions(spark, root, "v").collect { case Digits(n) => n.toLong }.sorted

  /** The version `_LATEST` points at, if ever published. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = HadoopFs.of(spark, new Path(root))
    val ptr = new Path(root, "_LATEST")
    if (!f.exists(ptr)) None
    else {
      val in = f.open(ptr)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toLong)
      finally in.close()
    }
  }

  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame =
    spark.read.parquet(s"$root/v=$v")

  def readLatest(spark: SparkSession, root: String): DataFrame = {
    val v = currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    readVersion(spark, root, v)
  }

  /** Stage, audit, and atomically publish `df` as the next version.
    * Returns the published version number. On a failed audit the
    * staging dir is removed and [[AuditFailedException]] carries the
    * failed check labels with their measured metrics. */
  def publish(
      df: DataFrame,
      root: String,
      checks: Seq[Checks.Check] = Seq.empty): Long = {
    val spark = df.sparkSession
    val n = versions(spark, root).lastOption.getOrElse(0L) + 1L
    val staging = new Path(root, s"_staging_v$n")
    df.write.mode("overwrite").parquet(staging.toString)
    if (checks.nonEmpty) {
      val landed = spark.read.parquet(staging.toString)
      val failed = Checks.audit(landed, checks)
        .filter(!col("passed"))
        .select(concat(col("check"), lit(" metric="), col("metric").cast("string")))
        .collect().map(_.getString(0)).toSeq
      if (failed.nonEmpty) {
        HadoopFs.of(spark, staging).delete(staging, true)
        throw AuditFailedException(failed)
      }
    }
    HadoopFs.promote(spark, staging, new Path(root, s"v=$n"))
    swapPointer(spark, root, n)
    n
  }

  /** Atomically re-point `_LATEST` at an existing version (rollback or
    * roll-forward). */
  def repoint(spark: SparkSession, root: String, v: Long): Unit = {
    require(versions(spark, root).contains(v), s"version $v does not exist under $root")
    swapPointer(spark, root, v)
  }

  private def swapPointer(spark: SparkSession, root: String, v: Long): Unit = {
    val f = HadoopFs.of(spark, new Path(root))
    val tmp = new Path(root, s"_LATEST.tmp.$v")
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    val fc = FileContext.getFileContext(new Path(root).toUri, HadoopFs.conf(spark))
    fc.rename(tmp, new Path(root, "_LATEST"), Options.Rename.OVERWRITE)
  }
}
