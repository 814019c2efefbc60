package graft.etl

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one place the library asks the filesystem about the directories
  * it writes: through the Hadoop FileSystem of each path's own scheme,
  * under the session's Hadoop conf — the conf Spark's own reader and
  * writer use, so a `file://`, `hdfs://` or `s3a://` root, or a Hadoop
  * key set on the session, behaves here as it does there. (`java.nio`
  * sees only the local disk: `Files.exists(Paths.get("file:///tmp"))`
  * is false.) The commit rule: a written directory is visible only once
  * its job commit left `_SUCCESS` ([[committed]]); a crash inside the
  * write leaves at most a `_temporary` tree. */
private[graft] object HadoopFs {

  def conf(spark: SparkSession): Configuration = spark.sessionState.newHadoopConf()

  def of(spark: SparkSession, path: Path): FileSystem = path.getFileSystem(conf(spark))

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    of(spark, p).exists(p)
  }

  /** Values of the `key=value` child directories of `root`, sorted;
    * empty when `root` is absent. Not gated on [[committed]]. */
  def partitions(spark: SparkSession, root: String, key: String): Seq[String] = {
    val p = new Path(root)
    val fs = of(spark, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$key="))
      .map(_.getPath.getName.stripPrefix(s"$key="))
      .sorted
  }

  /** The data files under `root`, skipping `_` and `.` names at every
    * level: the files Spark's reader opens. */
  def dataFiles(spark: SparkSession, root: String): Seq[FileStatus] = {
    val p = new Path(root)
    val fs = of(spark, p)
    def walk(d: Path): Seq[FileStatus] = fs.listStatus(d).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) Nil
      else if (st.isDirectory) walk(st.getPath)
      else Seq(st)
    }
    walk(p)
  }

  def committed(spark: SparkSession, dir: String): Boolean =
    exists(spark, new Path(dir, "_SUCCESS").toString)

  /** Rename a finished `staging` dir to `target`, replacing what a
    * replayed attempt left there. */
  def promote(spark: SparkSession, staging: Path, target: Path): Unit = {
    val fs = of(spark, staging)
    fs.mkdirs(target.getParent)
    fs.delete(target, true)
    require(fs.rename(staging, target), s"rename $staging -> $target failed")
  }
}
