package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem access through the Hadoop FileSystem of each path's own
  * scheme, under the session's Hadoop conf — so a `file://`, `hdfs://`
  * or `s3a://` root behaves like a bare local path. `java.nio` sees
  * only the local disk: `Files.exists(Paths.get("file:///tmp"))` is
  * false, which silently turns "state exists" checks into "first run". */
private[graft] object HadoopFs {

  def of(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sessionState.newHadoopConf())

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    of(spark, p).exists(p)
  }
}
