package graft.etl

import graft.SparkSpec
import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, RawLocalFileSystem}

/** The local disk under a scheme of its own, which only a session that
  * registers it can resolve. */
class SessionOnlyFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${SessionOnlyFs.Scheme}:///")
  override def getScheme: String = SessionOnlyFs.Scheme
}

object SessionOnlyFs {
  val Scheme = "graftsession"
}

/** The FileContext binding of [[SessionOnlyFs]] (Publish's `_LATEST`
  * swap is a FileContext rename). */
class SessionOnlyAfs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new SessionOnlyFs, conf, SessionOnlyFs.Scheme, false)

class HadoopFsSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` with [[SessionOnlyFs]] registered in the SESSION conf
    * only (the SparkContext's Hadoop conf cannot resolve it), uncached
    * so a FileSystem built under another conf cannot stand in; restores
    * the keys afterwards. */
  private def withSessionScheme(body: String => Unit): Unit = {
    val s = SessionOnlyFs.Scheme
    val keys = Map(
      s"fs.$s.impl" -> classOf[SessionOnlyFs].getName,
      s"fs.$s.impl.disable.cache" -> "true",
      s"fs.AbstractFileSystem.$s.impl" -> classOf[SessionOnlyAfs].getName)
    val before = keys.keys.map(k => k -> spark.conf.getOption(k)).toMap
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val root = s"$s://" + java.nio.file.Files.createTempDirectory("graft-session-fs").toString
      val ex = intercept[java.io.IOException](new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration))
      assert(ex.getMessage.contains("No FileSystem for scheme"), ex.getMessage)
      body(root)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("Publish honours a filesystem registered only on the session") {
    withSessionScheme { root =>
      val table = s"$root/table"
      assert(Publish.publish(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), table) == 1L)
      assert(Publish.publish(Seq((3L, "c")).toDF("k", "s"), table) == 2L)
      assert(Publish.versions(spark, table) == Seq(1L, 2L))
      assert(Publish.readLatest(spark, table).as[(Long, String)].collect().toSeq == Seq((3L, "c")))
    }
  }

  test("Compaction and Manifest honour a filesystem registered only on the session") {
    withSessionScheme { root =>
      val in = s"$root/in"
      (0L until 200L).map(i => (i, i.toDouble)).toDF("id", "x")
        .repartition(4).write.mode("overwrite").parquet(in)
      val stats = graft.sources.Compaction.compactDir(spark, in, s"$root/out",
        targetBytes = 1L << 40)
      assert(stats.filesBefore == 4 && stats.filesAfter == 1, s"got $stats")
      assert(spark.read.parquet(s"$root/out").count() == 200L)
      val manifest = graft.sources.Manifest.build(spark, in, Seq("x"))
      assert(manifest.select("n_rows").as[Long].collect().sum == 200L)
    }
  }
}
