package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (JVM-forked once). */
object TestSession {
  lazy val spark: SparkSession = newSession()

  /** Builder shared with [[SparkSpec]]-family helpers that need an
    * isolated session. WARN logging: each forked test JVM otherwise
    * streams the INFO firehose through sbt's output capture — a
    * measured wall-clock tax on `sbt test`. */
  private def newSession(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def builder(): SparkSession.Builder = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    // Spark 4 default ANSI mode — tests exercise what users run.
    .config("spark.sql.ansi.enabled", "true")
    // events.parquet stores TIMESTAMP(NANOS); see Tables.events.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** Leaves `dir` as a crash inside a write's tasks does: only the
    * committer's `_temporary` tree holding a part file, no `_SUCCESS`. */
  def crashedWrite(dir: String): Unit = {
    val task = java.nio.file.Paths.get(dir, "_temporary", "0", "_temporary")
    java.nio.file.Files.createDirectories(task)
    java.nio.file.Files.createFile(task.resolve("part-00000.snappy.parquet"))
  }
}
