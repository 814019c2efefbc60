package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{avg, count, lit, max, sum}

/** What every measurement main shares (Bench, Verify, Profile,
  * ScaleProbe, DotBench, and SkewProbe in test scope): one session
  * configuration, one timed run, one release between runs, one
  * listener-bus drain and one JSON string escape. */
object Harness {

  /** Cores of the `local[n]` master and the shuffle partition count:
    * `SPARK_GRAFT_CPUS`, or every processor the JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every main runs on, after a warm-up job. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // Spark 4 default ANSI mode — the library must run clean under it.
      .config("spark.sql.ansi.enabled", "true")
      // events.parquet stores TIMESTAMP(NANOS); see Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed-table queries (c12) saveAsTable here; keep it out of
      // the repo and fresh per invocation
      .config("spark.sql.warehouse.dir", graft.sources.Tmp.dir("graft-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM (class loading, Janino codegen compiler, shuffle
    // machinery) on synthetic jobs so the first timed query measures
    // its operator, not session startup. A range job alone left the
    // first query paying for the parquet path (the schema-inference
    // job, the vectorized reader, its first planning), so the warm-up
    // writes a scratch parquet table, reads it back and runs a filter,
    // a sort-merge join, an aggregate and a sort over it. Touches no
    // benchmark tables.
    val dir = graft.sources.Tmp.dir("graft-warmup").resolve("t").toString
    spark.range(1000000L)
      .selectExpr("id", "id % 7 AS k", "CAST(id AS DOUBLE) / 3 AS x", "CAST(id AS STRING) AS s")
      .write.parquet(dir)
    val t = spark.read.parquet(dir)
    t.filter("x > 1").select("id", "k", "x")
      .join(t.select("id", "s").hint("merge"), "id")
      .groupBy("k").agg(sum("x"), avg("x"), count(lit(1)), max("s"))
      .orderBy("k")
      .write.format("noop").mode("overwrite").save()
    spark
  }

  /** Builds `df` and runs it through the `noop` sink, which evaluates
    * every output column (a `count()` would let the optimiser prune
    * projection-only queries down to a row count). Returns the wall
    * seconds of build plus run, and the failure if there was one, so a
    * caller can record the time to failure. */
  def timeNoop(df: => DataFrame): (Double, Option[Throwable]) = {
    val t0 = System.nanoTime()
    val err =
      try { df.write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(e) }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  /** Drops what a query left cached or persisted. Iterative queries
    * (PageRank, BPE, star contraction) localCheckpoint intermediates
    * that nothing unpersists once the query returns; left in the
    * BlockManager across a suite, they make later queries pay the GC
    * bill (measured as 2–3× on the tail of a full suite against the
    * same queries alone). Run it outside any timed window. */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Returns once every listener event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.sql.graft.BusBridge.drain(spark.sparkContext)

  /** JSON string literal: quote, backslash and every control character
    * escaped — a tab or CR in a query name, an error message or
    * oracle SQL would otherwise make the reader's `json.load` fail. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
