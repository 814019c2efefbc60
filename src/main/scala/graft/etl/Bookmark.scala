package graft.etl

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Time-watermark bookmark for batch-incremental ingestion: persist
  * "everything at or before T has been ingested" and pull only the
  * strictly-newer tail on the next run — the timestamp-predicate
  * sibling of [[Medallion]]'s per-file `.done` ledger (reference:
  * ingestion/fetch_movies.py re-fetches pages wholesale; a bookmark is
  * what makes a daily re-run read one day, not the full history —
  * against a date-partitioned source (A27 layout) the `ts > T`
  * predicate prunes partitions, so the incremental pull is also an
  * incremental SCAN).
  *
  * Crash contract (at-least-once by construction): land the delta
  * FIRST, [[advance]] the bookmark LAST. A crash between the two
  * re-pulls the already-landed tail on restart — which is why the
  * Bronze consumers downstream (A7 keyed dedup / A16 upsert / E7
  * cross-batch dedup) treat replays as no-ops. Advancing first would
  * silently DROP the tail on crash: at-most-once, the wrong default
  * for ingestion. The bookmark itself is a one-row parquet dir whose
  * overwrite is atomic-enough per run (single writer per pipeline —
  * concurrent pipelines need per-source bookmark paths).
  */
object Bookmark {

  /** Current high-watermark, or None before the first committed
    * [[advance]] (a crashed one means a full re-pull). */
  def read(spark: SparkSession, path: String): Option[Timestamp] =
    if (!HadoopFs.committed(spark, path)) None
    else spark.read.parquet(path).collect().headOption.map(_.getTimestamp(0))

  /** Rows STRICTLY newer than the bookmark (everything on None). The
    * predicate is a plain pushable filter — partition pruning and
    * parquet row-group stats both apply. */
  def incrementalPull(df: DataFrame, ts: Column, bookmark: Option[Timestamp]): DataFrame =
    bookmark.fold(df)(b => df.filter(ts > lit(b)))

  /** Persist max(`ts`) of the LANDED delta as the new bookmark; a
    * no-op on an empty delta (the old watermark stands — advancing to
    * "now" on empty would skip late rows landing between runs). Call
    * AFTER the delta is durably written. */
  def advance(spark: SparkSession, path: String, delta: DataFrame, ts: Column): Option[Timestamp] = {
    val hi = delta.agg(max(ts).as("hi")).collect().head
    if (hi.isNullAt(0)) read(spark, path)
    else {
      val newMark = hi.getTimestamp(0)
      import spark.implicits._
      Seq(newMark).toDF("bookmark").coalesce(1)
        .write.mode("overwrite").parquet(path)
      Some(newMark)
    }
  }
}
