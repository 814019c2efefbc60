package graft

import graft.operators.Relational
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared drive machinery for the E-series registry files
  * ([[StreamQueries]] / [[StreamQueries2]]): scratch state dirs,
  * event-time/id tercile batch pinning, the low-shuffle-partition
  * state-store override for machinery-bound drives, and the e10/e10b
  * shared survivor-chain oracle builder. Pure refactor of the former
  * StreamQueries private helpers — split out so each registry file
  * stays under the size bar with zero behavior change.
  */
private[graft] object StreamDrive {

  /** State dirs hang off [[graft.sources.Tmp]]'s per-JVM root, reaped
    * recursively at JVM exit — state must outlive the (lazy) returned
    * DataFrame, so deletion inside the query closure is impossible,
    * but a full Bench/Verify run may invoke each E-query several times
    * and must not leave gigabytes of parquet state accumulating under
    * /tmp across rounds. */
  private[graft] def tmp(prefix: String): String =
    graft.sources.Tmp.dir(prefix).toString + "/state"

  /** Event-time tercile epoch boundaries (micros) — one bounded 1-row
    * collect, the same class as the A28 bookmark read. */
  private[graft] def terciles(e: DataFrame): (Long, Long) = {
    val us = Relational.epochMicros(col("ts"))
    val mm = e.agg(min(us).as("lo"), max(us).as("hi")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
  }

  /** Every E-series builder runs under 4 shuffle partitions (restored
    * after the drives return). Stateful streaming operators commit ONE
    * state-store delta file per shuffle partition per micro-batch —
    * at the session's 32 partitions the 41 E-drives pay tens of
    * thousands of tiny checkpoint fsyncs for state that holds a few
    * thousand keys, a constant micro-batch tax that was 33% of the r11
    * suite wall. Results are unaffected: state is hash-partitioned by
    * key, every E-query's output is key-deterministic, and nothing
    * downstream reads physical file counts. At production scale the
    * knob goes the other way (partitions sized to executor count) —
    * this wrapper is the local-drive analogue of sizing state
    * partitions to the actual key volume. The returned DataFrame (the
    * state-table/memory-sink readback) executes later under the
    * caller's own conf; only the drives run under the override.
    * `minBatchesToRetain=2` likewise trims checkpoint-retention I/O
    * the 3-5-batch drives never replay.
    *
    * CONCURRENCY CONTRACT: this mutates the SHARED session conf around
    * the drive, which is safe only because both harness mains (Bench,
    * Verify) execute registry queries strictly sequentially on one
    * session. If a future harness ever drives queries concurrently,
    * scope the override via a cloned session (`s.newSession()` shares
    * the SparkContext but isolates the conf) instead — today that
    * would only move the mutation risk into the memory-sink temp-view
    * catalog (session-scoped) for zero benefit. */
  private[graft] def lowShufflePartitions(
      fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => {
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      val prevRetain = s.conf.get("spark.sql.streaming.minBatchesToRetain")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      s.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
      try fn(s, dir)
      finally {
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        s.conf.set("spark.sql.streaming.minBatchesToRetain", prevRetain)
      }
    }

  /** Drives whose wall is checkpoint/state-store machinery, not
    * per-batch operator work — measured, not guessed: e5 16.8→11.4 s
    * and e35 7.3→6.3 s under the override, while the foreachEpoch
    * COMPOSITES (e10b SemDeDup 7.9→9.3 s, e13 clean-pipeline
    * 9.6→12.1 s) regressed because 4 partitions throttles the real
    * per-batch operator work they exist to measure — those keep the
    * session's parallelism. */
  private[graft] val machineryBound = Set(
    "e1_windowed_agg", "e2_sessionize", "e3_enrich_join", "e4_stream_dedup",
    "e5_interval_join", "e6_bronze_ingest", "e7_dedup_ingest",
    "e20_zscore_alerts", "e21_silence_alerts", "e27_seq_match",
    "e30_ohlc_bars", "e35_session_window")



  /** Run `stream` to completion into a `memory` sink and return the
    * sink's table: output mode `mode`, a query name of `prefix` plus a
    * fresh UUID (names are session-global, and a run may drive one
    * query several times), checkpoint at `checkpoint`, trigger
    * AvailableNow. */
  private[graft] def drainToMemory(stream: DataFrame, mode: String, prefix: String,
                                   checkpoint: String): DataFrame = {
    val name = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    stream.writeStream.outputMode(mode).format("memory")
      .queryName(name).option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    stream.sparkSession.table(name)
  }

  /** Split `df` into three ascending id-tercile batches and append
    * them to `dir` as mtime-pinned single files — arrival order = id
    * order, so a first-arrival streaming winner is the global min-id
    * (the cut arithmetic every oracle mirrors: mx/3 and 2*mx/3 in
    * integer division). */
  private[graft] def pinIdTerciles(df: DataFrame, id: String, dir: String): Unit = {
    val mx = df.agg(max(id)).head().getLong(0) // 1-row bounded collect
    val (c1, c2) = (mx / 3, 2 * mx / 3)
    // bucket cases mirror the former three filters exactly (a null id
    // matched none of them and is dropped here the same way: no branch)
    pinBuckets(df,
      when(col(id) <= c1, 0).when(col(id) <= c2, 1).when(col(id) > c2, 2),
      nBuckets = 3, dir = dir)
  }

  /** Write `df` as `nBuckets` ordered pinned batch files in ONE pass —
    * the r14 replacement for N× `filter(bucket i) → pinOrdered` (guide
    * §2.4: each of those was its own full scan + single-task write job,
    * ×41 E-drives the dominant share of the suite's input-dump wall).
    * A single-task dynamic-partition write emits one file per bucket
    * value; the files are then renamed onto the same strictly-ascending
    * mtime ladder [[pinOrdered]] uses (first bucket = first micro-batch)
    * and the partition column never reaches the written schema. Rows
    * whose bucket expression is null are dropped (exactly the rows the
    * former filters all rejected). A bucket with no rows still lands as
    * an empty typed file, so batch numbering — and every epoch-keyed
    * oracle — is unchanged. Within-file row order is not part of the
    * contract (the stateful operators sort or max within groups, and
    * the groupByKey shuffle destroys file order anyway). */
  private[graft] def pinBuckets(df: DataFrame, bucket: Column, nBuckets: Int,
                                dir: String): Unit =
    stagePinned(df.withColumn("__b", bucket.cast("int")), nBuckets, dir)

  /** Multi-membership variant of [[pinBuckets]]: rows arrive already
    * tagged with their batch number (a row may belong to SEVERAL
    * batches — e4 plants duplicates across batches via a union of
    * tagged legs — so no single per-row bucket expression exists).
    * `tag` is consumed as the partition column and never reaches the
    * written schema. */
  private[graft] def pinTagged(df: DataFrame, tag: String, nBuckets: Int,
                               dir: String): Unit =
    stagePinned(df.withColumn("__b", col(tag).cast("int")).drop(tag), nBuckets, dir)

  private def stagePinned(tagged: DataFrame, nBuckets: Int, dir: String): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val stage = dir + "__stage"
    tagged.coalesce(1)
      .write.mode("overwrite").partitionBy("__b").parquet(stage)
    val d = new java.io.File(dir)
    d.mkdirs()
    val have = Option(d.listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("part-"))
    (0 until nBuckets).foreach { b =>
      val sub = new java.io.File(stage, s"__b=$b")
      val parts = Option(sub.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith("part-"))
      val tgt = new java.io.File(d, f"part-${have + b}%05d-b$b.snappy.parquet")
      if (parts.nonEmpty) {
        // coalesce(1) ⇒ exactly one file per non-empty bucket
        require(parts.length == 1, s"expected 1 file in $sub, got ${parts.length}")
        require(parts.head.renameTo(tgt), s"rename ${parts.head} -> $tgt failed")
      } else {
        // empty bucket: an empty typed file keeps the batch ladder intact
        val empty = stage + s"__empty$b"
        tagged.drop("__b").filter(lit(false)).coalesce(1)
          .write.mode("overwrite").parquet(empty)
        val src = new java.io.File(empty).listFiles()
          .filter(_.getName.startsWith("part-")).head
        require(src.renameTo(tgt), s"rename $src -> $tgt failed")
        deleteRecursively(new java.io.File(empty))
      }
      tgt.setLastModified(1700000000000L + (have + b) * 10000L)
    }
    deleteRecursively(new java.io.File(stage))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRecursively)
    f.delete(): Unit
  }


  /** e10/e10b shared oracle: the 3-stage survivor chain (epoch-0
    * pairwise vs lower ids, later epochs vs prior SURVIVORS plus
    * lower-id batch mates) over any assignment block ending in
    * `assign(cid, list_id)` with base `c(vec_id, v)` — the flat (e10)
    * and hierarchical (e10b) quantizers differ ONLY in that block, so
    * the cross-epoch/within-epoch asymmetry is mirrored in exactly
    * one place. */
  private[graft] def semanticSurvivorChainSql(assignCtes: String): String =
    s"""WITH $assignCtes,
       |cuts AS (SELECT max(vec_id)//3 AS c1, (2*max(vec_id))//3 AS c2 FROM c),
       |m AS (SELECT a.cid AS vid, a.list_id, c.v,
       |   CASE WHEN a.cid <= cuts.c1 THEN 0 WHEN a.cid <= cuts.c2 THEN 1 ELSE 2 END AS ep
       |  FROM assign a JOIN c ON c.vec_id = a.cid, cuts),
       |s0 AS (SELECT a.vid, a.list_id, a.v, a.ep FROM m a WHERE a.ep = 0 AND NOT EXISTS (
       |   SELECT 1 FROM m b WHERE b.ep = 0 AND b.list_id = a.list_id AND b.vid < a.vid
       |     AND list_inner_product(a.v,b.v)/(sqrt(list_inner_product(a.v,a.v))*sqrt(list_inner_product(b.v,b.v))) >= 0.45)),
       |s1 AS (SELECT a.vid, a.list_id, a.v, a.ep FROM m a WHERE a.ep = 1
       |  AND NOT EXISTS (SELECT 1 FROM s0 s WHERE s.list_id = a.list_id
       |    AND list_inner_product(a.v,s.v)/(sqrt(list_inner_product(a.v,a.v))*sqrt(list_inner_product(s.v,s.v))) >= 0.45)
       |  AND NOT EXISTS (SELECT 1 FROM m b WHERE b.ep = 1 AND b.list_id = a.list_id AND b.vid < a.vid
       |    AND list_inner_product(a.v,b.v)/(sqrt(list_inner_product(a.v,a.v))*sqrt(list_inner_product(b.v,b.v))) >= 0.45)),
       |s01 AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1),
       |s2 AS (SELECT a.vid, a.list_id, a.v, a.ep FROM m a WHERE a.ep = 2
       |  AND NOT EXISTS (SELECT 1 FROM s01 s WHERE s.list_id = a.list_id
       |    AND list_inner_product(a.v,s.v)/(sqrt(list_inner_product(a.v,a.v))*sqrt(list_inner_product(s.v,s.v))) >= 0.45)
       |  AND NOT EXISTS (SELECT 1 FROM m b WHERE b.ep = 2 AND b.list_id = a.list_id AND b.vid < a.vid
       |    AND list_inner_product(a.v,b.v)/(sqrt(list_inner_product(a.v,a.v))*sqrt(list_inner_product(b.v,b.v))) >= 0.45))
       |SELECT vid AS vec_id, CAST(ep AS BIGINT) AS epoch FROM (
       |  SELECT vid, ep FROM s01 UNION ALL SELECT vid, ep FROM s2)
       |ORDER BY vec_id""".stripMargin

}
