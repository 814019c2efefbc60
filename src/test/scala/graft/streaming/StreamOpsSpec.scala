package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedAgg: watermarked tumbling windows emit per-window counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamOps.windowedAgg(
      input.toDF().toDF("ts", "event_type", "value"),
      ts = "ts", watermark = "10 minutes", bucket = "1 hour",
      groupCol = "event_type", valueCol = "value")
    val q = agg.writeStream.format("memory").queryName("win").outputMode("complete").start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:35:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("win").orderBy("bucket_start")
        .select("n", "sum_value").as[(Long, Double)].collect()
      assert(rows.toSeq == Seq((2L, 3.0), (1L, 4.0)))
    } finally q.stop()
  }

  test("streamingOhlcBars: bars finalize once per window with event-time open/close") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double, Long)]
    val bars = StreamOps.streamingOhlcBars(
      input.toDF().toDF("ts", "sym", "price", "seq"),
      ts = "ts", watermark = "0 seconds", bucket = "1 hour",
      groupCol = "sym", valueCol = "price", tieBreak = Seq("seq"))
    val q = bars.writeStream.format("memory").queryName("ohlc")
      .outputMode("append").start()
    try {
      // hour 10 arrives OUT of event-time order across two batches
      input.addData(
        (ts("2024-01-01 10:40:00"), "A", 30.0, 2L),
        (ts("2024-01-01 10:10:00"), "A", 10.0, 1L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 10:50:00"), "A", 5.0, 3L))
      q.processAllAvailable()
      assert(spark.table("ohlc").count() == 0, "open window must not emit yet")
      // watermark passes 11:00 → the hour-10 bar finalizes exactly once
      input.addData((ts("2024-01-01 11:20:00"), "A", 99.0, 4L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 11:30:00"), "A", 98.0, 5L))
      q.processAllAvailable()
      val got = spark.table("ohlc")
        .select("sym", "open", "high", "low", "close", "volume")
        .as[(String, Double, Double, Double, Double, Long)].collect().toSeq
      assert(got == Seq(("A", 10.0, 30.0, 5.0, 5.0, 3L)), s"got $got")
    } finally q.stop()
  }

  test("sessionize: gap timeout closes sessions and emits stats") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.SessionEvent]
    val sessions = StreamOps.sessionize(spark, input.toDS(), "10 seconds", gapSeconds = 60)
    val q = sessions.writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      input.addData(
        StreamOps.SessionEvent(1L, ts("2024-01-01 10:00:00"), 1.0),
        StreamOps.SessionEvent(1L, ts("2024-01-01 10:00:30"), 2.0))
      q.processAllAvailable()
      // a later event far past the gap both closes session 1 (in-batch) and
      // advances the watermark
      input.addData(StreamOps.SessionEvent(1L, ts("2024-01-01 10:10:00"), 5.0))
      q.processAllAvailable()
      val closed = spark.table("sess")
        .select("user_id", "n_events", "duration_sec", "sum_value")
        .as[(Long, Long, Long, Double)].collect()
      assert(closed.toSeq == Seq((1L, 2L, 30L, 3.0)))
    } finally q.stop()
  }

  test("sessionize: a late-but-in-watermark event widens the session, never rewinds it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.SessionEvent]
    val sessions = StreamOps.sessionize(spark, input.toDS(), "10 minutes", gapSeconds = 60)
    val q = sessions.writeStream.format("memory").queryName("sess_late").outputMode("append").start()
    try {
      input.addData(
        StreamOps.SessionEvent(1L, ts("2024-01-01 10:00:00"), 1.0),
        StreamOps.SessionEvent(1L, ts("2024-01-01 10:00:30"), 2.0))
      q.processAllAvailable()
      // a late event INSIDE the stored session span arrives in a later
      // micro-batch; rewinding `last` to 10:00:10 would make the closer
      // below measure a 10s session and miscount the true 30s span
      input.addData(
        StreamOps.SessionEvent(1L, ts("2024-01-01 10:00:10"), 4.0),
        StreamOps.SessionEvent(1L, ts("2024-01-01 10:10:00"), 8.0)) // closes session
      q.processAllAvailable()
      val closed = spark.table("sess_late")
        .select("user_id", "n_events", "duration_sec", "sum_value")
        .as[(Long, Long, Long, Double)].collect()
      assert(closed.toSeq == Seq((1L, 3L, 30L, 7.0)))
    } finally q.stop()
  }

  test("toBronze lands micro-batches Hive-partitioned by ingestion date") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-bronze")
    val input = MemoryStream[(Long, Timestamp, Double)]
    val q = StreamOps.foreachEpoch(input.toDF().toDF("event_id", "ts", "value"),
        dir.resolve("ckpt").toString)((b, _) =>
      StreamOps.bronzeBatch(b, ts = "ts", outRoot = dir.resolve("bronze").toString))
    try {
      input.addData((1L, ts("2024-01-01 10:00:00"), 1.0), (2L, ts("2024-01-02 09:00:00"), 2.0))
      q.processAllAvailable()
      val parts = graft.etl.Medallion.listPartitions(spark, dir.resolve("bronze").toString)
      assert(parts == Seq("2024-01-01", "2024-01-02"))
      val day1 = spark.read.parquet(s"${dir.resolve("bronze")}/ingestion_date=2024-01-01")
      assert(day1.select("event_id").as[Long].collect().toSeq == Seq(1L))
    } finally q.stop()
  }

  test("toBronzeDeduped: cross-batch dups dropped via the persisted hash index") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-bronze-dedup")
    val bronze = dir.resolve("bronze").toString
    val index = dir.resolve("index").toString
    val input = MemoryStream[(Long, String, Timestamp)]
    val q = StreamOps.foreachEpoch(input.toDF().toDF("doc_id", "text", "ts"),
        dir.resolve("ckpt").toString)((b, _) =>
      StreamOps.bronzeDedupedBatch(b, id = "doc_id", text = "text", ts = "ts",
        outRoot = bronze, indexPath = index))
    try {
      // batch 1: two distinct docs + an in-batch duplicate of doc 1
      input.addData(
        (1L, "the quick brown fox", ts("2024-01-01 10:00:00")),
        (2L, "an entirely different text", ts("2024-01-01 10:01:00")),
        (3L, "the quick brown fox", ts("2024-01-01 10:02:00"))) // in-batch dup
      q.processAllAvailable()
      // batch 2: a cross-batch duplicate of doc 1 (days later — far past
      // any watermark) and one novel doc
      input.addData(
        (10L, "the quick brown fox", ts("2024-01-05 08:00:00")), // cross-batch dup
        (11L, "fresh never-seen content", ts("2024-01-05 08:01:00")))
      q.processAllAvailable()
      val landed = spark.read.parquet(bronze)
        .select("doc_id").as[Long].collect().toSeq.sorted
      assert(landed == Seq(1L, 2L, 11L), s"got $landed")
      // the index holds exactly the three distinct content hashes
      assert(spark.read.parquet(index).distinct().count() == 3L)
      // and the day-5 partition holds only the novel doc
      val day5 = spark.read.parquet(s"$bronze/ingestion_date=2024-01-05")
      assert(day5.select("doc_id").as[Long].collect().toSeq == Seq(11L))
    } finally q.stop()
  }

  test("toSemanticDeduped: cross-batch near-dups dropped via the persisted vector index") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-semantic-dedup")
    val out = dir.resolve("out").toString
    val index = dir.resolve("index").toString
    // frozen quantizer trained on a 4-vector bootstrap corpus
    val boot = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)), (101L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (102L, Array(0.0f, 0.0f, 1.0f, 0.0f)), (103L, Array(0.0f, 0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = graft.similarity.Ann.ivfCentroids(boot, "vec_id", "embedding", 2)
    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.foreachEpoch(input.toDF().toDF("vec_id", "embedding"),
        dir.resolve("ckpt").toString)(
      StreamOps.semanticDedupBatch(_, _, id = "vec_id", vec = "embedding",
        centroids = cents, threshold = 0.99, outRoot = out, indexPath = index))
    try {
      // batch 1 bootstraps the index: 1 and 2 distinct, 3 ≡ 1 in-batch
      input.addData(
        (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
        (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
        (3L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      q.processAllAvailable()
      // batch 2: near-dup of survivor 1 (0.9998 cosine) + one novel
      input.addData(
        (10L, Array(0.99f, 0.02f, 0.0f, 0.0f)),
        (11L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
      q.processAllAvailable()
      val landed = spark.read.parquet(out).select("vec_id").as[Long].collect().toSeq.sorted
      assert(landed == Seq(1L, 2L, 11L), s"got $landed")
      // the survivor index carries exactly the landed vectors, clustered
      val idx = spark.read.parquet(index)
      assert(idx.select("vid").as[Long].collect().toSeq.sorted == Seq(1L, 2L, 11L))
      assert(idx.select("list_id").distinct().count() <= 2)
    } finally q.stop()
  }

  test("toCorpusCards: appended micro-batch cards roll up to the full-corpus profile") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cards")
    val cards = dir.resolve("cards").toString
    val input = MemoryStream[(Long, String, String)]
    val q = StreamOps.foreachEpoch(input.toDF().toDF("doc_id", "text", "source"),
        dir.resolve("ckpt").toString)(
      StreamOps.corpusCardsBatch(_, _, text = "text", source = "source", slice = "source",
        cardsPath = cards))
    val b1 = Seq((1L, "the rain of spain", "web"), (2L, "der und das ist", "books"))
    val b2 = Seq((3L, "the rain of spain", "web"), (4L, "el que la y", "web"))
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val rolled = graft.text.CorpusProfile.rollupCards(spark.read.parquet(cards)).head()
      // reference: the one-pass profile over everything that streamed
      val direct = graft.text.CorpusProfile.profile(
        (b1 ++ b2).toDF("doc_id", "text", "source"), col("text"), col("source")).head()
      Seq("n_docs", "n_tokens", "n_chars", "n_stutter_tokens", "n_en", "n_de", "n_es", "n_fr")
        .foreach(f => assert(rolled.getAs[Long](f) == direct.getAs[Long](f), f))
      assert(math.abs(rolled.getAs[Double]("avg_quality") - direct.getAs[Double]("avg_quality")) <= 0.0001)
      // docs 1 and 3 are content-identical across batches: 3 distinct
      assert(rolled.getAs[Long]("n_distinct_docs_est") == 3L) // HLL exact at this cardinality
      // the state is append-only: web appears in two physical rows
      assert(spark.read.parquet(cards).filter(col("slice") === "web").count() == 2)
    } finally q.stop()
  }

  test("toAggState: merged micro-batch states equal the direct aggregate; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-aggstate")
    val statePath = dir.resolve("state").toString
    val input = MemoryStream[(String, Double)]
    val q = StreamOps.foreachEpoch(input.toDF().toDF("k", "x"), dir.resolve("ckpt").toString)(
      StreamOps.aggStateBatch(_, _, keys = Seq("k"), valueCols = Seq("x"),
        statePath = statePath))
    val b1 = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0))
    val b2 = Seq(("a", 5.0), ("c", -2.0))
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      import graft.operators.AggState
      val live = AggState.finalizeState(
        AggState.mergeRows(spark.read.parquet(statePath), Seq("k"), Seq("x")), Seq("x"))
        .orderBy("k").collect()
      val direct = AggState.finalizeState(
        AggState.state((b1 ++ b2).toDF("k", "x"), Seq("k"), Seq("x")), Seq("x"))
        .orderBy("k").collect()
      assert(live.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq)
      // at-least-once replay: epoch 1 fires again — overwrite keeps the
      // state identical instead of double-counting (additive counters
      // are NOT union-tolerant, unlike HLL sketch state)
      StreamOps.aggStateBatch(b2.toDF("k", "x"), 1L, Seq("k"), Seq("x"), statePath)
      val replayed = AggState.finalizeState(
        AggState.mergeRows(spark.read.parquet(statePath), Seq("k"), Seq("x")), Seq("x"))
        .orderBy("k").collect()
      assert(replayed.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq)
      val aRow = replayed.find(_.getString(0) == "a").get
      assert(aRow.getLong(aRow.fieldIndex("n_rows")) == 3L) // not 4: no double count
    } finally q.stop()
  }

  test("toDriftCells: drift from streamed cells equals the batch metric; replay exact") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-drift")
    val cellsPath = dir.resolve("cells").toString
    val input = MemoryStream[(String, Double)]
    val q = StreamOps.foreachEpoch(input.toDF().toDF("src", "score"),
        dir.resolve("ckpt").toString)(
      StreamOps.driftCellsBatch(_, _, slice = "src", value = col("score"),
        cellsPath = cellsPath, nBins = 4))
    val b1 = Seq(("web", 0.1), ("web", 0.2), ("books", 0.9))
    val b2 = Seq(("web", 0.15), ("books", 0.85), ("books", 0.95))
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      import graft.text.CorpusStats
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("slice").collect().map(_.toSeq).toSeq
      val live = CorpusStats.qualityDriftFromCells(
        spark.read.parquet(cellsPath).select("slice", "bin", "c"), nBins = 4)
      val direct = CorpusStats.qualityDrift(
        (b1 ++ b2).toDF("src", "score"), col("src"), col("score"), nBins = 4)
      assert(rows(live) == rows(direct))
      // replayed epoch rewrites its partition — metrics unchanged
      StreamOps.driftCellsBatch(b2.toDF("src", "score"), 1L, "src", col("score"),
        cellsPath, 4, 0.0, 1.0)
      val replayed = CorpusStats.qualityDriftFromCells(
        spark.read.parquet(cellsPath).select("slice", "bin", "c"), nBins = 4)
      assert(rows(replayed) == rows(direct))
    } finally q.stop()
  }

  test("semanticDedupBatch replay: same epoch twice leaves identical output and index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-semdedup-replay")
    val out = dir.resolve("out").toString
    val index = dir.resolve("index").toString
    val boot = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)), (101L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (102L, Array(0.0f, 0.0f, 1.0f, 0.0f)), (103L, Array(0.0f, 0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = graft.similarity.Ann.ivfCentroids(boot, "vec_id", "embedding", 2)
    val b0 = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val b1 = Seq(
      (10L, Array(0.99f, 0.02f, 0.0f, 0.0f)), // near-dup of survivor 1
      (11L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    StreamOps.semanticDedupBatch(b0, 0L, "vec_id", "embedding", cents, 0.99, out, index)
    StreamOps.semanticDedupBatch(b1, 1L, "vec_id", "embedding", cents, 0.99, out, index)
    // at-least-once: epoch 1 fires again (crash after writes, before the
    // checkpoint commit) — the old append formulation re-admitted kept
    // rows a second time; the epoch-keyed overwrite must not
    StreamOps.semanticDedupBatch(b1, 1L, "vec_id", "embedding", cents, 0.99, out, index)
    val landed = spark.read.parquet(out).select("vec_id").as[Long].collect().toSeq.sorted
    assert(landed == Seq(1L, 2L, 11L), s"replay duplicated rows: $landed")
    val vids = spark.read.parquet(index).select("vid").as[Long].collect().toSeq.sorted
    assert(vids == Seq(1L, 2L, 11L), s"replay duplicated index rows: $vids")
  }

  test("toSemanticDeduped (hierarchical quantizer): cross-batch near-dups dropped") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-semdedup-hier")
    val out = dir.resolve("out").toString
    val index = dir.resolve("index").toString
    val boot = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)), (101L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (102L, Array(0.0f, 0.0f, 1.0f, 0.0f)), (103L, Array(0.0f, 0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val hier = graft.similarity.Ann.hierCentroids(boot, "vec_id", "embedding",
      nLists = 4, trainRounds = 0)
    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.foreachEpoch(input.toDF().toDF("vec_id", "embedding"),
        dir.resolve("ckpt").toString)(
      StreamOps.semanticDedupBatch(_, _, id = "vec_id", vec = "embedding", hier = hier,
        threshold = 0.99, outRoot = out, indexPath = index))
    try {
      input.addData(
        (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
        (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      q.processAllAvailable()
      input.addData(
        (10L, Array(0.99f, 0.02f, 0.0f, 0.0f)), // near-dup of survivor 1
        (11L, Array(0.0f, 0.0f, 1.0f, 0.0f)))   // novel
      q.processAllAvailable()
      val landed = spark.read.parquet(out).select("vec_id").as[Long].collect().toSeq.sorted
      assert(landed == Seq(1L, 2L, 11L), s"got $landed")
    } finally q.stop()
  }

  test("corpusCardsBatch replay: same epoch twice does not inflate the rollup") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cards-replay")
    val cards = dir.resolve("cards").toString
    val b0 = Seq((1L, "the rain of spain", "web"), (2L, "der und das ist", "books"))
      .toDF("doc_id", "text", "source")
    val b1 = Seq((3L, "el que la y", "web")).toDF("doc_id", "text", "source")
    StreamOps.corpusCardsBatch(b0, 0L, "text", "source", "source", cards)
    StreamOps.corpusCardsBatch(b1, 1L, "text", "source", "source", cards)
    StreamOps.corpusCardsBatch(b1, 1L, "text", "source", "source", cards) // replay
    val rolled = graft.text.CorpusProfile.rollupCards(spark.read.parquet(cards)).head()
    assert(rolled.getAs[Long]("n_docs") == 3L,
      s"replayed epoch inflated n_docs to ${rolled.getAs[Long]("n_docs")}")
  }

  test("streamDedup drops in-watermark duplicate keys, keeps first arrival") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamOps.streamDedup(
      input.toDF().toDF("event_id", "ts", "value"),
      ts = "ts", watermark = "10 minutes", "event_id")
    val q = out.writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 10:00:05"), 99.0), // duplicate retry — dropped
        (2L, ts("2024-01-01 10:01:00"), 2.0))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 10:02:00"), 77.0)) // still within watermark — dropped
      q.processAllAvailable()
      val rows = spark.table("dedup").orderBy("event_id")
        .select("event_id", "value").as[(Long, Double)].collect()
      assert(rows.toSeq == Seq((1L, 1.0), (2L, 2.0)))
    } finally q.stop()
  }

  test("intervalJoin matches purchases to views within the time bound") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamOps.intervalJoin(
      purchases.toDF().toDF("p_user", "p_ts", "amount"),
      views.toDF().toDF("v_user", "v_ts"),
      leftKey = "p_user", rightKey = "v_user",
      leftTs = "p_ts", rightTs = "v_ts",
      watermark = "10 minutes", maxGap = "5 minutes")
    val q = out.writeStream.format("memory").queryName("ij").outputMode("append").start()
    try {
      views.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      purchases.addData(
        (1L, ts("2024-01-01 10:03:00"), 5.0),  // 3 min after the view → match
        (2L, ts("2024-01-01 10:09:00"), 7.0),  // 9 min after → outside maxGap
        (3L, ts("2024-01-01 10:03:00"), 9.0))  // no view at all
      q.processAllAvailable()
      val rows = spark.table("ij").select("p_user", "amount").as[(Long, Double)].collect()
      assert(rows.toSeq == Seq((1L, 5.0)))
    } finally q.stop()
  }

  test("enrich: stream-static broadcast join adds dimension columns") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Double)]
    val out = StreamOps.enrich(input.toDF().toDF("user_id", "value"), dim, "user_id")
    val q = out.writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      input.addData((1L, 10.0), (3L, 5.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").orderBy("user_id")
        .select("user_id", "tier").collect()
      assert(rows(0).getString(1) == "gold")
      assert(rows(1).isNullAt(1)) // left join keeps unmatched stream rows
    } finally q.stop()
  }

  test("bronzeDedupedBatch reads an index whose first append crashed as no index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bronze-dedup-crash")
    val bronze = dir.resolve("bronze").toString
    val index = dir.resolve("index").toString
    crashedWrite(index)
    val b = Seq(
      (1L, "the quick brown fox", ts("2024-01-01 10:00:00")),
      (2L, "the quick brown fox", ts("2024-01-01 10:01:00")),
      (3L, "an entirely different text", ts("2024-01-01 10:02:00"))).toDF("doc_id", "text", "ts")
    StreamOps.bronzeDedupedBatch(b, id = "doc_id", text = "text", ts = "ts",
      outRoot = bronze, indexPath = index)
    val landed = spark.read.parquet(bronze).select("doc_id").as[Long].collect().toSeq.sorted
    assert(landed == Seq(1L, 3L), s"got $landed")
    assert(spark.read.parquet(index).count() == 2L)
  }

  test("toSnapshot: CDC batches maintain a versioned keyed snapshot with deletes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Boolean)]
    val root = java.nio.file.Files.createTempDirectory("snap").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("snapckpt").toString
    val q = StreamOps.foreachEpoch(input.toDF().toDF("k", "payload", "v", "deleted"), ckpt)(
      (b, _) => StreamOps.snapshotBatch(b, keyCols = Seq("k"), version = "v", outRoot = root,
        tombstone = Some("deleted")))
    try {
      input.addData((1L, "a", 1L, false), (2L, "b", 1L, false))
      q.processAllAvailable()
      input.addData((2L, "b2", 2L, false), (1L, "gone", 2L, true), (3L, "c", 1L, false))
      q.processAllAvailable()
    } finally q.stop()
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("v=1", "v=2")) // one snapshot version per batch
    val fin = spark.read.parquet(s"$root/v=2").orderBy("k")
      .select("k", "payload", "v").as[(Long, String, Long)].collect().toSeq
    assert(fin == Seq((2L, "b2", 2L), (3L, "c", 1L))) // k=1 deleted, k=2 updated
    // time travel: the previous version still answers
    val v1 = spark.read.parquet(s"$root/v=1").select("k").as[Long].collect().toSet
    assert(v1 == Set(1L, 2L))
  }

  test("snapshotBatch writes over a crashed version instead of reading it") {
    val root = java.nio.file.Files.createTempDirectory("snapcrash").toString + "/t"
    StreamOps.snapshotBatch(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "payload", "v"),
      keyCols = Seq("k"), version = "v", outRoot = root)
    crashedWrite(s"$root/v=2")
    StreamOps.snapshotBatch(Seq((2L, "b2", 2L), (3L, "c", 1L)).toDF("k", "payload", "v"),
      keyCols = Seq("k"), version = "v", outRoot = root)
    val latest = StreamOps.latestSnapshot(spark, root).orderBy("k")
      .select("k", "payload", "v").as[(Long, String, Long)].collect().toSeq
    assert(latest == Seq((1L, "a", 1L), (2L, "b2", 2L), (3L, "c", 1L)), s"got $latest")
  }

  test("toSketchState: appended micro-batch sketches roll up to the full-scan answer") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches
    val input = MemoryStream[(String, Long)]
    val state = java.nio.file.Files.createTempDirectory("sketchstate").toString + "/hll"
    val ckpt = java.nio.file.Files.createTempDirectory("sketchckpt").toString
    val q = StreamOps.foreachEpoch(input.toDF().toDF("day", "user_id"), ckpt)((b, _) =>
      StreamOps.sketchStateBatch(b, keys = Seq("day"), value = "user_id", statePath = state))
    try {
      // batch 1: day1 users 1..50, day2 users 1..10
      input.addData((1L to 50L).map(("d1", _)) ++ (1L to 10L).map(("d2", _)): _*)
      q.processAllAvailable()
      // batch 2: day1 users 26..60 (overlap!), day2 users 11..20
      input.addData((26L to 60L).map(("d1", _)) ++ (11L to 20L).map(("d2", _)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val stored = spark.read.parquet(state)
    assert(stored.count() == 4) // one appended sketch row per (day, batch)
    // per-day rollup: overlap between batches must NOT double-count
    val byDay = Sketches.unionEstimate(stored, Seq(col("day")))
      .select("day", "n_estimate").as[(String, Long)].collect().toMap
    assert(byDay("d1") == 60L && byDay("d2") == 20L) // HLL exact at this cardinality
    // global rollup across days from the same state
    val total = Sketches.unionEstimate(stored, Seq(lit(1).as("g")))
      .select("n_estimate").as[Long].head()
    assert(total == 60L) // users are shared across days
    // compaction collapses rows without changing any answer
    val compacted = Sketches.compactTable(stored, Seq(col("day")))
    assert(compacted.count() == 2)
    val byDay2 = Sketches.unionEstimate(compacted, Seq(col("day")))
      .select("day", "n_estimate").as[(String, Long)].collect().toMap
    assert(byDay2 == byDay)
  }

  test("toFrequencyState: epoch-keyed CM state rolls up to exact counts; replay never double-counts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.expressions.CountMin
    import graft.operators.Sketches
    val input = MemoryStream[(String, Long)]
    val state = java.nio.file.Files.createTempDirectory("cmstate").toString + "/cm"
    val ckpt = java.nio.file.Files.createTempDirectory("cmckpt").toString
    val q = StreamOps.foreachEpoch(input.toDF().toDF("day", "user_id"), ckpt)(
      StreamOps.frequencyStateBatch(_, _, keys = Seq("day"), value = "user_id",
        statePath = state))
    try {
      // user 7 appears 30x on d1; user 8 appears 5x on d2
      input.addData((1 to 30).map(_ => ("d1", 7L)) ++ (1 to 5).map(_ => ("d2", 8L)): _*)
      q.processAllAvailable()
      // user 7 appears 10x more, now on d2
      input.addData((1 to 10).map(_ => ("d2", 7L)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val stored = spark.read.parquet(state)
    assert(stored.columns.contains("batch"), "state must be epoch-partitioned")
    // global rollup: frequencies add across days and batches
    val merged = Sketches.cmRollup(stored, Seq.empty)
      .select("cmsketch").head().getAs[Array[Byte]](0)
    assert(CountMin.totalCount(merged) == 45L)
    val est = Seq(7L, 8L).toDF("v")
      .select(CountMin.estimate(merged, col("v"))).as[Long].collect()
    assert(est(0) >= 40L && est(1) >= 5L)
    // replaying epoch 1 overwrites identical state — no double count
    StreamOps.frequencyStateBatch(
      (1 to 10).map(_ => ("d2", 7L)).toDF("day", "user_id"), 1L,
      Seq("day"), "user_id", state,
      CountMin.DefaultDepth, CountMin.DefaultWidth, CountMin.DefaultSeed)
    val replayed = Sketches.cmRollup(spark.read.parquet(state), Seq.empty)
      .select("cmsketch").head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(replayed, merged),
      "a replayed epoch must leave byte-identical merged state")
  }

  test("toTopKState: epoch-keyed heavy-hitter state rolls up exactly; replay never double-counts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches
    val input = MemoryStream[(String, String)]
    val state = java.nio.file.Files.createTempDirectory("tkstate").toString + "/tk"
    val ckpt = java.nio.file.Files.createTempDirectory("tkckpt").toString
    val q = StreamOps.foreachEpoch(input.toDF().toDF("src", "item"), ckpt)(
      StreamOps.topKStateBatch(_, _, keys = Seq("src"), value = "item", statePath = state))
    try {
      input.addData((1 to 20).map(_ => ("web", "x")) ++ (1 to 3).map(_ => ("web", "y")): _*)
      q.processAllAvailable()
      // batch 2: x grows cross-batch, z appears, a second source starts
      input.addData((1 to 10).map(_ => ("web", "x")) ++ Seq(("web", "z"), ("book", "w")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val stored = spark.read.parquet(state)
    assert(stored.columns.contains("batch"), "state must be epoch-partitioned")
    assert(stored.count() == 3) // (web, b0), (web, b1), (book, b1)
    // per-source rollup combines counts across batches, exact below tracking limit
    val web = Sketches.topKRollup(stored.filter(col("src") === "web"), Seq.empty, k = 3)
      .select("item", "n_estimate").as[(String, Long)].collect().toList
    assert(web == List(("x", 30L), ("y", 3L), ("z", 1L)))
    // replaying epoch 1 overwrites identical state — no double count
    StreamOps.topKStateBatch(
      ((1 to 10).map(_ => ("web", "x")) ++ Seq(("web", "z"), ("book", "w"))).toDF("src", "item"),
      1L, Seq("src"), "item", state, maxItemsTracked = 10000)
    val web2 = Sketches.topKRollup(spark.read.parquet(state).filter(col("src") === "web"),
        Seq.empty, k = 3)
      .select("item", "n_estimate").as[(String, Long)].collect().toList
    assert(web2 == web, "a replayed epoch must leave the rollup unchanged")
  }

  test("toDecayedTrendState: recency-weighted scores decay exactly; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val state = java.nio.file.Files.createTempDirectory("dtstate").toString + "/dt"
    val ckpt = java.nio.file.Files.createTempDirectory("dtckpt").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 02:00:00") // 2 half-lives later
    val q = StreamOps.foreachEpoch(input.toDF().toDF("k", "ts"), ckpt)(
      StreamOps.decayedTrendBatch(_, _, keys = Seq("k"), ts = "ts", halfLifeSeconds = 3600.0,
        statePath = state))
    try {
      input.addData(Seq.fill(4)(("a", t0)) :+ (("b", t0)): _*)
      q.processAllAvailable()
      input.addData(("b", t1), ("b", t1), ("c", t1))
      q.processAllAvailable()
    } finally q.stop()
    val stored = spark.read.parquet(state)
    assert(stored.columns.contains("batch"), "state must be epoch-partitioned")
    val top = StreamOps.trendingTopK(spark, state, Seq("k"),
        halfLifeSeconds = 3600.0, k = 3)
      .as[(String, Double)].collect().toList
    // as-of t1: a = 4·2⁻² = 1.0, b = 1·2⁻² + 2 = 2.25, c = 1.0;
    // the a/c tie breaks by key — recency beats a's bigger all-time count
    assert(top.map(_._1) == List("b", "a", "c"))
    assert(top.map(_._2).zip(List(2.25, 1.0, 1.0))
      .forall { case (g, w) => math.abs(g - w) < 1e-12 })
    // replaying epoch 0 rewrites equivalent state — scores unchanged
    StreamOps.decayedTrendBatch(
      (Seq.fill(4)(("a", t0)) :+ (("b", t0))).toDF("k", "ts"),
      0L, Seq("k"), "ts", 3600.0, state)
    val replayed = StreamOps.trendingTopK(spark, state, Seq("k"), 3600.0, 3)
      .as[(String, Double)].collect().toList
    assert(replayed == top, "a replayed epoch must leave the trend unchanged")
    intercept[IllegalArgumentException] {
      StreamOps.trendingTopK(spark, state, Seq("k"), 3600.0, 0)
    }
  }

  test("toKsDriftAlerts: in-family batch passes, shifted batch alarms, replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Double]
    val state = java.nio.file.Files.createTempDirectory("ksstate").toString + "/ks"
    val ckpt = java.nio.file.Files.createTempDirectory("ksckpt").toString
    val ref = (1 to 400).map(i => (i % 100).toDouble).toDF("v").cache()
    val q = StreamOps.foreachEpoch(input.toDF().toDF("v"), ckpt)(
      StreamOps.ksDriftBatch(_, _, value = "v", reference = ref, alpha = 0.01,
        statePath = state))
    try {
      input.addData((1 to 200).map(i => (i % 100).toDouble): _*)   // same family
      q.processAllAvailable()
      input.addData((1 to 200).map(i => 500.0 + i % 100): _*)      // shifted
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(state)
      .select(col("batch").cast("long"), col("drifted"), col("d_stat"))
      .as[(Long, Boolean, Double)].collect().sortBy(_._1).toList
    assert(rows.map(r => (r._1, r._2)) == List((0L, false), (1L, true)), s"got $rows")
    assert(rows(1)._3 == 1.0, "disjoint supports give D = 1")
    // replaying epoch 0 rewrites the identical verdict
    StreamOps.ksDriftBatch((1 to 200).map(i => (i % 100).toDouble).toDF("v"),
      0L, "v", ref, 0.01, state)
    val again = spark.read.parquet(state)
      .select(col("batch").cast("long"), col("drifted"), col("d_stat"))
      .as[(Long, Boolean, Double)].collect().sortBy(_._1).toList
    assert(again == rows, "a replayed epoch must leave the verdicts unchanged")
    intercept[IllegalArgumentException] {
      StreamOps.ksDriftBatch(Seq(1.0).toDF("v"), 2L, "v", ref, 1.5, state)
    }
  }

  test("toVocabGrowthState: first-seen-only landing, growth curve, replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val state = java.nio.file.Files.createTempDirectory("vgstate").toString + "/vg"
    val ckpt = java.nio.file.Files.createTempDirectory("vgckpt").toString
    val q = StreamOps.foreachEpoch(input.toDF().toDF("text"), ckpt)(
      StreamOps.vocabGrowthBatch(_, _, text = "text", statePath = state))
    try {
      input.addData("the cat sat", "the dog sat")   // epoch 0: the,cat,sat,dog
      q.processAllAvailable()
      input.addData("the cat ran", "a cat ran far") // epoch 1: ran,a,far only
      q.processAllAvailable()
    } finally q.stop()
    val st = spark.read.parquet(state)
      .select(col("token"), col("batch").cast("long").as("b"))
      .as[(String, Long)].collect().toMap
    assert(st == Map("the" -> 0L, "cat" -> 0L, "sat" -> 0L, "dog" -> 0L,
      "ran" -> 1L, "a" -> 1L, "far" -> 1L), s"got $st")
    val curve = StreamOps.vocabGrowthCurve(spark, state)
      .as[(Long, Long, Long)].collect().toList
    assert(curve == List((0L, 4L, 4L), (1L, 3L, 7L)))
    // replaying epoch 1 rewrites the identical token set — no growth
    StreamOps.vocabGrowthBatch(
      Seq("the cat ran", "a cat ran far").toDF("text"), 1L, "text", state)
    val curve2 = StreamOps.vocabGrowthCurve(spark, state)
      .as[(Long, Long, Long)].collect().toList
    assert(curve2 == curve, "a replayed epoch must leave the curve unchanged")
  }

  test("vocabGrowthBatch replays a first epoch that crashed mid-write") {
    val state = java.nio.file.Files.createTempDirectory("vgcrash").toString + "/vg"
    crashedWrite(s"$state/batch=0")
    StreamOps.vocabGrowthBatch(Seq("the cat sat", "the cat").toDF("text"), 0L, "text", state)
    val curve = StreamOps.vocabGrowthCurve(spark, state)
      .as[(Long, Long, Long)].collect().toList
    assert(curve == List((0L, 3L, 3L)), s"got $curve")
  }

  test("toAuditedIngest: clean batches land, poisoned batches quarantine with their audit") {
    implicit val sqlCtx = spark.sqlContext
    import graft.etl.Checks
    val dir = java.nio.file.Files.createTempDirectory("graft-audited")
    val data = dir.resolve("data").toString
    val quar = dir.resolve("quarantine").toString
    val ckpt = dir.resolve("ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.foreachEpoch(input.toDF().toDF("k", "s"), ckpt)(
      StreamOps.auditedIngestBatch(_, _,
        Seq(Checks.NotNull("s"), Checks.RowCountBetween(1L, 100L)), data, quar))
    try {
      input.addData((1L, "a"), (2L, "b"))                 // clean
      q.processAllAvailable()
      input.addData((3L, null.asInstanceOf[String]))      // poisoned
      q.processAllAvailable()
      input.addData((4L, "d"))                            // clean again
      q.processAllAvailable()
    } finally q.stop()
    // readers of dataRoot see ONLY the audited batches
    val landed = spark.read.parquet(data).select("k").as[Long].collect().sorted.toSeq
    assert(landed == Seq(1L, 2L, 4L))
    // the poisoned batch is preserved byte-for-byte with its audit
    val quarantined = spark.read.parquet(s"$quar/batch=1")
      .select("k").as[Long].collect().toSeq
    assert(quarantined == Seq(3L))
    val report = spark.read.parquet(s"$quar/_audit/batch=1")
      .filter(!col("passed")).select("check").as[String].collect().toSeq
    assert(report == Seq("not_null(s)"))
    // no staging debris anywhere
    assert(!new java.io.File(data).list().exists(_.startsWith("_staging")))
    // replaying the poisoned epoch re-lands it identically in quarantine
    StreamOps.auditedIngestBatch(
      Seq((3L, null.asInstanceOf[String])).toDF("k", "s"), 1L,
      Seq(Checks.NotNull("s"), Checks.RowCountBetween(1L, 100L)), data, quar)
    assert(spark.read.parquet(s"$quar/batch=1").count() == 1)
    assert(spark.read.parquet(data).count() == 3)
  }

  test("toPcaMomentState: streamed moments fit the same model as a one-pass batch fit") {
    implicit val sqlCtx = spark.sqlContext
    import graft.vectors.Pca
    val input = MemoryStream[(Long, Seq[Float])]
    val state = java.nio.file.Files.createTempDirectory("pcastate").toString + "/pca"
    val ckpt = java.nio.file.Files.createTempDirectory("pcackpt").toString
    // the PcaSpec cloud, split across two micro-batches
    val cloud = (0 until 200).map { i =>
      val a = 3.0 * math.sin(i * 0.731); val b = 0.7 * math.cos(i * 1.292)
      (i.toLong, Seq(1 + a * 0.5 + b * 0.5, 1 + a * 0.5 - b * 0.5,
        1 + a * 0.5 + b * 0.5, 1 + a * 0.5 - b * 0.5).map(_.toFloat))
    }
    val q = StreamOps.foreachEpoch(input.toDF().toDF("id", "vec"), ckpt)(
      StreamOps.pcaMomentStateBatch(_, _, "vec", dim = 4, statePath = state))
    try {
      input.addData(cloud.take(120): _*)
      q.processAllAvailable()
      input.addData(cloud.drop(120): _*)
      q.processAllAvailable()
    } finally q.stop()
    val stored = spark.read.parquet(state)
    assert(stored.columns.contains("batch") && stored.count() == 2)
    val streamed = StreamOps.pcaFromState(spark, state, dim = 4, k = 4)
    val batch = Pca.fit(cloud.toDF("id", "vec"), "vec", dim = 4, k = 4)
    assert(streamed.n == batch.n)
    streamed.eigenvalues.zip(batch.eigenvalues).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"eigenvalue drift: $a vs $b") }
    // the cloud is rank-2: only the non-degenerate top components are
    // comparable (null-space eigenvectors are arbitrary up to rotation)
    streamed.components.take(2).flatMap(_.toSeq)
      .zip(batch.components.take(2).flatMap(_.toSeq)).foreach {
        case (a, b) => assert(math.abs(a - b) < 1e-7, s"component drift: $a vs $b") }
    // replaying epoch 1 overwrites an equivalent row — never a double
    // count; equality is up to fp merge order (double sums are not
    // associative across partition splits), so compare to 1e-12
    StreamOps.pcaMomentStateBatch(cloud.drop(120).toDF("id", "vec"), 1L, "vec", 4, state)
    val replayed = StreamOps.pcaFromState(spark, state, dim = 4, k = 4)
    assert(replayed.n == streamed.n)
    replayed.eigenvalues.zip(streamed.eigenvalues).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12, s"replay drift: $a vs $b") }
  }

  test("toParagraphDeduped: cross-batch paragraph suppression via the index") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-paradedup")
    val out = dir.resolve("out").toString
    val index = dir.resolve("index").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.foreachEpoch(input.toDF().toDF("doc_id", "text"),
        dir.resolve("ckpt").toString)(
      StreamOps.paragraphDedupBatch(_, _, id = "doc_id", text = "text",
        outRoot = out, indexPath = index))
    try {
      input.addData((1L, "shared boilerplate\n\nfirst unique"))
      q.processAllAvailable()
      input.addData((2L, "shared boilerplate\n\nsecond unique"))
      q.processAllAvailable()
      val landed = spark.read.parquet(out)
        .select("doc_id", "clean_text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(landed(1L) == "shared boilerplate\n\nfirst unique")
      assert(landed(2L) == "second unique", s"got ${landed(2L)}")
    } finally q.stop()
  }

  test("paragraphDedupBatch replay: same epoch twice leaves identical state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-paradedup-replay")
    val out = dir.resolve("out").toString
    val index = dir.resolve("index").toString
    val b0 = Seq((1L, "alpha para\n\nbeta para")).toDF("doc_id", "text")
    val b1 = Seq((2L, "beta para\n\ngamma para")).toDF("doc_id", "text")
    StreamOps.paragraphDedupBatch(b0, 0L, "doc_id", "text", out, index)
    StreamOps.paragraphDedupBatch(b1, 1L, "doc_id", "text", out, index)
    // at-least-once: epoch 1 fires again — must re-judge against the
    // pre-batch index and rewrite to the same state
    StreamOps.paragraphDedupBatch(b1, 1L, "doc_id", "text", out, index)
    val landed = spark.read.parquet(out).select("doc_id", "clean_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(landed.size == 2)
    assert(landed(2L) == "gamma para", s"got ${landed(2L)}")
    val fps = spark.read.parquet(index).select("para_hash").distinct().count()
    assert(fps == 3L, s"index must hold exactly 3 paragraph fingerprints, got $fps")
  }

  test("paragraphDedupBatch replays a first epoch that crashed mid-write") {
    val dir = java.nio.file.Files.createTempDirectory("graft-paradedup-crash")
    val out = dir.resolve("out").toString
    val index = dir.resolve("index").toString
    crashedWrite(s"$out/batch=0")
    crashedWrite(s"$index/batch=0")
    val b0 = Seq((1L, "alpha para\n\nbeta para\n\nalpha para")).toDF("doc_id", "text")
    StreamOps.paragraphDedupBatch(b0, 0L, "doc_id", "text", out, index)
    val landed = spark.read.parquet(out).select("doc_id", "clean_text").as[(Long, String)]
      .collect().toSeq
    assert(landed == Seq(1L -> "alpha para\n\nbeta para"), s"got $landed")
    assert(spark.read.parquet(index).count() == 2L)
  }

  test("contentDiffBatch classifies against the LATEST prior digest, not any older one") {
    val dir = java.nio.file.Files.createTempDirectory("graft-contentdiff")
    val out = dir.resolve("out").toString
    val index = dir.resolve("index").toString
    val b0 = Seq((1L, "alpha", "web"), (2L, "beta", "web")).toDF("doc_id", "text", "source")
    val b1 = Seq((1L, "alpha", "web"), (2L, "beta2", "web"), (3L, "gamma", "web"))
      .toDF("doc_id", "text", "source")
    // 2 reverts to its ORIGINAL content: still "changed" vs the latest
    // (batch-1) digest — latest-wins, not first-wins
    val b2 = Seq((2L, "beta", "web")).toDF("doc_id", "text", "source")
    val cols = Seq("text", "source")
    StreamOps.contentDiffBatch(b0, 0L, "doc_id", cols, out, index)
    StreamOps.contentDiffBatch(b1, 1L, "doc_id", cols, out, index)
    StreamOps.contentDiffBatch(b2, 2L, "doc_id", cols, out, index)
    val events = spark.read.parquet(out).select("batch", "key", "change").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(events == Map(
      (0, 1L) -> "added", (0, 2L) -> "added",
      (1, 1L) -> "unchanged", (1, 2L) -> "changed", (1, 3L) -> "added",
      (2, 2L) -> "changed"))
    // unchanged keys write no index row: batch=1 holds only 2 and 3
    val idx1 = spark.read.parquet(index).filter(col("batch") === 1)
      .select("key").as[Long].collect().toSet
    assert(idx1 == Set(2L, 3L))
    // current state is latest-batch-wins: 2's digest equals its b2 form
    val state = StreamOps.latestContentState(spark, index).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state.keySet == Set(1L, 2L, 3L))
    val b2digest = graft.etl.SnapshotDiff
      .diff(b2, b2, "doc_id", cols).select("cur_digest").as[String].head()
    assert(state(2L) == b2digest)
  }

  test("contentDiffBatch replay: same epoch twice leaves identical events and state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-contentdiff-replay")
    val out = dir.resolve("out").toString
    val index = dir.resolve("index").toString
    val cols = Seq("text")
    val b0 = Seq((1L, "alpha")).toDF("doc_id", "text")
    val b1 = Seq((1L, "alpha2"), (2L, "beta")).toDF("doc_id", "text")
    StreamOps.contentDiffBatch(b0, 0L, "doc_id", cols, out, index)
    StreamOps.contentDiffBatch(b1, 1L, "doc_id", cols, out, index)
    // at-least-once: epoch 1 fires again — judged against the pre-batch
    // index (epoch-1 state excluded), so classification cannot drift
    StreamOps.contentDiffBatch(b1, 1L, "doc_id", cols, out, index)
    val events = spark.read.parquet(out).select("batch", "key", "change").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(events == Map((0, 1L) -> "added", (1, 1L) -> "changed", (1, 2L) -> "added"))
    assert(StreamOps.latestContentState(spark, index).count() == 2)
  }

  test("toContentDiff: end-to-end change feed over micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-contentdiff-e2e")
    val out = dir.resolve("out").toString
    val index = dir.resolve("index").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.foreachEpoch(input.toDF().toDF("doc_id", "text"),
        dir.resolve("ckpt").toString)(
      StreamOps.contentDiffBatch(_, _, id = "doc_id", contentCols = Seq("text"),
        outRoot = out, indexPath = index))
    try {
      input.addData((1L, "alpha"), (2L, "beta"))
      q.processAllAvailable()
      input.addData((1L, "alpha"), (2L, "beta3"))
      q.processAllAvailable()
      val events = spark.read.parquet(out).select("batch", "key", "change").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getString(2)).toMap
      assert(events == Map(
        (0, 1L) -> "added", (0, 2L) -> "added",
        (1, 1L) -> "unchanged", (1, 2L) -> "changed"))
    } finally q.stop()
  }

  test("toCleanIngest: strips chrome, gates junk, suppresses cross-batch dups") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cleaningest")
    val out = dir.resolve("out").toString
    val index = dir.resolve("index").toString
    val prose = (1 to 15).map(i => s"the word$i and word${i}b").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.foreachEpoch(input.toDF().toDF("doc_id", "text"),
        dir.resolve("ckpt").toString)(
      StreamOps.cleanIngestBatch(_, _, id = "doc_id", text = "text",
        outRoot = out, indexPath = index))
    try {
      input.addData(
        (1L, "Accept Cookies\n" + prose),  // banner stripped, prose survives
        (2L, "too short"))                   // fails the word-count gate
      q.processAllAvailable()
      input.addData(
        (3L, prose),                         // cleaned dup of doc 1 -> dropped
        (4L, (1 to 15).map(i => s"the other$i and other${i}b").mkString(" ")))
      q.processAllAvailable()
      val landed = spark.read.parquet(out)
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(landed.keySet == Set(1L, 4L), s"got ${landed.keySet}")
      assert(landed(1L) == prose, "banner must be stripped before landing")
    } finally q.stop()
  }

  test("balancedShardBatch: streaming LPT — heaviest doc to lightest shard, replay identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shards")
    val out = dir.resolve("out").toString
    val state = dir.resolve("state").toString
    val b0 = Seq((1L, 100L), (2L, 90L), (3L, 10L), (4L, 5L)).toDF("doc_id", "cost")
    StreamOps.balancedShardBatch(b0, 0L, "doc_id", col("cost"), out, state, shards = 2)
    val a0 = spark.read.parquet(out).select("doc_id", "shard")
      .as[(Long, Int)].collect().toMap
    // serpentine over equal loads: ranks 1..4 → shards 0,1,1,0
    assert(a0 == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 0), s"got $a0")
    val b1 = Seq((5L, 50L), (6L, 1L)).toDF("doc_id", "cost")
    StreamOps.balancedShardBatch(b1, 1L, "doc_id", col("cost"), out, state, shards = 2)
    val a1 = spark.read.parquet(out).select("doc_id", "shard")
      .as[(Long, Int)].collect().toMap
    // prior loads: shard0=105, shard1=100 → lightest is 1 → doc 5 lands there
    assert(a1(5L) == 1 && a1(6L) == 0, s"got $a1")
    val loads = StreamOps.shardLoads(spark, state)
      .as[(Int, Long)].collect().toMap
    assert(loads == Map(0 -> 106L, 1 -> 150L), s"got $loads")
    // replay epoch 1: identical assignment, identical state rollup
    StreamOps.balancedShardBatch(b1, 1L, "doc_id", col("cost"), out, state, shards = 2)
    val a1r = spark.read.parquet(out).select("doc_id", "shard")
      .as[(Long, Int)].collect().toMap
    assert(a1r == a1, "replay changed assignments")
    val loadsR = StreamOps.shardLoads(spark, state).as[(Int, Long)].collect().toMap
    assert(loadsR == loads, "replay changed state")
  }

  test("readouts read committed epochs only; none committed fails naming the root") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shards-uncommitted")
    val out = dir.resolve("out").toString
    val state = dir.resolve("state").toString
    StreamOps.balancedShardBatch(Seq((1L, 100L), (2L, 90L)).toDF("doc_id", "cost"),
      0L, "doc_id", col("cost"), out, state, shards = 2)
    val loads0 = StreamOps.shardLoads(spark, state).as[(Int, Long)].collect().toMap
    assert(loads0 == Map(0 -> 100L, 1 -> 90L), s"got $loads0")
    // epoch 1's part files landed but its job commit never wrote _SUCCESS
    StreamOps.balancedShardBatch(Seq((3L, 50L)).toDF("doc_id", "cost"),
      1L, "doc_id", col("cost"), out, state, shards = 2)
    java.nio.file.Files.delete(java.nio.file.Paths.get(state, "batch=1", "_SUCCESS"))
    val loads = StreamOps.shardLoads(spark, state).as[(Int, Long)].collect().toMap
    assert(loads == loads0, s"an uncommitted epoch leaked into the readout: $loads")
    val none = dir.resolve("none").toString
    crashedWrite(s"$none/batch=0")
    val ex = intercept[IllegalStateException](StreamOps.shardLoads(spark, none))
    assert(ex.getMessage.contains(none), ex.getMessage)
  }

  test("toBalancedShards end-to-end over a MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-shards-e2e")
    val input = MemoryStream[(Long, Long)]
    val q = StreamOps.foreachEpoch(input.toDF().toDF("doc_id", "cost"),
        dir.resolve("ckpt").toString)(
      StreamOps.balancedShardBatch(_, _, "doc_id", col("cost"), dir.resolve("out").toString,
        dir.resolve("state").toString, shards = 3))
    try {
      input.addData((1L, 30L), (2L, 20L), (3L, 10L))
      q.processAllAvailable()
      input.addData((4L, 25L))
      q.processAllAvailable()
      val loads = StreamOps.shardLoads(spark, dir.resolve("state").toString)
        .as[(Int, Long)].collect().toMap
      assert(loads.values.sum == 85L, s"got $loads")
      assert(loads.size == 3 && loads.values.max <= 35L, s"imbalanced: $loads")
    } finally q.stop()
  }

  test("toQualityRouted: keeps land cleaned, rejects land with per-gate reasons") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-router")
    val keep = dir.resolve("keep").toString
    val rej = dir.resolve("rej").toString
    val line = "the quick brown dog runs over the lazy cat today."
    val good = Seq.fill(5)(line).mkString("\n")    // 50 words, 5 sentences
    val short3 = Seq.fill(3)(line).mkString("\n")  // C4-clean but < minWords
    val junk = "no terminal punctuation here at all\n{ code }"
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.foreachEpoch(input.toDF().toDF("doc_id", "text"),
        dir.resolve("ckpt").toString)(
      StreamOps.qualityRoutedBatch(_, _, "doc_id", "text", keep, rej, minWords = 40))
    try {
      input.addData((1L, good), (2L, short3), (3L, junk))
      q.processAllAvailable()
      val kept = spark.read.parquet(keep).select("doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(kept.keySet == Set(1L), s"got ${kept.keySet}")
      assert(kept(1L) == good, "every line survives cleaning, so text is unchanged")
      val rejects = spark.read.parquet(rej).select("doc_id", "reject_reasons")
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      assert(rejects.keySet == Set(2L, 3L))
      assert(rejects(2L).contains("gopher_word_count") && !rejects(2L).contains("c4_sentences"),
        s"doc 2 reasons: ${rejects(2L)}")
      assert(rejects(3L).contains("c4_sentences"), s"doc 3 reasons: ${rejects(3L)}")
      // junk's brace line is dropped by the LINE rule, so the page-level
      // brace gate (which judges cleaned text) must not fire
      assert(!rejects(3L).contains("c4_brace"), s"doc 3 reasons: ${rejects(3L)}")
    } finally q.stop()
  }

  test("qualityRoutedBatch replay: same epoch twice leaves identical routed outputs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-router-replay")
    val keep = dir.resolve("keep").toString
    val rej = dir.resolve("rej").toString
    val line = "the quick brown dog runs over the lazy cat today."
    val b = Seq((1L, Seq.fill(5)(line).mkString("\n")), (2L, "junk")).toDF("doc_id", "text")
    def snap(p: String) = spark.read.parquet(p)
      .collect().map(_.toString).sorted.toSeq
    StreamOps.qualityRoutedBatch(b, 0L, "doc_id", "text", keep, rej, 5, 3, Nil, 40)
    val (k1, r1) = (snap(keep), snap(rej))
    StreamOps.qualityRoutedBatch(b, 0L, "doc_id", "text", keep, rej, 5, 3, Nil, 40)
    assert(snap(keep) == k1 && snap(rej) == r1, "replaying an epoch must be a no-op")
  }

  test("cleanIngestBatch replay leaves identical output and index state") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cleaningest-replay")
    val out = dir.resolve("out").toString
    val index = dir.resolve("index").toString
    val prose = (1 to 15).map(i => s"the word$i and word${i}b").mkString(" ")
    val b0 = Seq((1L, prose)).toDF("doc_id", "text")
    val b1 = Seq((2L, prose), (3L, (1 to 15).map(i => s"the alt$i and alt${i}b").mkString(" ")))
      .toDF("doc_id", "text")
    StreamOps.cleanIngestBatch(b0, 0L, "doc_id", "text", out, index, 50)
    StreamOps.cleanIngestBatch(b1, 1L, "doc_id", "text", out, index, 50)
    StreamOps.cleanIngestBatch(b1, 1L, "doc_id", "text", out, index, 50) // replay
    val landed = spark.read.parquet(out).select("doc_id").as[Long].collect().toSeq.sorted
    assert(landed == Seq(1L, 3L), s"replay changed the landed set: $landed")
    val n = spark.read.parquet(index).select("content_hash").distinct().count()
    assert(n == 2L, s"index must hold exactly 2 content hashes, got $n")
  }

  test("toLateRouted: routes by the prior-epoch watermark; nulls quarantine; replay stable") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-late")
    val onTime = dir.resolve("ontime").toString
    val late = dir.resolve("late").toString
    val ckpt = dir.resolve("ckpt").toString
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, Timestamp)]
    val q = StreamOps.foreachEpoch(input.toDF().toDF("k", "ts"), ckpt)(
      StreamOps.lateRoutedBatch(_, _, "ts", StreamOps.intervalMicros("10 minutes"),
        onTime, late))
    try {
      // epoch 0: no prior marker — everything on-time (even old rows)
      input.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // epoch 1: watermark = 10:05 − 10min = 09:55; 09:50 is late,
      // 09:56 within delay, null ts unplaceable
      input.addData((3L, ts("2024-01-01 09:50:00")), (4L, ts("2024-01-01 09:56:00")),
        (5L, null.asInstanceOf[Timestamp]), (6L, ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
    } finally q.stop()
    def keys(p: String) = spark.read.parquet(p).select("k").as[Long].collect().sorted.toSeq
    assert(keys(s"$onTime/batch=0") == Seq(1L, 2L))
    assert(keys(s"$onTime/batch=1") == Seq(4L, 6L))
    assert(keys(s"$late/batch=1") == Seq(3L, 5L))
    // replay of epoch 1 AFTER later markers exist routes identically:
    // the marker of epoch 1 itself (10:20) must not move its own watermark
    StreamOps.lateRoutedBatch(
      Seq((3L, ts("2024-01-01 09:50:00")), (4L, ts("2024-01-01 09:56:00")),
        (5L, null.asInstanceOf[Timestamp]), (6L, ts("2024-01-01 10:20:00")))
        .toDF("k", "ts"),
      1L, "ts", 600000000L, onTime, late)
    assert(keys(s"$onTime/batch=1") == Seq(4L, 6L))
    assert(keys(s"$late/batch=1") == Seq(3L, 5L))
  }

  test("intervalMicros parses day-time intervals and rejects months") {
    assert(StreamOps.intervalMicros("10 minutes") === 600000000L)
    assert(StreamOps.intervalMicros("1 day 1 hour") === 90000000000L)
    intercept[IllegalArgumentException](StreamOps.intervalMicros("2 months"))
  }

  test("sessionWindowAgg: engine-merged sessions close at watermark; bridging event merges") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamOps.sessionWindowAgg(input.toDF().toDF("user_id", "ts", "v"),
      "ts", "10 minutes", "1 minute", "user_id", "v")
    val q = out.writeStream.format("memory").queryName("swa").outputMode("append").start()
    try {
      // two spans 100s apart (> gap) — would be two sessions...
      input.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 10:01:40"), 2.0))
      q.processAllAvailable()
      // ...but a bridging event 50s after the first closes the hole, so
      // the STORE must merge them into one open session
      input.addData((1L, ts("2024-01-01 10:00:50"), 4.0))
      q.processAllAvailable()
      // far-future event advances the watermark past end+gap → emit
      input.addData((1L, ts("2024-01-01 11:00:00"), 8.0), (2L, ts("2024-01-01 11:00:00"), 9.0))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 12:00:00"), 0.0))
      q.processAllAvailable()
      val got = spark.table("swa")
        .select("user_id", "n_events", "sum_value",
          "session_start", "session_end")
        .as[(Long, Long, Double, Timestamp, Timestamp)].collect().sortBy(_._1).toSeq
      val merged = got.filter(r => r._1 == 1L && r._2 == 3L)
      assert(merged.nonEmpty, s"expected one merged 3-event session, got $got")
      assert(merged.head._3 === 7.0)
      assert(merged.head._4 === ts("2024-01-01 10:00:00"))
      // engine session end = last event + gap
      assert(merged.head._5 === ts("2024-01-01 10:02:40"))
    } finally q.stop()
  }

  test("toForecastState: streaming state ≡ batch holtSmooth, replay idempotent, seed phase null") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val state = java.nio.file.Files.createTempDirectory("fcstate").toString + "/fc"
    val ckpt = java.nio.file.Files.createTempDirectory("fcckpt").toString
    val q = StreamOps.foreachEpoch(input.toDF().toDF("ts", "k", "v"), ckpt)(
      StreamOps.forecastStateBatch(_, _, keys = Seq("k"), ts = "ts", value = "v",
        alpha = 0.5, beta = 0.4, statePath = state))
    val e0 = Seq(
      (ts("2024-01-01 10:00:00"), "a", 3.0), (ts("2024-01-01 11:00:00"), "a", 5.0),
      (ts("2024-01-01 10:00:00"), "solo", 9.0))
    val e1 = Seq(
      (ts("2024-01-01 12:00:00"), "a", 4.0), (ts("2024-01-01 13:00:00"), "a", 8.0),
      (ts("2024-01-01 12:00:00"), "fresh", 1.0), (ts("2024-01-01 13:00:00"), "fresh", 2.0))
    try {
      input.addData(e0: _*); q.processAllAvailable()
      input.addData(e1: _*); q.processAllAvailable()
    } finally q.stop()
    val got = StreamOps.forecastFrom(spark, state, Seq("k"), horizon = 2)
      .select("k", "level", "trend", "n", "forecast")
      .as[(String, Option[Double], Option[Double], Long, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    // cross-epoch key equals the batch fold over ALL its points
    val all = (e0 ++ e1).toDF("ts", "k", "v")
    val want = graft.operators.TimeSeries.holtSmooth(all, col("k"),
        col("ts").cast("long"), col("v"), alpha = 0.5, beta = 0.4, horizon = 2)
      .select("key", "level", "trend", "forecast")
      .as[(String, Double, Double, Double)].collect().map(r => r._1 -> r).toMap
    for (k <- Seq("a", "fresh")) {
      assert(math.abs(got(k)._2.get - want(k)._2) < 1e-12, s"level $k")
      assert(math.abs(got(k)._3.get - want(k)._3) < 1e-12, s"trend $k")
      assert(math.abs(got(k)._5.get - want(k)._4) < 1e-12, s"forecast $k")
    }
    assert(got("a")._4 === 4L && got("fresh")._4 === 2L)
    // seed-phase key: level present, trend/forecast null — never fabricated
    assert(got("solo")._2.contains(9.0) && got("solo")._3.isEmpty &&
      got("solo")._5.isEmpty && got("solo")._4 === 1L)
    // replaying epoch 1 rewrites identical state
    StreamOps.forecastStateBatch(e1.toDF("ts", "k", "v"), 1L, Seq("k"), "ts", "v",
      0.5, 0.4, state)
    val again = StreamOps.forecastFrom(spark, state, Seq("k"), horizon = 2)
      .select("k", "level", "trend", "n", "forecast")
      .as[(String, Option[Double], Option[Double], Long, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(again === got, "a replayed epoch must leave the state unchanged")
    intercept[IllegalArgumentException] {
      StreamOps.forecastFrom(spark, state, Seq("k"), horizon = 0)
    }
  }

  test("toMarkovState: cross-batch boundary pairs counted, ≡ batch transitions, replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, String)]
    val state = java.nio.file.Files.createTempDirectory("mkstate").toString + "/mk"
    val ckpt = java.nio.file.Files.createTempDirectory("mkckpt").toString
    val q = StreamOps.foreachEpoch(input.toDF().toDF("ts", "u", "s"), ckpt)(
      StreamOps.markovStateBatch(_, _, entity = "u", ts = "ts", state = "s",
        statePath = state))
    // u1 path view→click→view→buy SPLIT across the epoch boundary after
    // "click" — the view→(boundary)→view pair only exists cross-batch
    val e0 = Seq(
      (ts("2024-01-01 10:00:00"), "u1", "view"), (ts("2024-01-01 10:01:00"), "u1", "click"),
      (ts("2024-01-01 10:00:00"), "u2", "view"))
    val e1 = Seq(
      (ts("2024-01-01 11:00:00"), "u1", "view"), (ts("2024-01-01 11:01:00"), "u1", "buy"),
      (ts("2024-01-01 11:00:00"), "u2", "view"))
    try {
      input.addData(e0: _*); q.processAllAvailable()
      input.addData(e1: _*); q.processAllAvailable()
    } finally q.stop()
    val got = StreamOps.transitionsFrom(spark, state)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // batch reference over the full concatenated history
    val want = graft.analytics.Markov.transitions(
        (e0 ++ e1).toDF("ts", "u", "s"), col("u"), col("ts"), col("s"), Seq(col("ts")))
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got === want, s"streaming $got vs batch $want")
    // the boundary pair is really in there
    assert(got(("click", "view"))._1 === 1L)
    assert(got(("view", "view"))._1 === 1L) // u2's cross-batch self-pair
    // replaying epoch 1 rewrites identical state
    StreamOps.markovStateBatch(e1.toDF("ts", "u", "s"), 1L, "u", "ts", "s", state)
    val again = StreamOps.transitionsFrom(spark, state)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(again === got, "a replayed epoch must leave the matrix unchanged")
  }

  test("markovStateBatch: a straggler batch never emits time-reversed pairs or regresses state") {
    val state = java.nio.file.Files.createTempDirectory("mkstrag").toString + "/mk"
    // epoch 0: u1 view@10:00 → click@10:01; stored last = click@10:01
    StreamOps.markovStateBatch(Seq(
      (ts("2024-01-01 10:00:00"), "u1", "view"),
      (ts("2024-01-01 10:01:00"), "u1", "click")).toDF("ts", "u", "s"),
      0L, "u", "ts", "s", state)
    // epoch 1 arrives LATE and wholly predates the stored last: no
    // boundary pair (click@10:01 → login@09:00 is time-reversed), and
    // the stored last must stay click@10:01, not regress to login
    StreamOps.markovStateBatch(Seq(
      (ts("2024-01-01 09:00:00"), "u1", "login")).toDF("ts", "u", "s"),
      1L, "u", "ts", "s", state)
    // epoch 2: buy@11:00 — boundary must chain from the PRESERVED last
    StreamOps.markovStateBatch(Seq(
      (ts("2024-01-01 11:00:00"), "u1", "buy")).toDF("ts", "u", "s"),
      2L, "u", "ts", "s", state)
    val got = StreamOps.transitionsFrom(spark, state)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map(("view", "click") -> 1L, ("click", "buy") -> 1L),
      s"straggler handling broke the chain: $got")
  }

  test("markovStateBatch: a PARTIALLY overlapping batch keeps its boundary pair") {
    val state = java.nio.file.Files.createTempDirectory("mkpart").toString + "/mk"
    // epoch 0: u1 view@10:00 → click@10:02; stored last = click@10:02
    StreamOps.markovStateBatch(Seq(
      (ts("2024-01-01 10:00:00"), "u1", "view"),
      (ts("2024-01-01 10:02:00"), "u1", "click")).toDF("ts", "u", "s"),
      0L, "u", "ts", "s", state)
    // epoch 1 PARTIALLY overlaps: login@10:01 predates the stored last
    // but buy@11:00 does not — the boundary pair must chain from the
    // stored click to the first in-order event at/after it (buy), not
    // be silently dropped because the batch's FIRST event is early
    StreamOps.markovStateBatch(Seq(
      (ts("2024-01-01 10:01:00"), "u1", "login"),
      (ts("2024-01-01 11:00:00"), "u1", "buy")).toDF("ts", "u", "s"),
      1L, "u", "ts", "s", state)
    val got = StreamOps.transitionsFrom(spark, state)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // within epoch 0: view→click; within epoch 1: login→buy;
    // boundary: click→buy (the first in-batch event with ts >= last)
    assert(got === Map(("view", "click") -> 1L, ("login", "buy") -> 1L,
      ("click", "buy") -> 1L), s"partial-overlap boundary pair lost: $got")
    // and the stored last state is buy@11:00 (temporal max, no regress)
    StreamOps.markovStateBatch(Seq(
      (ts("2024-01-01 12:00:00"), "u1", "churn")).toDF("ts", "u", "s"),
      2L, "u", "ts", "s", state)
    val got2 = StreamOps.transitionsFrom(spark, state)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got2(("buy", "churn")) === 1L, s"stored last regressed: $got2")
  }

  test("toRateState: cross-epoch rollup ≡ batch EB shrinkage, replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val state = java.nio.file.Files.createTempDirectory("rstate").toString + "/rs"
    val ckpt = java.nio.file.Files.createTempDirectory("rckpt").toString
    val q = StreamOps.foreachEpoch(input.toDF().toDF("k", "ok"), ckpt)(
      StreamOps.rateStateBatch(_, _, keys = Seq("k"), success = "ok", statePath = state))
    val e0 = Seq(("a", 1), ("a", 0), ("b", 1), ("b", 1))
    val e1 = Seq(("a", 1), ("a", 1), ("b", 0), ("b", 0), ("c", 1), ("c", 0))
    try {
      input.addData(e0: _*); q.processAllAvailable()
      input.addData(e1: _*); q.processAllAvailable()
    } finally q.stop()
    val got = StreamOps.shrunkRatesFrom(spark, state, Seq("k"))
      .select("key", "n", "y", "shrunk")
      .as[(String, Long, Double, Option[Double])].collect().sortBy(_._1).toSeq
    val want = graft.analytics.Stats.ebShrinkRates(
        (e0 ++ e1).toDF("k", "ok"), col("k"), col("ok"))
      .select("key", "n", "y", "shrunk")
      .as[(String, Long, Double, Option[Double])].collect().sortBy(_._1).toSeq
    assert(got === want, s"streaming $got vs batch $want")
    // replaying epoch 0 rewrites identical counts
    StreamOps.rateStateBatch(e0.toDF("k", "ok"), 0L, Seq("k"), "ok", state)
    val again = StreamOps.shrunkRatesFrom(spark, state, Seq("k"))
      .select("key", "n", "y", "shrunk")
      .as[(String, Long, Double, Option[Double])].collect().sortBy(_._1).toSeq
    assert(again === got, "a replayed epoch must leave the rates unchanged")
  }

  test("toFunnelState: cross-epoch progress ≡ batch funnel, replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, String)]
    val state = java.nio.file.Files.createTempDirectory("fnstate").toString + "/fn"
    val ckpt = java.nio.file.Files.createTempDirectory("fnckpt").toString
    val steps = Seq("view", "click", "buy")
    val q = StreamOps.foreachEpoch(input.toDF().toDF("ts", "u", "e"), ckpt)(
      StreamOps.funnelStateBatch(_, _, entity = "u", ts = "ts", typeCol = "e",
        steps = steps, statePath = state))
    // u1 completes across the boundary; u2 clicks BEFORE viewing (no
    // credit), then views and clicks in epoch 1; u3 never starts
    val e0 = Seq(
      (ts("2024-01-01 10:00:00"), "u1", "view"), (ts("2024-01-01 10:01:00"), "u1", "click"),
      (ts("2024-01-01 10:00:00"), "u2", "click"), (ts("2024-01-01 10:02:00"), "u2", "view"),
      (ts("2024-01-01 10:00:00"), "u3", "other"))
    val e1 = Seq(
      (ts("2024-01-01 11:00:00"), "u1", "buy"),
      (ts("2024-01-01 11:00:00"), "u2", "click"))
    try {
      input.addData(e0: _*); q.processAllAvailable()
      input.addData(e1: _*); q.processAllAvailable()
    } finally q.stop()
    val got = StreamOps.funnelFrom(spark, state, steps)
      .select("step_index", "step", "n_users", "conversion")
      .as[(Long, String, Long, Double)].collect().sortBy(_._1).toSeq
    val want = graft.analytics.Funnel.funnel((e0 ++ e1).toDF("ts", "u", "e"),
        col("u"), col("ts"), col("e"), steps)
      .select("step_index", "step", "n_users", "conversion")
      .as[(Long, String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === want, s"streaming $got vs batch $want")
    assert(got.map(_._3) === Seq(2L, 2L, 1L)) // u1 buys, u2 reaches click
    // replaying epoch 1 rewrites identical progress
    StreamOps.funnelStateBatch(e1.toDF("ts", "u", "e"), 1L, "u", "ts", "e", steps, state)
    val again = StreamOps.funnelFrom(spark, state, steps)
      .select("step_index", "n_users").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(again === got.map(r => (r._1, r._3)))
  }

  test("toSkylineState: merge closure ≡ batch skyline, later epochs dominate, replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Double, Double, String)]
    val state = java.nio.file.Files.createTempDirectory("skstate").toString + "/sk"
    val ckpt = java.nio.file.Files.createTempDirectory("skckpt").toString
    val q = StreamOps.foreachEpoch(input.toDF().toDF("x", "y", "id"), ckpt)(
      StreamOps.skylineStateBatch(_, _, x = "x", y = "y", carry = Seq("id"),
        statePath = state))
    val e0 = Seq((1.0, 5.0, "a"), (3.0, 3.0, "b"), (2.0, 2.0, "dom0"))
    val e1 = Seq((4.0, 4.0, "c"), (0.5, 0.5, "dom1")) // c dominates b
    try {
      input.addData(e0: _*); q.processAllAvailable()
      input.addData(e1: _*); q.processAllAvailable()
    } finally q.stop()
    val got = StreamOps.skylineFrom(spark, state, "x", "y")
      .select("id").as[String].collect().toSet
    val want = graft.operators.Ranking.skyline2D(
        (e0 ++ e1).toDF("x", "y", "id"), col("x"), col("y"))
      .select("id").as[String].collect().toSet
    assert(got === want && got === Set("a", "c")) // b fell to c at read
    // replaying epoch 0 rewrites the identical frontier
    StreamOps.skylineStateBatch(e0.toDF("x", "y", "id"), 0L, "x", "y", Seq("id"), state)
    val again = StreamOps.skylineFrom(spark, state, "x", "y")
      .select("id").as[String].collect().toSet
    assert(again === got)
  }
}
