package graft.operators

import graft.SparkSpec
import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The reliable-checkpoint opt-in for iterative operators: setting a
  * checkpoint dir on the SparkContext must switch every
  * [[Lineage.truncate]] call from executor-memory localCheckpoint to
  * durable `df.checkpoint()` — same results, real files on disk, plan
  * truncated to the checkpointed RDD.
  */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` with a real checkpoint dir configured, then restore the
    * shared session to its no-checkpoint-dir state (the field has no
    * public unset; tests must not leak the dir into other suites). */
  private def withCheckpointDir[T](body: java.io.File => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    sc.setCheckpointDir(dir.getAbsolutePath)
    try body(dir)
    finally {
      val m = sc.getClass.getMethods.find(_.getName == "checkpointDir_$eq").get
      m.invoke(sc, prev.map(Option(_)).getOrElse(None))
    }
  }

  // a~b~c~d chain plus an isolated pair: exercises multiple rounds
  private val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    .toDF("doc_a", "doc_b")

  test("clusterPairs under a checkpoint dir: same labels, durable files, truncated plan") {
    val baseline = Dedup.clusterPairs(pairs)
      .as[(Long, Long)].collect().toSet
    withCheckpointDir { dir =>
      val out = Dedup.clusterPairs(pairs)
      val labeled = out.as[(Long, Long)].collect().toSet
      assert(labeled == baseline, "reliable-checkpoint run diverged from localCheckpoint run")
      assert(labeled == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L)))
      // durable: the rounds actually wrote checkpoint data under the dir
      val rddDirs = Option(dir.listFiles()).getOrElse(Array.empty)
        .flatMap(f => Option(f.listFiles()).getOrElse(Array.empty))
        .filter(_.getName.startsWith("rdd-"))
      assert(rddDirs.nonEmpty, s"no rdd-* checkpoint dirs written under $dir")
      // truncated: the final plan hangs off a checkpointed RDD scan, not
      // the full iterated join tree
      val leaves = out.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
        s"expected a LogicalRDD leaf (checkpoint), got ${leaves.map(_.nodeName)}")
    }
  }

  /** Every caller of the power-iteration kernel (`PageRank.iterate`),
    * on a small input with a dangling vertex where one applies, as a
    * function of the round count. */
  private lazy val walks: Seq[(String, Int => DataFrame)] = {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (1L, 5L)).toDF("src", "dst")
    val weighted = Seq((1L, 2L, 3.0), (2L, 3L, 1.0), (3L, 1L, 2.0), (4L, 1L, 1.0), (1L, 5L, 1.0))
      .toDF("src", "dst", "weight")
    val docs = Seq("spark runs fast and spark scales", "fast spark jobs scale well")
      .toDF("text")
    val trans = Seq(("a", "b", 0.5), ("a", "c", 0.5), ("b", "a", 1.0), ("c", "end", 1.0))
      .toDF("from_state", "to_state", "p")
    Seq(
      "pageRank" -> (i => graft.graph.PageRank.pageRank(edges, iters = i)),
      "weightedPageRank" -> (i => graft.graph.PageRank.weightedPageRank(weighted, iters = i)),
      "textRank" -> (i => graft.text.TextRank.textRank(docs, col("text"), iters = i,
        minCount = 1)),
      "stationary" -> (i => graft.analytics.Markov.stationary(trans, iters = i)))
  }

  test("every power-iteration caller is bit-identical with and without a reliable checkpoint dir") {
    for ((name, walk) <- walks) {
      val base = walk(3).collect().map(r => r.get(0) -> r.getDouble(1)).toMap
      val reliable = withCheckpointDir { _ =>
        walk(3).collect().map(r => r.get(0) -> r.getDouble(1)).toMap
      }
      assert(base.nonEmpty, name)
      assert(reliable == base, name)
    }
  }

  /** Jobs fired on this thread while `body` runs, counted by a listener
    * on the job group set around it. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"round-cost-${java.util.UUID.randomUUID}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val lis = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(lis)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      graft.Harness.drain(spark)
      sc.removeSparkListener(lis)
    }
    n.get
  }

  test("one more round costs every power-iteration caller pageRank's jobs") {
    // pageRank's per-round delta: one truncateObserved of one join + one
    // union+aggregate. The join reads two single-partition checkpoints in
    // place (no broadcast job), so a round is the aggregate's map-stage
    // job plus the checkpoint job.
    val pageRankRound = 2
    val perRound = walks.map { case (name, walk) =>
      name -> (jobsOf(walk(3)) - jobsOf(walk(2)))
    }
    assert(perRound == walks.map(_._1 -> pageRankRound))
  }

  /** The checkpoint leaf a truncated frame reads. */
  private def leafOf(df: DataFrame): LogicalRDD =
    df.queryExecution.optimizedPlan.collectLeaves().collectFirst { case l: LogicalRDD => l }
      .getOrElse(fail(s"no checkpoint leaf under ${df.queryExecution.optimizedPlan}"))

  test("a small truncation declares SinglePartition and stats from its rows") {
    val small = Lineage.truncate(spark.range(1000).groupBy((col("id") % 10).as("k")).count())
    assert(leafOf(small).rdd.getNumPartitions == 1)
    assert(leafOf(small).outputPartitioning == SinglePartition)
    val stats = small.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(10)))
    assert(stats.sizeInBytes == BigInt(10 * (8 + 8 + 8)), stats)
    // variable-width columns count their observed bytes, not a default
    val text = Lineage.truncate(Seq("a" * 1000, "b" * 3000).toDF("s"))
    assert(text.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(2 * 8 + 4000))
    // PageRank's round checkpoints: each round's estimate was the
    // product of its inputs' before, 4.2e32 bytes after 5 rounds
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (1L, 5L)).toDF("src", "dst")
    val ranks = graft.graph.PageRank.pageRank(edges, iters = 5)
    assert(leafOf(ranks).outputPartitioning == SinglePartition)
    assert(ranks.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(10000),
      ranks.queryExecution.optimizedPlan.stats)
  }

  test("a multi-partition checkpoint is never declared SinglePartition") {
    val rows = spark.range(10000).select(col("id"), (col("id") % 97).as("k"))
    // repartition(n) is not coalesced by AQE: 8 round-robin partitions
    val rr = leafOf(Lineage.truncate(rows.repartition(8)))
    assert(rr.rdd.getNumPartitions == 8)
    assert(rr.outputPartitioning.isInstanceOf[UnknownPartitioning], rr.outputPartitioning)
    // one partition over AQE's 1 MB minimum partition size: declaring it
    // would keep every later round in one task
    val big = leafOf(Lineage.truncate(spark.range(200000).toDF("id").repartition(1)))
    assert(big.rdd.getNumPartitions == 1)
    assert(big.outputPartitioning != SinglePartition)
    // an exact hash exchange is declared, and a join in place returns
    // the rows of the undeclared plan
    val a = Lineage.truncate(rows.repartition(8, col("k")))
    val b = Lineage.truncate(rows.select(col("k").as("k2"), (col("id") * 2).as("y"))
      .repartition(8, col("k2")))
    leafOf(a).outputPartitioning match {
      case h: HashPartitioning => assert(h.numPartitions == 8 && h.references.toSeq.map(_.name) == Seq("k"))
      case p => fail(s"expected hashpartitioning(k, 8), got $p")
    }
    val joined = Lineage.coPartitionedJoin(a, "k", b, "k2")
    val plan = joined.queryExecution.executedPlan
    assert(plan.toString.contains("ShuffledHashJoin"), plan)
    joined.collect() // the final plan is the executed one
    val finalPlan = plan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan.toString
    assert(!finalPlan.contains("Exchange"), finalPlan)
    val plain = rows.join(rows.select(col("k").as("k2"), (col("id") * 2).as("y")),
      col("k") === col("k2"))
    def sorted(df: DataFrame) = df.select("id", "k", "k2", "y").as[(Long, Long, Long, Long)]
      .collect().sorted.toSeq
    assert(sorted(joined) == sorted(plain))
    // a coalesced read keeps no hash partitioning, however many
    // partitions it has left
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.get(advisory)
    spark.conf.set(advisory, "2k")
    val coalesced =
      try leafOf(Lineage.truncate(rows.groupBy("k").agg(sum("id").as("s"))))
      finally spark.conf.set(advisory, prev)
    assert(!coalesced.outputPartitioning.isInstanceOf[HashPartitioning], coalesced.outputPartitioning)
    if (coalesced.rdd.getNumPartitions > 1)
      assert(coalesced.outputPartitioning != SinglePartition)
  }

  test("a pageRank round joins its checkpoints in place, with no broadcast") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val lis = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => plans.add(a.executedPlan.toString)
        case p => plans.add(p.toString)
      }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(lis)
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (1L, 5L)).toDF("src", "dst")
      graft.graph.PageRank.pageRank(edges, iters = 2)
      graft.Harness.drain(spark)
    } finally spark.listenerManager.unregister(lis)
    import scala.jdk.CollectionConverters._
    val rounds = plans.asScala.filter(_.contains("Join")).toSeq
    assert(rounds.size == 2, plans)
    rounds.foreach { p =>
      assert(p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("BroadcastExchange"), p)
    }
  }

  test("truncateObserved returns the same frame as truncate plus exact metrics") {
    val df = Seq((1L, Some(2L)), (2L, None), (3L, Some(5L)), (4L, None))
      .toDF("v", "deg")
    val (out, m) = Lineage.truncateObserved(df,
      count(lit(1)).as("n"),
      coalesce(sum(when(col("deg").isNull, lit(1L))), lit(0L)).as("dangling"))
    assert(m("n") == 4L, s"observed n = ${m("n")}")
    assert(m("dangling") == 2L, s"observed dangling = ${m("dangling")}")
    // the frame itself is the plain truncation: same rows, truncated plan
    assert(out.as[(Long, Option[Long])].collect().toSet ==
      Set((1L, Some(2L)), (2L, None), (3L, Some(5L)), (4L, None)))
    val leaves = out.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
    // empty input: metrics still arrive (count = 0, sum coalesced)
    val (out0, m0) = Lineage.truncateObserved(df.filter(col("v") > 100),
      count(lit(1)).as("n"),
      coalesce(sum(col("deg")), lit(-1L)).as("s"))
    assert(out0.isEmpty && m0("n") == 0L && m0("s") == -1L)
  }

  test("truncateObserved metrics ride the reliable-checkpoint action too") {
    withCheckpointDir { _ =>
      val (out, m) = Lineage.truncateObserved(
        Seq(1L, 2L, 3L).toDF("v"), sum(col("v")).as("s"))
      assert(m("s") == 6L)
      assert(out.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    }
  }

  test("trainMerges learns the same merges under a reliable checkpoint dir") {
    val docs = Seq("low low lower lowest", "low lower").toDF("text")
    val base = graft.text.Bpe.trainMerges(docs, col("text"), numMerges = 3)
    val reliable = withCheckpointDir { _ =>
      graft.text.Bpe.trainMerges(docs, col("text"), numMerges = 3)
    }
    assert(reliable == base)
  }
}
