package graft.operators

import graft.SparkSpec
import graft.dedup.Dedup
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
  private lazy val walks: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = {
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
    // pageRank's per-round delta before the callers shared one round:
    // one truncateObserved of one join + one union+aggregate (the
    // checkpoint job plus the two map-stage jobs AQE submits)
    val pageRankRound = 3
    val perRound = walks.map { case (name, walk) =>
      name -> (jobsOf(walk(3)) - jobsOf(walk(2)))
    }
    assert(perRound == walks.map(_._1 -> pageRankRound))
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
