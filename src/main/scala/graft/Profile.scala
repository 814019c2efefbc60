package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round measurement harness (guide §1): for each named
  * query, run once untimed (JIT/codegen warm), then re-run under a
  * job listener and print a per-job wall breakdown (job id, duration,
  * stage/task counts, first line of the active job group description)
  * plus total wall — the intra-query decomposition Bench's single
  * number can't give. Also dumps `.explain("formatted")` for the
  * query's returned frame to `<outDir>/<name>_explain.txt` (the
  * plans/r13 before/after artifacts). Never part of the graded
  * surface; tooling only.
  *
  * Usage: runMain graft.Profile <sfDir> <outDir> <q1,q2,...> [cold]
  * `cold` skips the warm-up run so the first-run codegen cost lands
  * in the breakdown (that is most of some queries' bench cold time).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val cold = args.length > 3 && args(3) == "cold"
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()

    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"== $name: NOT FOUND ==")
        case Some(fn) =>
          if (!cold) {
            Harness.timeNoop(fn(spark, sfDir))._2
              .foreach(e => println(s"== $name warmup FAILED: ${e.getMessage}"))
            Harness.release(spark)
          }
          val lis = new JobTimes
          spark.sparkContext.addSparkListener(lis)
          var built: Option[org.apache.spark.sql.DataFrame] = None
          val (wall, err) = Harness.timeNoop { val d = fn(spark, sfDir); built = Some(d); d }
          err.foreach(e => println(s"== $name FAILED: ${e.getMessage}"))
          Harness.drain(spark)
          spark.sparkContext.removeSparkListener(lis)
          println(f"== $name wall=$wall%.3f s jobs=${lis.jobs.size} ==")
          lis.jobs.foreach { case (id, j) =>
            if (j.seconds >= 0.005)
              println(f"  job $id%3d ${j.seconds}%7.3f s stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.desc}")
          }
          val jobSum = lis.jobs.values.map(_.seconds).sum
          println(f"  [sum of jobs $jobSum%.3f s; gap (driver/planning) ${wall - jobSum}%.3f s; " +
            s"stages credited ${lis.jobs.values.map(_.stages).sum} of ${lis.stagesCompleted} completed]")
          if (err.isEmpty) built.foreach { d =>
            val txt = d.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$outDir/${name}_explain.txt"), txt)
          }
          Harness.release(spark)
      }
    }
    spark.stop()
  }
}

/** Per-job wall, stage and task counts from the listener events. Each
  * completed stage is credited once, to the first job whose
  * `SparkListenerJobStart` listed it: jobs overlap (AQE submits
  * sub-jobs while its parent runs), so crediting every open job would
  * count one stage several times. A job appears in `jobs` once it ends. */
private[graft] final class JobTimes extends SparkListener {
  final class Job(val startMs: Long, val desc: String) {
    var endMs: Long = startMs
    var stages = 0
    var tasks = 0
    def seconds: Double = (endMs - startMs) / 1e3
  }
  val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  var stagesCompleted = 0
  private val open = scala.collection.mutable.Map[Int, Job]()
  private val owner = scala.collection.mutable.Map[Int, Job]() // stageId → job

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val d = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val j = new Job(e.time, d.take(90))
    open(e.jobId) = j
    e.stageInfos.foreach(s => owner.getOrElseUpdate(s.stageId, j))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesCompleted += 1
    owner.get(e.stageInfo.stageId).foreach { j => j.stages += 1; j.tasks += e.stageInfo.numTasks }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { j => j.endMs = e.time; jobs(e.jobId) = j }
  }
}
