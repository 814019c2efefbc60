package graft

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.scalatest.funsuite.AnyFunSuite

/** Profile's listener on synthetic events — no SparkSession. */
class JobTimesSpec extends AnyFunSuite {

  private def stage(id: Int, tasks: Int) =
    new StageInfo(id, 0, s"stage $id", tasks, Seq.empty, Seq.empty, "", resourceProfileId = 0)

  test("overlapping jobs: each completed stage is counted once, under the job that listed it") {
    val s0 = stage(0, 4); val s1 = stage(1, 8); val s2 = stage(2, 2)
    val lis = new JobTimes
    lis.onJobStart(SparkListenerJobStart(0, 1000L, Seq(s0, s1), null))
    // job 1 starts while job 0 is open, and re-lists job 0's stage 1
    // (a shared shuffle stage it will skip)
    lis.onJobStart(SparkListenerJobStart(1, 1100L, Seq(s1, s2), null))
    lis.onStageCompleted(SparkListenerStageCompleted(s0))
    lis.onStageCompleted(SparkListenerStageCompleted(s2))
    lis.onStageCompleted(SparkListenerStageCompleted(s1))
    lis.onJobEnd(SparkListenerJobEnd(1, 1400L, JobSucceeded))
    lis.onJobEnd(SparkListenerJobEnd(0, 1500L, JobSucceeded))

    assert(lis.stagesCompleted == 3)
    val byJob = lis.jobs.map { case (id, j) => id -> (j.stages, j.tasks, j.seconds) }.toMap
    assert(byJob == Map(0 -> ((2, 12, 0.5)), 1 -> ((1, 2, 0.3))))
    assert(lis.jobs.values.map(_.stages).sum == lis.stagesCompleted)
  }
}
