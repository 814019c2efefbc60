package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Observes Spark through its public listeners only — `SparkListener`,
  * `QueryExecutionListener`, `StreamingQueryListener` — and turns the
  * events of one query call into layer figures and spans.
  *
  * The client is a single thread running one query at a time, and the
  * bus is drained after each call, so every event recorded since the
  * previous [[harvest]] belongs to the call being harvested. Within the
  * call, a job belongs to `build` or `exec` by the local property the
  * runner sets around the two halves (inherited by AQE and micro-batch
  * threads); jobs map to the graft module that fired them through their
  * SQL execution's call site. */
final class Tracer {
  import Tracer._

  private val execDetails = mutable.HashMap[Long, String]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stages = mutable.HashMap[Int, Stage]()
  private val plans = ArrayBuffer[Plan]()
  private val batches = ArrayBuffer[Batch]()

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage(id))

  val sparkListener: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized { execDetails(s.executionId) = s.details }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      jobs(e.jobId) = new Job(e.jobId, e.time, prop(PhaseKey),
        prop("spark.sql.execution.id").map(_.toLong),
        prop("sql.streaming.queryId").isDefined, e.stageIds,
        e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
      // a stage belongs to the first job that lists it; later jobs that
      // list it again skip it
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stage(e.stageInfo.stageId).submitted = true
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = stage(e.stageInfo.stageId)
      s.startMs = e.stageInfo.submissionTime.getOrElse(0L)
      s.endMs = e.stageInfo.completionTime.getOrElse(s.startMs)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stage(e.stageId)
      s.durations += e.taskInfo.duration
      if (!e.taskInfo.successful) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        s.output += m.outputMetrics.bytesWritten
      }
    }
  }

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def span(k: String) = ph.get(k).map(p => (p.startTimeMs, p.endTimeMs))
      Tracer.this.synchronized {
        plans += Plan(span("analysis"), span("optimization"), span("planning"))
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      Tracer.this.synchronized {
        batches += Batch(start, d("triggerExecution"), d("addBatch"), d("walCommit"),
          d("commitOffsets"), d("queryPlanning"),
          p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.commitTimeMs).sum)
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(executionListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(executionListener)
    spark.streams.removeListener(streamListener)
    synchronized { clear() }
  }

  private def clear(): Unit = {
    execDetails.clear(); jobs.clear(); stageJob.clear(); stages.clear()
    plans.clear(); batches.clear()
  }

  /** Everything recorded since the last harvest, as the trace of the
    * call that ran in `w`. Call after draining the bus. */
  def harvest(w: Window): QueryTrace = synchronized {
    def within(t: Long, lo: Long, hi: Long) = t >= lo && t <= hi
    val js = jobs.values.toSeq.map { j =>
      val phase = j.phase.getOrElse(if (within(j.startMs, w.actionStart, w.actionEnd)) "exec" else "build")
      val module =
        if (j.streaming) Some("streaming")
        else j.execId.flatMap(execDetails.get).flatMap(Callsite.module)
          .orElse(Callsite.module(j.stageDetails))
      val own = j.stageIds.filter(s => stageJob.get(s).contains(j.id)).flatMap(stages.get)
      val ran = own.filter(_.submitted)
      JobTrace(j.id, phase, module, j.startMs, math.max(j.endMs, j.startMs),
        ran.map(s => StageTrace(s.id, s.startMs, s.endMs, s.durations.toSeq, s.runMs, s.gcMs,
          s.shuffleRead, s.shuffleWrite, s.spill, s.input, s.output, s.failedTasks)),
        j.stageIds.size - ran.size)
    }
    val ps = plans.toSeq.map { p =>
      val start = Seq(p.analysis, p.optimization, p.planning).flatten.map(_._1).minOption.getOrElse(0L)
      (within(start, w.actionStart, w.actionEnd), p)
    }
    val t = QueryTrace(w, js, ps.collect { case (true, p) => p }, batches.toSeq)
    clear()
    t
  }
}

object Tracer {
  /** Local property the runner sets to `build` / `exec` around a call. */
  val PhaseKey = "perfbench.phase"

  final class Job(val id: Int, val startMs: Long, val phase: Option[String],
                  val execId: Option[Long], val streaming: Boolean, val stageIds: Seq[Int],
                  val stageDetails: String) {
    var endMs: Long = startMs
  }

  final class Stage(val id: Int) {
    var submitted = false
    var startMs = 0L
    var endMs = 0L
    val durations = ArrayBuffer[Long]()
    var failedTasks = 0
    var runMs, gcMs, shuffleRead, shuffleWrite, spill, input, output = 0L
  }

  final case class Plan(analysis: Option[(Long, Long)], optimization: Option[(Long, Long)],
                        planning: Option[(Long, Long)]) {
    private def ms(s: Option[(Long, Long)]) = s.fold(0L)(p => p._2 - p._1)
    def analysisMs: Long = ms(analysis)
    def optimizationMs: Long = ms(optimization)
    def planningMs: Long = ms(planning)
    def totalMs: Long = analysisMs + optimizationMs + planningMs
  }

  final case class Batch(startMs: Long, triggerMs: Long, addBatchMs: Long, walCommitMs: Long,
                         commitOffsetsMs: Long, queryPlanningMs: Long, stateRows: Long,
                         stateCommitMs: Long)

  /** Wall-clock bounds (epoch ms) of one call's two halves. */
  final case class Window(query: String, buildStart: Long, buildEnd: Long,
                          actionStart: Long, actionEnd: Long)

  final case class StageTrace(id: Int, startMs: Long, endMs: Long, taskMs: Seq[Long],
                              runMs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
                              spill: Long, input: Long, output: Long, failedTasks: Int)

  final case class JobTrace(id: Int, phase: String, module: Option[String], startMs: Long,
                            endMs: Long, stages: Seq[StageTrace], skipped: Int) {
    def wallMs: Long = endMs - startMs
  }

  final case class QueryTrace(w: Window, jobs: Seq[JobTrace], plans: Seq[Plan],
                              batches: Seq[Batch]) {
    def buildJobs: Seq[JobTrace] = jobs.filter(_.phase == "build")
    def execJobs: Seq[JobTrace] = jobs.filter(_.phase == "exec")
    def buildMs: Long = w.buildEnd - w.buildStart
    def planMs: Long = plans.map(_.totalMs).sum
    /** The exec span: first to last job of the returned plan's action. */
    def execSpan: Option[(Long, Long)] =
      if (execJobs.isEmpty) None else Some((execJobs.map(_.startMs).min, execJobs.map(_.endMs).max))
    def execMs: Long = execSpan.fold(0L)(s => s._2 - s._1)
    def wallMs: Long = w.actionEnd - w.buildStart
    /** Share of the call's wall that build, plan and exec self times
      * account for (the rest is time the action spends outside its
      * planning phases and jobs). */
    def coverage: Double =
      if (wallMs <= 0) 1.0 else math.min(1.0, (buildMs + planMs + execMs).toDouble / wallMs)
  }
}
