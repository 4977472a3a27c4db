package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One streaming epoch as Spark's own progress reports it. Times are on the
  * [[Clock]] scale. */
final case class Epoch(queryId: String, batchId: Long, startMs: Double, endMs: Double,
                       inputRows: Long, phases: Map[String, Long],
                       stateRowsTotal: Long, stateRowsUpdated: Long, stateMemBytes: Long,
                       stateCommitMs: Long, droppedLate: Long)

/** Collects every progress event of every streaming query in the session.
  * Registered in untraced runs too: the end-to-end stream metrics come from
  * these events, which Spark produces either way. */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[Epoch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    val start = Clock.fromWall(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
    val ops = p.stateOperators.toSeq
    q.add(Epoch(p.id.toString, p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
      p.numInputRows, d,
      ops.map(_.numRowsTotal).sum, ops.map(_.numRowsUpdated).sum,
      ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum,
      ops.map(_.numRowsDroppedByWatermark).sum))
  }

  def of(queryId: String): Seq[Epoch] =
    q.asScala.filter(_.queryId == queryId).toSeq.sortBy(_.batchId)
}

/** Aggregated task metrics of one stage attempt. */
final class StageAgg(val stageId: Int, val attempt: Int) {
  var runMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0.0
  var inputBytes = 0L
  var startMs = Double.NaN
  var endMs = Double.NaN
  val taskMs = new mutable.ArrayBuffer[Double]()
  def tasks: Int = taskMs.size
}

/** A Spark job, attributed to the unit of work that caused it: the
  * `perfbench.op` local property for statements and gates, the micro-batch
  * id for streaming epochs. */
final case class JobRec(jobId: Int, op: String, streamQuery: String, batchId: Long,
                        startMs: Double, stageIds: Seq[Int])

/** In-memory span recorder fed by Spark's listener bus: jobs, stages and
  * tasks. Only registered in traced runs. */
final class JobTrace extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val jobEnd = mutable.Map[Int, Double]()
  val stages = mutable.LinkedHashMap[(Int, Int), StageAgg]()

  private def stage(id: Int, att: Int) = stages.getOrElseUpdate((id, att), new StageAgg(id, att))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = JobRec(e.jobId, prop("perfbench.op").orNull,
      prop("sql.streaming.queryId").orNull,
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      Clock.fromWall(e.time.toDouble), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = Clock.fromWall(e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    i.submissionTime.foreach(t => s.startMs = Clock.fromWall(t.toDouble))
    i.completionTime.foreach(t => s.endMs = Clock.fromWall(t.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId, e.stageAttemptId)
      s.runMs += m.executorRunTime
      s.cpuMs += m.executorCpuTime / 1e6
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.taskMs += m.executorRunTime.toDouble
    }
  }

  def jobInterval(j: JobRec): (Double, Double) = (j.startMs, jobEnd.getOrElse(j.jobId, j.startMs))

  def stagesOf(js: Iterable[JobRec]): Seq[StageAgg] = synchronized {
    val ids = js.flatMap(_.stageIds).toSet
    stages.values.filter(s => ids(s.stageId)).toSeq
  }

  def jobsOfOp(op: String): Seq[JobRec] = synchronized { jobs.values.filter(_.op == op).toSeq }

  def jobsOfEpoch(queryId: String, batchId: Long): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.streamQuery == queryId && j.batchId == batchId).toSeq
  }

  def jobsBetween(fromMs: Double, toMs: Double): Seq[JobRec] = synchronized {
    jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
  }
}

/** A span of the traced run's tree: epoch → phase → job → stage, statement →
  * job → stage, gate → job → stage. Spans of one unit share its `root` id. */
final case class Span(name: String, id: String, parent: String, root: String,
                      startMs: Double, endMs: Double) {
  def json: Map[String, Any] = Map("name" -> name, "id" -> id, "parent" -> parent,
    "root" -> root, "start_ms" -> startMs, "end_ms" -> endMs)
}

object Spans {
  /** Spans of the jobs (and their stages) of one unit of work. */
  def jobs(t: JobTrace, root: String, parent: String, js: Seq[JobRec]): Seq[Span] =
    js.flatMap { j =>
      val (s, e) = t.jobInterval(j)
      val jid = s"job-${j.jobId}"
      Span("job", jid, parent, root, s, e) +:
        t.stagesOf(Seq(j)).filter(!_.startMs.isNaN).map(st =>
          Span("stage", s"stage-${st.stageId}.${st.attempt}", jid, root, st.startMs, st.endMs))
    }

  /** Self time of a span: its length minus the part its children cover. */
  def selfMs(s: Span, children: Seq[Span]): Double =
    (s.endMs - s.startMs) - Stats.unionMs(children.map(c =>
      (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))).filter(c => c._2 > c._1))
}
