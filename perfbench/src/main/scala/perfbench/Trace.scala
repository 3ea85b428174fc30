package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed time interval in epoch milliseconds. */
final case class Span(name: String, start: Long, end: Long, parent: String,
    op: Long) {
  def dur: Long = end - start
}

/** Per-job facts gathered from the Spark listener bus. */
final class JobRec(val id: Int, val start: Long, val group: String,
    val stages: Seq[Int]) {
  @volatile var end: Long = -1L
}

final class StageRec(val id: Int) {
  var submitted: Long = -1L
  var firstLaunch: Long = Long.MaxValue
  var completed: Long = -1L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var inputBytes = 0L
  var recordsRead = 0L
}

/** Span store for the traced run. Listeners are registered for the whole
  * traced run; `on` gates recording so the same process can measure an
  * untraced phase first and report the difference as tracing overhead.
  * Everything is kept in memory and written when the run ends. */
object Trace {
  @volatile var on = false
  val catalyst = new ConcurrentLinkedQueue[Span]()
  val qeCount = new java.util.concurrent.atomic.AtomicLong()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val extra = new ConcurrentLinkedQueue[Span]()
  /** SQL texts the traced phase sent through the router. */
  val texts = new ConcurrentLinkedQueue[String]()

  def stage(id: Int): StageRec = stages.computeIfAbsent(id, i => new StageRec(i))

  def clear(): Unit = {
    catalyst.clear(); jobs.clear(); stages.clear(); extra.clear(); texts.clear()
    qeCount.set(0)
  }

  /** Records one span the benchmark times itself inside an op. */
  def span(s: Span): Unit = if (on) extra.add(s)

  /** Routes one statement, keeping its text while tracing. */
  def sql(e: graft.Engine, text: String): graft.SqlRouter.Result = {
    if (on) texts.add(text)
    graft.SqlRouter.execute(e, text)
  }
}

/** Catalyst phases of every executed query, from
  * `QueryExecution.tracker`. Registered through the static
  * `spark.sql.queryExecutionListeners` conf, so the engine's child
  * sessions carry it too. */
class PhaseListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = if (Trace.on) {
    Trace.qeCount.incrementAndGet()
    qe.tracker.phases.foreach { case (name, p) =>
      if (name != "parsing")
        Trace.catalyst.add(Span(s"catalyst.$name", p.startTimeMs,
          p.endTimeMs, "op", -1L))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)
}

/** Jobs, stages and task metrics from the scheduler's listener bus. */
class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = if (Trace.on) {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    Trace.jobs.put(e.jobId,
      new JobRec(e.jobId, e.time, group, e.stageInfos.map(_.stageId)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = Trace.jobs.get(e.jobId)
    if (j != null) j.end = e.time
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (Trace.on) {
      val s = Trace.stage(e.stageInfo.stageId)
      s.synchronized {
        s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = Trace.stages.get(e.stageInfo.stageId)
    if (s != null) s.synchronized {
      s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val s = Trace.stages.get(e.stageId)
    if (s != null) s.synchronized {
      s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = Trace.stages.get(e.stageId)
    if (s != null) s.synchronized {
      s.tasks += 1
      if (e.taskInfo.failed) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.inputBytes += m.inputMetrics.bytesRead
        s.recordsRead += m.inputMetrics.recordsRead +
          m.shuffleReadMetrics.recordsRead
      }
    }
  }
}
