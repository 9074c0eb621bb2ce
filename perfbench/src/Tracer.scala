package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records op → job → stage spans from outside the program: a
  * `SparkListener` for jobs, stages and task metrics, and a
  * `QueryExecutionListener` for Catalyst's phase times. Jobs are tied to
  * the op that launched them through the local properties
  * [[Harness.timed]] sets on the client thread. Everything is kept in
  * memory and written once, when the run ends. Listener times are epoch
  * milliseconds. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private final class Job(val id: Int, val op: String, val phase: String, val execution: String,
      val submit: Long, val stageIds: Seq[Int], val callSite: String) {
    @volatile var end = 0L
    @volatile var firstTask = Long.MaxValue
  }
  private final class Stage(val id: Int, val job: Int) {
    @volatile var submit, end = 0L
    @volatile var tasks = 0
    val m = new Array[Long](TaskFields.size)
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val executions = new ConcurrentHashMap[Long, Map[String, Long]]()
  private val executionSites = new ConcurrentHashMap[String, String]()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val site = e.stageInfos.headOption.map(_.details).getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, prop(OpKey), prop(PhaseKey), prop("spark.sql.execution.id"),
      e.time, e.stageIds, site))
    e.stageIds.foreach(s => stages.putIfAbsent(s, new Stage(s, e.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.submit = e.stageInfo.submissionTime.getOrElse(0L)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.end = e.stageInfo.completionTime.getOrElse(0L)
      s.tasks = e.stageInfo.numTasks
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stages.get(e.stageId)).flatMap(s => Option(jobs.get(s.job))).foreach { j =>
      j.synchronized { j.firstTask = math.min(j.firstTask, e.taskInfo.launchTime) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stages.get(e.stageId)).filter(_ => m != null).foreach { s =>
      val v = Array(
        m.executorRunTime * 1000000L, m.executorCpuTime, m.executorDeserializeTime * 1000000L,
        m.jvmGCTime * 1000000L, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
      s.m.synchronized {
        v.indices.foreach { i =>
          if (TaskFields(i) == "peak_mem_bytes") s.m(i) = math.max(s.m(i), v(i))
          else s.m(i) += v(i)
        }
      }
    }
  }

  /** A SQL execution's call site is taken on the thread that ran the
    * action; its jobs may be submitted from Spark's own threads (AQE
    * stages, broadcasts), whose stacks never show the caller. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionSites.put(s.executionId.toString, s.details)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) executions.put(qe.id,
      ph.map { case (k, s) => s"${k}_ms" -> s.durationMs } ++
        Map("end" -> ph.values.map(_.endTimeMs).max))
  }

  /** The recorded spans, as plain maps for the run document. */
  def spans: Map[String, Any] = Map(
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "op" -> j.op, "phase" -> j.phase, "execution" -> j.execution,
      "submit" -> j.submit, "end" -> j.end,
      "first_task" -> (if (j.firstTask == Long.MaxValue) 0L else j.firstTask),
      "stages" -> j.stageIds,
      "call_site" -> Option(executionSites.get(j.execution)).getOrElse(j.callSite))),
    "stages" -> stages.values.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "job" -> s.job, "submit" -> s.submit, "end" -> s.end, "tasks" -> s.tasks) ++
      TaskFields.zip(s.m).toMap),
    "executions" -> executions.asScala.toSeq.sortBy(_._1).map { case (id, m) => m + ("id" -> id) })
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  val TaskFields = Seq("run_ns", "cpu_ns", "deser_ns", "gc_ns", "input_rows", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "peak_mem_bytes")
}
