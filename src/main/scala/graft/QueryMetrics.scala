package graft

import scala.collection.immutable.VectorMap
import scala.collection.mutable
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine's one Spark metrics listener, on `spark`'s context and
  * query executions from construction on: what a window of work ran, as
  * the fields [[Bench]] persists per query: the jobs starting from
  * [[begin]] on and their stages' events. Jobs split by start time into
  * build-time (before [[markExec]]) and execution-time (all when never
  * marked). The Catalyst phases are those of the query executions
  * starting from [[markExec]] (else [[begin]]) on: for a write, the one
  * that plans and runs it. The worst-stage skew is max / median
  * successful task time of the stage with the largest task, over stages
  * of at least 4 tasks.
  *
  * [[begin]] and [[markExec]] read a clock; [[snapshot]] drains the
  * listener bus. An earlier job's events may still arrive in a window,
  * but the bus delivers its start, which predates the window, first.
  */
final class QueryMetrics(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  private val events = mutable.ArrayBuffer[AnyRef]()
  private val earlier = mutable.Set[Int]() // stages of jobs started before the window
  private var from = Long.MinValue
  @volatile private var execFrom = Long.MinValue
  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Start a new window; no event of earlier work lands in it. */
  def begin(): Unit = synchronized {
    events.foreach { case e: SparkListenerJobStart => earlier ++= e.stageIds; case _ => }
    events.clear()
    from = System.currentTimeMillis()
    execFrom = from
  }

  /** Jobs and query executions starting from now on are execution-time. */
  def markExec(): Unit = execFrom = System.currentTimeMillis()

  /** The window so far, every event posted before this call included. */
  def snapshot(): VectorMap[String, Double] = {
    ListenerBus.drain(spark.sparkContext)
    val seen = synchronized(events.toSeq)
    val jobs = seen.collect { case e: SparkListenerJobStart => e.time }
    val build = jobs.count(_ < execFrom).toDouble
    val stages = seen.collect { case e: SparkListenerStageCompleted => e.stageInfo }
    def sum(f: org.apache.spark.executor.TaskMetrics => Long) =
      stages.map(s => f(s.taskMetrics)).sum.toDouble
    val phases = seen.collect { case qe: QueryExecution => qe.tracker.phases }
      .filter(p => p.nonEmpty && p.values.map(_.startTimeMs).min >= execFrom)
    def phase(name: String) = phases.flatMap(_.get(name)).map(_.durationMs).sum / 1e3
    val worst = seen.collect { case e: SparkListenerTaskEnd if e.taskInfo.successful =>
      e.stageId -> e.taskInfo.duration
    }.groupMap(_._1)(_._2).values.filter(_.size >= 4).maxByOption(_.max).map(_.sorted)
    VectorMap(
      "analysis_s" -> phase("analysis"),
      "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning"),
      "jobs" -> jobs.size.toDouble,
      "build_jobs" -> build,
      "exec_jobs" -> (jobs.size - build),
      "stages" -> stages.size.toDouble,
      "tasks" -> stages.map(_.numTasks).sum.toDouble,
      "task_s" -> sum(_.executorRunTime) / 1e3,
      "cpu_s" -> sum(_.executorCpuTime) / 1e9,
      "gc_s" -> sum(_.jvmGCTime) / 1e3,
      "shuffle_write_mb" -> sum(_.shuffleWriteMetrics.bytesWritten) / 1e6,
      "spill_mb" -> sum(m => m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
      "worst_stage_skew" -> worst.fold(1.0)(t => t.last.toDouble / math.max(1L, t(t.size / 2))),
      "max_task_ms" -> worst.fold(0.0)(_.last.toDouble))
  }

  /** Stop listening. */
  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def record(e: AnyRef, stage: Int = -1): Unit = synchronized { if (!earlier(stage)) events += e }
  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { if (e.time >= from) events += e else earlier ++= e.stageIds }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = record(e, e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskInfo != null) record(e, e.stageId)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}
