package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span tracer plus a Spark listener that charges job, stage
  * and task metrics to spans.
  *
  * Spans are opened and closed by the benchmark around its calls into
  * the program's public functions; nothing inside the program is
  * instrumented. Listener events arrive asynchronously, so a job is
  * charged after the fact, to the innermost span whose wall interval
  * holds the job's submission time. Jobs submitted from other threads
  * (Load.run stages its tables in parallel) are charged the same way.
  */
final class Trace(sc: SparkContext) {

  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long = -1L)

  /** Task totals of one job, folded from its stages. */
  final class JobStats(val id: Int, val submitted: Long) {
    var ended: Long = -1L
    var stages = 0
    var tasks = 0L
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var rowsWritten = 0L
    var bytesWritten = 0L
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, new JobStats(e.jobId, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.ended = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        val m = info.taskMetrics
        j.synchronized {
          j.stages += 1
          j.tasks += info.numTasks
          j.taskMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.rowsWritten += m.outputMetrics.recordsWritten
          j.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  sc.addSparkListener(listener)

  def close(): Unit = sc.removeSparkListener(listener)

  /** Run `body` inside a span named `name`, child of the open span. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), System.currentTimeMillis())
    spans += s
    open = s :: open
    try body
    finally {
      s.end = System.currentTimeMillis()
      open = open.tail
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def wallMs(s: Span): Long = s.end - s.start

  /** Duration minus the part of the interval its children cover. */
  def selfMs(s: Span): Long = s.end - s.start - unionMs(children(s).map(c => (c.start, c.end)))

  /** Innermost span holding time `t` (latest-started wins). */
  private def owner(t: Long): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).sortBy(s => (s.start, s.id)).lastOption

  /** Jobs charged to `s` or any of its descendants. */
  def jobsIn(s: Span): Seq[JobStats] = {
    def within(x: Span): Boolean = x.id == s.id || (x.parent >= 0 && within(spans(x.parent)))
    jobs.values.asScala.toSeq.filter(j => owner(j.submitted).exists(within)).sortBy(_.submitted)
  }

  /** Wall time the span's jobs were running, overlaps counted once. */
  def jobWallMs(s: Span): Long =
    unionMs(jobsIn(s).filter(_.ended >= 0).map(j => (math.max(j.submitted, s.start), math.min(j.ended, s.end))))

  def reset(): Unit = {
    spans.clear(); open = Nil; jobs.clear(); stageJob.clear()
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Trace {
  /** Total collections and collection seconds over every collector. */
  def gc(): (Long, Double) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum / 1000.0)
  }

  /** Peak resident set of this JVM in MB (VmHWM), or -1 off Linux. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: java.io.IOException => -1.0 }
}
