package graft

import java.nio.file.Files
import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListenerTaskEnd, TaskInfo, TaskLocality}
import org.scalatest.funsuite.AnyFunSuite

/** [[QueryMetrics]], the engine's one metrics listener: the build/exec
  * job split, the worst-stage skew, counts that hold right after the
  * work because a snapshot drains the listener bus, and windows that
  * leave out earlier work still queued on the bus when they begin.
  */
class QueryMetricsSpec extends AnyFunSuite with SparkSpec {

  private def withMetrics[T](body: QueryMetrics => T): T = {
    val m = new QueryMetrics(spark)
    try { m.begin(); body(m) } finally m.close()
  }

  test("a schema-less read is one build job, a Tables read none; the rest are exec") {
    val dir = Files.createTempDirectory("query-metrics").toString
    spark.range(100).toDF("r_regionkey").write.parquet(s"$dir/region.parquet")
    withMetrics { m =>
      Tables.region(spark, dir) // footer schema read on the driver: no job
      m.markExec()
      assert(m.snapshot()("build_jobs") === 0)
    }
    withMetrics { m =>
      val df = spark.read.parquet(s"$dir/region.parquet") // schema inference: one job
      m.markExec()
      df.write.format("noop").mode("overwrite").save()
      val s = m.snapshot()
      assert(s("build_jobs") === 1)
      assert(s("exec_jobs") >= 1)
      assert(s("jobs") === s("build_jobs") + s("exec_jobs"))
      assert(s("stages") >= s("jobs") && s("tasks") >= s("stages"))
    }
  }

  test("worst-stage skew is max / median task time of the stage with the largest task") {
    withMetrics { m =>
      var id = 0L
      def task(stage: Int, ms: Long, ok: Boolean = true): Unit = {
        id += 1
        val info = new TaskInfo(id, 0, 0, 0, 1000L, "driver", "localhost",
          TaskLocality.PROCESS_LOCAL, false)
        info.finishTime = 1000L + ms
        info.failed = !ok
        m.onTaskEnd(SparkListenerTaskEnd(stage, 0, "ResultTask", Success, info, null, null))
      }
      // stage 1: sorted 10 20 30 100, median (index 2) 30, max 100
      Seq(30L, 100L, 10L, 20L).foreach(task(1, _))
      task(1, 10000L, ok = false) // a failed attempt is not a task time
      // stage 2 holds the largest task but only 3 tasks: not eligible
      Seq(500L, 1L, 1L).foreach(task(2, _))
      // stage 3: eligible, but its largest task (90) is below stage 1's
      Seq(50L, 60L, 70L, 80L, 90L).foreach(task(3, _))
      val s = m.snapshot()
      assert(s("max_task_ms") === 100)
      assert(s("worst_stage_skew") === 100.0 / 30.0)
    }
  }

  test("a snapshot taken right after the work counts all of it") {
    withMetrics { m =>
      val n = 25
      // holding the listener's lock queues its events on the bus, as a
      // slow listener would, until the snapshot drains them
      m.synchronized {
        (1 to n).foreach(_ => spark.sparkContext.parallelize(1 to 4, 2).count())
      }
      val s = m.snapshot()
      assert(s("jobs") === n)
      assert(s("exec_jobs") === n) // never marked: every job is execution-time
      assert(s("stages") === n)
      assert(s("tasks") === 2 * n)
      // no stage has 4 tasks
      assert(s("worst_stage_skew") === 1.0 && s("max_task_ms") === 0)
    }
  }

  test("a window leaves out a job whose events are still queued when it begins") {
    withMetrics { m =>
      m.synchronized { // the earlier job's events queue on the bus behind the lock
        spark.sparkContext.parallelize(1 to 8, 8)
          .map { x => if (x == 1) Thread.sleep(300); x }.count()
        Thread.sleep(5) // the earlier job starts strictly before the window
        m.begin()
      }
      spark.sparkContext.parallelize(1 to 4, 4).count()
      val s = m.snapshot()
      assert(s("jobs") === 1)
      assert(s("stages") === 1)
      assert(s("tasks") === 4)
      assert(s("max_task_ms") < 300) // the earlier job's slow task is not counted
    }
  }
}
