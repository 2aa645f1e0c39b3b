package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only measurement harness (guide §1): for each named query,
  * split wall time into Catalyst phases (parsing/analysis/
  * optimization/planning from the QueryExecution tracker) vs executed
  * job time (listener-sourced per-job durations and task-time sums),
  * timing the SAME noop-sink action as [[Bench]]. Repeats in one JVM
  * expose first-run compile/JIT cost vs steady state. Never invoked by
  * the driver; changes nothing in the bench contract.
  *
  * Usage: sbt "runMain graft.ProfileQuery <repeat> <query>..."
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val repeat = args.headOption.flatMap(_.toIntOption).getOrElse(2)
    val names = args.drop(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("graft-profile", GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var taskTimeMs = 0L
    @volatile var jobWallMs = 0L
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val heavy = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts.put(js.jobId, js.time); jobs += 1
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach(t0 => jobWallMs += je.time - t0)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1
        val m = sc.stageInfo.taskMetrics
        val rt = m.executorRunTime
        taskTimeMs += rt
        val site = sc.stageInfo.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("ProfileQuery"))
          .getOrElse(sc.stageInfo.name).trim.take(90)
        heavy.add((rt, s"stage${sc.stageInfo.stageId}[${sc.stageInfo.numTasks}t] " +
          f"cpu=${m.executorCpuTime / 1e9}%.1fs gc=${m.jvmGCTime / 1e3}%.1fs " +
          f"deser=${m.executorDeserializeTime / 1e3}%.1fs " + site))
      }
    })

    for (n <- names; r <- 1 to repeat) {
      jobs = 0; stages = 0; taskTimeMs = 0L; jobWallMs = 0L; heavy.clear()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val tBuild = System.nanoTime()
      val qe = df.queryExecution
      qe.executedPlan // force analysis/optimization/physical planning
      val tPlan = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val tExec = System.nanoTime()
      val ph = qe.tracker.phases.map { case (k, v) =>
        f"$k=${(v.endTimeMs - v.startTimeMs) / 1000.0}%.2fs"
      }.mkString(" ")
      println(f"[profile] $n run$r: build=${(tBuild - t0) / 1e9}%.2fs " +
        f"plan=${(tPlan - tBuild) / 1e9}%.2fs exec=${(tExec - tPlan) / 1e9}%.2fs " +
        f"total=${(tExec - t0) / 1e9}%.2fs | jobs=$jobs stages=$stages " +
        f"jobWall=${jobWallMs / 1000.0}%.2fs taskTime=${taskTimeMs / 1000.0}%.2fs | $ph")
      import scala.jdk.CollectionConverters._
      heavy.asScala.toSeq.sortBy(-_._1).take(8).foreach { case (ms, nm) =>
        println(f"[profile]    ${ms / 1000.0}%8.2fs $nm")
      }
      graft.operators.CacheRegistry.releaseAll()
    }
    spark.stop()
  }
}
