package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Gate-suite workload, in one JVM: `graft.Verify` writes each query's
  * result (the cold pass, whose output the caller compares with the
  * DuckDB oracle), then `graft.Bench` times the queries as it is,
  * configured through its environment variables by the caller, then
  * with `--trace 1` the traced loop below runs. Writes one JSON object
  * to `--result`.
  */
object Gate {

  def main(opts: Map[String, String]): Unit = {
    val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean
    graft.Verify.main(Array(opts("sf"), opts("verify")))
    val verifyEnd = uptime.getUptime / 1e3
    graft.Bench.main(Array())
    val benchEnd = uptime.getUptime / 1e3
    val result = (new Json).num("verify_end_s", verifyEnd).num("bench_end_s", benchEnd)
      .num("peak_rss_mb", Trace.peakRssMb())
    if (opts("trace") == "1") traced(opts, result)
    Files.write(Paths.get(opts("result")), result.render.getBytes("UTF-8"))
  }

  /** The loop of `graft.Bench` (untimed warm-up query, untimed
    * `prepare`, noop-sink action, cache release, each query repeated in
    * one JVM), with each query split into build, plan and execute spans
    * the way `graft.ProfileQuery` splits it. Per query, the repeat with
    * the median wall time supplies the layer numbers; they are summed
    * over the queries.
    */
  def traced(opts: Map[String, String], result: Json): Unit = {
    val sfDir = opts("sf")
    val names = opts("queries").split(",").toSeq
    val repeat = opts("repeat").toInt
    val cpus = opts("cpus")
    // the session graft.Bench builds
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def action(n: String): Unit =
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
    try action(names.head) catch { case _: Throwable => }
    graft.operators.CacheRegistry.releaseAll()

    val tr = new Trace(spark.sparkContext)
    val (gc0, gcS0) = Trace.gc()
    var failed = Seq.empty[String]
    val perQuery = names.map { n =>
      SparkEntry.prepares.get(n).foreach(p => p(spark, sfDir))
      val runs = (1 to repeat).map { _ =>
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        var phases = Map.empty[String, Double]
        val ok = try {
          tr.span(n) {
            val df = tr.span("build")(SparkEntry.queries(n)(spark, sfDir))
            val qe = df.queryExecution
            tr.span("plan")(qe.executedPlan)
            tr.span("exec")(df.write.format("noop").mode("overwrite").save())
            phases = qe.tracker.phases.map { case (k, v) =>
              k -> (v.endTimeMs - v.startTimeMs) / 1e3 }.toMap
          }
          true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
          false
        }
        graft.operators.CacheRegistry.releaseAll()
        tr.drain()
        val root = tr.named(n).last
        val part = tr.children(root).map(c => c.name -> tr.wallMs(c) / 1e3).toMap
        val js = tr.jobsIn(root)
        val m = Map(
          "wall" -> tr.wallMs(root) / 1e3,
          "query.build_s" -> part.getOrElse("build", 0.0),
          "query.analysis_s" -> phases.getOrElse("analysis", 0.0),
          "query.optimization_s" -> phases.getOrElse("optimization", 0.0),
          "query.planning_s" -> phases.getOrElse("planning", 0.0),
          "query.exec_s" -> part.getOrElse("exec", 0.0),
          "query.driver_s" -> (tr.wallMs(root) - tr.jobWallMs(root)) / 1e3,
          "query.codegen_compiles" ->
            (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
          "query.jobs" -> js.size.toDouble,
          "query.stages" -> js.map(_.stages).sum.toDouble,
          "query.tasks" -> js.map(_.tasks).sum.toDouble,
          "query.task_s" -> js.map(_.taskMs).sum / 1e3,
          "query.cpu_s" -> js.map(_.cpuNs).sum / 1e9,
          "query.gc_s" -> js.map(_.gcMs).sum / 1e3,
          "query.shuffle_write_mb" -> js.map(_.shuffleWriteBytes).sum / 1e6,
          "query.spill_mb" -> js.map(_.spillBytes).sum / 1e6)
        if (!ok) failed :+= n
        m
      }
      n -> runs.sortBy(_("wall")).apply(runs.size / 2)
    }
    val (gc1, gcS1) = Trace.gc()
    val sums = perQuery.flatMap(_._2.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    val layers = Layers.zeros ++ sums.view.filterKeys(_.startsWith("query.")) ++
      Map("jvm.gc_s" -> (gcS1 - gcS0), "jvm.gc_count" -> (gc1 - gc0).toDouble)
    result.obj("traced_queries", perQuery.map { case (n, m) => n -> m("wall") }.toMap)
      .num("traced_s", perQuery.map(_._2("wall")).sum)
      .raw("traced_failed", failed.distinct.map(Json.quote).mkString("[", ",", "]"))
      .obj("layers", layers)
      .raw("spans", Layers.spanTable(tr))
    tr.close()
    spark.stop()
  }
}
