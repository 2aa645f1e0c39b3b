package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Per-layer metrics from one traced iteration, keyed by metric name. */
object Layers {

  private val MB = 1e6

  /** Every per-layer metric name, so each workload reports all of them. */
  val names: Seq[String] = Seq(
    "load.wall_s", "load.stage_s", "load.jobs", "load.task_s", "load.cpu_s", "load.gc_s",
    "load.rows_written", "load.parquet_mb", "load.shuffle_write_mb", "load.spill_mb",
    "assemble.wall_s", "assemble.task_s", "assemble.shuffle_write_mb", "assemble.spill_mb",
    "assemble.cached_mb",
    "xml.planet_s", "xml.history_s", "xml.changesets_s", "xml.discussions_s",
    "xml.task_s", "xml.cpu_s", "xml.driver_s", "xml.out_mb",
    "pbf.planet_s", "pbf.history_s", "pbf.job_s", "pbf.driver_s", "pbf.task_s", "pbf.out_mb",
    "query.build_s", "query.analysis_s", "query.optimization_s", "query.planning_s",
    "query.exec_s", "query.driver_s", "query.codegen_compiles",
    "query.jobs", "query.stages", "query.tasks", "query.task_s", "query.cpu_s", "query.gc_s",
    "query.shuffle_write_mb", "query.spill_mb",
    "jvm.gc_s", "jvm.gc_count")

  def zeros: Map[String, Double] = names.map(_ -> 0.0).toMap

  /** Size of the blocks Spark holds for persisted frames, in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB

  private def fileMb(path: String): Double =
    if (Files.exists(Paths.get(path))) Files.size(Paths.get(path)) / MB else 0.0

  /** Metrics of the planet iteration just traced. `outPaths` maps each
    * sink span name (`xml.planet`, `pbf.history`, ...) to its file.
    */
  def planet(tr: Trace, outPaths: Map[String, String], cachedMb: Double,
             gcCount: Long, gcS: Double): Map[String, Double] = {
    def spans(prefix: String) = tr.all.filter(_.name.startsWith(prefix))
    def jobs(prefix: String) = spans(prefix).flatMap(tr.jobsIn)
    def wall(name: String) = tr.named(name).map(tr.wallMs).sum / 1e3
    def sums(layer: String, prefix: String): Map[String, Double] = {
      val js = jobs(prefix)
      Map(s"$layer.task_s" -> js.map(_.taskMs).sum / 1e3,
        s"$layer.cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        s"$layer.gc_s" -> js.map(_.gcMs).sum / 1e3,
        s"$layer.shuffle_write_mb" -> js.map(_.shuffleWriteBytes).sum / MB,
        s"$layer.spill_mb" -> js.map(_.spillBytes).sum / MB)
    }
    def driverS(prefix: String) = spans(prefix).map(s => tr.wallMs(s) - tr.jobWallMs(s)).sum / 1e3
    val load = tr.named("load")
    val loadJobs = jobs("load")
    val firstJob = loadJobs.headOption.map(_.submitted)
    val m = zeros ++ sums("load", "load") ++ Map(
      "load.wall_s" -> wall("load"),
      "load.stage_s" -> load.map(s => firstJob.getOrElse(s.end) - s.start).sum / 1e3,
      "load.jobs" -> loadJobs.size.toDouble,
      "load.rows_written" -> loadJobs.map(_.rowsWritten).sum.toDouble,
      "load.parquet_mb" -> loadJobs.map(_.bytesWritten).sum / MB) ++
      sums("assemble", "assemble.").filter(kv => !kv._1.endsWith("cpu_s") && !kv._1.endsWith("gc_s")) ++
      Map("assemble.wall_s" -> spans("assemble.").map(tr.wallMs).sum / 1e3,
        "assemble.cached_mb" -> cachedMb) ++
      Seq("planet", "history", "changesets", "discussions").map(k => s"xml.${k}_s" -> wall(s"xml.$k")) ++
      sums("xml", "xml.").filter(kv => kv._1.endsWith("task_s") || kv._1.endsWith("cpu_s")) ++
      Map("xml.driver_s" -> driverS("xml."),
        "xml.out_mb" -> outPaths.collect { case (k, p) if k.startsWith("xml.") => fileMb(p) }.sum) ++
      Seq("planet", "history").map(k => s"pbf.${k}_s" -> wall(s"pbf.$k")) ++
      Map("pbf.job_s" -> spans("pbf.").map(tr.jobWallMs).sum / 1e3,
        "pbf.driver_s" -> driverS("pbf."),
        "pbf.task_s" -> jobs("pbf.").map(_.taskMs).sum / 1e3,
        "pbf.out_mb" -> outPaths.collect { case (k, p) if k.startsWith("pbf.") => fileMb(p) }.sum,
        "jvm.gc_s" -> gcS, "jvm.gc_count" -> gcCount.toDouble)
    require(m.keySet == names.toSet, s"unexpected metrics ${m.keySet -- names}")
    m
  }

  /** Self time and wall time per span name, summed, as a JSON object. */
  def spanTable(tr: Trace): String = {
    val rows = tr.all.groupBy(_.name).toSeq.sortBy(_._2.map(_.id).min).map { case (n, ss) =>
      val parents = ss.map(s => if (s.parent < 0) "" else tr.all(s.parent).name).distinct
      (new Json).num("wall_s", ss.map(tr.wallMs).sum / 1e3)
        .num("self_s", ss.map(tr.selfMs).sum / 1e3)
        .num("job_wall_s", ss.map(tr.jobWallMs).sum / 1e3)
        .num("count", ss.size.toDouble)
        .str("parent", if (parents.size == 1) parents.head else "*").render -> n
    }
    rows.map { case (js, n) => Json.quote(n) + ":" + js }.mkString("{", ",", "}")
  }

  /** Median of each metric over several traced iterations. */
  def median(runs: Seq[Map[String, Double]]): Map[String, Double] =
    names.map { n =>
      val v = runs.map(_(n)).sorted
      n -> (if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2)
    }.toMap
}

/** Minimal ordered JSON object writer. */
final class Json {
  private val fields = scala.collection.mutable.ArrayBuffer[String]()
  def num(k: String, v: Double): Json = { fields += Json.quote(k) + ":" + Json.number(v); this }
  def nums(k: String, vs: Seq[Double]): Json = {
    fields += Json.quote(k) + ":" + vs.map(Json.number).mkString("[", ",", "]"); this
  }
  def str(k: String, v: String): Json = { fields += Json.quote(k) + ":" + Json.quote(v); this }
  def raw(k: String, json: String): Json = { fields += Json.quote(k) + ":" + json; this }
  def obj(k: String, m: Map[String, Double]): Json =
    raw(k, m.toSeq.sortBy(_._1).map { case (n, v) => Json.quote(n) + ":" + Json.number(v) }
      .mkString("{", ",", "}"))
  def render: String = fields.mkString("{", ",", "}")
}

object Json {
  def number(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
