package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.osm._
import graft.osm.PlanetDump._

/** Planet-dump workloads: warm `PlanetDump.run` iterations in one JVM.
  *
  * The first `PlanetDump.run` after session start is the cold run.
  * Untraced (`--trace 0`), `--iters` runs follow, timed. The count is
  * fixed rather than a time window because the JIT is still converging
  * over the first runs, so each run position has its own expected time.
  * Traced (`--trace 1`), `--iters` pairs of an untraced and a traced run
  * follow; the traced run is a span-wrapped copy of `PlanetDump.run`'s
  * orchestration and writes to its own directory, so the caller can
  * check that both produce the same output.
  *
  * Writes one JSON object to `--result`.
  */
object Planet {

  val Generator = "perfbench"

  /** Output kinds of each workload, in the order `PlanetDump.run` gets them. */
  def outputs(workload: String, dir: String): Seq[Output] = {
    val cs = Seq(Output(XmlChangesets, s"$dir/changesets.osm.bz2"),
      Output(XmlDiscussions, s"$dir/discussions.osm.bz2"))
    workload match {
      case "changesets" => cs
      case "planet-all" => cs ++ Seq(
        Output(XmlPlanet, s"$dir/planet.osm.bz2"),
        Output(XmlHistory, s"$dir/history.osm.bz2"),
        Output(PbfPlanet, s"$dir/planet.osm.pbf"),
        Output(PbfHistory, s"$dir/history.osm.pbf"))
      case other => throw new IllegalArgumentException(s"unknown planet workload $other")
    }
  }

  def main(opts: Map[String, String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = opts("workload")
    val dump = opts("dump")
    val work = opts("work")
    val out = opts("out")
    val iters = opts("iters").toInt
    val traced = opts("trace") == "1"
    val cpus = opts("cpus")

    val t0 = System.nanoTime()
    // the session PlanetDump.main builds, with its parallelism pinned
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("planet-dump")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val plainOut = s"$out/plain"
    Files.createDirectories(Paths.get(plainOut))
    def plain(): Double = time(PlanetDump.run(spark, dump, work, outputs(workload, plainOut),
      Generator, resume = false))

    val cold = plain()
    // JVM start to the end of the first run: what one CLI run costs
    val coldS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val result = new Json
    result.num("session_s", sessionS).num("cold_s", coldS).num("first_run_s", cold)
    if (!traced) result.nums("iter_s", (1 to iters).map(_ => plain()))
    else {
      val trace = new Trace(spark.sparkContext)
      val tracedOut = s"$out/traced"
      Files.createDirectories(Paths.get(tracedOut))
      val runs = (1 to iters).map { _ =>
        val plainS = plain()
        val (g0, gs0) = Trace.gc()
        val (tracedS, cached) = tracedRun(spark, trace, workload, dump, work, tracedOut)
        val (g1, gs1) = Trace.gc()
        trace.drain()
        val sinks = outputs(workload, tracedOut).map(o => sinkSpan(o.kind) -> o.path).toMap
        val layers = Layers.planet(trace, sinks, cached, g1 - g0, gs1 - gs0)
        val spans = Layers.spanTable(trace)
        trace.reset()
        (plainS, tracedS, layers, spans)
      }
      result.nums("iter_s", runs.map(_._1)).nums("traced_s", runs.map(_._2))
        .obj("layers", Layers.median(runs.map(_._3))).raw("spans", runs.last._4)
      trace.close()
    }
    result.num("peak_rss_mb", Trace.peakRssMb())
    Files.write(Paths.get(opts("result")), result.render.getBytes("UTF-8"))
    spark.stop()
  }

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `PlanetDump.run`'s orchestration with a span around each layer
    * call. Each assembled frame is forced inside its own span, so the
    * first sink is not charged with assembly.
    */
  def tracedRun(spark: SparkSession, tr: Trace, workload: String, dump: String,
                work: String, dir: String): (Double, Double) = {
    var cached = 0.0
    val seconds = time(tr.span("iteration") {
      val outs = outputs(workload, dir)
      val maxTime = tr.span("load")(Load.run(spark, dump, work, resume = false))
      val db = OsmDb(spark, s"$work/tables")
      def assemble(name: String)(df: => DataFrame): DataFrame = tr.span(s"assemble.$name") {
        val d = df.persist(StorageLevel.MEMORY_AND_DISK)
        d.count()
        d
      }
      val cs = assemble("changesets")(Assemble.changesets(db))
      val needElements = outs.exists(o => o.kind != XmlChangesets && o.kind != XmlDiscussions)
      val elements =
        if (needElements) Seq(assemble("nodes")(Assemble.nodes(db)),
          assemble("ways")(Assemble.ways(db)), assemble("relations")(Assemble.relations(db)))
        else Nil
      cached = Layers.cachedMb(spark)
      lazy val Seq(nodesH, waysH, relsH) = elements
      val meta = Meta()
      outs.foreach { o =>
        o.kind match {
          case PbfPlanet => tr.span(sinkSpan(PbfPlanet)) {
            PlanetPbf.write(o.path, Generator, history = false, o.anon, maxTime,
              Assemble.current(nodesH), Assemble.current(waysH), Assemble.current(relsH),
              denseNodes = true, meta.source)
          }
          case PbfHistory => tr.span(sinkSpan(PbfHistory)) {
            PlanetPbf.write(o.path, Generator, history = true, o.anon, maxTime,
              nodesH, waysH, relsH, denseNodes = true, meta.source)
          }
          case kind =>
            tr.span(sinkSpan(kind)) {
              val header = XmlFormat.header(Generator, maxTime, license = meta.copyleft,
                copyright = meta.author, attribution = meta.attribution, origin = meta.source)
              val sections = kind match {
                case XmlChangesets =>
                  Seq(PlanetXml.renderChangesets(cs, o.anon, discussions = false, maxTime))
                case XmlDiscussions =>
                  Seq(PlanetXml.renderChangesets(cs, o.anon, discussions = true, maxTime))
                case XmlHistory =>
                  Seq(PlanetXml.renderChangesets(cs, o.anon, discussions = false, maxTime),
                    PlanetXml.renderNodes(nodesH, o.anon, history = true),
                    PlanetXml.renderWays(waysH, o.anon, history = true),
                    PlanetXml.renderRelations(relsH, o.anon, history = true))
                case _ =>
                  Seq(PlanetXml.renderChangesets(cs, o.anon, discussions = false, maxTime),
                    PlanetXml.renderNodes(Assemble.current(nodesH), o.anon, history = false),
                    PlanetXml.renderWays(Assemble.current(waysH), o.anon, history = false),
                    PlanetXml.renderRelations(Assemble.current(relsH), o.anon, history = false))
              }
              XmlSink.write(o.path, header, sections)
            }
        }
      }
      cs.unpersist()
      elements.foreach(_.unpersist())
    })
    (seconds, cached)
  }

  /** Span name of each sink: `<layer>.<output>`. */
  def sinkSpan(kind: Kind): String = kind match {
    case XmlChangesets => "xml.changesets"
    case XmlDiscussions => "xml.discussions"
    case XmlHistory => "xml.history"
    case XmlPlanet => "xml.planet"
    case PbfPlanet => "pbf.planet"
    case PbfHistory => "pbf.history"
    case other => throw new IllegalArgumentException(s"no benchmark sink for $other")
  }
}
