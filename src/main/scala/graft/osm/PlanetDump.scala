package graft.osm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** End-to-end pipeline equivalent of the reference CLI
  * (`src/planet-dump.cpp:27-114` option surface): one dump file in,
  * any combination of planet/history/changesets/discussions XML outputs,
  * each optionally anonymized.
  */
object PlanetDump {

  sealed trait Kind
  case object XmlPlanet extends Kind // latest visible versions (history_filter)
  case object XmlHistory extends Kind // every version
  case object XmlChangesets extends Kind // changesets only (changeset_filter)
  case object XmlDiscussions extends Kind // changesets + <discussion>
  case object PbfPlanet extends Kind // latest visible versions, OSMPBF
  case object PbfHistory extends Kind // every version, OSMPBF
  case object PbfPlanetParallel extends Kind // scale path: parallel block encoding
  case object PbfHistoryParallel extends Kind

  final case class Output(kind: Kind, path: String, anon: Boolean = false)

  /** Data metainfo (reference `meta-author|source|copyleft|attribution`,
    * `src/planet-dump.cpp:66-71`): author → the `copyright` header
    * attribute, copyleft → `license`, attribution → `attribution`,
    * source → the `<bound origin>` / PBF `source` field
    * (`src/xml_writer.cpp:418-435`).
    */
  final case class Meta(
      author: String = "OpenStreetMap and contributors",
      source: String = "http://www.openstreetmap.org/api/0.6",
      copyleft: String = "http://opendatacommons.org/licenses/odbl/1-0/",
      attribution: String = "http://www.openstreetmap.org/copyright")

  /** Parse a `--meta-file` (boost program_options config format:
    * `key = value` lines, `#` comments). CLI-provided values win over
    * file values, matching boost's first-store-wins semantics
    * (`src/planet-dump.cpp:104-116` stores the CLI before the file).
    */
  def parseMetaFile(path: String, cliOverrides: Map[String, String]): Meta = {
    val kv = scala.util.Using.resource(scala.io.Source.fromFile(path, "UTF-8")) {
      _.getLines()
        .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty)
        .flatMap { line =>
          line.split("=", 2) match {
            case Array(k, v) => Some(k.trim -> v.trim)
            case _ => None
          }
        }.toMap
    }
    meta(kv, cliOverrides)
  }

  /** Each header value from the CLI, else from the meta file, else the
    * default.
    */
  private def meta(file: Map[String, String], cli: Map[String, String]): Meta = {
    def pick(key: String, default: String): String =
      cli.getOrElse(key, file.getOrElse(key, default))
    val d = Meta()
    Meta(
      author = pick("meta-author", d.author),
      source = pick("meta-source", d.source),
      copyleft = pick("meta-copyleft", d.copyleft),
      attribution = pick("meta-attribution", d.attribution))
  }

  /** Run the load once, assemble shared DataFrames once, write every
    * requested output from the shared plans (mirrors the reference's
    * single-pass multi-writer design, `src/planet-dump.cpp:180-249`,
    * where one reader feeds N writer threads).
    *
    * The writers run concurrently, at most `maxConcurrency` at once
    * (default: one per core; `Some(1)` is a serial run), so their
    * small jobs share the cores. Each assembled frame — changesets,
    * the three histories and their current views — is persisted the
    * first time a writer asks for it and computed once for all of
    * them; every persisted frame is released when the writers end,
    * also on failure. A sequential PBF writer streams its sorted
    * frames to the driver with `toLocalIterator`, so at most
    * `maxConcurrency` such streams hold a partition on the driver at
    * once.
    */
  def run(spark: SparkSession, dumpFile: String, workDir: String,
          outputs: Seq[Output], generator: String,
          meta: Meta = Meta(),
          compressCommand: Option[String] = None,
          denseNodes: Boolean = true,
          resume: Boolean = true,
          maxConcurrency: Option[Int] = None): Unit = {
    val maxTime = Load.run(spark, dumpFile, workDir, resume, maxConcurrency)
    val db = OsmDb(spark, s"$workDir/tables")

    val persisted = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    def shared(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      persisted.add(p)
      p
    }
    lazy val cs = shared(Assemble.changesets(db))
    lazy val nodesH = shared(Assemble.nodes(db))
    lazy val waysH = shared(Assemble.ways(db))
    lazy val relsH = shared(Assemble.relations(db))
    lazy val nodesC = shared(Assemble.current(nodesH))
    lazy val waysC = shared(Assemble.current(waysH))
    lazy val relsC = shared(Assemble.current(relsH))
    val header = XmlFormat.header(generator, maxTime,
      license = meta.copyleft, copyright = meta.author,
      attribution = meta.attribution, origin = meta.source)

    def write(o: Output): Unit = {
      val anon = o.anon
      def xml(sections: Dataset[String]*): Unit =
        XmlSink.write(o.path, header, sections, compressCommand)
      def changesets(discussions: Boolean) =
        PlanetXml.renderChangesets(cs, anon, discussions, maxTime)
      def pbf(history: Boolean, parallel: Boolean): Unit = {
        val (n, w, r) = if (history) (nodesH, waysH, relsH) else (nodesC, waysC, relsC)
        if (parallel)
          PlanetPbf.writeParallel(o.path, generator, history, anon, maxTime, n, w, r,
            denseNodes, meta.source)
        else
          PlanetPbf.write(o.path, generator, history, anon, maxTime, n, w, r,
            denseNodes, meta.source)
      }
      o.kind match {
        case XmlChangesets => xml(changesets(discussions = false))
        case XmlDiscussions => xml(changesets(discussions = true))
        case XmlHistory => xml(changesets(discussions = false),
          PlanetXml.renderNodes(nodesH, anon, history = true),
          PlanetXml.renderWays(waysH, anon, history = true),
          PlanetXml.renderRelations(relsH, anon, history = true))
        case XmlPlanet => xml(changesets(discussions = false),
          PlanetXml.renderNodes(nodesC, anon, history = false),
          PlanetXml.renderWays(waysC, anon, history = false),
          PlanetXml.renderRelations(relsC, anon, history = false))
        case PbfPlanet => pbf(history = false, parallel = false)
        case PbfHistory => pbf(history = true, parallel = false)
        case PbfPlanetParallel => pbf(history = false, parallel = true)
        case PbfHistoryParallel => pbf(history = true, parallel = true)
      }
    }

    try Bounded.map(outputs, maxConcurrency)(write)
    finally persisted.forEach(_.unpersist())
  }

  /** Parsed CLI configuration (everything `run` needs). `help = true`
    * short-circuits: no other option is validated (reference prints
    * usage and exits 0 whenever --help appears, `planet-dump.cpp:80-83`).
    */
  final case class Cli(dumpFile: String, workDir: String, generator: String,
                       outputs: Seq[Output], meta: Meta,
                       compressCommand: Option[String], denseNodes: Boolean,
                       resume: Boolean = false, maxConcurrency: Option[Int] = None,
                       help: Boolean = false)

  /** Usage text (the option surface; mirrors the reference's list). */
  val helpText: String =
    """planet-dump-ng-spark: allowed options
      |  -h [ --help ]                 display help text and exit
      |  -c [ --compress-command ] arg program used to compress XML output
      |  -x [ --xml ] arg              planet XML output file (without history)
      |  -X [ --history-xml ] arg      history XML output file
      |  -p [ --pbf ] arg              planet PBF output file (without history)
      |  -P [ --history-pbf ] arg      history PBF output file
      |  -C [ --changesets ] arg       changeset XML output file
      |  -D [ --changeset-discussions ] arg  changeset discussions XML output file
      |  --xml-no-userinfo / --history-xml-no-userinfo / --pbf-no-userinfo /
      |  --history-pbf-no-userinfo / --changesets-no-userinfo /
      |  --changeset-discussions-no-userinfo arg   anonymized variants
      |  --pbf-parallel / --history-pbf-parallel arg  parallel-encoded PBF (scale path)
      |  -d [ --dense-nodes ] arg      use dense nodes for PBF output (default true)
      |  -f [ --dump-file ] arg        PostgreSQL table dump to read
      |  --work-dir arg                staging/table directory (default planet-dump-work)
      |  --generator arg               override the generator string
      |  --resume                      resume from partial data (else start from scratch)
      |  --max-concurrency arg         cap staging subprocesses / job submission / shuffle width,
      |                                and concurrent output writers
      |  -M [ --meta-file ] arg        data metainfo configuration file
      |  --meta-author / --meta-source / --meta-copyleft / --meta-attribution arg
      |""".stripMargin

  /** boost::program_options bool parser accepts 1/0, on/off, yes/no,
    * true/false (case-insensitive) — `planet-dump.cpp:69` relies on it
    * for `--dense-nodes`, so scripts written against the reference may
    * use any spelling.
    */
  private def parseBool(s: String): Boolean = s.trim.toLowerCase match {
    case "1" | "true" | "on" | "yes" => true
    case "0" | "false" | "off" | "no" => false
    case other => throw new IllegalArgumentException(
      s"invalid boolean '$other' (expected true/false/1/0/on/off/yes/no)")
  }

  /** CLI parser mirroring the reference option names
    * (`src/planet-dump.cpp:27-116`); pure so the option surface is
    * testable without a session. Accepts both `--opt value` and boost's
    * `--opt=value` form.
    */
  def parseArgs(rawArgs: Array[String]): Cli = {
    // boost accepts --opt=value; normalize it to two tokens
    val args = rawArgs.flatMap {
      case a if a.startsWith("--") && a.contains("=") =>
        val Array(k, v) = a.split("=", 2); Seq(k, v)
      case a => Seq(a)
    }
    var dumpFile: Option[String] = None
    var workDir = "planet-dump-work"
    var generator = "graft-spark"
    var compressCommand: Option[String] = None
    var denseNodes = true
    var resume = false
    var maxConcurrency: Option[Int] = None
    var metaFile: Option[String] = None
    val metaCli = scala.collection.mutable.Map[String, String]()
    val outputs = scala.collection.mutable.ArrayBuffer[Output]()
    // --help anywhere wins: usage + exit 0, nothing else validated
    if (args.contains("--help") || args.contains("-h"))
      return Cli("", "", "", Nil, Meta(), None, denseNodes = true, help = true)
    var i = 0
    // the value of the option at i, named in the error when it is missing
    def value(): String = {
      if (i + 1 >= args.length)
        throw new IllegalArgumentException(
          s"the required argument for option '${args(i)}' is missing")
      args(i + 1)
    }
    while (i < args.length) {
      args(i) match {
        case "--dump-file" | "-f" => dumpFile = Some(value()); i += 2
        case "--work-dir" => workDir = value(); i += 2
        case "--generator" => generator = value(); i += 2
        case "--compress-command" | "-c" => compressCommand = Some(value()); i += 2
        case "--dense-nodes" | "-d" => denseNodes = parseBool(value()); i += 2
        case "--resume" => resume = true; i += 1
        case "--max-concurrency" =>
          val n = value().toInt
          require(n >= 1, s"--max-concurrency must be at least 1, got $n")
          maxConcurrency = Some(n); i += 2
        case "--meta-file" | "-M" => metaFile = Some(value()); i += 2
        case k @ ("--meta-author" | "--meta-source" | "--meta-copyleft" | "--meta-attribution") =>
          metaCli(k.drop(2)) = value(); i += 2
        case "--xml" | "-x" => outputs += Output(XmlPlanet, value()); i += 2
        case "--xml-no-userinfo" => outputs += Output(XmlPlanet, value(), anon = true); i += 2
        case "--history-xml" | "-X" => outputs += Output(XmlHistory, value()); i += 2
        case "--history-xml-no-userinfo" => outputs += Output(XmlHistory, value(), anon = true); i += 2
        case "--changesets" | "-C" => outputs += Output(XmlChangesets, value()); i += 2
        case "--changesets-no-userinfo" => outputs += Output(XmlChangesets, value(), anon = true); i += 2
        case "--pbf" | "-p" => outputs += Output(PbfPlanet, value()); i += 2
        case "--pbf-parallel" => outputs += Output(PbfPlanetParallel, value()); i += 2
        case "--history-pbf-parallel" => outputs += Output(PbfHistoryParallel, value()); i += 2
        case "--pbf-no-userinfo" => outputs += Output(PbfPlanet, value(), anon = true); i += 2
        case "--history-pbf" | "-P" => outputs += Output(PbfHistory, value()); i += 2
        case "--history-pbf-no-userinfo" => outputs += Output(PbfHistory, value(), anon = true); i += 2
        case "--changeset-discussions" | "-D" => outputs += Output(XmlDiscussions, value()); i += 2
        case "--changeset-discussions-no-userinfo" =>
          outputs += Output(XmlDiscussions, value(), anon = true); i += 2
        case other => throw new IllegalArgumentException(s"unknown option $other")
      }
    }
    require(dumpFile.isDefined, "--dump-file is required")
    require(outputs.nonEmpty, "at least one output is required")
    val info = metaFile.fold(meta(Map.empty, metaCli.toMap))(parseMetaFile(_, metaCli.toMap))
    Cli(dumpFile.get, workDir, generator, outputs.toSeq, info,
      compressCommand, denseNodes, resume, maxConcurrency)
  }

  def main(args: Array[String]): Unit = {
    val cli = parseArgs(args)
    if (cli.help) { println(helpText); return }
    // --max-concurrency caps the reference's writer threads
    // (planet-dump.cpp:58-59). It bounds the driver-side staging /
    // per-table job submission (Load.run), the concurrent output
    // writers (run) and, as the Spark analogue of the knob,
    // shuffle/write parallelism
    val parallelism = cli.maxConcurrency.map(_.toString)
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("planet-dump")
      .config("spark.sql.shuffle.partitions", parallelism)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, cli.dumpFile, cli.workDir, cli.outputs, cli.generator,
      cli.meta, cli.compressCommand, cli.denseNodes, cli.resume,
      cli.maxConcurrency)
    finally spark.stop()
  }
}
