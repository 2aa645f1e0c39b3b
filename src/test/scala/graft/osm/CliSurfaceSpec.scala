package graft.osm

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream
import org.apache.commons.compress.compressors.gzip.GzipCompressorInputStream
import org.scalatest.funsuite.AnyFunSuite

/** Reference CLI-parity surface (`src/planet-dump.cpp:27-116`):
  * `--compress-command`, `--dense-nodes`, `--meta-file` / `meta-*`
  * header overrides. The reference ships no goldens for these, so they
  * are covered structurally (non-dense PBF ≡ dense PBF element-wise;
  * another compressor's output decompresses to the default `bzip2 -c`
  * payload; meta values land on the right header attributes).
  */
class CliSurfaceSpec extends AnyFunSuite with SparkSpec {

  private val gen = "planet-dump-ng test X.Y.Z"

  // one shared load per dump for the PBF tests: the in-repo fixture, and
  // the reference Liechtenstein dump where its root exists
  private lazy val loaded: Seq[(String, Option[java.sql.Timestamp], OsmDb)] =
    (PlanetFixture.dump +: ReferenceFixtures.liechtenstein.toSeq).map { dump =>
      val d = Files.createTempDirectory("cli-surface").toString
      val maxTime = Load.run(spark, dump, s"$d/work")
      (d, maxTime, OsmDb(spark, s"$d/work/tables"))
    }

  test("destructive runs honor the workDir lock: non-resume AND dump-switching resume") {
    val d = Files.createTempDirectory("lock-test")
    Files.writeString(d.resolve(".lock"), "pid=999 start=test\n")
    val dump = PlanetFixture.dump
    // non-resume always wipes -> must fail fast on a held lock
    val e1 = intercept[IllegalStateException](
      Load.run(spark, dump, d.toString, resume = false))
    assert(e1.getMessage.contains(".lock"))
    // resume pointed at a DIFFERENT dump than _dump_id wipes too ->
    // must honor the same lock (the round-5 advisory gap: this path
    // used to wipe lock-blind)
    Files.writeString(d.resolve("_dump_id"), "some-other-dump-identity")
    Files.createDirectories(d.resolve("staging"))
    Files.writeString(d.resolve("staging").resolve("inflight.txt"), "x")
    val e2 = intercept[IllegalStateException](
      Load.run(spark, dump, d.toString, resume = true))
    assert(e2.getMessage.contains(".lock"))
    // both aborted BEFORE wiping: the in-flight staging file survives
    assert(Files.exists(d.resolve("staging").resolve("inflight.txt")))
  }

  test("non-dense PBF is structurally identical to dense (and actually non-dense)") {
    loaded.foreach { case (d, maxTime, db) =>
      val (n, w, r) = (Assemble.nodes(db), Assemble.ways(db), Assemble.relations(db))
      PlanetPbf.write(s"$d/dense.pbf", gen, history = true, anon = false, maxTime, n, w, r,
        denseNodes = true)
      PlanetPbf.write(s"$d/plain.pbf", gen, history = true, anon = false, maxTime, n, w, r,
        denseNodes = false)
      val (hD, eD) = PbfDecode.decode(s"$d/dense.pbf")
      val (hP, eP) = PbfDecode.decode(s"$d/plain.pbf")
      // header features differ by exactly the DenseNodes capability
      assert(hD.contains("DenseNodes") && !hP.contains("DenseNodes"))
      assert(hD.filterNot(_ == "DenseNodes") === hP.filterNot(_ == "DenseNodes"))
      assert(eP.length === eD.length)
      eP.zip(eD).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a === b, s"element $i differs between non-dense and dense")
      }
      // and the encodings genuinely differ
      assert(!java.util.Arrays.equals(
        Files.readAllBytes(Paths.get(s"$d/dense.pbf")),
        Files.readAllBytes(Paths.get(s"$d/plain.pbf"))))
    }
  }

  private def decompressAll(path: String, gz: Boolean): String = {
    val in = new java.io.BufferedInputStream(new java.io.FileInputStream(path))
    val cs = if (gz) new GzipCompressorInputStream(in, true)
             else new BZip2CompressorInputStream(in, true)
    try new String(cs.readAllBytes(), "UTF-8") finally cs.close()
  }

  test("--compress-command output decompresses to the default bzip2 payload") {
    import spark.implicits._
    val d = Files.createTempDirectory("compress-cmd").toString
    val lines = (1 to 1000).map(i => s"<line n=\"$i\"/>\n")
    val ds = spark.createDataset(lines).repartition(3)
    XmlSink.write(s"$d/default.xml.bz2", "<header>\n", Seq(ds))
    XmlSink.write(s"$d/gzip.xml.gz", "<header>\n", Seq(ds), compressCommand = "gzip -c")
    val default = decompressAll(s"$d/default.xml.bz2", gz = false)
    val gzip = decompressAll(s"$d/gzip.xml.gz", gz = true)
    assert(gzip === default)
    assert(gzip.startsWith("<header>\n"))
    assert(gzip.endsWith(XmlFormat.footer))
    assert(lines.forall(gzip.contains(_)))
  }

  test("failing compress command surfaces as an error, not truncation") {
    import spark.implicits._
    val d = Files.createTempDirectory("compress-fail").toString
    // more than a pipe buffer: the write fails once `false` has exited,
    // and the error still names the command and its exit code
    val ds = spark.createDataset(Seq("x" * (100 << 10) + "\n"))
    val e = intercept[Exception] {
      XmlSink.write(s"$d/out.xml", "<h>\n", Seq(ds), compressCommand = "false")
    }
    assert(e.getMessage.contains("compress command 'false' exited with 1"))
  }

  test("a compress command that cannot run fails the run before the load") {
    val d = Files.createTempDirectory("compress-preflight").toString
    val e = intercept[java.io.IOException] {
      PlanetDump.run(spark, PlanetFixture.dump, s"$d/work", PlanetFixture.outputs(d),
        PlanetFixture.generator, compressCommand = "exit 3", resume = false)
    }
    assert(e.getMessage === "compress command 'exit 3' exited with 3")
    assert(!Files.exists(Paths.get(d, "work", "tables")))
  }

  test("parseArgs covers the reference option surface") {
    import PlanetDump._
    val cli = parseArgs(Array(
      "-f", "planet.dmp", "--work-dir", "/tmp/w", "--generator", "gen v1",
      "-c", "pbzip2 -c", "-d", "false",
      "--meta-author", "A", "--meta-copyleft", "L",
      "-x", "p.xml.bz2", "--history-xml-no-userinfo", "h.xml.bz2",
      "-C", "cs.xml.bz2", "--changeset-discussions", "d.xml.bz2",
      "-p", "p.pbf", "--history-pbf-no-userinfo", "h.pbf",
      "--pbf-parallel", "pp.pbf"))
    assert(cli.dumpFile === "planet.dmp")
    assert(cli.workDir === "/tmp/w")
    assert(cli.generator === "gen v1")
    assert(cli.compressCommand === "pbzip2 -c")
    // without -c, the reference's compressor
    assert(parseArgs(Array("-f", "d.dmp", "-x", "o.xml")).compressCommand === "bzip2 -c")
    assert(!cli.denseNodes)
    assert(cli.meta.author === "A" && cli.meta.copyleft === "L")
    assert(cli.meta.source === Meta().source) // untouched default
    assert(cli.outputs === Seq(
      Output(XmlPlanet, "p.xml.bz2"),
      Output(XmlHistory, "h.xml.bz2", anon = true),
      Output(XmlChangesets, "cs.xml.bz2"),
      Output(XmlDiscussions, "d.xml.bz2"),
      Output(PbfPlanet, "p.pbf"),
      Output(PbfHistory, "h.pbf", anon = true),
      Output(PbfPlanetParallel, "pp.pbf")))
    intercept[IllegalArgumentException](parseArgs(Array("--bogus", "x")))
    intercept[IllegalArgumentException](parseArgs(Array("-x", "out.xml"))) // no dump file
    intercept[IllegalArgumentException](parseArgs(Array("-f", "d.dmp"))) // no outputs
    // an option missing its value names the option, like the reference
    val missing = intercept[IllegalArgumentException](parseArgs(Array("-f")))
    assert(missing.getMessage.contains("'-f'"))
    intercept[IllegalArgumentException](parseArgs(Array("-f", "d.dmp", "--xml")))
    intercept[IllegalArgumentException](parseArgs(Array(
      "-f", "d.dmp", "-x", "o.xml", "--max-concurrency", "0")))
    // --help anywhere wins, even with otherwise-invalid args (reference
    // prints usage and exits 0 before any validation)
    assert(parseArgs(Array("--help")).help)
    assert(parseArgs(Array("-x", "out.xml", "-h")).help)
    assert(!cli.help)
  }

  test("meta-file overrides header attributes; CLI values win over the file") {
    val f = Files.createTempFile("meta", ".conf")
    Files.writeString(f,
      """# data metainfo (boost config format)
        |meta-author = File Author
        |meta-copyleft = http://example.org/file-license
        |meta-source = http://example.org/file-api
        |""".stripMargin)
    val meta = PlanetDump.parseMetaFile(f.toString,
      cliOverrides = Map("meta-author" -> "Cli Author"))
    assert(meta.author === "Cli Author") // CLI wins
    assert(meta.copyleft === "http://example.org/file-license")
    assert(meta.source === "http://example.org/file-api")
    assert(meta.attribution === PlanetDump.Meta().attribution) // untouched default
    val header = XmlFormat.header(gen, None,
      license = meta.copyleft, copyright = meta.author,
      attribution = meta.attribution, origin = meta.source)
    assert(header.contains("license=\"http://example.org/file-license\""))
    assert(header.contains("copyright=\"Cli Author\""))
    assert(header.contains("origin=\"http://example.org/file-api\""))
  }

  test("parseMetaFile closes the meta file") {
    val fds = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fds), "needs /proc/self/fd to list open descriptors")
    val f = Files.createTempFile("meta", ".conf")
    Files.writeString(f, "meta-author = File Author\n")
    assert(PlanetDump.parseMetaFile(f.toString, Map.empty).author === "File Author")
    val ls = Files.list(fds)
    val open = try ls.toArray.toSeq.flatMap { fd =>
      // a descriptor may close between the listing and the read
      scala.util.Try(Files.readSymbolicLink(fd.asInstanceOf[java.nio.file.Path])).toOption
    } finally ls.close()
    assert(!open.contains(f.toRealPath()), s"$f is still open")
  }
}
