package graft.osm

import java.io.{BufferedInputStream, FileInputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths}
import graft.SparkSpec
import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream
import org.scalatest.funsuite.AnyFunSuite

/** The in-repo empty dump `osm/empty.dmp`: the fixture's schema with
  * every table's COPY section holding no rows. `PlanetDump.run` writes
  * all six outputs from it — each XML file is the header (empty
  * timestamp, no max time) and the footer, each PBF one header blob.
  */
class EmptyDumpSpec extends AnyFunSuite with SparkSpec {

  private val dump =
    Paths.get(getClass.getResource("/osm/empty.dmp").toURI).toString

  private val emptyXml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<osm license="http://opendatacommons.org/licenses/odbl/1-0/" copyright="OpenStreetMap and contributors" version="0.6" generator="fixture" attribution="http://www.openstreetmap.org/copyright" timestamp="">
      | <bound box="-90,-180,90,180" origin="http://www.openstreetmap.org/api/0.6"/>
      |</osm>
      |""".stripMargin

  test("Load.run on the empty dump finds no max time") {
    val d = Files.createTempDirectory("empty-load").toString
    assert(Load.run(spark, dump, s"$d/work", resume = false) === None)
  }

  test("PlanetDump.run writes all six outputs from the empty dump") {
    val d = Files.createTempDirectory("empty-dump").toString
    PlanetDump.run(spark, dump, s"$d/work", PlanetFixture.outputs(d),
      PlanetFixture.generator, resume = false)
    Seq("changesets", "discussions", "planet", "history").foreach { name =>
      val in = new BZip2CompressorInputStream(
        new BufferedInputStream(new FileInputStream(s"$d/$name.osm.bz2")), true)
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      assert(text === emptyXml, name)
    }
    Seq("planet" -> Seq("OsmSchema-V0.6", "DenseNodes"),
      "history" -> Seq("OsmSchema-V0.6", "HistoricalInformation", "DenseNodes"))
      .foreach { case (name, features) =>
        val path = s"$d/$name.osm.pbf"
        // one blob: the OSMHeader, no OSMData after it
        val raw = new String(Files.readAllBytes(Paths.get(path)), ISO_8859_1)
        assert("OSMHeader".r.findAllMatchIn(raw).size === 1, name)
        assert(!raw.contains("OSMData"), name)
        assert(PbfDecode.decode(path) === ((features, Nil)), name)
      }
  }
}
