package graft.osm

import java.io.{BufferedInputStream, FileInputStream}
import java.nio.file.{Files, Paths}
import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Byte-for-byte replication of the reference's golden e2e cases
  * (reference `test/` case dirs; compare = `bunzip2 | cmp`,
  * `test/test-case-runner.sh:36-55`).
  */
class GoldenXmlSpec extends AnyFunSuite {

  private val refTest = "/root/reference/test"
  private val gen = "planet-dump-ng test X.Y.Z"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("golden-xml")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def bunzip(path: String): Array[Byte] = {
    val in = new BZip2CompressorInputStream(
      new BufferedInputStream(new FileInputStream(path)), true)
    try in.readAllBytes() finally in.close()
  }

  private def compare(ours: String, golden: String): Unit = {
    val a = bunzip(ours)
    val b = bunzip(golden)
    if (!java.util.Arrays.equals(a, b)) {
      // locate first difference for a useful failure message
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a(i) == b(i)) i += 1
      val ctx = 120
      val aCtx = new String(a.slice(math.max(0, i - ctx), math.min(a.length, i + ctx)), "UTF-8")
      val bCtx = new String(b.slice(math.max(0, i - ctx), math.min(b.length, i + ctx)), "UTF-8")
      fail(s"outputs differ at byte $i (ours ${a.length}B, golden ${b.length}B)\nOURS : ...$aCtx...\nGOLD : ...$bCtx...")
    }
  }

  private def runCase(dump: String, outputs: (String, PlanetDump.Output => PlanetDump.Output)*): Unit = ()

  private def run(dump: String, work: String, outs: Seq[PlanetDump.Output]): Unit =
    PlanetDump.run(spark, ReferenceFixtures(refTest, dump), work, outs, gen)

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"golden-$name").toString
    d
  }

  import PlanetDump._

  test("changesets.xml golden (full + no-userinfo)") {
    val d = tmp("cs")
    run("liechtenstein-2013-08-03.dmp", s"$d/work", Seq(
      Output(XmlChangesets, s"$d/changesets.osm.bz2"),
      Output(XmlChangesets, s"$d/changesets-nui.osm.bz2", anon = true)))
    compare(s"$d/changesets.osm.bz2", s"$refTest/changesets.xml.case/changesets.osm.bz2")
    compare(s"$d/changesets-nui.osm.bz2", s"$refTest/changesets.xml.case/changesets-no-userinfo.osm.bz2")
  }

  test("discussions.xml golden (full + no-userinfo)") {
    val d = tmp("disc")
    run("liechtenstein-2013-08-03.dmp", s"$d/work", Seq(
      Output(XmlDiscussions, s"$d/discussions.osm.bz2"),
      Output(XmlDiscussions, s"$d/discussions-nui.osm.bz2", anon = true)))
    compare(s"$d/discussions.osm.bz2", s"$refTest/discussions.xml.case/discussions.osm.bz2")
    compare(s"$d/discussions-nui.osm.bz2", s"$refTest/discussions.xml.case/discussions-no-userinfo.osm.bz2")
  }

  test("changesets-empty golden (empty dump, neg-infinity timestamp)") {
    val d = tmp("empty")
    run("empty.dmp", s"$d/work", Seq(Output(XmlChangesets, s"$d/changesets.osm.bz2")))
    compare(s"$d/changesets.osm.bz2", s"$refTest/changesets-empty.xml.case/changesets.osm.bz2")
  }

  test("changesets-badchar golden (control chars → ?)") {
    val d = tmp("badchar")
    run("bad-character.dmp", s"$d/work", Seq(Output(XmlChangesets, s"$d/changesets.osm.bz2")))
    compare(s"$d/changesets.osm.bz2", s"$refTest/changesets-badchar.xml.case/changesets.osm.bz2")
  }

  test("discussions-badchar golden") {
    val d = tmp("discbad")
    run("bad-character.dmp", s"$d/work", Seq(Output(XmlDiscussions, s"$d/discussions.osm.bz2")))
    compare(s"$d/discussions.osm.bz2", s"$refTest/discussions-badchar.xml.case/discussions.osm.bz2")
  }

  test("discussions-long-comment golden (>64 KiB body)") {
    val d = tmp("disclong")
    run("long-changeset-comment.dmp", s"$d/work", Seq(Output(XmlDiscussions, s"$d/discussions.osm.bz2")))
    compare(s"$d/discussions.osm.bz2", s"$refTest/discussions-long-comment.xml.case/discussions.osm.bz2")
  }

  test("planet.xml golden (full + no-userinfo)") {
    val d = tmp("planet")
    run("liechtenstein-2013-08-03.dmp", s"$d/work", Seq(
      Output(XmlPlanet, s"$d/planet.osm.bz2"),
      Output(XmlPlanet, s"$d/planet-nui.osm.bz2", anon = true)))
    compare(s"$d/planet.osm.bz2", s"$refTest/planet.xml.case/planet.osm.bz2")
    compare(s"$d/planet-nui.osm.bz2", s"$refTest/planet.xml.case/planet-no-userinfo.osm.bz2")
  }

  test("history.xml golden (full + no-userinfo)") {
    val d = tmp("history")
    run("liechtenstein-2013-08-03.dmp", s"$d/work", Seq(
      Output(XmlHistory, s"$d/history.osm.bz2"),
      Output(XmlHistory, s"$d/history-nui.osm.bz2", anon = true)))
    compare(s"$d/history.osm.bz2", s"$refTest/history.xml.case/history.osm.bz2")
    compare(s"$d/history-nui.osm.bz2", s"$refTest/history.xml.case/history-no-userinfo.osm.bz2")
  }
}
