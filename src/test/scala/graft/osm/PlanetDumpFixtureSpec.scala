package graft.osm

import java.io.{BufferedInputStream, FileInputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import graft.SparkSpec
import org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream
import org.scalatest.funsuite.AnyFunSuite

/** The in-repo planet fixture: a ~32 KB `pg_dump -Fc` archive written by
  * `python3 perfbench/dumpgen.py <out> --seed 1 --scale 0.01`, and the
  * element counts that generator reports for it.
  */
object PlanetFixture {
  val dump: String =
    Paths.get(getClass.getResource("/osm/dumpgen-seed1-x0.01.dmp").toURI).toString
  val generator = "fixture"
  val changesets = 14
  val history = Map("node" -> 665, "way" -> 71, "relation" -> 4)
  val planet = Map("node" -> 398, "way" -> 50, "relation" -> 3)

  /** All six outputs, written under `dir`. */
  def outputs(dir: String): Seq[PlanetDump.Output] = {
    import PlanetDump._
    Seq(Output(XmlChangesets, s"$dir/changesets.osm.bz2"),
      Output(XmlDiscussions, s"$dir/discussions.osm.bz2"),
      Output(XmlPlanet, s"$dir/planet.osm.bz2"),
      Output(XmlHistory, s"$dir/history.osm.bz2"),
      Output(PbfPlanet, s"$dir/planet.osm.pbf"),
      Output(PbfHistory, s"$dir/history.osm.pbf"))
  }
}

/** End to end on the in-repo fixture: `PlanetDump.run` writes all six
  * outputs, each holds the generator's element counts, and each matches
  * the SHA-256 recorded from the serial, one-job-per-section pipeline
  * this one replaced — PBF byte for byte, XML after bunzip2 (the bzip2
  * stream boundaries follow the partitioning, the payload does not).
  * Concurrent and serial writers produce the same files.
  */
class PlanetDumpFixtureSpec extends AnyFunSuite with SparkSpec {
  import PlanetFixture._

  private val expectedSha256 = Map(
    "changesets.osm.bz2" -> "55f226c324586cf03c1166c3556d7c02fb9292de1be49640a23342ab51274509",
    "discussions.osm.bz2" -> "0b470cdc2a64f940c4faf59142f9e41a9b8d18b129d25d9e8dff4fd911b8bcae",
    "planet.osm.bz2" -> "b4dbbc15db4b35bd1d3b5cb7988612dd3f51d651201c2625d7c011658c59f5c3",
    "history.osm.bz2" -> "b6bcc3a05ceb5203eb091a9b3cfd9a45ba0aafde7f80ab9f60d403ae4f77aa12",
    "planet.osm.pbf" -> "af67ba445ce909a4de1a758f542571851c3adc6006cfd61d714c9e4122b77491",
    "history.osm.pbf" -> "19b6f15491150cd7a09ecc084b8ebea954046e2a9aeaa72e79628eddcf724b8a")

  private val names = expectedSha256.keys.toSeq.sorted

  /** Run all six outputs into a fresh directory; returns it. */
  private def run(maxConcurrency: Option[Int]): String = {
    val d = Files.createTempDirectory("planet-fixture").toString
    PlanetDump.run(spark, dump, s"$d/work", outputs(d), generator, resume = false,
      maxConcurrency = maxConcurrency)
    d
  }

  private lazy val concurrent = run(None)
  private lazy val serial = run(Some(1))

  /** Decompressed XML or raw PBF bytes of one output. */
  private def content(dir: String, name: String): Array[Byte] =
    if (name.endsWith(".bz2")) {
      val in = new BZip2CompressorInputStream(
        new BufferedInputStream(new FileInputStream(s"$dir/$name")), true)
      try in.readAllBytes() finally in.close()
    } else Files.readAllBytes(Paths.get(dir, name))

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def xmlCounts(name: String): Map[String, Int] = {
    val text = new String(content(concurrent, name), UTF_8)
    Seq("changeset", "node", "way", "relation").map { e =>
      e -> s"<$e ".r.findAllMatchIn(text).size
    }.toMap
  }

  private def pbfCounts(name: String): Map[String, Int] = {
    val kinds = PbfDecode.decode(s"$concurrent/$name")._2.groupBy(_.kind)
    Seq("node", "way", "relation").map(k => k -> kinds.get(k).fold(0)(_.size)).toMap
  }

  test("every output holds the generator's element counts") {
    val none = Map("node" -> 0, "way" -> 0, "relation" -> 0)
    assert(xmlCounts("changesets.osm.bz2") === none + ("changeset" -> changesets))
    assert(xmlCounts("discussions.osm.bz2") === none + ("changeset" -> changesets))
    assert(xmlCounts("planet.osm.bz2") === planet + ("changeset" -> changesets))
    assert(xmlCounts("history.osm.bz2") === history + ("changeset" -> changesets))
    assert(pbfCounts("planet.osm.pbf") === planet)
    assert(pbfCounts("history.osm.pbf") === history)
  }

  test("outputs match the recorded SHA-256 (PBF bytes, bunzip2'd XML)") {
    names.foreach(name => assert(sha256(content(concurrent, name)) === expectedSha256(name), name))
  }

  test("serial writers (maxConcurrency = 1) produce the same outputs") {
    names.foreach { name =>
      assert(java.util.Arrays.equals(content(serial, name), content(concurrent, name)), name)
    }
  }
}
