package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.SparkSpec
import graft.osm.{CopyDecoder, Load, PlanetFixture, ReferenceFixtures, Schema}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `pgdump` source on the in-repo fixture every time, and on the
  * reference Liechtenstein dump too where its root exists. Expected row
  * counts are PostgreSQL's own (`pg_restore -f - -a -t <table> <dump>`),
  * not our decoder's: FIXTURES.md §5 for the fixture, §1 for Liechtenstein.
  */
class PgDumpSourceSpec extends AnyFunSuite with SparkSpec {

  /** One dump, its own staging directory (`Load.stage`, called directly
    * below, keys staged text by table name only), and its `pg_restore`
    * row counts.
    */
  private final class Dump(val path: String, val nodes: Long, val maxNodeId: Long,
                           val users: Long, val comments: Long) {
    lazy val staging = java.nio.file.Files.createTempDirectory("pgdump-src").toString

    def read(table: String) =
      spark.read.format("pgdump")
        .option("table", table).option("staging", staging).load(path)
  }

  private val dumps =
    new Dump(PlanetFixture.dump, nodes = 677L, maxNodeId = 445L, users = 4L, comments = 3L) +:
      ReferenceFixtures.liechtenstein.toSeq.map(
        new Dump(_, nodes = 65734L, maxNodeId = 2538885407L, users = 228L, comments = 2L))

  test("reads every node as a driver-side decode of the staged text") {
    dumps.foreach { dump =>
      val viaSource = dump.read("nodes").orderBy("id", "version").collect().toSeq
      assert(viaSource.length === dump.nodes)
      // the reference: pg_restore's text decoded line by line on the
      // driver, no Spark, split on '\n' as the source's reader splits it
      val text = Load.stage(dump.path, "nodes", dump.staging)
      val t = Schema.nodes
      val parse = CopyDecoder.rowParser(t,
        CopyDecoder.reorder(t, CopyDecoder.parseCopyHeader(Load.copyHeader(text))))
      val expected = new String(Files.readAllBytes(Paths.get(text)), StandardCharsets.UTF_8)
        .split('\n').toSeq.filter(CopyDecoder.isDataLine).map(parse)
        .sortBy(r => (r.getLong(0), r.getLong(1)))
      assert(viaSource === expected)
    }
  }

  test("column pruning reaches the decoder (ReadSchema pruned)") {
    dumps.foreach { dump =>
      val pruned = dump.read("nodes").select("id", "timestamp")
      val plan = pruned.queryExecution.executedPlan.toString
      // DSv2 prints the scan's output columns: only the 2 required ones
      // (of 8) must reach the BatchScan
      assert("BatchScan pgdump:nodes\\[id#\\d+L, timestamp#\\d+\\]".r.findFirstIn(plan).isDefined,
        s"expected pruned BatchScan output in plan:\n$plan")
      assert(pruned.agg(max("id")).head.getLong(0) === dump.maxNodeId ||
        pruned.count() === dump.nodes)
    }
  }

  test("small tables and users read correctly") {
    dumps.foreach { dump =>
      assert(dump.read("users").count() === dump.users)
      assert(dump.read("changeset_comments").count() === dump.comments)
      val u = dump.read("users").filter(col("data_public")).count()
      assert(u > 0 && u <= dump.users)
    }
  }

  test("the split size follows the session's file-split confs; cut reads return the same rows") {
    val dump = dumps.head
    val whole = dump.read("nodes")
    assert(whole.rdd.getNumPartitions === 1)
    val expected = whole.orderBy("id", "version").collect().toSeq
    val confs = Seq("spark.sql.files.maxPartitionBytes" -> "4096",
      "spark.sql.files.openCostInBytes" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val cut = dump.read("nodes")
      assert(cut.rdd.getNumPartitions > 1)
      assert(cut.orderBy("id", "version").collect().toSeq === expected)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a staging directory shared by two dumps never serves one dump's text for the other") {
    val shared = java.nio.file.Files.createTempDirectory("pgdump-shared")
    def nodes(path: String) = spark.read.format("pgdump")
      .option("table", "nodes").option("staging", shared.toString).load(path)
    assert(nodes(PlanetFixture.dump).count() === dumps.head.nodes)
    // a missing dump, and an empty file that pg_restore cannot read
    val empty = java.nio.file.Files.createFile(shared.resolve("empty.dmp")).toString
    Seq("/nonexistent/other.dmp", empty).foreach { path =>
      intercept[Exception](nodes(path).count())
    }
  }
}
