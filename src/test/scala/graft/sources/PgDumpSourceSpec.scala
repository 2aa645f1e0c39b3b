package graft.sources

import graft.SparkSpec
import graft.osm.{PlanetFixture, ReferenceFixtures}
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

  test("reads nodes with full schema, matching the Load decoder") {
    dumps.foreach { dump =>
      val viaSource = dump.read("nodes")
      assert(viaSource.count() === dump.nodes)
      val viaLoad = graft.osm.Load.decodeTable(spark, graft.osm.Schema.nodes,
        graft.osm.Load.stage(dump.path, "nodes", dump.staging))
      val a = viaSource.orderBy("id", "version").collect()
      val b = viaLoad.orderBy("id", "version").collect()
      assert(a.length === b.length)
      assert(a.take(100).toSeq === b.take(100).toSeq)
      assert(a.last === b.last)
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
