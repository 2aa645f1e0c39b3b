package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PgDumpSourceSpec extends AnyFunSuite with SparkSpec {

  private val dump = "/root/reference/test/liechtenstein-2013-08-03.dmp"
  private def checkedDump = {
    val p = java.nio.file.Paths.get(dump)
    graft.osm.ReferenceFixtures(p.getParent.toString, p.getFileName.toString)
  }
  private lazy val staging = java.nio.file.Files.createTempDirectory("pgdump-src").toString

  private def read(table: String) =
    spark.read.format("pgdump")
      .option("table", table).option("staging", staging).load(checkedDump)

  test("reads nodes with full schema, matching the Load decoder") {
    val viaSource = read("nodes")
    assert(viaSource.count() === 65734L)
    val viaLoad = graft.osm.Load.decodeTable(spark, graft.osm.Schema.nodes,
      graft.osm.Load.stage(dump, "nodes", staging))
    val a = viaSource.orderBy("id", "version").collect()
    val b = viaLoad.orderBy("id", "version").collect()
    assert(a.length === b.length)
    assert(a.take(100).toSeq === b.take(100).toSeq)
    assert(a.last === b.last)
  }

  test("column pruning reaches the decoder (ReadSchema pruned)") {
    val pruned = read("nodes").select("id", "timestamp")
    val plan = pruned.queryExecution.executedPlan.toString
    // DSv2 prints the scan's output columns: only the 2 required ones
    // (of 8) must reach the BatchScan
    assert("BatchScan pgdump:nodes\\[id#\\d+L, timestamp#\\d+\\]".r.findFirstIn(plan).isDefined,
      s"expected pruned BatchScan output in plan:\n$plan")
    assert(pruned.agg(max("id")).head.getLong(0) === 2538885407L ||
      pruned.count() === 65734L)
  }

  test("small tables and users read correctly") {
    assert(read("users").count() === 228L)
    assert(read("changeset_comments").count() === 2L)
    val u = read("users").filter(col("data_public")).count()
    assert(u > 0 && u <= 228)
  }
}
