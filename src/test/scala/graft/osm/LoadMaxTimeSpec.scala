package graft.osm

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import org.apache.spark.sql.functions.{col, max}
import org.scalatest.funsuite.AnyFunSuite

/** `Load.run`'s max timestamp on the in-repo fixture: a fresh load takes
  * it from an Observation on each table write, a resumed load reads the
  * skipped tables back; both must equal the max over the written tables.
  */
class LoadMaxTimeSpec extends AnyFunSuite with SparkSpec {

  test("observed max time == read-back max time == max over the Parquet tables") {
    val work = Files.createTempDirectory("load-max-time").toString
    val fresh = Load.run(spark, PlanetFixture.dump, work, resume = false)
    val success = Schema.all.map(t => Paths.get(work, "tables", t.name, "_SUCCESS"))
    val written = success.map(Files.getLastModifiedTime(_))
    val resumed = Load.run(spark, PlanetFixture.dump, work, resume = true)
    // the resumed run rewrote nothing: every table took the read-back path
    assert(success.map(Files.getLastModifiedTime(_)) === written)

    val db = OsmDb(spark, s"$work/tables")
    val readBack = Schema.all.flatMap(t => t.maxTimeCol.flatMap(c =>
      Option(db.table(t.name).agg(max(col(c))).head().getTimestamp(0))))
      .maxBy(_.getTime)
    assert(fresh === Some(readBack))
    assert(resumed === Some(readBack))
  }
}
