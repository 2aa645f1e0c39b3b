package graft.osm

import java.nio.file.Files
import graft.{QueryMetrics, SparkSpec}
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs one warm serial `PlanetDump.run` submits on the in-repo
  * fixture, all six outputs, at local[4] with 4 shuffle partitions. The
  * bound is the measured count with one write job per XML file, table
  * reads that take their known schema, Load's max time observed on the
  * writes, and Load writing each table in dump order through the
  * `pgdump` source, with no range sort (which cost each table a
  * sampling job and a shuffle job): 85, against 109 with that sort and
  * 149 for the earlier pipeline, which ran a job per XML section,
  * inferred every read's schema and read the max times back. A
  * re-introduced load-time sort, inference read, read-back aggregate or
  * per-section job fails here.
  */
class PlanetDumpJobCountSpec extends AnyFunSuite with SparkSpec {

  private val maxJobs = 85

  test(s"a warm serial run of all six outputs submits at most $maxJobs jobs") {
    // a session of its own: no runtime setting another spec left behind
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "4")
    val d = Files.createTempDirectory("planet-job-count").toString
    def run(): Unit = PlanetDump.run(session, PlanetFixture.dump, s"$d/work",
      PlanetFixture.outputs(d), PlanetFixture.generator, resume = false,
      maxConcurrency = Some(1))
    run() // cold
    val metrics = new QueryMetrics(session)
    val jobs = try {
      metrics.begin()
      run()
      metrics.snapshot()("jobs").toInt
    } finally metrics.close()
    assert(jobs <= maxJobs, s"$jobs jobs, bound $maxJobs")
  }
}
