package graft.osm

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs one warm serial `PlanetDump.run` submits on the in-repo
  * fixture, all six outputs, at local[4] with 4 shuffle partitions. The
  * bound is the measured count with one write job per XML file, table
  * reads that take their known schema and Load's max time observed on
  * the writes: 109, against 149 for the earlier pipeline, which ran a
  * job per XML section, inferred every read's schema and read the max
  * times back. A re-introduced inference read, read-back aggregate or
  * per-section job fails here.
  */
class PlanetDumpJobCountSpec extends AnyFunSuite {

  private val maxJobs = 109

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("planet-job-count")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test(s"a warm serial run of all six outputs submits at most $maxJobs jobs") {
    // a session of its own: no runtime setting another spec left behind
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "4")
    val d = Files.createTempDirectory("planet-job-count").toString
    def run(): Unit = PlanetDump.run(session, PlanetFixture.dump, s"$d/work",
      PlanetFixture.outputs(d), PlanetFixture.generator, resume = false,
      maxConcurrency = Some(1))
    run() // cold
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = session.sparkContext
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      run()
      ListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() <= maxJobs, s"${jobs.get()} jobs, bound $maxJobs")
  }
}
