package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables]]' footer-pinned reads: building a table's frame runs no
  * Spark job, and the pinned schema is the one a schema-less
  * `spark.read.parquet` infers. Runs on the in-repo sf0.01 tables and
  * a TIMESTAMP(NANOS) `events` fixture (FIXTURES.md §6).
  */
class TablesSpec extends AnyFunSuite with SparkSpec {

  private val Sf = "perfbench/testdata/sf0.01"
  private val NanosDir =
    Paths.get(getClass.getResource("/events-nanos").toURI).toString

  private def buildJobs[T](build: => T): Double = {
    val m = new QueryMetrics(spark)
    try {
      m.begin()
      build
      m.markExec()
      m.snapshot()("build_jobs")
    } finally m.close()
  }

  for (name <- Tables.names) test(s"Tables $name: no job, the inferred schema") {
    assert(buildJobs(Tables(spark, Sf, name)) === 0)
    assert(Tables(spark, Sf, name).schema ===
      spark.read.parquet(s"$Sf/$name.parquet").schema)
  }

  test("Tables.events runs no job on either physical form") {
    assert(buildJobs(Tables.events(spark, Sf)) === 0)
    assert(buildJobs(Tables.events(spark, NanosDir)) === 0)
  }

  test("a directory table pins the schema of its first part file") {
    val dir = Files.createTempDirectory("tables-dir").toString
    spark.range(20).selectExpr("id", "cast(id AS string) AS s").repartition(3)
      .write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").schema === spark.read.parquet(s"$dir/t.parquet").schema)
    assert(Tables(spark, dir, "t").count() === 20)
  }

  test("events in TIMESTAMP(NANOS) and TIMESTAMP(MICROS) read as the same µs timestamps") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "true")
    try {
      assert(Tables(spark, NanosDir, "events").schema("ts").dataType === LongType)
      assert(Tables(spark, NanosDir, "events").schema ===
        spark.read.parquet(s"$NanosDir/events.parquet").schema)
    } finally spark.conf.unset(key)
    val nanos = Tables.events(spark, NanosDir)
    val micros = Tables.events(spark, Sf).filter(col("event_id") < 6)
    assert(nanos.schema === micros.schema)
    assert(nanos.schema("ts").dataType === TimestampType)
    def us(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), unix_micros(col("ts"))).orderBy("event_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    // the fixture's ts are the MICROS table's plus 789 ns, truncated away
    assert(us(nanos) === us(micros))
    assert(us(nanos).size === 6)
  }
}
