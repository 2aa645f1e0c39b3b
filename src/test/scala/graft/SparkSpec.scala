package graft

import org.apache.spark.sql.SparkSession

/** The session every spec runs on: [[GraftSession]]'s profile at
  * local[4]. All suites share one forked JVM, so `getOrCreate` hands
  * each the same session; a spec that needs a static conf chains it on
  * [[SparkSpec.builder]].
  */
trait SparkSpec {
  protected lazy val spark: SparkSession = SparkSpec.builder.getOrCreate()
}

object SparkSpec {
  val Cpus = 4

  def builder: SparkSession.Builder = GraftSession.builder("graft-test", Cpus)
}
