package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("graft-explain", GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    for (n <- args) {
      println(s"===== $n")
      println(SparkEntry.queries(n)(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
