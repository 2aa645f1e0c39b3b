package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Dev harness (not a gate): prints the merge table
  * [[graft.operators.Tokenization.trainBpe]] learns on a corpus — the
  * source of q212's committed literal merge fixture. Re-run when the
  * testdata generation changes to refresh the fixture:
  *
  *   sbt "runMain graft.queries.BpeDump /root/testdata/sf0.01 30"
  */
object BpeDump {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val n = if (args.length > 1) args(1).toInt else 30
    val spark = graft.GraftSession.builder("bpe-dump", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val merges = graft.operators.Tokenization.trainBpe(
      Tables.documents(spark, dir), col("text"), n)
    merges.foreach(m =>
      println(s"""Merge(${m.rank}, "${m.left}", "${m.right}", ${m.pairN}L),"""))
    spark.stop()
  }
}
