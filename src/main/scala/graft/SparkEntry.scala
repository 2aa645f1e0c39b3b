package graft

import graft.queries.{CoreQueries, EvalQueries, QueryDef, StreamQueries, TextQueries, VectorQueries, WebGraphQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All capability queries, one per implemented operator (SURVEY.md §2). */
  def allQueries: Seq[QueryDef] =
    CoreQueries.all ++ TextQueries.all ++ VectorQueries.all ++ EvalQueries.all ++
      StreamQueries.all ++ WebGraphQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allQueries.head.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] = allQueries.map(q => q.name -> q.oracle).toMap

  /** Untimed fixture preparation for gates that materialize scratch
    * input (idempotent; the query lambda also self-triggers it) —
    * [[Bench]] runs these OUTSIDE the timer so measurements certify
    * operators, not fixture I/O.
    */
  def prepares: Map[String, (SparkSession, String) => Unit] =
    allQueries.flatMap(q => q.prepare.map(q.name -> _)).toMap
}
