package graft

import org.apache.spark.graft.ParquetFooter
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the synthetic gate tables (TESTDATA.md), each
  * a single parquet file (a directory reads the same way). [[apply]]
  * pins the schema a schema-less `spark.read.parquet` would infer, read
  * from the footer on the driver ([[ParquetFooter]]), so building a frame
  * runs no Spark job where inference runs one. Nothing is cached: a
  * footer read costs less than that job, and is never stale.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(paths: _*)` with the schema pinned from the
    * first path's footer: for paths written with one schema, the schema
    * inference would find, with no job.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(ParquetFooter.schema(spark, paths.head)).parquet(paths: _*)

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")

  /** `events.ts` has shipped in two parquet physical forms across
    * driver data generations: TIMESTAMP(NANOS) (which Spark surfaces
    * as raw Long ns under the legacy conf) and plain TIMESTAMP(MICROS)
    * (surfaced as TIMESTAMP_NTZ). Normalize BOTH to session-zone
    * TimestampType at µs precision so every downstream operator and
    * oracle sees one shape. ns→µs truncation matches what a DuckDB
    * oracle reading the same file produces; under the UTC session zone
    * the NTZ cast is value-identical to the old timestamp_micros path.
    * The legacy conf is set while [[apply]] converts the footer.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    try {
      import org.apache.spark.sql.functions._
      val raw = apply(s, d, "events")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampType => raw
        case _ => // TIMESTAMP_NTZ (micros files read natively)
          raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
      }
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
