package graft.queries

import graft.{SparkSpec, Tables}
import graft.streaming.EventStreams.{Event, ElementUpdate}
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

/** The streaming transcripts' one-collect day slicing feeds each
  * MemoryStream batch exactly what one filtered collect per batch did:
  * the same elements in the same order (on the in-repo sf0.01 events).
  */
class DaySlicedBatchesSpec extends AnyFunSuite with SparkSpec {

  private val Sf = "perfbench/testdata/sf0.01"

  private def perBatchCollects[T](df: DataFrame)(implicit enc: Encoder[T]): Seq[Seq[T]] = {
    val tagged = df.withColumn("__b", expr("(unix_micros(ts) div 86400000000) % 3"))
    (0L until 3L).map(k =>
      tagged.filter(col("__b") === k).drop("__b").as[T](enc).collect().toSeq)
  }

  test("events: one collect slices as three filtered collects") {
    import spark.implicits._
    val events = Tables.events(spark, Sf)
    val batches = StreamQueries.daySlicedBatches[Event](events)
    assert(batches.map(_.size).sum === events.count())
    assert(batches.forall(_.nonEmpty))
    assert(batches === perBatchCollects[Event](events))
  }

  test("a frame with more columns than the row type: q218's element updates") {
    import spark.implicits._
    val upd = Tables.events(spark, Sf).select(
      col("user_id").as("id"), col("event_id").as("version"),
      (col("event_type") =!= "purchase").as("visible"),
      col("event_type").as("payload"), col("ts"))
    assert(StreamQueries.daySlicedBatches[ElementUpdate](upd) ===
      perBatchCollects[ElementUpdate](upd))
  }
}
