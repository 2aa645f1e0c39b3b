package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType}

import scala.util.DynamicVariable

/** The one gate for the operators that run on the driver when their
  * input is provably small: the seven iterative [[Graphs]] operators,
  * [[Dedup.connectedComponents]] and [[Sampling.dsirWeights]]' λ
  * table. Iterative rounds cost 2-4 shuffle stages REGARDLESS of size
  * (measured r15: q232's 4 HITS iterations burned 66 jobs / 100-290 s
  * of task time on a 19-node graph), so on a tiny input the operator
  * collects it once and runs the SAME exact integer recurrence in a
  * driver loop, bit-identical to the distributed path
  * (`DriverPathSpec`). The helpers return None, and the caller runs
  * its distributed path unchanged, under [[forceDistributed]], on a
  * non-integral column, on more than `cap` rows or none (the driver
  * loops assume a row), or on a null. Each cap is a named constant
  * beside its operator.
  */
private[graft] object DriverPath {

  private val forced = new DynamicVariable(false)

  /** Decline every driver path for the operators CALLED inside `body`
    * (the switch is read when the frame is built, not executed). */
  def forceDistributed[T](body: => T): T = forced.withValue(true)(body)

  /** A two-column integral frame as pairs. Within a `rowBound` that
    * holds by construction it is collected directly; otherwise it is
    * counted first, so it must be ALREADY PERSISTED (count + collect =
    * one materialization, which the distributed path reuses). `probe`
    * records its plan as a [[graft.TriggerPlanProbe.recordIter]] key
    * just before the collect.
    */
  def pairs(df: DataFrame, cap: Long, rowBound: Long = Long.MaxValue,
            probe: Option[String] = None): Option[Array[(Long, Long)]] =
    guarded(df) {
      if (rowBound > cap && df.count() > cap) None
      else {
        probe.foreach(graft.TriggerPlanProbe.recordIter(_, df))
        Some(df.collect())
      }
    }.map(_.map(r => (long(r, 0), long(r, 1))))

  /** A one-column integral frame (an unpersisted seed set) as ids, sized
    * and read by one collect of at most `cap + 1` rows. */
  def ids(df: DataFrame, cap: Long): Option[Array[Long]] =
    guarded(df)(Some(df.limit((cap + 1).toInt).collect()).filter(_.length <= cap))
      .map(_.map(long(_, 0)))

  /** A driver result back as a two-column long frame. */
  def frame(spark: SparkSession, rows: Seq[(Long, Long)], a: String, b: String): DataFrame = {
    import spark.implicits._
    rows.toDF(a, b)
  }

  private def guarded(df: DataFrame)(fetch: => Option[Array[Row]]): Option[Array[Row]] =
    if (forced.value ||
        !df.schema.fields.forall(f => f.dataType == LongType || f.dataType == IntegerType)) None
    else fetch.filter(rows => rows.nonEmpty && !rows.exists(_.anyNull))

  private def long(r: Row, i: Int): Long = r.get(i).asInstanceOf[Number].longValue()
}
