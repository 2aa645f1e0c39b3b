package graft.plans

import graft.{GraftSession, PlanFingerprint, SparkSpec}
import org.apache.spark.sql.execution.SparkPlan

/** One planning pass over every gate query, read by both plan gates
  * (PlanLintSpec and PlanFingerprintSpec): all suites run in one forked
  * JVM, so whichever gate runs first pays for it.
  */
object GatePlans {

  /** The profile's SQL settings, which the gates' session must carry. */
  val profile: Seq[(String, String)] =
    GraftSession.settings(SparkSpec.Cpus).filter(_._1.startsWith("spark.sql."))

  /** The session's value of each [[profile]] setting, read just before
    * planning; and [[PlanFingerprint.plans]].
    */
  final case class Pass(settings: Map[String, Option[String]],
                        plans: Seq[(String, SparkPlan)])

  lazy val pass: Pass = {
    val spark = SparkSpec.builder.getOrCreate()
    val settings = profile.map { case (k, _) => k -> spark.conf.getOption(k) }.toMap
    Pass(settings, PlanFingerprint.plans(spark))
  }
}
