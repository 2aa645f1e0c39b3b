package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.streaming.StreamingQuery

/** Capture point for TRIGGER-INTERNAL plans — the known boundary of
  * the r8 fingerprint gate (PERF.md): a streaming gate's RETURNED
  * frame is fingerprinted, but the work each micro-batch trigger runs
  * (the foreachBatch closure's merge/score/dedup frames, the engine's
  * incremental plan for watermark/state operators) was not, so a
  * silent extra scan inside a trigger could not fail CI.
  *
  * The streaming gates carry one `record` call at the point where a
  * trigger's frame is about to be consumed (the foreachBatch write
  * lambda, or the transcript driver just before stop, via the
  * query's last IncrementalExecution). Recording is gated on
  * [[enabled]] — a single volatile read, false outside
  * [[PlanFingerprint]] runs, so Verify/Bench pay nothing. Repeated
  * triggers overwrite the same key: the LAST trigger's plan is the
  * representative (it sees the largest store state, the shape a
  * regression would change).
  */
object TriggerPlanProbe {
  @volatile var enabled = false

  private val plans =
    new java.util.concurrent.ConcurrentHashMap[String, SparkPlan]()

  /** Record a foreachBatch-internal frame's plan (NOT executed here —
    * the initial physical plan, same basis as the main fingerprints). */
  def record(gate: String, df: DataFrame): Unit =
    if (enabled) plans.put(gate, df.queryExecution.executedPlan): Unit

  /** Record an ITERATION-internal frame's plan — the r9 analog of the
    * trigger boundary: the operators behind
    * [[graft.operators.DriverPath]] (connectedComponents and the seven
    * iterative Graphs operators) run per-iteration jobs at eager
    * localCheckpoint time, so the gate fingerprint of the RETURNED
    * frame never sees the plan each round actually executes, and a
    * silent extra scan inside an iteration could not fail CI; their
    * driver paths run no loop and record nothing, while dsirWeights'
    * driver path records the two census plans it collects. Called
    * by the OPERATOR (which doesn't know its gate name) with its own
    * stable key; repeated iterations overwrite — the LAST round's
    * plan is the representative. Keys land in the snapshot verbatim
    * as `<op>#iter`.
    */
  def recordIter(op: String, df: DataFrame): Unit =
    if (enabled) plans.put(s"$op#iter", df.queryExecution.executedPlan): Unit

  /** Record an engine-managed streaming query's last trigger plan
    * (the IncrementalExecution that actually ran). */
  def record(gate: String, q: StreamingQuery): Unit =
    if (enabled) q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        Option(w.streamingQuery.lastExecution)
          .foreach(e => plans.put(gate, e.executedPlan))
      case _ => ()
    }

  /** Take and clear everything recorded since the last drain. */
  def drain(): Map[String, SparkPlan] = {
    val out = scala.jdk.CollectionConverters.MapHasAsScala(plans).asScala.toMap
    plans.clear()
    out
  }
}
