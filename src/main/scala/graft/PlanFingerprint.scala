package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Plan-fingerprint regression gate: a structural summary of every
  * gate query's INITIAL physical plan — per-table scan counts,
  * shuffle/broadcast exchanges, sorts, aggregates, joins — snapshotted
  * into a committed JSON (`plan_fingerprints.json`) and asserted
  * equal in CI (`PlanFingerprintSpec`). A rewrite that silently
  * doubles a fact scan or adds a shuffle (the q91/q92/q98/q100
  * scalar-subquery recomputation class, caught by hand in r6) becomes
  * a failing test; an INTENTIONAL plan change regenerates the file
  * explicitly with `sbt "runMain graft.PlanFingerprint"` and shows up
  * as a reviewable diff.
  *
  * Fingerprints are taken under [[GraftSession]]'s profile — the
  * settings the bench runs, so join strategies match — at sf0.001
  * with AQE disabled for the planning pass: node counts — not
  * partition counts — so they are independent of master/parallelism,
  * and deterministic for the read-only testdata.
  */
object PlanFingerprint {

  final case class FP(scans: Map[String, Int], shuffles: Int, broadcasts: Int,
                      sorts: Int, aggs: Int, joins: Int)

  val DataDir = "/root/testdata/sf0.001"
  val SnapshotPath = "plan_fingerprints.json"

  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(walk)
  }

  /** Scan identity = root dir name, with the run-varying parts
    * normalized away: the `.parquet` suffix and any trailing `_<n>`
    * (per-pid Scratch dirs, per-trigger store dirs).
    */
  private def scanName(s: FileSourceScanExec): String =
    s.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?")
      .replaceAll("_\\d+$", "").stripSuffix(".parquet")

  def fingerprint(plan: SparkPlan): FP = {
    val nodes = walk(plan)
    FP(
      nodes.collect { case s: FileSourceScanExec => scanName(s) }
        .groupBy(identity).view.mapValues(_.size).toMap,
      nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      nodes.count(_.isInstanceOf[SortExec]),
      nodes.count(_.isInstanceOf[BaseAggregateExec]),
      nodes.count(_.isInstanceOf[BaseJoinExec]))
  }

  /** All gate plans under the pinned conf — each query's
    * returned-frame plan, PLUS one `<name>#trigger` entry per
    * streaming gate holding the representative TRIGGER-INTERNAL plan
    * (the foreachBatch closure's last merge/score/dedup frame, or the
    * last IncrementalExecution of an engine-managed transcript),
    * captured through [[TriggerPlanProbe]] while the gate runs. This
    * closes the r8 boundary where a silent extra scan INSIDE a
    * trigger was invisible to the gate. Caches are released between
    * queries (the Verify/Bench lifecycle) so results are
    * order-independent. One pass feeds both plan gates: the
    * fingerprints and PlanLintSpec's lint.
    */
  def plans(spark: SparkSession): Seq[(String, SparkPlan)] = {
    val prior = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    TriggerPlanProbe.enabled = true
    TriggerPlanProbe.drain(): Unit // discard any stale pre-run capture
    try {
      val all = SparkEntry.allQueries.flatMap { q =>
        val plan = q.fn(spark, DataDir).queryExecution.executedPlan
        // drained keys: gate names get the #trigger suffix (streaming
        // gates record under their own name); operator-recorded keys
        // already carry #iter and land verbatim
        val probed = TriggerPlanProbe.drain().toSeq.sortBy(_._1)
          .map { case (k, p) => (if (k.contains("#")) k else s"$k#trigger") -> p }
        graft.operators.CacheRegistry.releaseAll()
        (q.name -> plan) +: probed
      }
      // iterative loops the gate corpus never reaches — q55's
      // connectedComponents, and (since the r15 optimization round)
      // every Graphs operator with a tiny-graph driver fast path,
      // take the ≤driverMaxEdges route at sf0.001; BPE training is
      // offline (the q212 merge table is a committed fixture) — get
      // their #iter plans gated here on pinned micro-inputs that
      // force the distributed path
      val forced = {
        import spark.implicits._
        val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L))
          .toDF("id_a", "id_b")
        graft.operators.Dedup.connectedComponents(edges, driverMaxEdges = 0)
          .count(): Unit
        graft.operators.Tokenization.trainBpe(
          Seq("aa ab aa ab ba").toDF("t"),
          org.apache.spark.sql.functions.col("t"), numMerges = 2): Unit
        val g = edges.toDF("src", "dst")
        graft.operators.Graphs.hitsMicro(g, iterations = 1,
          driverMaxEdges = 0).count(): Unit
        graft.operators.Graphs.bfsDistances(g,
          Seq(1L).toDF("node"), maxHops = 2, driverMaxEdges = 0)
          .count(): Unit
        graft.operators.Graphs.kCore(g.toDF("a", "b"), k = 1, rounds = 1,
          driverMaxEdges = 0).count(): Unit
        graft.operators.Graphs.pageRankMicro(g, iterations = 1,
          driverMaxEdges = 0).count(): Unit
        graft.operators.Graphs.personalizedPageRank(g, Seq(1L).toDF("node"),
          iterations = 1, driverMaxEdges = 0).count(): Unit
        graft.operators.Graphs.labelPropagation(g.toDF("a", "b"), rounds = 1,
          driverMaxEdges = 0).count(): Unit
        graft.operators.Graphs.triangleCount(g.toDF("a", "b"),
          driverMaxEdges = 0).count(): Unit
        graft.operators.CacheRegistry.releaseAll()
        TriggerPlanProbe.drain().toSeq.sortBy(_._1)
      }
      // an operator shared by several gates records its #iter entry
      // once per gate — keep the LAST capture (the largest input),
      // and assert nothing else collides
      val deduped = (all ++ forced).reverse.distinctBy(_._1).reverse
      // guard over gate AND forced captures: a forced probe recording a
      // non-#iter key that collides with a gate key must fail loudly,
      // not last-write-wins dedupe (the #iter exemption is the only
      // intended overwrite)
      val dupNonIter = (all ++ forced).groupBy(_._1).filter(_._2.size > 1)
        .keys.filterNot(_.endsWith("#iter"))
      require(dupNonIter.isEmpty, s"duplicate fingerprint keys: $dupNonIter")
      deduped
    } finally {
      TriggerPlanProbe.enabled = false
      spark.conf.set("spark.sql.adaptive.enabled", prior)
    }
  }

  def toJson(all: Seq[(String, FP)]): String = {
    def scanJson(m: Map[String, Int]): String =
      m.toSeq.sorted.map { case (t, n) => s""""$t": $n""" }.mkString("{", ", ", "}")
    all.sortBy(_._1).map { case (name, f) =>
      s"""  "$name": {"scans": ${scanJson(f.scans)}, "shuffles": ${f.shuffles}, """ +
        s""""broadcasts": ${f.broadcasts}, "sorts": ${f.sorts}, """ +
        s""""aggs": ${f.aggs}, "joins": ${f.joins}}"""
    }.mkString("{\n", ",\n", "\n}\n")
  }

  def parseJson(json: String): Map[String, FP] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(json) match {
      case JObject(fields) => fields.map { case (name, v) =>
        val o = v.asInstanceOf[JObject].obj.toMap
        def i(k: String): Int = o(k).asInstanceOf[JInt].num.toInt
        val scans = o("scans").asInstanceOf[JObject].obj.map {
          case (t, JInt(n)) => t -> n.toInt
          case (t, x) => sys.error(s"bad scan count for $t: $x")
        }.toMap
        name -> FP(scans, i("shuffles"), i("broadcasts"), i("sorts"),
          i("aggs"), i("joins"))
      }.toMap
      case other => sys.error(s"expected top-level object, got $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("plan-fingerprint", GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val all = plans(spark).map { case (k, p) => k -> fingerprint(p) }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(SnapshotPath), toJson(all))
    println(s"wrote ${all.size} fingerprints to $SnapshotPath")
    spark.stop()
  }
}
