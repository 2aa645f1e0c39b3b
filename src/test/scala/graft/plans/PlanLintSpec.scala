package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Fleet-wide scale lint: builds the physical plan of EVERY gate query
  * and rejects the two classic single-reducer scale killers —
  * unpartitioned windows (all rows through one task; the round-1 IVF
  * bug class) and cartesian products (quadratic row blowup) — except
  * where a query declares them by design. New queries are linted
  * automatically by being in SparkEntry.
  */
class PlanLintSpec extends AnyFunSuite with SparkSpec {

  /** Declared brute-force baselines: quadratic by definition (q200
    * evaluates ANN recall AGAINST the exact baseline, so it inherently
    * runs one).
    */
  private val cartesianAllowed = Set("q35_cosine_topk", "q200_ann_recall",
    "q208_projected_recall")

  /** Declared brute-force rankers and bounded-frame self-joins:
    * bruteForceTopK is the exact quadratic baseline (q35's contract) —
    * q160/q164/q136/q139/q142/q180 run it over a declared-bounded
    * query slice (each scaladoc'd as the baseline composition; their
    * scale twins go through lshTopK/ivfTopK), q133 fuses rankings for
    * one pinned query vector, and q198's inequality self-join is of
    * the SOURCE-cardinality frame (bounded by group contract, per the
    * gini operator's scaladoc); q237's pair join is the same class —
    * the kmvPairOps inequality self-join of the per-group SKETCH
    * frame (≤ k longs per group, #groups rows; the operator's
    * scaladoc declares the pair stage sketch-frame-sized and
    * corpus-independent). Everything else must justify a broadcast
    * NLJ structurally.
    */
  private val bnljAllowed = Set(
    "q35_cosine_topk", "q160_mutual_nn", "q164_ranking_metrics",
    "q133_rrf_fusion", "q136_hard_negatives", "q139_pq_ann",
    "q142_contrastive_triplets", "q180_matryoshka_eval",
    "q198_source_gini", "q200_ann_recall", "q208_projected_recall",
    "q237_kmv_set_ops")

  /** A broadcast nested-loop join is the same O(n·m) compute as a
    * cartesian — at sf0.1 one side may squeak under the broadcast
    * threshold and dodge the CartesianProductExec lint, then blow up at
    * 100×. Accept it only when the BUILD side is bounded by
    * CONSTRUCTION, independent of data scale: a grouping-free
    * (scalar) aggregate (≤ 1 row at any corpus size — the stats /
    * collected-centroid-array pattern) or an explicit limit. Reused
    * exchanges and cached relations are leaves structurally, so the
    * probe recurses into what they wrap (the PageRank family hides its
    * scalar stats frame behind a persist).
    */
  private def bounded(p: SparkPlan): Boolean =
    p.find {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty
      case _: GlobalLimitExec | _: LocalLimitExec => true
      case r: ReusedExchangeExec => bounded(r.child)
      case i: InMemoryTableScanExec => bounded(i.relation.cachedPlan)
      case _ => false
    }.isDefined

  private def boundedBuildSide(j: BroadcastNestedLoopJoinExec): Boolean =
    bounded(j.buildSide match {
      case BuildLeft => j.left
      case BuildRight => j.right
    })

  /** Declared-bounded global windows: paretoFrontier's phase-2 pass is
    * unpartitioned by design, but its input is the phase-1 survivor
    * set, ≤ buckets × |frontier| rows by the lossless-prune argument in
    * the operator's scaladoc — a bounded broadcast-sized frame, not a
    * corpus through one reducer.
    */
  private val globalWindowAllowed = Set(
    "q163_pareto_frontier",
    // vocabGrowth's two global windows run over CENSUS frames — the
    // per-partition-total table (#shuffle-partitions rows, the
    // globalPrefixSum carry) and the bucket table (#buckets rows, the
    // output resolution) — never the corpus; the corpus-order scan
    // itself is the partitioned two-level prefix sum by design.
    "q235_vocab_growth",
    // zipfFit's rank window runs on the vocab frame AFTER
    // orderBy.limit(topN) — input capped at topN (128) rows by the
    // preceding TakeOrdered, per the operator's scaladoc.
    "q238_zipf_fit",
    // ksTest's cumulative window runs over the distinct-score census
    // (the aucExact class: bounded by the score quantization grain,
    // not the corpus — the operator's documented contract).
    "q242_ks_test",
    // allocateBudget's remainder-rank window runs over the HOST census
    // (the weights frame is host-grain by construction — a dimension,
    // never the corpus; the operator's documented scale shape).
    "q262_budget_schedule",
    // q267 composes the same allocateBudget host-census window (rank
    // picks hosts for the unified wave) — identical declared shape.
    "q267_unified_schedule")

  test("no gate query plans an unpartitioned window or undeclared cartesian") {
    // the gate plans of the shared pass (sf0.001, AQE off: AQE wraps
    // the plan in a leaf AdaptiveSparkPlanExec that defeats collect());
    // q55 loops with actions at plan-build time; its per-round shapes
    // are the joins/aggs linted through every other query, so its
    // (cheap) sf0.001 plan is linted like the rest
    val gates = graft.SparkEntry.allQueries.map(_.name).toSet
    val offenders = GatePlans.pass.plans.filter(p => gates(p._1)).flatMap {
      case (name, plan) =>
        val unpartitioned = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        val cartesian = plan.collect { case c: CartesianProductExec => c }
        val nlj = plan.collect {
          case j: BroadcastNestedLoopJoinExec if !boundedBuildSide(j) => j
        }
        // NOT linted: Exchange SinglePartition — scalar aggregates
        // (q02/q08/q17/q19) legitimately send their few partial-agg
        // rows to one reducer; the harmful single-partition cases are
        // the window/cartesian forms above
        Seq(
          if (unpartitioned.nonEmpty && !globalWindowAllowed(name))
            Some(s"$name: unpartitioned window") else None,
          if (cartesian.nonEmpty && !cartesianAllowed(name))
            Some(s"$name: cartesian product") else None,
          if (nlj.nonEmpty && !bnljAllowed(name))
            Some(s"$name: unbounded broadcast nested-loop join") else None).flatten
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("cache hygiene: every gate query leaves zero persistent RDDs after release") {
    // Round 5's bench showed operator-internal caches (LSH shingles,
    // curate's prefix, CC label checkpoints) outliving their query and
    // taxing the next four — this turns that bench symptom into a CI
    // invariant: run each query's action, release through the
    // CacheRegistry (exactly what Bench/Verify do), and require the
    // session to be block-free afterwards.
    val sc = spark.sparkContext
    // drop leftovers from the planning pass (it builds executedPlans,
    // which for the looped queries registers caches)
    graft.operators.CacheRegistry.releaseAll(blocking = true)
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    val leaks = graft.SparkEntry.allQueries.flatMap { q =>
      q.fn(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      graft.operators.CacheRegistry.releaseAll(blocking = true)
      val left = sc.getPersistentRDDs
      if (left.nonEmpty) {
        // clean up so one offender doesn't cascade into every query after it
        left.values.foreach(_.unpersist(true))
        Some(s"${q.name}: ${left.size} persistent RDD(s) left")
      } else None
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }
}
